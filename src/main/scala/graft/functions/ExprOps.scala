package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression-level utilities shared by the function library. */
object ExprOps {

  /** Let-binding for Column expressions: evaluate `c` ONCE and reuse it in
    * `body` via the bound lambda variable.
    *
    * Spark's DSL has no `let`, so composing functions textually duplicates
    * the sub-expression tree, and Catalyst evaluates every copy (a
    * `FilterExec` eliminates no common subexpressions at all).
    * Encoding: wrap in a 1-element array and `transform` over it — the
    * higher-order function evaluates its input once and binds it to a
    * `NamedLambdaVariable`, with no shuffle and no UDF.
    *
    * Cost: `ArrayTransform` is CodegenFallback, so the bound body runs
    * interpreted, and the operator holding it drops out of
    * WholeStageCodegen. Worth it when `c` is expensive and referenced more
    * than once; a hot per-element loop belongs in a native expression
    * instead (see [[MinHashSignature]]).
    */
  def let(c: Column)(body: Column => Column): Column =
    element_at(transform(array(c), body), 1)

  /** splitmix64 — tiny deterministic PRNG used to derive plan-time constants
    * (e.g. LSH hyperplane components) in driver Scala. Public-domain
    * algorithm (Steele et al., "Fast splittable pseudorandom number
    * generators", OOPSLA'14).
    */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform double in [-0.5, 0.5) from a seed, via splitmix64. */
  def centeredUnit(seed: Long): Double =
    (splitmix64(seed) >>> 11).toDouble / (1L << 53).toDouble - 0.5
}
