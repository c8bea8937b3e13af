package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}

/** A pipeline is a composition of `DataFrame => DataFrame` stages.
  *
  * The reference models a task as a YAML-declared DAG of plugins pushing an
  * untyped Message envelope (`/root/reference/src/Scheduler.php:154-188`);
  * the Spark-native equivalent is a *lazy plan*: each stage only adds to the
  * Catalyst logical plan, and the whole chain is optimized as one query
  * (pushdown, pruning, join reorder) when an action runs — there is no
  * record-at-a-time interpretation to begin with.
  */
object Pipeline {
  type Op = DataFrame => DataFrame

  /** Compose stages left-to-right: Pipeline(a, b, c)(df) == c(b(a(df))). */
  def apply(ops: Op*): Op =
    if (ops.isEmpty) identity else ops.reduceLeft(_ andThen _)

  /** Fan-out: apply several branches to one input (the reference's multi
    * `output:` edges, `/root/reference/src/AbstractPlugin.php:151-157`).
    * Branches share the Catalyst plan of `df`; callers may `df.persist()`
    * first when branches are expensive and the source is not parquet.
    */
  def fanOut(df: DataFrame, branches: Op*): Seq[DataFrame] = branches.map(_(df))

  /** Attach observed metrics to a stage: aggregates computed DURING the
    * next action on the returned frame — no extra pass over the data, no
    * second job (Spark's Observation/CollectMetrics). The pipeline-metrics
    * answer for jobs where a separate `count()` would double the IO:
    *
    * {{{
    * val (out, obs) = Pipeline.observed(df, "ingest",
    *   count(lit(1)).as("rows"), sum("bytes").as("bytes"))
    * out.write.parquet(path)            // metrics collected by this action
    * val rows = obs.get("rows")
    * }}}
    */
  def observed(df: DataFrame, name: String,
               metrics: Column*): (DataFrame, Observation) = {
    require(metrics.nonEmpty, "need at least one metric")
    val obs = Observation(name)
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** A pinned frame and what its pin's job counted: `rows` rows, and the
    * values of the extra aggregates in `aggs`, in the order given.
    */
  final case class Pinned(df: DataFrame, rows: Long, aggs: Row)

  /** Pin `df` (an eager `localCheckpoint`) and learn its row count and the
    * values of `aggs` in the pin's own job, through a named `observe`: a
    * caller that must know whether a batch is empty, or which partitions
    * it touches, spends no second job on it. Later actions read only the
    * pin, so `df` is evaluated once. The count can only err high (a re-run
    * task adds its rows again), never low.
    */
  def pin(df: DataFrame, aggs: Column*): Pinned = {
    val observed = df.observe("__pin", count(lit(1)), aggs: _*)
    val pinned = observed.localCheckpoint(true)
    val m = observed.queryExecution.observedMetrics("__pin")
    Pinned(pinned, m.getLong(0), Row.fromSeq(m.toSeq.tail))
  }
}
