package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the driver checks a registered query's result. */
sealed trait Check

/** Hash-compared against this DuckDB SQL over the same parquet tables. */
final case class Oracle(sql: String) extends Check

/** Rows-only: correctness is carried by `companion`, a registered case with
  * an [[Oracle]] that exercises the same code path (the ANN recall-gate
  * pattern). A name, not a reference, so a case never reads another
  * object's `val` before that object is initialized.
  */
final case class Gate(companion: String) extends Check

/** One registered query path: how to build it over an sf dir, how its result
  * is checked, and the optional untimed setup Bench runs before starting its
  * clock (the pay-once fixture build a classify- or score-only key needs).
  * Query closures stay self-sufficient: they prime lazily on first call.
  */
final case class QueryCase(
  name: String,
  build: (SparkSession, String) => DataFrame,
  check: Check,
  primer: Option[(SparkSession, String) => Unit] = None)

object QueryCase {

  /** The registry contract, checked once when the case list is built:
    * names are unique (a `Map` built from duplicates would silently keep
    * the last one), and every [[Gate]] names a registered case that is
    * itself [[Oracle]]-checked.
    */
  def validated(cases: Seq[QueryCase]): Seq[QueryCase] = {
    val dups = cases.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    val byName = cases.map(c => c.name -> c).toMap
    for (QueryCase(n, _, Gate(g), _) <- cases)
      require(byName.get(g).exists(_.check.isInstanceOf[Oracle]),
        s"gate '$g' for rows-only '$n' is not a registered oracled query")
    cases
  }
}
