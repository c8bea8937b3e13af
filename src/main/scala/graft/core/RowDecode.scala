package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, BooleanType, StringType, StructField, StructType}

/** The one Row round trip behind the per-payload codecs of `ext/Media`,
  * `ext/Pdf` and `sources/Warc`: `select` the input columns, map each
  * partition's rows, and rebuild a frame under a stated schema. Decode is
  * per row with no shuffle, so every operator built on it inherits the
  * partitioning its input arrives with.
  *
  * It also owns the one quarantine policy of the lenient decoders
  * ([[lenient]], the `*Lenient` twins). A lenient decoder never fails the
  * task on a bad payload: in a continuous ingest one bad file must
  * quarantine, not fail the micro-batch, because a failed batch replays on
  * restart and wedges the stream. Per payload:
  *  - a null payload is quarantined with `IllegalArgumentException`;
  *  - the strict facts run under ONE `try`, every row of the payload
  *    forced inside it, so a payload is healthy only as a whole (a video
  *    never emits a prefix of its frames): success emits the strict facts
  *    with `*_ok=true` and a null `*_err`, bit-equal to the strict path
  *    (a payload with no facts rows, such as a valid zero-frame video,
  *    emits nothing, as on the strict path);
  *  - any `Exception` emits ONE row for the payload: `*_ok=false`, the
  *    exception's simple class name in `*_err`, and null facts except the
  *    values the decoder keeps on failure (the sniffed `mime`, or a
  *    scrub's original bytes).
  * One pass thus splits a crawl into the processable stream
  * (`filter($"decode_ok")`) and a quarantine ledger without re-reading
  * bytes. Strict decoders stay the default: a fixture pipeline wants to
  * fail loudly on a bad byte; lenient is for the open web.
  */
private[graft] object RowDecode {

  /** One output row per input row: `out` maps the selected columns'
    * schema to the output fields.
    */
  def map(df: DataFrame, cols: Column*)(out: StructType => Seq[StructField])
         (f: Row => Row): DataFrame =
    roundTrip(df, cols, out)(_.map(f))

  /** Any number of output rows per input row. */
  def flatMap(df: DataFrame, cols: Column*)(out: StructType => Seq[StructField])
             (f: Row => IterableOnce[Row]): DataFrame =
    roundTrip(df, cols, out)(_.flatMap(f))

  private def roundTrip(df: DataFrame, cols: Seq[Column],
                        out: StructType => Seq[StructField])
                       (rows: Iterator[Row] => Iterator[Row]): DataFrame = {
    val in = df.select(cols: _*)
    in.sparkSession.createDataFrame(in.rdd.mapPartitions(rows),
      StructType(out(in.schema)))
  }

  /** A fixture generator: `f` encodes one payload per row of `cols` (the
    * id first); output (idCol, content non-null binary).
    */
  def generate(df: DataFrame, idCol: String, cols: Column*)
              (f: Row => Array[Byte]): DataFrame =
    map(df, cols: _*)(in => Seq(in.head.copy(name = idCol),
      StructField("content", BinaryType, nullable = false)))(r => Row(r.get(0), f(r)))

  /** Strict decode of (idCol, contentCol): per payload, one output row
    * per row of `facts` — the first `keep` of (id, content) followed by
    * the facts, typed by `fields`. A null or malformed payload throws and
    * fails the task. Write each facts row as `Seq[Any](…)`: a bare
    * `Seq(…)` of Ints and Longs widens the Ints to Longs, which an
    * IntegerType column rejects.
    */
  def strict(df: DataFrame, idCol: String, contentCol: String, keep: Int,
             fields: Seq[StructField])
            (facts: Array[Byte] => IterableOnce[Seq[Any]]): DataFrame =
    flatMap(df, col(idCol), col(contentCol))(_.take(keep) ++ fields) { r =>
      val kept = r.toSeq.take(keep)
      facts(payload(r)).iterator.map(f => Row.fromSeq(kept ++ f))
    }

  /** [[strict]]'s facts under the quarantine policy above. `fields` lists
    * the output columns after the kept ones, one [[flags]] pair among
    * them; facts rows fill the others in order. A quarantined row's facts
    * are null except where `keepOnFailure` is defined on (column name,
    * payload); the payload may be null there.
    */
  def lenient(df: DataFrame, idCol: String, contentCol: String, keep: Int,
              fields: Seq[StructField],
              keepOnFailure: PartialFunction[(String, Array[Byte]), Any] =
                PartialFunction.empty)
             (facts: Array[Byte] => IterableOnce[Seq[Any]]): DataFrame = {
    val at = fields.indexWhere(f => f.dataType == BooleanType && f.name.endsWith("_ok"))
    require(at >= 0 && fields.lift(at + 1).exists(_.name.endsWith("_err")),
      s"lenient fields need an *_ok/*_err pair: ${fields.map(_.name)}")
    val factFields = fields.patch(at, Nil, 2)
    flatMap(df, col(idCol), col(contentCol))(_.take(keep) ++ fields) { r =>
      val kept = r.toSeq.take(keep)
      def row(ok: Boolean, err: String, values: Seq[Any]): Row =
        Row.fromSeq(kept ++ values.patch(at, Seq(ok, err), 0))
      try facts(payload(r)).iterator.map(row(ok = true, null, _)).toVector
      catch {
        case e: Exception =>
          val bytes = r.getAs[Array[Byte]](1)
          Vector(row(ok = false, e.getClass.getSimpleName, factFields.map(f =>
            keepOnFailure.applyOrElse((f.name, bytes), (_: Any) => null))))
      }
    }
  }

  private def payload(r: Row): Array[Byte] = {
    val bytes = r.getAs[Array[Byte]](1)
    require(bytes != null, "null payload")
    bytes
  }

  /** The `<name>_ok` / `<name>_err` columns of a lenient decoder. */
  def flags(name: String): Seq[StructField] = Seq(
    StructField(s"${name}_ok", BooleanType, nullable = false),
    StructField(s"${name}_err", StringType, nullable = true))

  /** A strict decoder's fact columns as its lenient twin types them:
    * nullable, except the columns named in `except`.
    */
  def nullable(fields: Seq[StructField], except: String*): Seq[StructField] =
    fields.map(f => if (except.contains(f.name)) f else f.copy(nullable = true))
}
