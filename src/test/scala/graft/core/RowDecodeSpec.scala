package graft.core

import graft.SparkSpec
import graft.ext.{Media, Pdf}
import graft.sources.Warc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StructField}

/** The one quarantine policy of [[RowDecode.lenient]], seen through every
  * lenient twin: a null payload is an `IllegalArgumentException` ("null
  * payload") on all of them — never the `NullPointerException` a parser
  * bug produces — and the quarantined row keeps only the values its
  * decoder keeps on failure.
  */
class RowDecodeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val nullPayload: DataFrame =
    Seq((7L, null: Array[Byte])).toDF("id", "content")

  /** (twin, its flag prefix, the values a quarantined row keeps). */
  private val twins: Seq[(String, DataFrame => DataFrame, String, Map[String, Any])] = {
    val mime = Map[String, Any]("mime" -> "application/octet-stream")
    val scrub = Map[String, Any]("bytes_removed" -> 0)
    Seq(
      ("Media.stripMediaMetadataLenient", Media.stripMediaMetadataLenient(_, "id", "content"), "scrub", scrub),
      ("Media.stripImageMetadataLenient", Media.stripImageMetadataLenient(_, "id", "content"), "scrub", scrub),
      ("Media.decodeImageMetaLenient", Media.decodeImageMetaLenient(_, "id", "content"), "decode", mime),
      ("Media.decodeAudioMetaLenient", Media.decodeAudioMetaLenient(_, "id", "content"), "decode", mime),
      ("Media.decodeVideoMetaLenient", Media.decodeVideoMetaLenient(_, "id", "content"), "decode", mime),
      ("Media.videoFramesLenient", Media.videoFramesLenient(_, "id", "content"), "frame", Map.empty),
      ("Media.mp4KeyframesLenient", Media.mp4KeyframesLenient(_, "id", "content"), "frame", Map.empty),
      ("Media.mp4ScenesLenient", Media.mp4ScenesLenient(_, "id", "content"), "frame", Map.empty),
      ("Media.videoKeySigsLenient", Media.videoKeySigsLenient(_, "id", "content"), "frame", Map.empty),
      ("Pdf.pdfTextLenient", Pdf.pdfTextLenient(_, "id", "content"), "decode", Map.empty),
      ("Warc.warcRecordsLenient", Warc.warcRecordsLenient(_, "id", "content"), "decode", Map.empty))
  }

  for ((name, twin, flag, kept) <- twins)
    test(s"$name quarantines a null payload as IllegalArgumentException") {
      val rows = twin(nullPayload).collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("id") == 7L)
      assert(!r.getAs[Boolean](s"${flag}_ok"))
      assert(r.getAs[String](s"${flag}_err") == "IllegalArgumentException")
      val facts = r.schema.fieldNames.filterNot(Set("id", s"${flag}_ok", s"${flag}_err"))
      assert(facts.map(c => c -> r.getAs[Any](c)).toMap ==
        facts.map(c => c -> kept.getOrElse(c, null)).toMap)
    }

  test("strict decoders refuse a null payload by name") {
    val e = intercept[org.apache.spark.SparkException] {
      Media.decodeImageMeta(nullPayload, "id", "content").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("null payload")))
  }

  test("a lenient field list without an *_ok/*_err pair is rejected") {
    intercept[IllegalArgumentException] {
      RowDecode.lenient(nullPayload, "id", "content", keep = 1,
        Seq(StructField("n", IntegerType, nullable = true)))(_ => Nil)
    }
  }
}
