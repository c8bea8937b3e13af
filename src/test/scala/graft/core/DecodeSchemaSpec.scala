package graft.core

import graft.SparkSpec
import graft.ext.{Media, Pdf}
import graft.sources.Warc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Output schemas of every per-payload decoder and fixture generator in
  * `Media`, `Pdf` and `Warc`: column names, order, types and nullability,
  * pinned as one line per function. Building a frame only plans it, so
  * the whole table runs no Spark job.
  */
class DecodeSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** One fixture frame serves every function: `id` and `n` are
    * non-nullable, `content` and `s` nullable, `flag` non-nullable.
    */
  private lazy val in: DataFrame =
    Seq((1L, Array[Byte](1, 2), 1, true, "x")).toDF("id", "content", "n", "flag", "s")

  /** `name type` per field, `?` marking a nullable one. */
  private def render(s: StructType): String =
    s.fields.map(f => s"${f.name} ${f.dataType.simpleString}${if (f.nullable) "?" else ""}")
      .mkString(", ")

  private val cases: Seq[(String, () => DataFrame, String)] = Seq(
    ("Media.stripMediaMetadata", () => Media.stripMediaMetadata(in, "id", "content"),
      "id bigint, content binary, bytes_removed int"),
    ("Media.stripMediaMetadataLenient", () => Media.stripMediaMetadataLenient(in, "id", "content"),
      "id bigint, content binary?, bytes_removed int, scrub_ok boolean, scrub_err string?"),
    ("Media.stripImageMetadata", () => Media.stripImageMetadata(in, "id", "content"),
      "id bigint, content binary, bytes_removed int"),
    ("Media.stripImageMetadataLenient", () => Media.stripImageMetadataLenient(in, "id", "content"),
      "id bigint, content binary?, bytes_removed int, scrub_ok boolean, scrub_err string?"),
    ("Media.genInfoTagged", () => Media.genInfoTagged(in, "id", "content", "s"),
      "id bigint, content binary"),
    ("Media.genTaggedPngs", () => Media.genTaggedPngs(in, "id", "content", "n"),
      "id bigint, content binary"),
    ("Media.genAdobeTaggedJpegs", () => Media.genAdobeTaggedJpegs(in, "id", "n", "n", "n"),
      "id bigint, content binary"),
    ("Media.decodeImageMeta", () => Media.decodeImageMeta(in, "id", "content"),
      "id bigint, content binary?, width int, height int, channels int, mime string, dhash bigint"),
    ("Media.decodeImageMetaLenient", () => Media.decodeImageMetaLenient(in, "id", "content"),
      "id bigint, content binary?, decode_ok boolean, decode_err string?, width int?, height int?, channels int?, mime string, dhash bigint?"),
    ("Media.resizeImage", () => Media.resizeImage(in, "id", "content", 4, 4),
      "id bigint, content binary, width int, height int"),
    ("Media.imagePixels", () => Media.imagePixels(in, "id", "content"),
      "id bigint, x int, y int, gray int"),
    ("Media.imageAHash", () => Media.imageAHash(in, "id", "content"),
      "id bigint, width int, height int, ahash bigint"),
    ("Media.imageStats", () => Media.imageStats(in, "id", "content"),
      "id bigint, width int, height int, n_px int, luma_sum bigint, luma_sq_sum bigint, luma_min int, luma_max int, mean_milli bigint"),
    ("Media.genPatternPngs", () => Media.genPatternPngs(in, "id", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genPatternPngsOriented", () => Media.genPatternPngsOriented(in, "id", "n", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.decodeAudioMeta", () => Media.decodeAudioMeta(in, "id", "content"),
      "id bigint, content binary?, sample_rate int, channels int, bits int, n_frames bigint, duration_ms bigint"),
    ("Media.decodeAudioMetaLenient", () => Media.decodeAudioMetaLenient(in, "id", "content"),
      "id bigint, content binary?, decode_ok boolean, decode_err string?, mime string, sample_rate int?, channels int?, bits int?, n_frames bigint?, duration_ms bigint?"),
    ("Media.audioWindows", () => Media.audioWindows(in, "id", "content", 20),
      "id bigint, window_idx int, start_ms bigint, n_bytes int, n_frames int"),
    ("Media.audioEnergy", () => Media.audioEnergy(in, "id", "content", 20),
      "id bigint, window_idx int, start_ms bigint, n_samples int, sum_sq bigint, peak_abs int"),
    ("Media.audioFingerprint", () => Media.audioFingerprint(in, "id", "content"),
      "id bigint, n_windows int, afp bigint"),
    ("Media.genToneWavs", () => Media.genToneWavs(in, "id", "n", "n", "n"),
      "id bigint, content binary"),
    ("Media.genNoiseWavs", () => Media.genNoiseWavs(in, "id", "n", "n", "n"),
      "id bigint, content binary"),
    ("Media.genWavs", () => Media.genWavs(in, "id", "n", "n", "n"),
      "id bigint, content binary"),
    ("Media.videoFrames", () => Media.videoFrames(in, "id", "content"),
      "id bigint, frame_idx int, width int, height int, dhash bigint"),
    ("Media.videoFramesLenient", () => Media.videoFramesLenient(in, "id", "content"),
      "id bigint, frame_ok boolean, frame_err string?, frame_idx int?, width int?, height int?, dhash bigint?"),
    ("Media.videoKeySigsLenient", () => Media.videoKeySigsLenient(in, "id", "content"),
      "id bigint, frame_ok boolean, frame_err string?, frame_idx int?, width int?, height int?, dhash bigint?"),
    ("Media.decodeVideoMeta", () => Media.decodeVideoMeta(in, "id", "content"),
      "id bigint, content binary?, width int, height int, n_frames int, n_streams int, fps_x1000 bigint, duration_ms bigint"),
    ("Media.decodeVideoMetaLenient", () => Media.decodeVideoMetaLenient(in, "id", "content"),
      "id bigint, content binary?, decode_ok boolean, decode_err string?, mime string, width int?, height int?, n_frames int?, n_streams int?, fps_x1000 bigint?, duration_ms bigint?"),
    ("Media.decodeMp4Meta", () => Media.decodeMp4Meta(in, "id", "content"),
      "id bigint, major_brand string, timescale bigint, duration_ms bigint, n_tracks int, width int, height int, n_frames int?, fps_x1000 bigint?, has_edit_list boolean, has_comp_offsets boolean"),
    ("Media.mp4Keyframes", () => Media.mp4Keyframes(in, "id", "content"),
      "id bigint, frame_idx int, width int, height int, dhash bigint"),
    ("Media.mp4KeyframesLenient", () => Media.mp4KeyframesLenient(in, "id", "content"),
      "id bigint, frame_ok boolean, frame_err string?, frame_idx int?, width int?, height int?, dhash bigint?"),
    ("Media.mp4Scenes", () => Media.mp4Scenes(in, "id", "content"),
      "id bigint, scene_idx int, start_frame_idx int, width int, height int, dhash bigint"),
    ("Media.mp4ScenesLenient", () => Media.mp4ScenesLenient(in, "id", "content"),
      "id bigint, frame_ok boolean, frame_err string?, scene_idx int?, start_frame_idx int?, width int?, height int?, dhash bigint?"),
    ("Media.genSceneAvis", () => Media.genSceneAvis(in, "id", "n", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genNoiseVideos", () => Media.genNoiseVideos(in, "id", "n", "n", "flag", 9, 8),
      "id bigint, content binary"),
    ("Media.genNoiseKeyframedMp4s", () => Media.genNoiseKeyframedMp4s(in, "id", "n", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genNoiseFmp4s", () => Media.genNoiseFmp4s(in, "id", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genNoiseVideosAvOrder", () => Media.genNoiseVideosAvOrder(in, "id", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genPatternAvis", () => Media.genPatternAvis(in, "id", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genPatternAvisPerturbed", () => Media.genPatternAvisPerturbed(in, "id", "n", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genAvis", () => Media.genAvis(in, "id", "n", "n", "n", "n"),
      "id bigint, content binary"),
    ("Media.genMp4s", () => Media.genMp4s(in, "id", "n", "n", "n", "n", "n", "flag"),
      "id bigint, content binary"),
    ("Media.genElstMp4s", () => Media.genElstMp4s(in, "id", "n", "n", "n", "n", "n", "flag"),
      "id bigint, content binary"),
    ("Media.genCttsMp4s", () => Media.genCttsMp4s(in, "id", "n", "n", "n", "n", "n", "flag"),
      "id bigint, content binary"),
    ("Media.genPatternMp4s", () => Media.genPatternMp4s(in, "id", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genPatternMp4sAvOrder", () => Media.genPatternMp4sAvOrder(in, "id", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genPatternMp4sKeyframed", () => Media.genPatternMp4sKeyframed(in, "id", "n", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genPatternFmp4s", () => Media.genPatternFmp4s(in, "id", "n", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genPatternSegMp4s", () => Media.genPatternSegMp4s(in, "id", "n", "n", "n", 9, 8),
      "id bigint, content binary"),
    ("Media.genFmp4s", () => Media.genFmp4s(in, "id", "n", "n", "n", "n", "n"),
      "id bigint, content binary"),
    ("Media.genSegMp4s", () => Media.genSegMp4s(in, "id", "n", "n", "n"),
      "id bigint, content binary"),
    ("Media.genVfrMp4s", () => Media.genVfrMp4s(in, "id", "n", "n", "n", "n", "n"),
      "id bigint, content binary"),
    ("Pdf.pdfText", () => Pdf.pdfText(in, "id", "content"),
      "id bigint, stream_idx int, pdf_version string, text string"),
    ("Pdf.pdfTextLenient", () => Pdf.pdfTextLenient(in, "id", "content"),
      "id bigint, decode_ok boolean, decode_err string?, stream_idx int?, pdf_version string?, text string?"),
    ("Pdf.genPdfs", () => Pdf.genPdfs(in, "id", "n", "flag"),
      "id bigint, content binary"),
    ("Pdf.genPdfsUnicode", () => Pdf.genPdfsUnicode(in, "id", "n", "flag"),
      "id bigint, content binary"),
    ("Pdf.genPdfsObjStm", () => Pdf.genPdfsObjStm(in, "id", "n", "flag"),
      "id bigint, content binary"),
    ("Warc.warcRecords", () => Warc.warcRecords(in, "id", "content"),
      "id bigint, rec_idx int, warc_type string, record_id string, target_uri string?, warc_date string, content_type string?, content_length bigint, body binary"),
    ("Warc.warcRecordsLenient", () => Warc.warcRecordsLenient(in, "id", "content"),
      "id bigint, decode_ok boolean, decode_err string?, rec_idx int?, warc_type string?, record_id string?, target_uri string?, warc_date string?, content_type string?, content_length bigint?, body binary?"),
    ("Warc.warcResponses", () => Warc.warcResponses(in, "id", "content"),
      "id bigint, rec_idx int, target_uri string?, http_status int, http_content_type string, http_body string"),
    ("Warc.genWarcs", () => Warc.genWarcs(in, "id", "n", "flag"),
      "id bigint, content binary"),
    ("Warc.genCrawlWarcs", () => Warc.genCrawlWarcs(in, "id", "n", "flag"),
      "id bigint, content binary"))

  for ((name, build, expected) <- cases)
    test(s"$name output schema") {
      assert(render(build().schema) == expected)
    }
}
