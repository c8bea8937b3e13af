package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.{CRC32, GZIPOutputStream, Inflater}

import graft.core.RowDecode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC (Web ARChive, ISO 28500) ingestion — the container format web
  * crawls actually arrive in (Common Crawl ships its corpus as `.warc.gz`
  * segment files). This is the crawl-scale generalization of the
  * reference's one-URL-at-a-time ingest (`src/Sources/Http.php:27-38`
  * fetches a body per message; `src/Sources/FindFiles.php:44-74` walks a
  * spool dir): a single WARC file carries thousands of fetched pages with
  * their protocol envelopes, and parsing it is a per-file, shuffle-free
  * map — the same execution shape as the `ext/Media` codec tier.
  *
  * Format facts this parser rests on (all public):
  *  - a WARC file is a concatenation of records: a `WARC/x.y` version
  *    line, named header fields, a blank line, exactly `Content-Length`
  *    bytes of content block, then two CRLFs;
  *  - `.warc.gz` files are MULTI-MEMBER gzip: each record is its own
  *    gzip member so readers can split at member boundaries.
  *    [[gunzipMembers]] walks the members explicitly (header flags,
  *    raw-deflate inflate, CRC32 + ISIZE trailer check per member)
  *    instead of trusting `GZIPInputStream`'s undocumented concatenation
  *    behavior — a short or corrupt member fails loudly, per member;
  *  - `response` records with `Content-Type: application/http` wrap a
  *    verbatim HTTP response (status line + headers + CRLFCRLF + body),
  *    which [[parseHttpResponse]] splits so the HTML body can flow into
  *    the text tier (`htmlToText` → quality/dedup/curation).
  *
  * Scale: one input row = one WARC file (the `binaryFile` source
  * granularity), one output row per record, no shuffle anywhere — at
  * crawl scale the job is embarrassingly parallel over segment files,
  * which is exactly how Common Crawl sizes them (~1 GB each). Strict
  * parses ([[warcRecords]]) throw on the first malformed byte — right
  * for fixtures; [[warcRecordsLenient]] quarantines a bad FILE in place
  * (`decode_ok=false` + failure class) so one rotten segment cannot fail
  * a 100 TB ingest.
  */
object Warc {

  final case class WarcRecord(idx: Int, warcType: String, recordId: String,
                              targetUri: Option[String], warcDate: String,
                              contentType: Option[String], body: Array[Byte])

  /** Inflate a multi-member gzip buffer (the `.warc.gz` layout: one
    * member per record). Each member's header flags (FEXTRA/FNAME/
    * FCOMMENT/FHCRC) are skipped per RFC 1952, the deflate stream is
    * inflated raw, and the CRC32/ISIZE trailer is verified — corruption
    * is named with the byte offset of the failing member.
    */
  private[sources] def gunzipMembers(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length * 4)
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    var p = 0
    while (p < bytes.length) {
      require(p + 10 <= bytes.length &&
        (bytes(p) & 0xff) == 0x1f && (bytes(p + 1) & 0xff) == 0x8b,
        s"not a gzip member at byte $p")
      require((bytes(p + 2) & 0xff) == 8,
        s"gzip member at byte $p: unsupported compression method ${bytes(p + 2) & 0xff}")
      val flg = bytes(p + 3) & 0xff
      var q = p + 10
      if ((flg & 4) != 0) { // FEXTRA
        val xlen = (bytes(q) & 0xff) | ((bytes(q + 1) & 0xff) << 8)
        q += 2 + xlen
      }
      if ((flg & 8) != 0) { while (bytes(q) != 0) q += 1; q += 1 } // FNAME
      if ((flg & 16) != 0) { while (bytes(q) != 0) q += 1; q += 1 } // FCOMMENT
      if ((flg & 2) != 0) q += 2 // FHCRC
      val inf = new Inflater(true)
      inf.setInput(bytes, q, bytes.length - q)
      val buf = new Array[Byte](1 << 16)
      val crc = new CRC32()
      var memberLen = 0L
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch {
            case e: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(
                s"gzip member at byte $p: corrupt deflate stream (${e.getMessage})")
          }
        if (n > 0) { out.write(buf, 0, n); crc.update(buf, 0, n); memberLen += n }
        else {
          require(inf.finished() || !inf.needsInput(),
            s"gzip member at byte $p: truncated deflate stream")
          require(!inf.needsDictionary(),
            s"gzip member at byte $p: preset dictionary unsupported")
        }
      }
      val used = q + inf.getBytesRead.toInt
      inf.end()
      require(used + 8 <= bytes.length, s"gzip member at byte $p: missing trailer")
      require(u32(used) == crc.getValue,
        s"gzip member at byte $p: CRC32 mismatch")
      require(u32(used + 4) == (memberLen & 0xffffffffL),
        s"gzip member at byte $p: ISIZE mismatch")
      p = used + 8
    }
    out.toByteArray
  }

  private def lineAt(bytes: Array[Byte], from: Int, rec: Int): (String, Int) = {
    var i = from
    while (i + 1 < bytes.length && !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
    require(i + 1 < bytes.length, s"record $rec: header line without CRLF terminator")
    (new String(bytes, from, i - from, ISO_8859_1), i + 2)
  }

  /** Strict parse of a (possibly gzipped) WARC buffer into its records,
    * in file order. Mandatory fields (`WARC-Type`, `WARC-Record-ID`,
    * `WARC-Date`, `Content-Length`) are required, header names are
    * case-insensitive per spec, the content block is cut to exactly
    * `Content-Length` bytes, and the two-CRLF record separator is
    * enforced between records (tolerated absent at EOF).
    */
  private[sources] def parseWarc(raw: Array[Byte]): Seq[WarcRecord] = {
    val bytes =
      if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b)
        gunzipMembers(raw)
      else raw
    val recs = Seq.newBuilder[WarcRecord]
    var p = 0
    var idx = 0
    while (p < bytes.length) {
      val (ver, afterVer) = lineAt(bytes, p, idx)
      require(ver.startsWith("WARC/"), s"record $idx: bad version line '$ver'")
      var q = afterVer
      var headers = Map.empty[String, String]
      var done = false
      while (!done) {
        val (ln, q1) = lineAt(bytes, q, idx)
        q = q1
        if (ln.isEmpty) done = true
        else {
          val c = ln.indexOf(':')
          require(c > 0, s"record $idx: malformed header line '$ln'")
          headers += (ln.substring(0, c).trim.toLowerCase ->
            ln.substring(c + 1).trim)
        }
      }
      def req(name: String): String = headers.getOrElse(name,
        throw new IllegalArgumentException(
          s"record $idx: missing mandatory $name header"))
      val lenS = req("content-length")
      require(lenS.nonEmpty && lenS.forall(_.isDigit) && lenS.length <= 9,
        s"record $idx: bad Content-Length '$lenS'")
      val len = lenS.toInt
      require(q + len <= bytes.length, s"record $idx: content block truncated " +
        s"(declared $len bytes, ${bytes.length - q} remain)")
      val body = java.util.Arrays.copyOfRange(bytes, q, q + len)
      var e = q + len
      if (e < bytes.length) {
        require(e + 4 <= bytes.length && bytes(e) == '\r' && bytes(e + 1) == '\n' &&
          bytes(e + 2) == '\r' && bytes(e + 3) == '\n',
          s"record $idx: missing two-CRLF record separator")
        e += 4
      }
      recs += WarcRecord(idx, req("warc-type"), req("warc-record-id"),
        headers.get("warc-target-uri"), req("warc-date"),
        headers.get("content-type"), body)
      p = e
      idx += 1
    }
    recs.result()
  }

  /** Split a verbatim HTTP response (the content block of an
    * `application/http; msgtype=response` record) into
    * (status code, Content-Type header value, body bytes).
    */
  private[sources] def parseHttpResponse(body: Array[Byte]): (Int, String, Array[Byte]) = {
    var sep = -1
    var i = 0
    while (sep < 0 && i + 3 < body.length) {
      if (body(i) == '\r' && body(i + 1) == '\n' &&
        body(i + 2) == '\r' && body(i + 3) == '\n') sep = i
      else i += 1
    }
    require(sep >= 0, "HTTP payload: no header/body separator")
    val lines = new String(body, 0, sep, ISO_8859_1).split("\r\n")
    val st = lines(0)
    require(st.startsWith("HTTP/"), s"not an HTTP response status line: '$st'")
    val parts = st.split(" ", 3)
    require(parts.length >= 2 && parts(1).nonEmpty && parts(1).forall(_.isDigit),
      s"bad HTTP status line: '$st'")
    val ct = lines.iterator.drop(1)
      .find(_.toLowerCase.startsWith("content-type:"))
      .map(l => l.substring(l.indexOf(':') + 1).trim).getOrElse("")
    (parts(1).toInt, ct, java.util.Arrays.copyOfRange(body, sep + 4, body.length))
  }

  private val recordSchemaTail = Seq(
    StructField("rec_idx", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = false),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("body", BinaryType, nullable = false))

  /** Explode WARC files into records: one output row per record, in file
    * order — (idCol, rec_idx, warc_type, record_id, target_uri,
    * warc_date, content_type, content_length, body). Gzipped payloads
    * are detected by magic and inflated member-by-member. Strict: any
    * malformed file fails the job with the record index and byte-level
    * cause ([[warcRecordsLenient]] is the dirty-crawl twin).
    */
  def warcRecords(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, recordSchemaTail)(recordFacts)

  private def recordFacts(bytes: Array[Byte]): Seq[Seq[Any]] =
    parseWarc(bytes).map { w =>
      Seq[Any](w.idx, w.warcType, w.recordId, w.targetUri.orNull, w.warcDate,
        w.contentType.orNull, w.body.length.toLong, w.body)
    }

  /** [[warcRecords]] for DIRTY corpora: a file that fails to parse is
    * quarantined as ONE `decode_ok=false` row under the
    * [[graft.core.RowDecode]] quarantine policy instead of failing the
    * job; files that parse emit their records with `decode_ok=true`.
    */
  def warcRecordsLenient(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 1,
      RowDecode.flags("decode") ++ RowDecode.nullable(recordSchemaTail))(recordFacts)

  /** The page-extraction composition: records → keep
    * `warc_type=response` wrapping `application/http` → split the HTTP
    * envelope — (idCol, rec_idx, target_uri, http_status,
    * http_content_type, http_body as UTF-8 text). Feed `http_body`
    * through `TextFunctions.htmlToText` and the whole text tier
    * (quality, langid, dedup, curation) applies to the crawl unchanged.
    */
  def warcResponses(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("rec_idx", IntegerType, nullable = false),
      StructField("target_uri", StringType, nullable = true),
      StructField("http_status", IntegerType, nullable = false),
      StructField("http_content_type", StringType, nullable = false),
      StructField("http_body", StringType, nullable = false))) { bytes =>
      parseWarc(bytes)
        .filter(w => w.warcType == "response" &&
          w.contentType.exists(_.startsWith("application/http")))
        .map { w =>
          val (status, ct, body) = parseHttpResponse(w.body)
          Seq[Any](w.idx, w.targetUri.orNull, status, ct, new String(body, UTF_8))
        }
    }

  // ---- fixture generation (encode side) ----------------------------------

  /** Serialize one WARC record (version line, headers, blank line,
    * content block, two-CRLF terminator). */
  def encodeWarcRecord(warcType: String, recordId: String, date: String,
                       targetUri: Option[String], contentType: String,
                       body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder()
      .append("WARC/1.0\r\n")
      .append("WARC-Type: ").append(warcType).append("\r\n")
      .append("WARC-Record-ID: ").append(recordId).append("\r\n")
      .append("WARC-Date: ").append(date).append("\r\n")
    targetUri.foreach(u => sb.append("WARC-Target-URI: ").append(u).append("\r\n"))
    sb.append("Content-Type: ").append(contentType).append("\r\n")
      .append("Content-Length: ").append(body.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(ISO_8859_1)
    val out = new ByteArrayOutputStream(head.length + body.length + 4)
    out.write(head); out.write(body); out.write("\r\n\r\n".getBytes(ISO_8859_1))
    out.toByteArray
  }

  def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** The deterministic fixture formula shared with the DuckDB oracles —
    * file `k` holds one `warcinfo` record then, per page `i < n`, a
    * `request` and a `response` record; the response wraps an HTTP
    * envelope whose status and HTML body derive from (k, i) alone.
    * Every field the parse emits is re-derivable in SQL with zero
    * parsing. The visible text of page (k, i) after `htmlToText` is
    * `"T{k}-{i} alpha{k} beta{i} gamma{(k*7+i)%100}"`.
    */
  private[graft] def fixtureRecords(k: Long, n: Int): Seq[(String, String, String, Option[String], String, Array[Byte])] = {
    val day = f"${k % 28 + 1}%02d"
    val info = ("warcinfo", s"<urn:uuid:$k-info>", s"2026-01-${day}T00:00:00Z",
      None, "application/warc-fields",
      s"software: graft $k\r\n".getBytes(ISO_8859_1))
    info +: (0 until n).flatMap { i =>
      val uri = Some(s"http://site$k.example/page$i")
      val sec = f"${i % 60}%02d"
      val req = ("request", s"<urn:uuid:$k-$i-req>", s"2026-01-${day}T00:01:${sec}Z",
        uri, "application/http; msgtype=request",
        s"GET /page$i HTTP/1.1\r\nHost: site$k.example\r\n\r\n".getBytes(ISO_8859_1))
      val status = if ((k * 3 + i) % 7 == 0) 404 else 200
      val reason = if (status == 404) "Not Found" else "OK"
      val html = s"<html><head><title>T$k-$i</title></head><body><p>alpha$k " +
        s"beta$i gamma${(k * 7 + i) % 100}</p><script>var x=1;</script></body></html>"
      val resp = ("response", s"<urn:uuid:$k-$i-resp>",
        s"2026-01-${day}T00:02:${sec}Z", uri, "application/http; msgtype=response",
        (s"HTTP/1.1 $status $reason\r\nContent-Type: text/html; charset=utf-8\r\n" +
          s"Content-Length: ${html.length}\r\n\r\n" + html).getBytes(ISO_8859_1))
      Seq(req, resp)
    }
  }

  /** Deterministic WARC-file fixtures, one per input row: file
    * [[fixtureRecords]] for id k with `nRecsCol` pages; when `gzCol` is
    * true the file is written in the Common Crawl layout — each record
    * its own gzip member — exercising the multi-member inflate path.
    * Output (idCol, content).
    */
  def genWarcs(df: DataFrame, idCol: String, nRecsCol: String,
               gzCol: String): DataFrame =
    genFromRecords(df, idCol, nRecsCol, gzCol, fixtureRecords)

  /** Crawl-corpus fixtures for the end-to-end pipeline oracle
    * (`src_warc_pipeline`): file k crawls site s = k%10, whose page TEXT
    * comes from mirror group m = k%5 — files sharing s duplicate pages
    * URL-exactly (identical canonical URL once the planted
    * `utm_source`/`ref` tracking params strip), while sites s and s+5
    * are content MIRRORS (identical visible text under distinct
    * canonical URLs) that only exact content dedup catches. Page i
    * plants one C4 violation by v = (m·3+i) % 5: v=0 a lorem-ipsum
    * sentence, v=1 a curly brace, v=2 an unterminated tail (the whole
    * single-line page then fails the C4 line rule); pages with
    * (k·3+i) % 7 == 0 answer 404. Every page's `<script>` body contains
    * the literal word "javascript", so a broken script-strip would kill
    * every page at the line rule — the composed oracle proves HTML
    * stripping, C4 cleaning + gating, URL dedup, and content dedup in
    * one plan. Visible text after htmlToText derives from (m, i) alone:
    * `"Crawl {m} {i} Site {m} page {i} carries crawl words number
    * {(m·7+i)%50}. Another sentence follows with plenty of words here.
    * {tail(v)}"`.
    */
  private[graft] def crawlRecords(k: Long, n: Int): Seq[(String, String, String, Option[String], String, Array[Byte])] = {
    val s = k % 10; val m = k % 5
    val day = f"${k % 28 + 1}%02d"
    val info = ("warcinfo", s"<urn:uuid:$k-info>", s"2026-02-${day}T00:00:00Z",
      None, "application/warc-fields",
      s"software: graft crawl $k\r\n".getBytes(ISO_8859_1))
    info +: (0 until n).flatMap { i =>
      val uri = Some(s"http://site$s.example/page$i?utm_source=feed&ref=$k&q=${i % 3}")
      val sec = f"${i % 60}%02d"
      val req = ("request", s"<urn:uuid:$k-$i-req>",
        s"2026-02-${day}T00:01:${sec}Z", uri,
        "application/http; msgtype=request",
        s"GET /page$i HTTP/1.1\r\nHost: site$s.example\r\n\r\n".getBytes(ISO_8859_1))
      val status = if ((k * 3 + i) % 7 == 0) 404 else 200
      val reason = if (status == 404) "Not Found" else "OK"
      val tail = ((m * 3 + i) % 5) match {
        case 0 => "Closing remark has lorem ipsum inside."
        case 1 => "Closing remark is {styled} badly today."
        case 2 => "unpunctuated tail"
        case _ => "Closing remark ends the page cleanly."
      }
      val html = s"<html><head><title>Crawl $m $i</title></head><body>" +
        s"<p>Site $m page $i carries crawl words number ${(m * 7 + i) % 50}.</p>" +
        "<p>Another sentence follows with plenty of words here.</p>" +
        s"<p>$tail</p><script>var lang=\"javascript\";</script></body></html>"
      val resp = ("response", s"<urn:uuid:$k-$i-resp>",
        s"2026-02-${day}T00:02:${sec}Z", uri,
        "application/http; msgtype=response",
        (s"HTTP/1.1 $status $reason\r\nContent-Type: text/html; charset=utf-8\r\n" +
          s"Content-Length: ${html.length}\r\n\r\n" + html).getBytes(ISO_8859_1))
      Seq(req, resp)
    }
  }

  /** [[genWarcs]] over the [[crawlRecords]] formula. */
  def genCrawlWarcs(df: DataFrame, idCol: String, nPagesCol: String,
                    gzCol: String): DataFrame =
    genFromRecords(df, idCol, nPagesCol, gzCol, crawlRecords)

  private def genFromRecords(df: DataFrame, idCol: String, nCol: String,
                             gzCol: String,
                             recs: (Long, Int) => Seq[(String, String, String, Option[String], String, Array[Byte])]): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(nCol).cast("int"),
      col(gzCol).cast("boolean")) { r =>
      val encoded = recs(r.getLong(0), r.getInt(1)).map {
        case (t, rid, date, uri, ct, body) =>
          encodeWarcRecord(t, rid, date, uri, ct, body)
      }
      val out = new ByteArrayOutputStream()
      if (r.getBoolean(2)) encoded.foreach(rec => out.write(gzipBytes(rec)))
      else encoded.foreach(out.write)
      out.toByteArray
    }
}
