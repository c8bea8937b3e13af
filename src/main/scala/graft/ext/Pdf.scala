package graft.ext

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.{Deflater, Inflater}

import graft.core.RowDecode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PDF text extraction — the remaining big crawl modality after
  * HTML/image/audio/video: a large share of the high-quality document web
  * (papers, reports, books) arrives as PDF, and a training-data pipeline
  * that cannot read it loses that slice entirely. The reference ingests
  * documents one fetch at a time (`src/Sources/Http.php:27-38` download
  * mode) and leaves parsing to per-format transforms; this tier is the
  * PDF analogue of `ext/Media`'s codec tier — pure JDK (the only
  * decompressor needed for the dominant stream filter, FlateDecode, is
  * `java.util.zip.Inflater`), per-row, shuffle-free.
  *
  * What it implements (all public format, ISO 32000):
  *  - object walk: `N G obj … endobj` scanned in file order (no xref
  *    needed for extraction — robust to linearized files and mild damage);
  *  - stream objects: dict `/Length` honored when direct, `endstream`
  *    scan as fallback; `/Filter /FlateDecode` inflated, no filter passed
  *    through, any other filter is an explicit unsupported-failure;
  *  - content-stream text: a real tokenizer over the operator syntax —
  *    literal strings with the full escape set (`\( \) \\ \n \r \t \b \f`,
  *    octal `\ddd`, line continuation), nested unescaped parens, hex
  *    strings (odd length zero-padded), arrays — feeding the show
  *    operators `Tj`, `TJ` (kerning numbers ignored), `'` and `"` (which
  *    imply a line break), with `Td`/`TD`/`T*` emitting newlines.
  *
  * String decoding: show-string bytes under a font that declares a
  * /ToUnicode CMap decode through it ([[fontCMaps]] + the `Tf`-tracking
  * tokenizer — bfchar/bfrange, UTF-16BE destinations, the non-Latin CJK/
  * Cyrillic/Greek path); all other fonts keep the Latin-1 read, which is
  * exact for standard-encoding standard-14-font PDFs. Remaining boundary:
  * a CMap-less CID font (no /ToUnicode to recover text by) extracts raw
  * glyph bytes — the same line every lightweight extractor draws.
  *
  * Scale: one input row = one PDF, one output row per content stream
  * (≈ page), no shuffle — embarrassingly parallel over a 100 TB crawl,
  * with [[pdfTextLenient]] quarantining undecodable files in place.
  */
object Pdf {

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](1 << 16)
    while (!inf.finished()) {
      val n =
        try inf.inflate(buf)
        catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"FlateDecode: corrupt deflate stream (${e.getMessage})")
        }
      if (n > 0) out.write(buf, 0, n)
      else {
        require(inf.finished() || !inf.needsInput(),
          "FlateDecode: truncated deflate stream")
        require(!inf.needsDictionary(),
          "FlateDecode: preset dictionary unsupported")
      }
    }
    inf.end()
    out.toByteArray
  }

  private def indexOf(hay: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.getBytes(ISO_8859_1)
    var i = from
    val last = hay.length - n.length
    while (i <= last) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  /** Decode the one stream whose `stream` keyword starts at byte `s`:
    * read the governing dict (nearest preceding `<<`…`>>` — nested dicts
    * don't occur in content stream dicts; a Resources dict lives on the
    * page object instead), cut the data by direct `/Length` when present
    * (falling back to an `endstream` scan), and apply the filter. Returns
    * (governing dict text, decoded bytes, position just past the data).
    * Shared by the in-order [[contentStreams]] scan, the object-addressed
    * reads ([[fontCMaps]]' /ToUnicode streams), and the [[objStmObjects]]
    * ObjStm walk. Strict: a non-Flate filter or
    * corrupt deflate data throws with the stream's byte offset.
    */
  private def decodeStreamAt(bytes: Array[Byte],
                             s: Int): (String, Array[Byte], Int) = {
    val (dict, d, end) = cutStreamAt(bytes, s)
    val filterIdx = dict.indexOf("/Filter")
    val flate = dict.contains("/FlateDecode")
    require(filterIdx < 0 || flate,
      s"stream at byte $s: unsupported filter in $dict")
    val data = java.util.Arrays.copyOfRange(bytes, d, end)
    (dict, if (flate) inflate(data) else data, end)
  }

  /** The raw cut under [[decodeStreamAt]]: (dict text, data start, data
    * end) with no filter applied — lets [[objStmObjects]] peek at a
    * stream's dict and skip past non-ObjStm data without paying (or
    * requiring support for) its decode.
    */
  private def cutStreamAt(bytes: Array[Byte], s: Int): (String, Int, Int) = {
    val dictStart = {
      var q = s - 1; var found = -1
      while (found < 0 && q > 0) {
        if (bytes(q - 1) == '<' && bytes(q) == '<') found = q - 1
        q -= 1
      }
      require(found >= 0, s"stream at byte $s: no governing dictionary")
      found
    }
    val dict = new String(bytes, dictStart, s - dictStart, ISO_8859_1)
    // data starts after the keyword's EOL (CRLF or LF per spec)
    var d = s + 6
    if (d < bytes.length && bytes(d) == '\r') d += 1
    if (d < bytes.length && bytes(d) == '\n') d += 1
    // \b pins the full digit run (backtracking inside \d+ could otherwise
    // shorten "12" to "1" so the lookahead sees "2 0 R" and wrongly
    // accepts an indirect length); \d+ in the lookahead excludes ANY
    // object number, not just 0 — indirect /Length N G R always falls
    // back to the endstream scan
    val lenRe = "/Length\\s+(\\d+)\\b(?!\\s+\\d+\\s+R)".r
    val end = lenRe.findFirstMatchIn(dict) match {
      case Some(m) => d + m.group(1).toInt
      case None =>
        val e = indexOf(bytes, "endstream", d)
        require(e >= 0, s"stream at byte $s: no endstream")
        // strip the EOL preceding the keyword
        var e2 = e
        if (e2 > d && bytes(e2 - 1) == '\n') e2 -= 1
        if (e2 > d && bytes(e2 - 1) == '\r') e2 -= 1
        e2
    }
    require(end <= bytes.length, s"stream at byte $s: declared /Length " +
      s"overruns the file (${end - bytes.length} bytes short)")
    (dict, d, end)
  }

  /** Decoded content streams of a PDF, in file order: scan for
    * `stream` keywords and decode each through [[decodeStreamAt]].
    */
  private[ext] def contentStreams(bytes: Array[Byte]): Seq[Array[Byte]] = {
    require(bytes.length >= 8 &&
      new String(bytes, 0, 5, ISO_8859_1) == "%PDF-",
      "not a PDF: missing %PDF- header")
    val out = Seq.newBuilder[Array[Byte]]
    var p = 0
    var done = false
    while (!done) {
      val s = indexOf(bytes, "stream", p)
      if (s < 0) done = true
      else if (s + 6 <= bytes.length &&
        // reject "endstream" matches: require non-letter before
        (s == 0 || !Character.isLetter((bytes(s - 1) & 0xff).toChar))) {
        val (_, data, end) = decodeStreamAt(bytes, s)
        out += data
        p = end
      } else p = s + 6
    }
    out.result()
  }

  /** Objects packed inside PDF 1.5+ object streams (`/Type /ObjStm`,
    * ISO 32000 §7.5.7) — modern writers store page and font DICTS there
    * (deflated), which hides them from any raw-byte scan: without this
    * walk a 1.5+ file's /Font resources and /ToUnicode refs are invisible
    * and CMap'd text silently degrades to the Latin-1 fallback. Each
    * ObjStm decodes to `N` (objnum, offset) header pairs followed by the
    * serialized objects at `/First`+offset; streams cannot live inside an
    * ObjStm (spec), so everything here is dict/scalar text. Returns
    * objnum → serialized body for every contained object.
    */
  private[ext] def objStmObjects(bytes: Array[Byte]): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    var p = 0
    var go = true
    while (go) {
      val s = indexOf(bytes, "stream", p)
      if (s < 0) go = false
      else if (s > 0 && Character.isLetter((bytes(s - 1) & 0xff).toChar))
        p = s + 6
      else {
        val (dict, _, end) = cutStreamAt(bytes, s)
        if (dict.contains("/ObjStm")) {
          val txt = new String(decodeStreamAt(bytes, s)._2, ISO_8859_1)
          def intField(name: String): Int =
            (name + "\\s+(\\d+)").r.findFirstMatchIn(dict).map(_.group(1).toInt)
              .getOrElse(throw new IllegalArgumentException(
                s"ObjStm at byte $s missing $name"))
          val n = intField("/N")
          val first = intField("/First")
          require(first <= txt.length, s"ObjStm at byte $s: /First overruns")
          val header = txt.substring(0, first).trim
            .split("\\s+").filter(_.nonEmpty)
          require(header.length >= 2 * n,
            s"ObjStm at byte $s: header holds ${header.length} ints, wants ${2 * n}")
          val pairs = (0 until n)
            .map(i => (header(2 * i).toInt, header(2 * i + 1).toInt))
          pairs.zipWithIndex.foreach { case ((num, off), i) =>
            val to = if (i + 1 < n) first + pairs(i + 1)._2 else txt.length
            require(first + off <= to && to <= txt.length,
              s"ObjStm at byte $s: object $num offsets out of order")
            out += num -> txt.substring(first + off, to)
          }
        }
        p = end
      }
    }
    out.result()
  }

  /** A font's /ToUnicode mapping: glyph-code byte width (from the
    * codespace range) and code → Unicode string.
    */
  private[ext] final case class CMap(codeBytes: Int, map: Map[Int, String])

  /** Parse a /ToUnicode CMap stream (ISO 32000 §9.10.3, Adobe CMap
    * syntax): `begincodespacerange` fixes the glyph-code byte width
    * (derived from the first bfchar/bfrange source when absent),
    * `beginbfchar` maps single codes, `beginbfrange` maps runs — both the
    * scalar destination form (the destination's last UTF-16 code unit
    * increments across the run) and the array form (one destination per
    * code, multi-char strings allowed). Destinations are UTF-16BE.
    */
  private[ext] def parseToUnicodeCMap(data: Array[Byte]): CMap = {
    val text = new String(data, ISO_8859_1)
    def utf16(hex: String): String = {
      val clean = hex.filterNot(_.isWhitespace)
      val bs = clean.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      new String(bs, java.nio.charset.StandardCharsets.UTF_16BE)
    }
    def codeOf(hex: String): Int =
      java.lang.Long.parseLong(hex.filterNot(_.isWhitespace), 16).toInt
    def sections(kw: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var p = 0
      var go = true
      while (go) {
        val b = text.indexOf("begin" + kw, p)
        if (b < 0) go = false
        else {
          val e = text.indexOf("end" + kw, b)
          require(e > b, s"unterminated $kw section in CMap")
          out += text.substring(b + 5 + kw.length, e)
          p = e + 3 + kw.length
        }
      }
      out.result()
    }
    // tokens of a section: <hex> strings and [ <hex> … ] arrays
    sealed trait Tok
    final case class H(hex: String) extends Tok
    final case class A(items: Seq[String]) extends Tok
    def tokens(s: String): Seq[Tok] = {
      val out = Seq.newBuilder[Tok]
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '<' =>
            val e = s.indexOf('>', i + 1)
            require(e > i, "unterminated hex string in CMap")
            out += H(s.substring(i + 1, e)); i = e + 1
          case '[' =>
            val e = s.indexOf(']', i + 1)
            require(e > i, "unterminated array in CMap")
            out += A(tokens(s.substring(i + 1, e)).collect { case H(h) => h })
            i = e + 1
          case _ => i += 1
        }
      }
      out.result()
    }
    var codeBytes = 0
    def widthFrom(hex: String): Unit =
      if (codeBytes == 0) codeBytes = hex.filterNot(_.isWhitespace).length / 2
    sections("codespacerange").foreach { sec =>
      tokens(sec).headOption.foreach {
        case H(h) => widthFrom(h)
        case _ =>
      }
    }
    val m = Map.newBuilder[Int, String]
    sections("bfchar").foreach { sec =>
      tokens(sec).grouped(2).foreach {
        case Seq(H(src), H(dst)) =>
          widthFrom(src)
          m += codeOf(src) -> utf16(dst)
        case other =>
          throw new IllegalArgumentException(s"malformed bfchar pair: $other")
      }
    }
    sections("bfrange").foreach { sec =>
      val ts = tokens(sec)
      require(ts.length % 3 == 0, s"bfrange wants triples, got ${ts.length} tokens")
      var i = 0
      while (i < ts.length) {
        (ts(i), ts(i + 1), ts(i + 2)) match {
          case (H(lo), H(hi), H(dst)) =>
            widthFrom(lo)
            val l = codeOf(lo); val h = codeOf(hi); val base = utf16(dst)
            require(h >= l, s"descending bfrange <$lo> <$hi>")
            var c = l
            while (c <= h) {
              m += c -> (if (base.isEmpty) ""
                         else base.init + (base.last + (c - l)).toChar)
              c += 1
            }
          case (H(lo), H(hi), A(items)) =>
            widthFrom(lo)
            val l = codeOf(lo); val h = codeOf(hi)
            require(items.length == h - l + 1,
              s"bfrange array arity ${items.length} != ${h - l + 1}")
            items.zipWithIndex.foreach { case (d, k) => m += (l + k) -> utf16(d) }
          case other =>
            throw new IllegalArgumentException(s"malformed bfrange triple: $other")
        }
        i += 3
      }
    }
    require(codeBytes >= 1 && codeBytes <= 4,
      s"CMap code width $codeBytes bytes unsupported")
    CMap(codeBytes, m.result())
  }

  /** Font-resource name → ToUnicode CMap for every font declared in any
    * `/Font << /Name N 0 R … >>` resource group of the file — inline page
    * Resources, indirect Resources objects, AND objects packed inside
    * PDF 1.5+ object streams ([[objStmObjects]] — where modern writers
    * put page/font dicts) all land here. Documented boundary, same family
    * as [[contentStreams]]' dict heuristics: font entries must be indirect
    * references (the universal encoder convention; a whole font dict
    * written inline inside /Font is out of scope). Fonts without
    * /ToUnicode simply don't appear — their strings keep the Latin-1
    * standard-encoding read, so pre-CMap corpora extract unchanged.
    */
  private[ext] def fontCMaps(bytes: Array[Byte]): Map[String, CMap] = {
    val text = new String(bytes, ISO_8859_1)
    // object number → offset just past its "N 0 obj" header
    val objRe = "(?<![0-9])(\\d+)\\s+0\\s+obj".r
    lazy val objAt =
      objRe.findAllMatchIn(text).map(m => m.group(1).toInt -> m.end).toMap
    val stmObjs = objStmObjects(bytes)
    def dictOf(objNum: Int): String = stmObjs.getOrElse(objNum,
      objAt.get(objNum).fold("") { p =>
        val stop = Seq(text.indexOf("endobj", p), text.indexOf("stream", p))
          .filter(_ >= 0).minOption.getOrElse(text.length)
        text.substring(p, stop)
      })
    // the object's own stream keyword (if any), skipping "endstream";
    // ToUnicode CMaps are STREAMS, which the spec keeps OUT of ObjStm —
    // so they always resolve through the raw top-level scan
    def streamKeywordOf(objNum: Int): Option[Int] = objAt.get(objNum).flatMap { p =>
      val stop = text.indexOf("endobj", p)
      var s = indexOf(bytes, "stream", p)
      while (s > 0 && Character.isLetter((bytes(s - 1) & 0xff).toChar))
        s = indexOf(bytes, "stream", s + 6)
      if (s >= 0 && (stop < 0 || s < stop)) Some(s) else None
    }
    val fontEntryRe = "/([A-Za-z0-9]+)\\s+(\\d+)\\s+0\\s+R".r
    val toUniRe = "/ToUnicode\\s+(\\d+)\\s+0\\s+R".r
    val out = Map.newBuilder[String, CMap]
    def scanGroups(t: String): Unit = {
      var p = 0
      var go = true
      while (go) {
        val f = t.indexOf("/Font", p)
        if (f < 0) go = false
        else {
          var q = f + 5
          while (q < t.length && t.charAt(q).isWhitespace) q += 1
          if (q + 1 < t.length && t.charAt(q) == '<' &&
            t.charAt(q + 1) == '<') {
            val e = t.indexOf(">>", q + 2)
            if (e > 0) fontEntryRe.findAllMatchIn(t.substring(q + 2, e))
              .foreach { fm =>
                toUniRe.findFirstMatchIn(dictOf(fm.group(2).toInt)).foreach { um =>
                  streamKeywordOf(um.group(1).toInt).foreach { s =>
                    out += fm.group(1) ->
                      parseToUnicodeCMap(decodeStreamAt(bytes, s)._2)
                  }
                }
              }
          }
          p = f + 5
        }
      }
    }
    scanGroups(text)
    // deterministic order over the packed objects (Map order is not)
    stmObjs.toSeq.sortBy(_._1).foreach { case (_, body) => scanGroups(body) }
    out.result()
  }

  /** Text of one decoded content stream: tokenizes strings/arrays/
    * operators and assembles show-text in reading order. Newlines come
    * from `Td`/`TD`/`T*` and the implicit line break of `'`/`"`;
    * consecutive line breaks collapse and a leading break is suppressed,
    * so the result is exactly the lines a viewer paints, joined by \n.
    *
    * `fonts` carries the file's /ToUnicode CMaps by resource name
    * ([[fontCMaps]]): the tokenizer tracks the current font through `Tf`,
    * and a show string under a CMap'd font decodes its bytes as
    * fixed-width glyph codes through the map (unmapped code → U+FFFD,
    * same for a trailing partial code) instead of Latin-1 — the non-Latin
    * extraction path. With no entry for the current font the historical
    * Latin-1 read applies unchanged.
    */
  private[ext] def streamText(data: Array[Byte],
                              fonts: Map[String, CMap] = Map.empty): String = {
    val sb = new StringBuilder
    var pendingNl = false
    def emit(s: String): Unit = {
      if (s.nonEmpty || sb.nonEmpty) {
        if (pendingNl && sb.nonEmpty) sb.append('\n')
        pendingNl = false
        sb.append(s)
      }
    }
    var lastStr: String = null
    var arrayBuf: StringBuilder = null
    var lastName: String = null
    var curFont: String = null
    // raw show-string chars are BYTES (each 0-255); a CMap'd current font
    // re-reads them as fixed-width glyph codes
    def decodeStr(raw: String): String =
      (if (curFont == null) None else fonts.get(curFont)) match {
        case Some(cm) =>
          val out = new StringBuilder
          var k = 0
          while (k < raw.length) {
            if (k + cm.codeBytes <= raw.length) {
              var code = 0
              var j = 0
              while (j < cm.codeBytes) {
                code = (code << 8) | (raw.charAt(k + j) & 0xff)
                j += 1
              }
              out.append(cm.map.getOrElse(code, "�"))
              k += cm.codeBytes
            } else { // trailing partial glyph code
              out.append('�')
              k = raw.length
            }
          }
          out.toString
        case None => raw
      }
    var i = 0
    val n = data.length
    def isDelim(c: Char): Boolean =
      c.isWhitespace || "()<>[]{}/%".indexOf(c) >= 0
    while (i < n) {
      val c = (data(i) & 0xff).toChar
      if (c.isWhitespace) i += 1
      else if (c == '%') { // comment to EOL
        while (i < n && data(i) != '\n' && data(i) != '\r') i += 1
      } else if (c == '(') {
        val s = new StringBuilder
        var depth = 1
        i += 1
        while (depth > 0) {
          require(i < n, "unterminated literal string")
          val ch = (data(i) & 0xff).toChar
          if (ch == '\\') {
            require(i + 1 < n, "dangling escape at end of stream")
            val e = (data(i + 1) & 0xff).toChar
            e match {
              case 'n' => s.append('\n'); i += 2
              case 'r' => s.append('\r'); i += 2
              case 't' => s.append('\t'); i += 2
              case 'b' => s.append('\b'); i += 2
              case 'f' => s.append('\f'); i += 2
              case '(' | ')' | '\\' => s.append(e); i += 2
              case '\r' => // line continuation (swallow optional LF)
                i += 2; if (i < n && data(i) == '\n') i += 1
              case '\n' => i += 2
              case d if d >= '0' && d <= '7' =>
                var v = 0; var k = 0; i += 1
                while (k < 3 && i < n && data(i) >= '0' && data(i) <= '7') {
                  v = v * 8 + (data(i) - '0'); i += 1; k += 1
                }
                s.append((v & 0xff).toChar)
              case other => s.append(other); i += 2 // spec: ignore backslash
            }
          } else if (ch == '(') { depth += 1; s.append(ch); i += 1 }
          else if (ch == ')') {
            depth -= 1; if (depth > 0) s.append(ch); i += 1
          } else { s.append(ch); i += 1 }
        }
        lastStr = decodeStr(s.toString)
        if (arrayBuf != null) arrayBuf.append(lastStr)
      } else if (c == '<' && i + 1 < n && data(i + 1) == '<') {
        i += 2 // dict open — inline dicts (BDC properties) carry no text
      } else if (c == '>' && i + 1 < n && data(i + 1) == '>') {
        i += 2
      } else if (c == '<') { // hex string
        val e = { val k = indexOf(data, ">", i + 1)
          require(k >= 0, "unterminated hex string"); k }
        val hex = new String(data, i + 1, e - i - 1, ISO_8859_1)
          .filterNot(_.isWhitespace)
        val padded = if (hex.length % 2 == 0) hex else hex + "0"
        val s = new StringBuilder
        var k = 0
        while (k < padded.length) {
          s.append(Integer.parseInt(padded.substring(k, k + 2), 16).toChar)
          k += 2
        }
        lastStr = decodeStr(s.toString)
        if (arrayBuf != null) arrayBuf.append(lastStr)
        i = e + 1
      } else if (c == '[') { arrayBuf = new StringBuilder; i += 1 }
      else if (c == ']') { lastStr = arrayBuf.toString; arrayBuf = null; i += 1 }
      else if (c == '/') { // name — remembered for the Tf font selector
        val start = i + 1
        i += 1; while (i < n && !isDelim((data(i) & 0xff).toChar)) i += 1
        lastName = new String(data, start, i - start, ISO_8859_1)
      } else if (c.isDigit || c == '+' || c == '-' || c == '.') { // number
        i += 1; while (i < n && !isDelim((data(i) & 0xff).toChar)) i += 1
      } else { // operator
        val start = i
        while (i < n && !isDelim((data(i) & 0xff).toChar)) i += 1
        new String(data, start, i - start, ISO_8859_1) match {
          case "Tj" | "TJ" => emit(lastStr)
          case "'" => pendingNl = true; emit(lastStr)
          case "\"" => pendingNl = true; emit(lastStr)
          case "Td" | "TD" | "T*" => pendingNl = true
          case "Tf" => curFont = lastName // /Name size Tf
          case _ => // Tm, BT, ET, graphics ops — no text effect
        }
      }
    }
    sb.toString
  }

  private def versionOf(bytes: Array[Byte]): String = {
    var e = 5
    while (e < bytes.length && bytes(e) != '\n' && bytes(e) != '\r') e += 1
    new String(bytes, 5, e - 5, ISO_8859_1)
  }

  /** Extract page text: one output row per content stream that shows any
    * text — (idCol, stream_idx, pdf_version, text), file order. Strict
    * ([[pdfTextLenient]] is the dirty-crawl twin).
    */
  def pdfText(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, TextFields)(textFacts)

  /** Fact columns of [[pdfText]]: one row per text-showing stream. */
  private val TextFields = Seq(
    StructField("stream_idx", IntegerType, nullable = false),
    StructField("pdf_version", StringType, nullable = false),
    StructField("text", StringType, nullable = false))

  private def textFacts(bytes: Array[Byte]): Seq[Seq[Any]] = {
    val fonts = fontCMaps(bytes)
    val texts = contentStreams(bytes).map(streamText(_, fonts)).filter(_.nonEmpty)
    val ver = versionOf(bytes)
    texts.zipWithIndex.map { case (t, idx) => Seq[Any](idx, ver, t) }
  }

  /** [[pdfText]] for DIRTY corpora: a file that fails (not a PDF,
    * unsupported filter, corrupt deflate) quarantines as ONE
    * `decode_ok=false` row under the [[graft.core.RowDecode]] quarantine
    * policy instead of failing the job.
    */
  def pdfTextLenient(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 1,
      RowDecode.flags("decode") ++ RowDecode.nullable(TextFields))(textFacts)

  // ---- fixture generation (encode side) ----------------------------------

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end(); bos.toByteArray
  }

  /** Serialize a complete single-font PDF — catalog, page tree, one
    * content stream per page, a real xref table with byte offsets and a
    * trailer (external tools can open these). Each page's content is the
    * caller's raw operator text, optionally FlateDecode-compressed.
    */
  def encodePdf(pageContents: Seq[String], flate: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: => Unit): Unit = {
      offsets += out.size()
      val num = offsets.length
      w(s"$num 0 obj\n"); body; w("endobj\n")
    }
    val nPages = pageContents.length
    val fontObj = 3 + 2 * nPages
    w("%PDF-1.4\n")
    obj { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj {
      val kids = (0 until nPages).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
      w(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>\n")
    }
    pageContents.zipWithIndex.foreach { case (content, p) =>
      obj {
        w(s"<< /Type /Page /Parent 2 0 R /Contents ${4 + 2 * p} 0 R " +
          s"/MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 $fontObj 0 R >> >> >>\n")
      }
      obj {
        val raw = content.getBytes(ISO_8859_1)
        val data = if (flate) deflateBytes(raw) else raw
        w(s"<< /Length ${data.length}" +
          (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
        out.write(data)
        w("\nendstream\n")
      }
    }
    obj { w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\n") }
    val xref = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  /** [[encodePdf]] with a second, CMap'd font: every page's Resources
    * declare `/F1` (Helvetica, Latin-1) and `/F2` (a Type0/Identity-H CID
    * font whose /ToUnicode is the caller's CMap, serialized as a real
    * stream object — optionally FlateDecode'd like the page streams).
    * The encode side of the non-Latin extraction path.
    */
  def encodePdfCmap(pageContents: Seq[String], cmap: String,
                    flate: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: => Unit): Unit = {
      offsets += out.size()
      val num = offsets.length
      w(s"$num 0 obj\n"); body; w("endobj\n")
    }
    def streamObj(raw: Array[Byte]): Unit = {
      val data = if (flate) deflateBytes(raw) else raw
      w(s"<< /Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      out.write(data)
      w("\nendstream\n")
    }
    val nPages = pageContents.length
    val f1 = 3 + 2 * nPages
    val f2 = f1 + 1
    val cm = f1 + 2
    w("%PDF-1.4\n")
    obj { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj {
      val kids = (0 until nPages).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
      w(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>\n")
    }
    pageContents.zipWithIndex.foreach { case (content, p) =>
      obj {
        w(s"<< /Type /Page /Parent 2 0 R /Contents ${4 + 2 * p} 0 R " +
          s"/MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 $f1 0 R /F2 $f2 0 R >> >> >>\n")
      }
      obj { streamObj(content.getBytes(ISO_8859_1)) }
    }
    obj { w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\n") }
    obj {
      w(s"<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
        s"/Encoding /Identity-H /ToUnicode $cm 0 R >>\n")
    }
    obj { streamObj(cmap.getBytes(ISO_8859_1)) }
    val xref = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  /** [[encodePdfCmap]] in PDF 1.5+ layout: the page dicts AND both font
    * dicts are packed (deflated when `flate`) inside ONE `/Type /ObjStm`
    * object stream — invisible to any raw-byte scan, exactly how modern
    * writers emit them — while the content streams and the ToUnicode CMap
    * stream stay top-level (the spec keeps streams out of ObjStm). The
    * encode side of the [[objStmObjects]] walk.
    */
  def encodePdfObjStm(pageContents: Seq[String], cmap: String,
                      flate: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: => Unit): Int = {
      offsets += out.size()
      val num = offsets.length
      w(s"$num 0 obj\n"); body; w("endobj\n")
      num
    }
    def streamBody(raw: Array[Byte], extraDict: String): Unit = {
      val data = if (flate) deflateBytes(raw) else raw
      w(s"<< $extraDict/Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      out.write(data)
      w("\nendstream\n")
    }
    val nPages = pageContents.length
    // top-level object numbers: 1 catalog, 2 pages tree, 3..2+n content
    // streams, 3+n the ObjStm, 4+n the CMap stream; PACKED object numbers
    // (live only inside the ObjStm): 10+n.. pages, then the two fonts
    val objStmNum = 3 + nPages
    val cmNum = 4 + nPages
    val pageNum0 = 10 + nPages
    val f1 = pageNum0 + nPages
    val f2 = f1 + 1
    w("%PDF-1.5\n")
    obj { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj {
      val kids = (0 until nPages).map(p => s"${pageNum0 + p} 0 R").mkString(" ")
      w(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>\n")
    }
    pageContents.foreach { content =>
      obj { streamBody(content.getBytes(ISO_8859_1), "") }
    }
    obj { // the ObjStm: pages + fonts, serialized back to back
      val bodies = (0 until nPages).map { p =>
        (pageNum0 + p,
          s"<< /Type /Page /Parent 2 0 R /Contents ${3 + p} 0 R " +
            s"/MediaBox [0 0 612 792] " +
            s"/Resources << /Font << /F1 $f1 0 R /F2 $f2 0 R >> >> >>")
      } :+
        (f1, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") :+
        (f2, s"<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
          s"/Encoding /Identity-H /ToUnicode $cmNum 0 R >>")
      val offs = bodies.scanLeft(0)(_ + _._2.length + 1).init
      val header = bodies.zip(offs)
        .map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
      val payload = header + bodies.map(_._2 + "\n").mkString
      streamBody(payload.getBytes(ISO_8859_1),
        s"/Type /ObjStm /N ${bodies.length} /First ${header.length} ")
    }
    obj { streamBody(cmap.getBytes(ISO_8859_1), "") }
    val xref = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  /** The fixture ToUnicode CMap: 2-byte codespace, a bfchar for the space
    * code, and one bfrange mapping codes 0x0100–0x013F onto the Greek
    * block at U+0390 — so both section kinds sit on the oracle path.
    */
  private[graft] val FixtureCMap: String =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |/CMapName /Graft-UCS def
      |/CMapType 2 def
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |1 beginbfchar
      |<0020> <0020>
      |endbfchar
      |1 beginbfrange
      |<0100> <013F> <0390>
      |endbfrange
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end""".stripMargin

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  private def hexStr(s: String): String =
    s.map(c => f"${c.toInt}%02X").mkString

  /** The deterministic fixture formula shared with the DuckDB oracle —
    * doc k has `n` pages; page i paints two lines,
    * `"Doc {k} page {i}"` and `"alpha({(k*13+i)%97}) beta"` (the second
    * exercises paren escaping), through a per-page rotation of show
    * syntax: i%3==0 hex string + `T*`, i%3==1 split `TJ` array + `'`,
    * i%3==2 plain `Tj` + `T*`. Extracted text per stream is exactly
    * `line1 + "\n" + line2` regardless of variant.
    */
  private[graft] def fixturePage(k: Long, i: Int): String = {
    val line1 = s"Doc $k page $i"
    val line2 = s"alpha(${(k * 13 + i) % 97}) beta"
    val body = (i % 3: @unchecked) match {
      case 0 => s"<${hexStr(line1)}> Tj T* (${esc(line2)}) Tj"
      case 1 =>
        val (a, b) = line1.splitAt(4)
        s"[(${esc(a)}) -120 (${esc(b)})] TJ (${esc(line2)}) '"
      case 2 => s"(${esc(line1)}) Tj T* (${esc(line2)}) Tj"
    }
    s"BT /F1 12 Tf 72 720 Td $body ET"
  }

  /** Deterministic PDF fixtures, one per input row: [[fixturePage]]
    * content for id k over `nPagesCol` pages; `flateCol` toggles
    * FlateDecode on every stream of the file. Output (idCol, content).
    */
  def genPdfs(df: DataFrame, idCol: String, nPagesCol: String,
              flateCol: String): DataFrame =
    genPages(df, idCol, nPagesCol, flateCol) { (k, n, flate) =>
      encodePdf((0 until n).map(i => fixturePage(k, i)), flate)
    }

  /** The fixture generators' round trip: `encode(k, nPages, flate)` per
    * input row; output (idCol, content).
    */
  private def genPages(df: DataFrame, idCol: String, nPagesCol: String,
                       flateCol: String)
                      (encode: (Long, Int, Boolean) => Array[Byte]): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(nPagesCol).cast("int"),
      col(flateCol).cast("boolean"))(r => encode(r.getLong(0), r.getInt(1), r.getBoolean(2)))

  /** The non-Latin fixture formula shared with the DuckDB oracle: doc k
    * page i paints a Latin line through /F1 (`"Doc {k} page {i}:"`), a
    * `T*` line break, then 13 two-byte glyph codes through the CMap'd
    * /F2 as ONE hex string — code j is the bfchar space at j=6, else
    * `0x0100 + (k·13 + i·7 + j·3) mod 64`, decoding to
    * `chr(0x0390 + same offset)` via the bfrange.
    */
  private[graft] def fixturePageUnicode(k: Long, i: Int): String = {
    val line1 = s"Doc $k page $i:"
    val hex = (0 until 13).map { j =>
      val code = if (j == 6) 0x20 else 0x0100 + ((k * 13 + i * 7 + j * 3) % 64)
      f"$code%04X"
    }.mkString
    s"BT /F1 12 Tf 72 720 Td (${esc(line1)}) Tj T* /F2 12 Tf <$hex> Tj ET"
  }

  /** Deterministic CMap'd PDF fixtures, one per input row:
    * [[fixturePageUnicode]] content for id k over `nPagesCol` pages with
    * [[FixtureCMap]] as every page's /F2 ToUnicode; `flateCol` toggles
    * FlateDecode on the page AND CMap streams. Output (idCol, content).
    */
  def genPdfsUnicode(df: DataFrame, idCol: String, nPagesCol: String,
                     flateCol: String): DataFrame =
    genPages(df, idCol, nPagesCol, flateCol) { (k, n, flate) =>
      encodePdfCmap((0 until n).map(i => fixturePageUnicode(k, i)), FixtureCMap, flate)
    }

  /** [[genPdfsUnicode]] in the PDF 1.5+ `/Type /ObjStm` layout
    * ([[encodePdfObjStm]]) — identical page text, so its oracle is the
    * `mm_pdf_unicode` SQL verbatim: the hash match proves the packed
    * page/font dicts resolve exactly like top-level ones.
    */
  def genPdfsObjStm(df: DataFrame, idCol: String, nPagesCol: String,
                    flateCol: String): DataFrame =
    genPages(df, idCol, nPagesCol, flateCol) { (k, n, flate) =>
      encodePdfObjStm((0 until n).map(i => fixturePageUnicode(k, i)), FixtureCMap, flate)
    }
}
