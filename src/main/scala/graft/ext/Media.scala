package graft.ext

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import graft.core.RowDecode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Real (JDK-only) media decode for the multimodal tier: PNG/JPEG images
  * via `javax.imageio` and WAV audio via a RIFF header parse — no external
  * codec jars, everything ships in the JRE. Replaces the round-≤12 decode
  * stubs ([[Multimodal.decodeStub]] history): the bytes ARE a real
  * container format, the decode IS a real codec call, and every derived
  * number (dimensions, dHash bits, block means, sample counts) is exact
  * integer math an independent engine re-derives for the oracle compare.
  *
  * Scale shape, same for every op here: one `mapPartitions` pass, one
  * codec instance per partition, no shuffle — decode is embarrassingly
  * parallel, so the operators inherit whatever partitioning the binary
  * scan (`spark.read.format("binaryFile")` in production, generated
  * fixtures in tests) arrives with. Reference anchor: the reference moves
  * media as opaque file payloads on `Message.data` (SURVEY.md §1.4); this
  * tier upgrades those bytes to typed, queryable columns.
  */
object Media {

  // ---------------------------------------------------------------- images

  /** Luma of an RGB pixel — integer Rec.601-ish weights over 1000. For a
    * grayscale pixel (r=g=b=v) this is exactly v: (299+587+114)=1000, so
    * (1000·v)/1000 = v with no rounding — the property the gray-PNG
    * oracle fixtures rely on.
    */
  @inline private[ext] def luma(r: Int, g: Int, b: Int): Int =
    (299 * r + 587 * g + 114 * b) / 1000

  /** Decode an image payload to a row-major luma grid via the RASTER (not
    * `getRGB`, which routes through color-space conversion and is not
    * bit-stable across band layouts): 1-band images read the raw sample,
    * ≥3-band images fold bands 0..2 through [[luma]]. The grid is returned
    * in DISPLAY orientation: ImageIO ignores the EXIF Orientation tag, so
    * without [[orientLuma]] two visually identical crawl photos differing
    * only in stored rotation would hash to unrelated dHash/aHash values
    * and silently escape the near-dup band join.
    */
  private[ext] def decodeLuma(bytes: Array[Byte]): (Int, Int, Int, Array[Int]) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    val bands = raster.getNumBands
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(y * w + x) =
          if (bands == 1) raster.getSample(x, y, 0)
          else luma(raster.getSample(x, y, 0), raster.getSample(x, y, 1),
            raster.getSample(x, y, 2))
        x += 1
      }
      y += 1
    }
    val o = exifOrientation(bytes)
    if (o == 1) (w, h, bands, out)
    else {
      val (px2, w2, h2) = orientLuma(out, w, h, o)
      (w2, h2, bands, px2)
    }
  }

  // ------------------------------------------------------- EXIF orientation

  /** EXIF Orientation (tag 0x0112) of an image payload, 1–8; 1 (normal)
    * when the payload carries no EXIF or anything in the walk is
    * malformed — orientation is a HINT, never a decode failure. Two
    * public carriers are parsed, both pure byte walks in the
    * [[parseWav]]/[[parseAvi]] style:
    *  - JPEG: marker walk from SOI for an APP1 segment whose payload
    *    starts "Exif\0\0", then the TIFF IFD0 scan (CIPA DC-008).
    *  - PNG: chunk walk for the `eXIf` chunk (PNG 1.2 extension, 2017),
    *    whose payload IS the TIFF structure directly.
    */
  private[ext] def exifOrientation(bytes: Array[Byte]): Int = {
    try {
      sniffMime(bytes) match {
        case "image/jpeg" =>
          var off = 2 // past SOI
          while (off + 4 <= bytes.length && (bytes(off) & 0xff) == 0xff) {
            val marker = bytes(off + 1) & 0xff
            if (marker == 0xda || marker == 0xd9) return 1 // SOS/EOI: no EXIF
            val len = ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
            if (len < 2 || off + 2 + len > bytes.length) return 1
            if (marker == 0xe1 && len >= 8 + 6 &&
              bytes(off + 4) == 'E' && bytes(off + 5) == 'x' &&
              bytes(off + 6) == 'i' && bytes(off + 7) == 'f' &&
              bytes(off + 8) == 0 && bytes(off + 9) == 0)
              return tiffOrientation(bytes, off + 10, off + 2 + len)
            off += 2 + len
          }
          1
        case "image/png" =>
          var off = 8 // past signature
          while (off + 8 <= bytes.length) {
            val len = ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
              ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
            val typ = new String(bytes, off + 4, 4, "US-ASCII")
            if (typ == "IEND") return 1
            if (typ == "eXIf")
              return tiffOrientation(bytes, off + 8,
                math.min(off + 8 + len, bytes.length))
            off += 12 + len // len + type + data + crc
          }
          1
        case _ => 1
      }
    } catch { case _: Exception => 1 }
  }

  /** Scan a TIFF structure at [tiff, end) for IFD0's Orientation SHORT. */
  private def tiffOrientation(bytes: Array[Byte], tiff: Int, end: Int): Int = {
    if (tiff + 8 > end) return 1
    val little =
      if (bytes(tiff) == 'I' && bytes(tiff + 1) == 'I') true
      else if (bytes(tiff) == 'M' && bytes(tiff + 1) == 'M') false
      else return 1
    def u16(p: Int): Int =
      if (little) (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      else ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (little) (u16(p) & 0xffffL) | ((u16(p + 2) & 0xffffL) << 16)
      else ((u16(p) & 0xffffL) << 16) | (u16(p + 2) & 0xffffL)
    if (u16(tiff + 2) != 42) return 1
    val ifd = tiff + u32(tiff + 4)
    if (ifd < tiff || ifd + 2 > end) return 1
    val n = u16(ifd.toInt)
    var i = 0
    while (i < n) {
      val e = ifd.toInt + 2 + i * 12
      if (e + 12 > end) return 1
      if (u16(e) == 0x0112 && u16(e + 2) == 3) { // Orientation, SHORT
        val v = u16(e + 8) // value inlined in the first 2 value bytes
        return if (v >= 1 && v <= 8) v else 1
      }
      i += 1
    }
    1
  }

  /** Apply EXIF orientation `o` to a stored-orientation luma grid,
    * returning (displayPx, displayW, displayH) — a pure index permutation
    * (CIPA DC-008 table: 2=mirror-H, 3=rotate 180, 4=mirror-V,
    * 5=transpose, 6=rotate 90 CW, 7=transverse, 8=rotate 270 CW), so an
    * oracle that knows the display grid needs no pixel math at all.
    */
  private[ext] def orientLuma(px: Array[Int], w: Int, h: Int,
                              o: Int): (Array[Int], Int, Int) = {
    require(o >= 1 && o <= 8, s"bad orientation $o")
    if (o == 1) return (px, w, h)
    val swap = o >= 5
    val (dw, dh) = if (swap) (h, w) else (w, h)
    val out = new Array[Int](w * h)
    var dy = 0
    while (dy < dh) {
      var dx = 0
      while (dx < dw) {
        val (sx, sy) = o match {
          case 2 => (w - 1 - dx, dy)
          case 3 => (w - 1 - dx, h - 1 - dy)
          case 4 => (dx, h - 1 - dy)
          case 5 => (dy, dx)
          case 6 => (dy, h - 1 - dx)
          case 7 => (w - 1 - dy, h - 1 - dx)
          case _ => (w - 1 - dy, dx) // 8
        }
        out(dy * dw + dx) = px(sy * w + sx)
        dx += 1
      }
      dy += 1
    }
    (out, dw, dh)
  }

  /** Inverse of [[orientLuma]]: given the DISPLAY grid, produce the
    * STORED grid that a camera writing orientation `o` would save —
    * the fixture-generation half of the orientation round trip.
    */
  private[ext] def unorientLuma(px: Array[Int], dw: Int, dh: Int,
                                o: Int): (Array[Int], Int, Int) = {
    require(o >= 1 && o <= 8, s"bad orientation $o")
    if (o == 1) return (px, dw, dh)
    val swap = o >= 5
    val (w, h) = if (swap) (dh, dw) else (dw, dh) // stored dims
    val out = new Array[Int](w * h)
    var dy = 0
    while (dy < dh) {
      var dx = 0
      while (dx < dw) {
        val (sx, sy) = o match {
          case 2 => (w - 1 - dx, dy)
          case 3 => (w - 1 - dx, h - 1 - dy)
          case 4 => (dx, h - 1 - dy)
          case 5 => (dy, dx)
          case 6 => (dy, h - 1 - dx)
          case 7 => (w - 1 - dy, h - 1 - dx)
          case _ => (w - 1 - dy, dx) // 8
        }
        out(sy * w + sx) = px(dy * dw + dx)
        dx += 1
      }
      dy += 1
    }
    (out, w, h)
  }

  /** Minimal TIFF-II payload holding exactly one IFD0 entry: Orientation
    * (0x0112, SHORT) = `o`. 26 bytes; the shared body of both EXIF
    * carriers below.
    */
  private def tiffWithOrientation(o: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(26)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8) // header
      .putShort(1)                                            // 1 entry
      .putShort(0x0112.toShort).putShort(3).putInt(1)         // tag/SHORT/n=1
      .putShort(o.toShort).putShort(0)                        // value inline
      .putInt(0)                                              // no next IFD
    bb.array()
  }

  /** Insert a PNG `eXIf` chunk (orientation `o`) right after IHDR — the
    * lossless EXIF carrier the orientation fixtures use (PNG pixels are
    * exact, so the oracle replays the display grid formula untouched).
    */
  def pngWithOrientation(png: Array[Byte], o: Int): Array[Byte] = {
    require(sniffMime(png) == "image/png", "not a PNG payload")
    val tiff = tiffWithOrientation(o)
    val chunk = java.nio.ByteBuffer.allocate(12 + tiff.length)
    chunk.putInt(tiff.length).put("eXIf".getBytes("US-ASCII")).put(tiff)
    val crc = new java.util.zip.CRC32()
    crc.update(chunk.array(), 4, 4 + tiff.length)
    chunk.putInt(crc.getValue.toInt)
    // IHDR is always the first chunk: signature(8) + len(4)+type(4)+13+crc(4)
    val ihdrEnd = 8 + 12 + 13
    val out = new Array[Byte](png.length + chunk.capacity())
    System.arraycopy(png, 0, out, 0, ihdrEnd)
    System.arraycopy(chunk.array(), 0, out, ihdrEnd, chunk.capacity())
    System.arraycopy(png, ihdrEnd, out, ihdrEnd + chunk.capacity(),
      png.length - ihdrEnd)
    out
  }

  /** Insert a JPEG APP1 Exif segment (orientation `o`) right after SOI —
    * the carrier real crawl photos use; exercised by the unit specs (the
    * oracle fixtures stay PNG for losslessness).
    */
  def jpegWithOrientation(jpeg: Array[Byte], o: Int): Array[Byte] = {
    require(sniffMime(jpeg) == "image/jpeg", "not a JPEG payload")
    val tiff = tiffWithOrientation(o)
    val payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff
    val seg = java.nio.ByteBuffer.allocate(4 + payload.length)
    seg.put(0xff.toByte).put(0xe1.toByte)
      .putShort((2 + payload.length).toShort).put(payload)
    val out = new Array[Byte](jpeg.length + seg.capacity())
    System.arraycopy(jpeg, 0, out, 0, 2) // SOI
    System.arraycopy(seg.array(), 0, out, 2, seg.capacity())
    System.arraycopy(jpeg, 2, out, 2 + seg.capacity(), jpeg.length - 2)
    out
  }

  /** Strip all metadata from an image payload — the image-side PII scrub
    * (the metadata is where the PII lives: EXIF GPS positions, camera
    * serial numbers, XMP author records, embedded thumbnails that survive
    * crops). PNG keeps only the chunks that determine pixels (IHDR, PLTE,
    * IDAT, IEND, tRNS — eXIf/tEXt/iTXt/zTXt/tIME/pHYs all drop); JPEG
    * keeps the structural segments and drops APPn/COM (Exif, XMP,
    * comments) with two decode-critical exceptions, exiftool's rule:
    * APP0/JFIF stays (structural for some decoders), APP14 stays IFF it
    * carries the 5-byte `Adobe` identifier (the color-transform marker —
    * dropping it changes decoded COLORS for Adobe CMYK/YCCK JPEGs; a
    * non-Adobe APP14 is an arbitrary metadata channel and drops like any
    * other APPn), and APP2 stays IFF it is an `ICC_PROFILE` segment
    * (color-critical; non-ICC APP2 like MPF — which embeds thumbnails, a
    * PII channel — drops). Output truncates at the
    * EOI marker: bytes trailing EOI (a known vendor PII channel — some
    * cameras append whole preview JPEGs there) never survive the scrub.
    * Pixels are byte-untouched: the entropy-coded data is copied verbatim,
    * so a scrubbed JPEG is NOT re-compressed. Note the interaction with
    * [[decodeLuma]]'s EXIF normalization: scrubbing removes the
    * orientation tag, so a rotated-by-metadata image decodes as its RAW
    * stored grid afterwards — scrub BEFORE hashing, or re-orient first.
    */
  private val IccIdentifier = "ICC_PROFILE".getBytes("US-ASCII")

  private val AdobeIdentifier = "Adobe".getBytes("US-ASCII")

  /** Exclusive end offset of the JPEG stream starting at the SOS segment
    * `sos`: scans the entropy-coded data (stuffed `FF 00` and restart
    * markers `FF D0–D7` are data; `FF FF` fill bytes skip one) for the EOI
    * marker, skipping inter-scan marker segments (progressive JPEGs carry
    * DHT/SOS/DNL between scans) by their declared lengths. Returns the
    * offset just past `FF D9` — anything after it is trailer, not image —
    * or `bytes.length` when no EOI exists (truncated file: nothing to cut).
    */
  private def jpegEnd(bytes: Array[Byte], sos: Int): Int = {
    var p = sos
    while (p + 1 < bytes.length) {
      if ((bytes(p) & 0xff) != 0xff) p += 1
      else (bytes(p + 1) & 0xff) match {
        case 0xd9 => return p + 2 // EOI
        case 0x00 => p += 2 // byte-stuffed FF in entropy data
        case m if m >= 0xd0 && m <= 0xd7 => p += 2 // restart marker
        case 0xff => p += 1 // fill byte
        case 0x01 => p += 2 // TEM, standalone
        case _ =>
          // a real marker segment (SOS/DHT/DNL/… between scans): skip its
          // declared length, then continue scanning the next scan's data
          if (p + 4 > bytes.length) return bytes.length
          val len = ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
          p += 2 + math.max(len, 2)
      }
    }
    bytes.length
  }

  private[ext] def stripImageMeta(bytes: Array[Byte]): Array[Byte] =
    sniffMime(bytes) match {
      case "image/png" =>
        val keep = Set("IHDR", "PLTE", "IDAT", "IEND", "tRNS")
        val bb = java.nio.ByteBuffer.wrap(bytes) // PNG lengths are BE
        val out = new ByteArrayOutputStream(bytes.length)
        out.write(bytes, 0, 8) // signature
        var p = 8
        var done = false
        while (!done && p + 8 <= bytes.length) {
          val len = bb.getInt(p)
          val typ = new String(bytes, p + 4, 4, "US-ASCII")
          val tot = 12 + len // len + type + data + crc
          require(len >= 0 && p + tot <= bytes.length,
            s"PNG chunk $typ at $p overruns the payload")
          if (keep(typ)) out.write(bytes, p, tot)
          if (typ == "IEND") done = true
          p += tot
        }
        out.toByteArray
      case "image/jpeg" =>
        val out = new ByteArrayOutputStream(bytes.length)
        out.write(0xff); out.write(0xd8) // SOI
        var p = 2
        var done = false
        while (!done) {
          require(p + 2 <= bytes.length && (bytes(p) & 0xff) == 0xff,
            s"JPEG marker expected at byte $p")
          val m = bytes(p + 1) & 0xff
          if (m == 0xd9) { out.write(0xff); out.write(0xd9); done = true }
          else if (m == 0xda) {
            // SOS: entropy-coded data follows to EOI — copy verbatim up to
            // AND INCLUDING the EOI, dropping any trailer bytes beyond it
            val end = jpegEnd(bytes, p)
            out.write(bytes, p, end - p)
            done = true
          } else {
            require(p + 4 <= bytes.length, s"truncated JPEG segment at $p")
            val len = ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
            val tot = 2 + len
            require(len >= 2 && p + tot <= bytes.length,
              s"JPEG segment at $p overruns the payload")
            // APP2 is kept only as an ICC profile carrier ("ICC_PROFILE\0"
            // identifier) — color-critical; other APP2 payloads (MPF etc.)
            // embed preview images and drop like the rest
            val iccApp2 = m == 0xe2 && len >= 14 &&
              (0 until 11).forall(i => bytes(p + 4 + i) == IccIdentifier(i)) &&
              bytes(p + 15) == 0
            // APP14 is kept only as the Adobe color-transform carrier
            // ('Adobe' identifier) — any other APP14 payload is an
            // arbitrary metadata/PII channel and drops with the rest
            val adobeApp14 = m == 0xee && len >= 7 &&
              (0 until 5).forall(i => bytes(p + 4 + i) == AdobeIdentifier(i))
            val drop = m == 0xfe || // COM
              (m >= 0xe1 && m <= 0xef && !iccApp2 && !adobeApp14) // APPn
            if (!drop) out.write(bytes, p, tot)
            p += tot
          }
        }
        out.toByteArray
      case m => throw new IllegalArgumentException(
        s"unsupported image container: $m")
    }

  /** Top-level RIFF chunks after the 12-byte form header, as
    * (fourcc, payload) in file order — the read half of the WAV/AVI
    * metadata scrub ([[riffBuild]] is the write half).
    */
  private def riffChunks(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 12
    while (off + 8 <= bytes.length) {
      val id = new String(bytes, off, 4, "US-ASCII")
      val size = bb.getInt(off + 4)
      require(size >= 0 && off + 8 + size <= bytes.length,
        s"RIFF chunk $id at $off overruns the payload")
      out += id -> java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + size)
      off += 8 + size + (size & 1)
    }
    out.result()
  }

  /** Serialize a RIFF form (`WAVE`/`AVI `) from top-level chunks with a
    * recomputed form size — word-aligned like every RIFF writer here.
    */
  private def riffBuild(form: String,
                        chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    chunks.foreach { case (id, data) =>
      val hdr = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      hdr.put(id.getBytes("US-ASCII")).putInt(data.length)
      body.write(hdr.array())
      body.write(data)
      if ((data.length & 1) == 1) body.write(0)
    }
    val bb = java.nio.ByteBuffer.allocate(12 + body.size())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + body.size())
      .put(form.getBytes("US-ASCII")).put(body.toByteArray)
    bb.array()
  }

  /** Strip metadata from ANY supported media payload — [[stripImageMeta]]
    * generalized across the container tier (metadata is the PII channel
    * in every one of them: EXIF GPS in images, `LIST(INFO)` artist/
    * copyright/device tags in WAV and AVI, `udta`/`meta` atoms — GPS
    * coordinates included, ©xyz on phones — in MP4):
    *  - PNG/JPEG → [[stripImageMeta]];
    *  - WAV → keep only `fmt ` and `data` chunks (INFO lists, cue points,
    *    broadcast-WAV `bext` all drop), form size recomputed;
    *  - AVI → keep only `LIST(hdrl)`, `LIST(movi)` and the `idx1` index
    *    (INFO lists and `JUNK` padding drop), form size recomputed;
    *  - MP4 → size-PRESERVING neutralization: `udta`/`meta`/`skip`/`free`
    *    boxes (top-level, in `moov`, and in each `trak`) are renamed to
    *    `free` with their payloads zeroed — rewriting lengths would shift
    *    the absolute `stco` chunk offsets and corrupt the sample walk, so
    *    the scrub overwrites in place instead (the exiftool approach).
    * Decode facts are untouched in all five — asserted by the
    * `mm_audio_scrub`/`mm_video_scrub`/`mm_mp4_scrub` oracles.
    */
  private[ext] def stripMediaMeta(bytes: Array[Byte]): Array[Byte] =
    sniffMime(bytes) match {
      case "image/png" | "image/jpeg" => stripImageMeta(bytes)
      case "audio/wav" =>
        riffBuild("WAVE", riffChunks(bytes)
          .filter { case (id, _) => id == "fmt " || id == "data" })
      case "video/avi" =>
        riffBuild("AVI ", riffChunks(bytes).filter {
          case ("LIST", data) =>
            data.length >= 4 && {
              val lt = new String(data, 0, 4, "US-ASCII")
              lt == "hdrl" || lt == "movi"
            }
          case ("idx1", _) => true
          case _ => false
        })
      case "video/mp4" =>
        val out = bytes.clone()
        val bb = java.nio.ByteBuffer.wrap(out)
        val drop = Set("udta", "meta", "skip", "free")
        def scrub(from: Int, until: Int): Unit = {
          var off = from
          while (off + 8 <= until) {
            val size32 = bb.getInt(off)
            val typ = new String(out, off + 4, 4, "US-ASCII")
            val end: Long =
              if (size32 == 1) off.toLong + bb.getLong(off + 8)
              else if (size32 == 0) until.toLong
              else off.toLong + (size32.toLong & 0xffffffffL)
            require(end > off && end <= until,
              s"box '$typ' at $off overruns enclosing scope")
            val payload = if (size32 == 1) off + 16 else off + 8
            if (drop(typ)) {
              System.arraycopy("free".getBytes("US-ASCII"), 0, out, off + 4, 4)
              java.util.Arrays.fill(out, payload, end.toInt, 0.toByte)
            } else if (typ == "moov" || typ == "trak") scrub(payload, end.toInt)
            off = end.toInt
          }
        }
        scrub(0, out.length)
        out
      case m => throw new IllegalArgumentException(
        s"unsupported media container: $m")
    }

  /** Fact columns of the scrubs: the scrubbed payload and how many bytes
    * the scrub removed.
    */
  private val ScrubFields = Seq(
    StructField("content", BinaryType, nullable = false),
    StructField("bytes_removed", IntegerType, nullable = false))

  /** [[ScrubFields]] facts of one payload under `strip`. */
  private def scrubFacts(strip: Array[Byte] => Array[Byte])
                        (bytes: Array[Byte]): Seq[Seq[Any]] = {
    val scrubbed = strip(bytes)
    Seq(Seq[Any](scrubbed, bytes.length - scrubbed.length))
  }

  /** A scrub twin's quarantine: the payload stays intact (so a downstream
    * ingest can still quarantine it WITH content) and `bytes_removed=0`.
    */
  private def scrubLenient(df: DataFrame, idCol: String, contentCol: String,
                           strip: Array[Byte] => Array[Byte]): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 1,
      RowDecode.nullable(ScrubFields, "bytes_removed") ++ RowDecode.flags("scrub"),
      keepOnFailure = { case ("content", b) => b; case ("bytes_removed", _) => 0 })(
      scrubFacts(strip))

  /** [[stripMediaMeta]] over a frame: output (idCol, content scrubbed,
    * bytes_removed — 0 for the size-preserving MP4 neutralization, whose
    * effect the `meta_zeroed` check in the oracle observes instead). One
    * byte walk per row, pixels/samples untouched, no shuffle — the
    * PII-scrub stage of an ingest runs at scan cost.
    */
  def stripMediaMetadata(df: DataFrame, idCol: String,
                         contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, ScrubFields)(
      scrubFacts(stripMediaMeta))

  /** [[stripMediaMetadata]] for DIRTY corpora, under the
    * [[graft.core.RowDecode]] quarantine policy: the scrub composes
    * upstream of an ingest sink whose quarantine exists precisely for
    * dirty crawls. A row whose container walk throws keeps its ORIGINAL
    * bytes with `scrub_ok=false` (`bytes_removed=0`), so "PII may remain"
    * is an explicit, filterable fact rather than a silent pass-through.
    * Good rows are bit-equal to the strict path.
    */
  def stripMediaMetadataLenient(df: DataFrame, idCol: String,
                                contentCol: String): DataFrame =
    scrubLenient(df, idCol, contentCol, stripMediaMeta)

  /** [[stripImageMetadata]]'s lenient twin — same contract as
    * [[stripMediaMetadataLenient]], restricted to the image containers.
    */
  def stripImageMetadataLenient(df: DataFrame, idCol: String,
                                contentCol: String): DataFrame =
    scrubLenient(df, idCol, contentCol, stripImageMeta)

  /** A RIFF `LIST(INFO)` payload holding one IART (artist) tag — the
    * metadata the WAV/AVI scrub exists to remove, as fixtures plant it.
    */
  private def infoList(artist: String): Array[Byte] = {
    val t = artist.getBytes("US-ASCII")
    val padded = if ((t.length & 1) == 1) t :+ 0.toByte else t
    val bb = java.nio.ByteBuffer.allocate(12 + padded.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("INFO".getBytes("US-ASCII")).put("IART".getBytes("US-ASCII"))
      .putInt(t.length).put(padded)
    bb.array()
  }

  /** Insert a `LIST(INFO)` artist tag into every WAV/AVI payload
    * (samples/frames untouched; WAV gets it before `data`, AVI appended —
    * the positions real taggers use) — the fixture side of the media
    * scrub oracles.
    */
  def genInfoTagged(df: DataFrame, idCol: String, contentCol: String,
                    artistCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(contentCol), col(artistCol)) { r =>
      val bytes = r.getAs[Array[Byte]](1)
      val tag = "LIST" -> infoList(r.getString(2))
      sniffMime(bytes) match {
        case "audio/wav" => riffBuild("WAVE", riffChunks(bytes).flatMap {
          case c @ ("data", _) => Seq(tag, c)
          case c => Seq(c)
        })
        case "video/avi" => riffBuild("AVI ", riffChunks(bytes) :+ tag)
        case m => throw new IllegalArgumentException(
          s"genInfoTagged supports WAV/AVI, got $m")
      }
    }

  /** [[stripImageMeta]] over a frame: output (idCol, content scrubbed,
    * bytes_removed). One byte walk per row, pixels untouched, no shuffle —
    * the PII-scrub stage of an image ingest runs at scan cost.
    */
  def stripImageMetadata(df: DataFrame, idCol: String,
                         contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, ScrubFields)(
      scrubFacts(stripImageMeta))

  /** Insert an eXIf orientation chunk into every PNG payload (pixels
    * untouched) — the df form of [[pngWithOrientation]], the fixture side
    * of the metadata scrub oracle.
    */
  def genTaggedPngs(df: DataFrame, idCol: String, contentCol: String,
                    orientCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(contentCol),
      col(orientCol).cast("int")) { r =>
      pngWithOrientation(r.getAs[Array[Byte]](1), r.getInt(2))
    }

  /** Adobe-style tagged JPEG fixtures, one per input row: a real
    * ImageIO-encoded gray JPEG at (`wCol`×`hCol`) carrying EVERY channel
    * the JPEG scrub adjudicates — APP1 Exif (orientation `orientCol`,
    * must DROP), APP14 Adobe color-transform (must KEEP), a NON-Adobe
    * APP14 (`XAPP14-PII…` — an arbitrary vendor channel that must DROP;
    * only the Adobe identifier earns the keep), an
    * `ICC_PROFILE` APP2 (must KEEP), a non-ICC `MPFSECRET` APP2 (embedded
    * previews — must DROP), and post-EOI trailer bytes (`TRAILER-PII…`,
    * must be CUT). Pixel content is deterministic but not oracle-relevant
    * (JPEG is lossy); the oracle replays dims + marker-survival flags.
    */
  def genAdobeTaggedJpegs(df: DataFrame, idCol: String, wCol: String,
                          hCol: String, orientCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(wCol).cast("int"),
      col(hCol).cast("int"), col(orientCol).cast("int")) { r =>
      val id = r.getLong(0); val w = r.getInt(1); val h = r.getInt(2)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      var i = 0
      while (i < w * h) {
        img.getRaster.setSample(i % w, i / w, 0, ((id * 31 + i * 7) % 256).toInt)
        i += 1
      }
      val bos = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val withExif = jpegWithOrientation(bos.toByteArray, r.getInt(3))
      def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
        Array(0xff.toByte, marker.toByte,
          ((payload.length + 2) >> 8).toByte,
          ((payload.length + 2) & 0xff).toByte) ++ payload
      val app14 = seg(0xee, "Adobe".getBytes("US-ASCII") ++
        Array[Byte](0, 100, 0, 0, 0, 0, 1))
      val xapp14 = seg(0xee, s"XAPP14-PII serial=$id".getBytes("US-ASCII"))
      val icc = seg(0xe2, IccIdentifier ++ Array[Byte](0, 1, 1) ++
        Array.fill[Byte](8)(0x42))
      val mpf = seg(0xe2, "MPFSECRET".getBytes("US-ASCII") ++
        Array.fill[Byte](8)(0x24))
      val trailer = s"TRAILER-PII preview=$id".getBytes("US-ASCII")
      withExif.take(2) ++ app14 ++ xapp14 ++ icc ++ mpf ++
        withExif.drop(2) ++ trailer
    }

  /** Container sniff from magic bytes — decode-independent, so a payload
    * that LIES about its type still reports what it actually is.
    */
  private[ext] def sniffMime(b: Array[Byte]): String =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G') "image/png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      "image/jpeg"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')
      "audio/wav"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')
      "video/avi"
    // ISO-BMFF: the first box of a conforming file is ftyp (ISO 14496-12
    // §4.3) — the type field at bytes 4..7 is the sniff every file tool
    // uses; styp is its media-segment sibling (self-initializing DASH
    // segments, §8.16.2 — no moov, facts from sidx + the fragment walk)
    else if (b.length >= 12 && (b(4) == 'f' || b(4) == 's') && b(5) == 't' &&
      b(6) == 'y' && b(7) == 'p')
      "video/mp4"
    else "application/octet-stream"

  /** Exact block-mean resample of a luma grid to `tw`×`th`: target cell
    * (cx,cy) = floor(mean) over source block [cx·w/tw,(cx+1)·w/tw) ×
    * [cy·h/th,(cy+1)·h/th), clamped to at least one pixel — pure integer
    * math (sum / count with integer division), so the result is
    * engine-independent. When (tw,th)=(w,h) it is the identity; for
    * integer downscale factors the blocks are the uniform s×s tiles a SQL
    * oracle can re-average; upscaling degenerates to nearest-pixel
    * replication (the clamp), so dHash stays defined on images smaller
    * than its 9×8 grid.
    */
  private[ext] def blockMean(px: Array[Int], w: Int, h: Int,
                             tw: Int, th: Int): Array[Int] = {
    require(tw >= 1 && th >= 1, s"bad target $tw x $th")
    val out = new Array[Int](tw * th)
    var cy = 0
    while (cy < th) {
      val y0 = cy * h / th; val y1 = math.max(y0 + 1, (cy + 1) * h / th)
      var cx = 0
      while (cx < tw) {
        val x0 = cx * w / tw; val x1 = math.max(x0 + 1, (cx + 1) * w / tw)
        var s = 0; var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += px(y * w + x); x += 1 }
          y += 1
        }
        out(cy * tw + cx) = s / ((y1 - y0) * (x1 - x0))
        cx += 1
      }
      cy += 1
    }
    out
  }

  /** 64-bit difference hash of a luma grid: block-mean to a 9×8 grid,
    * then bit (y·8+x) = 1 iff cell(x+1,y) > cell(x,y) — the standard
    * perceptual dHash (horizontal gradient signs), one BIGINT per image.
    * Integer end-to-end: two images' similarity is `bitCount(h1 ^ h2)`,
    * which drops straight into the engine's Hamming ANN tier.
    */
  private[ext] def dHash64(px: Array[Int], w: Int, h: Int): Long = {
    val g = blockMean(px, w, h, 9, 8)
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x + 1) > g(y * 9 + x)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Decode every image payload: REAL dimensions/bands from the codec,
    * sniffed mime, and the perceptual [[dHash64]] — the per-image scalar
    * row a multimodal curation pipeline joins on. One decode per row,
    * no shuffle. Input: (idCol, contentCol binary); output adds
    * (width, height, channels, mime, dhash). Undecodable payloads throw —
    * quarantine with [[decodeImageMetaLenient]] if the corpus is dirty.
    */
  def decodeImageMeta(df: DataFrame, idCol: String,
                      contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 2, ImageFields)(imageFacts)

  /** Fact columns of [[decodeImageMeta]]. */
  private val ImageFields = Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("dhash", LongType, nullable = false))

  private def imageFacts(bytes: Array[Byte]): Seq[Seq[Any]] = {
    val (w, h, bands, px) = decodeLuma(bytes)
    Seq(Seq[Any](w, h, bands, sniffMime(bytes), dHash64(px, w, h)))
  }

  /** [[sniffMime]] that reads a missing (null) payload as opaque bytes —
    * the `mime` a lenient decoder keeps on a quarantined row.
    */
  private def mimeOf(bytes: Array[Byte]): String =
    if (bytes == null) "application/octet-stream" else sniffMime(bytes)

  /** The `mime` column of the lenient decoders, kept on quarantined rows. */
  private val MimeField = StructField("mime", StringType, nullable = false)

  /** Real image resize (area/block-mean, grayscale) to `tw`×`th`: decode,
    * [[blockMean]], re-encode as a gray PNG. Returns
    * (idCol, content resized-PNG binary, width, height). Deterministic
    * integer math — for integer scale factors each output pixel is
    * floor(mean of the source tile), which an oracle re-derives from the
    * source pattern. (Bilinear would look marginally better on photos but
    * is FP-order-sensitive and engine-specific; area mean is the standard
    * choice for hash pipelines precisely because it is exact.)
    */
  def resizeImage(df: DataFrame, idCol: String, contentCol: String,
                  tw: Int, th: Int): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("content", BinaryType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false))) { bytes =>
      val (w, h, _, px) = decodeLuma(bytes)
      Seq(Seq[Any](encodeGrayPng(blockMean(px, w, h, tw, th), tw, th), tw, th))
    }

  /** Encode a row-major gray grid (values 0..255) as a PNG — fixture
    * generator AND the re-encode half of [[resizeImage]]. PNG is lossless,
    * so decode∘encode is the identity on the grid (the property every
    * image oracle here rests on).
    */
  def encodeGrayPng(px: Array[Int], w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, px(y * w + x)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** [[decodeImageMeta]] for DIRTY corpora, under the
    * [[graft.core.RowDecode]] quarantine policy: (decode_ok, decode_err)
    * follow the input columns; a quarantined row keeps its sniffed `mime`.
    */
  def decodeImageMetaLenient(df: DataFrame, idCol: String,
                             contentCol: String): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 2,
      RowDecode.flags("decode") ++ RowDecode.nullable(ImageFields, "mime"),
      keepOnFailure = { case ("mime", b) => mimeOf(b) })(imageFacts)

  /** Explode every image payload to its luma grid: one row per pixel,
    * (idCol, x, y, gray) — the feature-extract shape downstream per-pixel
    * analytics (histograms, block stats, oracle compares) consume. Row
    * count multiplies by width×height: use on thumbnails/resized output,
    * not raw corpus images.
    */
  def imagePixels(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("gray", IntegerType, nullable = false))) { bytes =>
      val (w, h, _, px) = decodeLuma(bytes)
      (0 until h).iterator.flatMap(y => (0 until w).iterator.map(x =>
        Seq[Any](x, y, px(y * w + x))))
    }

  /** Near-duplicate image pairs by dHash Hamming distance ≤ `maxDist`,
    * WITHOUT the all-pairs cross join: the 64-bit hash splits into
    * 64/`bandBits` bands, candidates share at least one exact band, and
    * only candidates pay the `bitCount(xor)` check. Sound for
    * `maxDist < 64/bandBits` by pigeonhole (≤3 differing bits cannot
    * touch all 4 16-bit bands), i.e. the candidate cut loses NOTHING —
    * output equals the all-pairs filter exactly, at band-join cost. Same
    * banding economics as MinHash-LSH ([[Dedup.minhashPairs]]): the
    * shuffle carries (band, 16-bit key, id, hash) fixed-width rows; a
    * degenerate corpus (millions of identical hashes) concentrates in one
    * bucket — run [[Dedup.exact]] on the hash first if that is a real
    * risk, exact-duplicate groups don't need pair evidence.
    * Returns (left_id, right_id, hdist), left_id < right_id.
    */
  def dhashNearPairs(df: DataFrame, idCol: String, hashCol: String,
                     maxDist: Int = 3, bandBits: Int = 16): DataFrame = {
    require(64 % bandBits == 0, "bandBits must divide 64")
    val nBands = 64 / bandBits
    require(maxDist < nBands,
      s"maxDist=$maxDist needs > $maxDist bands to be lossless; " +
        s"bandBits=$bandBits gives only $nBands")
    val mask = (1L << bandBits) - 1
    // band keys as a literal-indexed array (shiftright needs a literal
    // shift): arithmetic sign-extension on the top band is masked away
    val bandKeys = array((0 until nBands).map(b =>
      shiftright(col("__h"), b * bandBits).bitwiseAND(lit(mask))): _*)
    val keyed = df.select(col(idCol).cast("long").as("__id"),
        col(hashCol).as("__h"))
      .select(col("__id"), col("__h"),
        posexplode(bandKeys).as(Seq("__b", "__k")))
    val l = keyed.select(col("__b"), col("__k"), col("__id").as("left_id"),
      col("__h").as("__hl"))
    val r = keyed.select(col("__b"), col("__k"), col("__id").as("right_id"),
      col("__h").as("__hr"))
    l.join(r, Seq("__b", "__k"))
      .filter(col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"),
        bit_count(col("__hl").bitwiseXOR(col("__hr"))).cast("long").as("hdist"))
      .filter(col("hdist") <= maxDist)
      .distinct()
  }

  /** Batch-vs-corpus dHash admission — the cross-table sibling of
    * [[dhashNearPairs]] for incremental/streaming ingest: returns the
    * DISTINCT batch ids whose hash is within `maxDist` of ANY corpus
    * hash. Same lossless pigeonhole banding (candidates share an exact
    * band; `maxDist < 64/bandBits` keeps the cut exact), with the batch
    * side — bounded per micro-batch — band-exploded and BROADCAST, so the
    * corpus pays one scan-side band computation and no shuffle at any
    * corpus size (the classify cost curve stays flat as the signature
    * table grows, the same shape as the near-dedup classify path).
    */
  def dhashDupIds(batch: DataFrame, idCol: String, hashCol: String,
                  corpusHashes: DataFrame, corpusHashCol: String,
                  maxDist: Int = 3, bandBits: Int = 16): DataFrame = {
    require(64 % bandBits == 0, "bandBits must divide 64")
    val nBands = 64 / bandBits
    require(maxDist < nBands,
      s"maxDist=$maxDist needs > $maxDist bands to be lossless; " +
        s"bandBits=$bandBits gives only $nBands")
    val mask = (1L << bandBits) - 1
    def bandKeys(h: Column) = array((0 until nBands).map(b =>
      shiftright(h, b * bandBits).bitwiseAND(lit(mask))): _*)
    val b = broadcast(batch
      .select(col(idCol).as("__bid"), col(hashCol).as("__hb"))
      .select(col("__bid"), col("__hb"),
        posexplode(bandKeys(col("__hb"))).as(Seq("__b", "__k"))))
    val c = corpusHashes.select(col(corpusHashCol).as("__hc"))
      .select(col("__hc"), posexplode(bandKeys(col("__hc"))).as(Seq("__b", "__k")))
    c.join(b, Seq("__b", "__k"))
      .filter(bit_count(col("__hb").bitwiseXOR(col("__hc"))) <= maxDist)
      .select(col("__bid").as(idCol))
      .distinct()
  }

  /** 64-bit average hash of a luma grid: block-mean to 8×8, then bit
    * (y·8+x) = 1 iff cell > floor(mean of the 64 cells) — the classic
    * aHash, complementary to [[dHash64]] (aHash keys on absolute
    * brightness vs the image mean; dHash on local gradient signs —
    * running both and requiring agreement cuts near-dup false positives
    * on flat images where one hash family degenerates). Integer
    * end-to-end, so it drops into the same Hamming ANN tier.
    */
  private[ext] def aHash64(px: Array[Int], w: Int, h: Int): Long = {
    val g = blockMean(px, w, h, 8, 8)
    var sum = 0L
    var i = 0
    while (i < 64) { sum += g(i); i += 1 }
    val mean = sum / 64
    var hash = 0L
    i = 0
    while (i < 64) { if (g(i) > mean) hash |= 1L << i; i += 1 }
    hash
  }

  /** Decode + average-hash every image payload: (idCol, width, height,
    * ahash). Second perceptual-hash family next to [[decodeImageMeta]]'s
    * dHash — see [[aHash64]] for when to run both. One decode per row,
    * no shuffle.
    */
  def imageAHash(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("ahash", LongType, nullable = false))) { bytes =>
      val (w, h, _, px) = decodeLuma(bytes)
      Seq(Seq[Any](w, h, aHash64(px, w, h)))
    }

  /** Per-image luma statistics for image-quality curation — the numeric
    * facts a LAION-style filter keys on, all exact integers so an oracle
    * replays them: (width, height, n_px, luma_sum, luma_sq_sum, luma_min,
    * luma_max, mean_milli = luma_sum·1000/n_px floor). Downstream filters
    * compose as plain Column predicates: min-dimension / aspect-ratio
    * bounds from (width, height); solid-color detection as
    * `luma_min = luma_max`; low-contrast as a bound on the integer
    * variance proxy `n_px·luma_sq_sum − luma_sum²`. One decode per row,
    * no shuffle; all thresholds stay in the query plan, not the decoder.
    */
  def imageStats(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("n_px", IntegerType, nullable = false),
      StructField("luma_sum", LongType, nullable = false),
      StructField("luma_sq_sum", LongType, nullable = false),
      StructField("luma_min", IntegerType, nullable = false),
      StructField("luma_max", IntegerType, nullable = false),
      StructField("mean_milli", LongType, nullable = false))) { bytes =>
      val (w, h, _, px) = decodeLuma(bytes)
      var s = 0L; var sq = 0L; var mn = 255; var mx = 0
      var i = 0
      while (i < px.length) {
        val v = px(i)
        s += v; sq += v.toLong * v
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      Seq(Seq[Any](w, h, px.length, s, sq, mn, mx, s * 1000 / px.length))
    }

  /** Deterministic gray-pattern PNG fixtures, one per input row: pixel
    * (x,y) of row (k = `patternCol`, p = `perturbCol`) is
    * `((k·31 + x²·3 + y²·5 + x·y·7) mod 256 + p·[(x + y·w) mod 29 = 0]) mod 256`
    * — nonlinear in (x,y) so gradient signs vary per row, and the p=1
    * variant flips a handful of pixels (a near-duplicate, a few dHash
    * bits apart). The formula is plain integer arithmetic so an oracle
    * re-derives every pixel, every block mean, and every hash bit without
    * decoding anything. Output: (idCol, content PNG binary).
    */
  def genPatternPngs(df: DataFrame, idCol: String, patternCol: String,
                     perturbCol: String, w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(perturbCol).cast("int")) { r =>
      encodeGrayPng(patternGrid(r.getLong(1), r.getInt(2), w, h), w, h)
    }

  /** The [[genPatternPngs]] pixel formula for pattern `k`, perturb `p`. */
  private def patternGrid(k: Long, p: Int, w: Int, h: Int): Array[Int] = {
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = ((k * 31 + x.toLong * x * 3 + y.toLong * y * 5 +
          x.toLong * y * 7) % 256).toInt
        val bump = if (p != 0 && (x + y * w) % 29 == 0) 1 else 0
        px(y * w + x) = (base + bump) % 256
        x += 1
      }
      y += 1
    }
    px
  }

  /** [[genPatternPngs]] with a per-row EXIF orientation (`orientCol`,
    * 1–8): the pattern formula defines the DISPLAY grid at `w`×`h`, the
    * stored PNG carries its [[unorientLuma]] inverse plus an `eXIf` chunk
    * stating the orientation — so a correct decoder returns the SAME
    * display grid (and hash) for every orientation of the same pattern,
    * and the oracle replays the plain formula with no orientation math.
    * PNG is lossless and the transform is an index permutation: exactness
    * survives the whole round trip.
    */
  def genPatternPngsOriented(df: DataFrame, idCol: String, patternCol: String,
                             perturbCol: String, orientCol: String,
                             w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(perturbCol).cast("int"), col(orientCol).cast("int")) { r =>
      val o = r.getInt(3)
      val (stored, sw, sh) = unorientLuma(patternGrid(r.getLong(1), r.getInt(2), w, h), w, h, o)
      pngWithOrientation(encodeGrayPng(stored, sw, sh), o)
    }

  // ----------------------------------------------------------------- audio

  /** Parsed WAV facts: everything the RIFF header states plus the data
    * chunk size actually present.
    */
  private[ext] final case class WavMeta(sampleRate: Int, channels: Int,
                                        bitsPerSample: Int, byteRate: Int,
                                        blockAlign: Int, dataBytes: Int,
                                        dataOff: Int)

  /** Parse a RIFF/WAVE header — a real container parse (chunk walk with
    * word padding), ~30 lines of pure JDK. Throws on non-WAV bytes or a
    * header missing fmt/data chunks; quarantine upstream via
    * [[sniffMime]] if the corpus is dirty.
    */
  private[ext] def parseWav(bytes: Array[Byte]): WavMeta = {
    require(sniffMime(bytes) == "audio/wav", "not a RIFF/WAVE payload")
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var fmt: Option[(Int, Int, Int, Int, Int)] = None
    var dataBytes = -1
    var dataOff = -1
    while (off + 8 <= bytes.length && (fmt.isEmpty || dataBytes < 0)) {
      val id = new String(bytes, off, 4, "US-ASCII")
      val size = bb.getInt(off + 4)
      if (id == "fmt " && size >= 16) {
        val audioFormat = bb.getShort(off + 8) & 0xffff
        require(audioFormat == 1, s"only PCM WAV supported, got format $audioFormat")
        fmt = Some((bb.getShort(off + 10) & 0xffff, bb.getInt(off + 12),
          bb.getInt(off + 16), bb.getShort(off + 20) & 0xffff,
          bb.getShort(off + 22) & 0xffff))
      } else if (id == "data") {
        // trust the byte count physically present over a lying size field
        dataBytes = math.min(size, bytes.length - off - 8)
        dataOff = off + 8
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    val (ch, rate, byteRate, block, bits) =
      fmt.getOrElse(throw new IllegalArgumentException("WAV missing fmt chunk"))
    require(dataBytes >= 0, "WAV missing data chunk")
    WavMeta(rate, ch, bits, byteRate, block, dataBytes, dataOff)
  }

  /** Encode interleaved 16-bit PCM frames as a canonical 44-byte-header
    * WAV — the fixture generator and the inverse of [[parseWav]].
    */
  def encodeWav(sampleRate: Int, channels: Int,
                samples: Array[Short]): Array[Byte] = {
    require(samples.length % channels == 0, "partial final frame")
    val dataBytes = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val byteRate = sampleRate * channels * 2
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(byteRate).putShort((channels * 2).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataBytes)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Decode every WAV payload's header: REAL sample rate / channels /
    * bit depth from the fmt chunk, frame count and integer-milliseconds
    * duration from the data chunk (`dataBytes·1000 / byteRate`, floor —
    * exact integer math the oracle replays). Input (idCol, contentCol);
    * output adds (sample_rate, channels, bits, n_frames, duration_ms).
    */
  def decodeAudioMeta(df: DataFrame, idCol: String,
                      contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 2, AudioFields)(
      bytes => Seq(audioFacts(bytes)))

  /** Fact columns of [[decodeAudioMeta]]. */
  private val AudioFields = Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false))

  private def audioFacts(bytes: Array[Byte]): Seq[Any] = {
    val m = parseWav(bytes)
    Seq[Any](m.sampleRate, m.channels, m.bitsPerSample,
      m.dataBytes.toLong / m.blockAlign, m.dataBytes.toLong * 1000 / m.byteRate)
  }

  /** [[decodeAudioMeta]] for DIRTY corpora (wrong container, non-PCM
    * format, missing fmt/data chunks), under the [[graft.core.RowDecode]]
    * quarantine policy: (decode_ok, decode_err, mime) precede the facts,
    * and a quarantined row keeps its sniffed `mime`.
    */
  def decodeAudioMetaLenient(df: DataFrame, idCol: String,
                             contentCol: String): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 2,
      RowDecode.flags("decode") ++ (MimeField +: RowDecode.nullable(AudioFields)),
      keepOnFailure = { case ("mime", b) => mimeOf(b) })(
      bytes => Seq(sniffMime(bytes) +: audioFacts(bytes)))

  /** Container-aware audio windowing — the honest replacement for byte-
    * stride sampling ([[Multimodal.sampleFrames]], which documents itself
    * as synthetic): windows are cut by TIME from the parsed header, each
    * `windowMs` long, aligned DOWN to whole PCM frames (blockAlign), the
    * final window ragged. Output one row per window:
    * (idCol, window_idx, start_ms, n_bytes, n_frames) — all integer math
    * from (byteRate, blockAlign, dataBytes), so an oracle re-derives the
    * full explode. The PCM bytes themselves stay in the source row;
    * downstream feature extractors slice `content` by
    * (44-byte canonical header offset + window_idx·windowBytes) or carry
    * the window spec to a decoder.
    */
  def audioWindows(df: DataFrame, idCol: String, contentCol: String,
                   windowMs: Int): DataFrame = {
    require(windowMs > 0)
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("window_idx", IntegerType, nullable = false),
      StructField("start_ms", LongType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false))) { bytes =>
      val m = parseWav(bytes)
      val wBytes = math.max(m.blockAlign,
        m.byteRate.toLong * windowMs / 1000 / m.blockAlign * m.blockAlign).toInt
      // a zero-length data chunk yields ZERO windows (not one empty one):
      // windows exist only where samples do, matching the DuckDB oracle's
      // unnest-join which produces no row for an empty payload
      val nW = ((m.dataBytes + wBytes - 1L) / wBytes).toInt
      (0 until nW).iterator.map { i =>
        val off = i.toLong * wBytes
        val n = math.min(wBytes.toLong, m.dataBytes - off).toInt
        Seq[Any](i, off * 1000 / m.byteRate, n, n / m.blockAlign)
      }
    }
  }

  /** Per-window PCM energy over 16-bit WAV payloads — the real-sample
    * analysis leg on top of [[audioWindows]]'s header math: windows are
    * cut identically (time-aligned down to whole frames, final window
    * ragged), then each window's samples are actually read from the data
    * chunk. Output one row per window: (idCol, window_idx, start_ms,
    * n_samples, sum_sq, peak_abs) — sum of squared sample values (BIGINT,
    * exact) and max |sample|, the two facts silence detection / clipping
    * detection / loudness filters key on. Classification stays in the
    * query plan (e.g. `silent = sum_sq < n_samples·T²`), so one scan
    * serves any threshold. 16-bit PCM only (the canonical fixture and by
    * far the commonest crawl WAV); other depths throw — quarantine
    * upstream via [[sniffMime]]/bits if the corpus is dirty.
    */
  def audioEnergy(df: DataFrame, idCol: String, contentCol: String,
                  windowMs: Int): DataFrame = {
    require(windowMs > 0)
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("window_idx", IntegerType, nullable = false),
      StructField("start_ms", LongType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false),
      StructField("sum_sq", LongType, nullable = false),
      StructField("peak_abs", IntegerType, nullable = false))) { bytes =>
      val m = parseWav(bytes)
      require(m.bitsPerSample == 16,
        s"audioEnergy reads 16-bit PCM, got ${m.bitsPerSample}-bit")
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val wBytes = math.max(m.blockAlign,
        m.byteRate.toLong * windowMs / 1000 / m.blockAlign * m.blockAlign).toInt
      // zero-data payload -> zero windows, same rule (and oracle) as
      // [[audioWindows]]
      val nW = ((m.dataBytes + wBytes - 1L) / wBytes).toInt
      (0 until nW).iterator.map { i =>
        val off = i.toLong * wBytes
        val n = math.min(wBytes.toLong, m.dataBytes - off).toInt
        var sumSq = 0L; var peak = 0
        var j = 0
        while (j < n / 2) {
          val v = bb.getShort(m.dataOff + off.toInt + j * 2).toInt
          sumSq += v.toLong * v
          val a = math.abs(v)
          if (a > peak) peak = a
          j += 1
        }
        Seq[Any](i, off * 1000 / m.byteRate, n / 2, sumSq, peak)
      }
    }
  }

  /** 64-bit acoustic fingerprint from window-energy DELTA SIGNS: bit w
    * (w = 0..63) is 1 iff energy(window w+1) > energy(window w), windows
    * cut exactly as [[audioEnergy]]. The sign-of-energy-derivative trick
    * is the core of published audio fingerprinting (Haitsma & Kalker
    * 2002 use band-energy differences): comparisons are invariant under
    * uniform gain (both energies scale together), so a re-levelled copy
    * of a clip fingerprints identically and a lightly re-encoded one
    * lands a few Hamming bits away — dropping audio STRAIGHT into the
    * existing 64-bit Hamming dedup tier ([[dhashNearPairs]] /
    * [[dhashDupIds]] pair ANY 64-bit signature column). Clips shorter
    * than 65 windows leave their upper bits 0. Output adds
    * (n_windows, afp). Per-row scan, no shuffle, same economics as
    * [[audioEnergy]].
    */
  def audioFingerprint(df: DataFrame, idCol: String, contentCol: String,
                       windowMs: Int = 20): DataFrame = {
    require(windowMs > 0)
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("n_windows", IntegerType, nullable = false),
      StructField("afp", LongType, nullable = false))) { bytes =>
      val m = parseWav(bytes)
      require(m.bitsPerSample == 16,
        s"audioFingerprint reads 16-bit PCM, got ${m.bitsPerSample}-bit")
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val wBytes = math.max(m.blockAlign,
        m.byteRate.toLong * windowMs / 1000 / m.blockAlign * m.blockAlign).toInt
      val nW = ((m.dataBytes + wBytes - 1L) / wBytes).toInt
      val e = new Array[Long](nW)
      var i = 0
      while (i < nW) {
        val off = i.toLong * wBytes
        val n = math.min(wBytes.toLong, m.dataBytes - off).toInt
        var sumSq = 0L
        var j = 0
        while (j < n / 2) {
          val v = bb.getShort(m.dataOff + off.toInt + j * 2).toInt
          sumSq += v.toLong * v
          j += 1
        }
        e(i) = sumSq
        i += 1
      }
      var fp = 0L
      var w = 0
      while (w < 64 && w + 1 < nW) {
        if (e(w + 1) > e(w)) fp |= 1L << w
        w += 1
      }
      Seq(Seq[Any](nW, fp))
    }
  }

  /** Deterministic constant-amplitude-per-window WAV fixtures for the
    * audio-dedup oracle (`mm_audio_dedup`): row (k = `patternCol`,
    * p = `perturbCol`, nw = `windowsCol`) is an 8 kHz mono clip of
    * exactly nw 20 ms windows (160 samples each, no ragged tail), window
    * w filled with the constant amplitude `((k·31 + w·w·7 + w·3) % 120)
    * + 1` — so every window energy, every [[audioFingerprint]] delta
    * sign, and every pair distance re-derives in SQL from (k, w) alone
    * (equal window sizes make the energy comparison a pure amplitude
    * comparison). perturb ≠ 0 is the modeled re-encode: window 0's
    * amplitude is forced to 127 when the original first delta is
    * positive, else to 0 — pixel-(0,0)-style, window 0 feeds only bit 0,
    * so the fingerprint flips EXACTLY that bit (amplitudes cap at 120 <
    * 127 and start at 1 > 0, so the flip is total).
    */
  def genToneWavs(df: DataFrame, idCol: String, patternCol: String,
                  perturbCol: String, windowsCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(perturbCol).cast("int"), col(windowsCol).cast("int")) { r =>
      val k = r.getLong(1)
      toneWav(r.getInt(2), r.getInt(3), w =>
        ((k * 31 + w.toLong * w * 7 + w * 3) % 120).toInt + 1)
    }

  // The streaming media-dedup signature indexes
  // ([[graft.streaming.Streams.ingestImageDedup]] / ingestVideoDedup /
  // ingestAudioDedup) are stamped single-dir layouts; these two passes give
  // them the same maintenance lifecycle as every other persisted index
  // family (compaction under daily appends, erasure for
  // right-to-be-forgotten). The family check accepts ANY parameterization
  // of the three stamp families and restamps the exact original id.
  private val SigStampFamilies =
    Seq("imagededup:v1:", "videodedup:v1:", "audiodedup:v1:")

  private def sigFormat(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): String = {
    val fmt = IndexFormat.readFormat(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"index at $indexDir has no _meta format stamp — refusing to " +
          "maintain an unstamped (possibly torn) index; repair or rebuild it"))
    require(SigStampFamilies.exists(fmt.startsWith),
      s"index at $indexDir has format '$fmt' — not a media-dedup " +
        "signature index; use the owning family's maintenance pass")
    fmt
  }

  /** Compact a media-dedup signature index after daily streaming appends
    * (one small parquet file lands per admitting batch — after a year a
    * classify scan is listing-bound before it is data-bound). Same staged
    * rewrite + commit-marker discipline as [[Dedup.compactNearIndex]]
    * (delegates to [[IndexMaintenance.compactStamped]]).
    */
  def compactSigIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String,
                      targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.compactStamped(spark, indexDir,
      sigFormat(spark, indexDir), Seq("sigs" -> Nil), targetRowsPerFile)

  /** Erase ids from a media-dedup signature index — the
    * right-to-be-forgotten pass: a filtered compaction (delete list
    * broadcast, index streamed) with the rewrite outside the commit-marker
    * window. Erases SIGNATURES only: the corpus rows at the ingest's
    * `corpusPath` (which hold the payloads) are caller-owned plain parquet
    * and must be rewritten by the caller in the same maintenance job.
    */
  def eraseSigIndex(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, idCol: String,
                    ids: DataFrame,
                    targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.deleteStamped(spark, indexDir,
      sigFormat(spark, indexDir), Seq(("sigs", Nil, idCol)), ids,
      targetRowsPerFile)

  // ----------------------------------------------------------------- video

  /** Parsed AVI facts from the `avih` main header. */
  private[ext] final case class AviMeta(usPerFrame: Int, totalFrames: Int,
                                        streams: Int, width: Int, height: Int)

  /** Parse a RIFF/AVI container's `avih` main header — the same RIFF
    * chunk walk as [[parseWav]], one level deeper: AVI nests its headers
    * inside `LIST(hdrl)`, so the walker descends into LIST chunks (4-byte
    * list type, then sub-chunks) until it finds `avih`. Pure JDK; throws
    * on non-AVI bytes or a container missing the header.
    */
  private[ext] def parseAvi(bytes: Array[Byte]): AviMeta = {
    require(sniffMime(bytes) == "video/avi", "not a RIFF/AVI payload")
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def scan(from: Int, until: Int): Option[AviMeta] = {
      var off = from
      while (off + 8 <= until) {
        val id = new String(bytes, off, 4, "US-ASCII")
        val size = bb.getInt(off + 4)
        val end = math.min(off + 8 + size, until)
        if (id == "LIST" && size >= 4) {
          // LIST payload = 4-byte list type + sub-chunks
          val found = scan(off + 12, end)
          if (found.isDefined) return found
        } else if (id == "avih" && size >= 40) {
          return Some(AviMeta(bb.getInt(off + 8), bb.getInt(off + 24),
            bb.getInt(off + 32), bb.getInt(off + 40), bb.getInt(off + 44)))
        }
        off += 8 + size + (size & 1)
      }
      None
    }
    scan(12, bytes.length)
      .getOrElse(throw new IllegalArgumentException("AVI missing avih header"))
  }

  /** Frame payloads from an AVI's `LIST(movi)` — the walk that upgrades
    * "video decode" from header metadata to per-frame content: descends
    * RIFF LIST chunks to `movi`, collects every `##dc`/`##db` sub-chunk
    * (compressed / uncompressed video frame for stream ##) in file order.
    * Returns (frame_idx, payload bytes); the payload is whatever codec
    * frame the file carries — JPEG for MJPEG-in-AVI (the commonest
    * ImageIO-decodable crawl case), PNG in the oracle fixtures (lossless,
    * so pixel formulas replay exactly; the walk and decode path are
    * identical either way).
    */
  private[ext] def aviFramePayloads(bytes: Array[Byte]): Seq[Array[Byte]] = {
    require(sniffMime(bytes) == "video/avi", "not a RIFF/AVI payload")
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def isFrameId(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        (id.endsWith("dc") || id.endsWith("db"))
    def scan(from: Int, until: Int, inMovi: Boolean): Unit = {
      var off = from
      while (off + 8 <= until) {
        val id = new String(bytes, off, 4, "US-ASCII")
        val size = bb.getInt(off + 4)
        val end = math.min(off + 8 + size, until)
        if (id == "LIST" && size >= 4) {
          val listType = new String(bytes, off + 8, 4, "US-ASCII")
          scan(off + 12, end, inMovi || listType == "movi")
        } else if (inMovi && isFrameId(id) && size > 0 && off + 8 + size <= until) {
          frames += java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + size)
        }
        off += 8 + size + (size & 1)
      }
    }
    scan(12, bytes.length, inMovi = false)
    frames.toSeq
  }

  /** Explode every video payload (AVI or MP4, sniff-dispatched through
    * [[framePayloads]]) to its decoded frames: one row per video frame,
    * (idCol, frame_idx, width, height, dhash) — the container frame walk
    * composed with the image decode path (EXIF-
    * normalized [[decodeLuma]] + [[dHash64]]), so frame-level dedup drops
    * straight into the existing dHash band-join tier. One container walk +
    * one codec instance per partition, no shuffle; row count multiplies by
    * frames-per-file, same caveat as [[imagePixels]]. Undecodable frame
    * payloads throw — use a mime filter upstream or [[decodeVideoMetaLenient]]
    * to quarantine whole files first.
    */
  def videoFrames(df: DataFrame, idCol: String, contentCol: String,
                  maxFrames: Int = Int.MaxValue): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, FrameFields)(
      bytes => frameFacts(allFrames(bytes, maxFrames)))

  /** Fact columns of the frame decoders: one row per decoded frame. */
  private val FrameFields = Seq(
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("dhash", LongType, nullable = false))

  /** [[FrameFields]] facts of one frame payload at sample index `i`. */
  private def frameFact(i: Int, payload: Array[Byte]): Seq[Any] = {
    val (w, h, _, px) = decodeLuma(payload)
    Seq[Any](i, w, h, dHash64(px, w, h))
  }

  private def frameFacts(frames: Seq[(Int, Array[Byte])]): Iterator[Seq[Any]] =
    frames.iterator.map { case (i, payload) => frameFact(i, payload) }

  /** Every frame payload of a video, indexed. One video's frames decode
    * inside ONE task (the per-video memory bound): `maxFrames` is the
    * guard rail for corpora where hour-long videos can appear — over-cap
    * videos FAIL (or quarantine, in a lenient twin) rather than silently
    * emitting a frame prefix, which would admit a truncated signature set
    * into the dedup tier.
    */
  private def allFrames(bytes: Array[Byte], maxFrames: Int): Seq[(Int, Array[Byte])] = {
    val payloads = framePayloads(bytes)
    require(payloads.length <= maxFrames,
      s"video has ${payloads.length} frames > maxFrames=$maxFrames")
    payloads.zipWithIndex.map(_.swap)
  }

  /** [[videoFrames]] for DIRTY corpora — the frame-level twin of
    * [[decodeVideoMetaLenient]], which validates only the CONTAINER
    * header: a valid-container AVI can still carry an undecodable frame
    * payload (truncated JPEG, codec ImageIO lacks) or exceed `maxFrames`,
    * and that video must quarantine as ONE `frame_ok=false` row under the
    * [[graft.core.RowDecode]] quarantine policy (a video is healthy only
    * as a whole). A zero-frame valid container emits nothing, same as the
    * strict path.
    */
  def videoFramesLenient(df: DataFrame, idCol: String, contentCol: String,
                         maxFrames: Int = Int.MaxValue): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 1, FrameLenientFields)(
      bytes => frameFacts(allFrames(bytes, maxFrames)))

  /** Output columns of the lenient frame decoders after the id. */
  private val FrameLenientFields =
    RowDecode.flags("frame") ++ RowDecode.nullable(FrameFields)

  /** Video-level near-duplicate pairs from a frame table ([[videoFrames]]
    * output): two videos are near-dups when they share at least
    * `minShared` distinct frame signatures (identical frame dHash — the
    * right primitive for trims, re-containered copies, and
    * prefix/suffix clips, where frames survive bit-identical after
    * normalization; re-ENCODED copies compose by first clustering the
    * frame table with [[dhashNearPairs]] and joining on the cluster
    * representative instead of the raw hash — see [[videoNearPairsClustered]]).
    * Execution is one equi-join on the 64-bit frame hash — never a cross
    * product — then a per-pair count: the shuffle carries fixed-width
    * (hash, video) rows, and the only quadratic risk is a frame hash
    * shared by huge numbers of videos (black/intro frames at crawl
    * scale), which `maxHashFreq` removes up front exactly like the
    * df-cap in [[Dedup.ngramJaccardPairs]] — a signature that common
    * carries no discriminating evidence anyway. Returns
    * (left_id, right_id, n_shared, n_left, n_right), left < right, with
    * per-video DISTINCT frame-signature counts so overlap ratios
    * (containment/Jaccard) are one projection away in integer math.
    * Count semantics under the cap: n_left/n_right are the TRUE pre-cap
    * per-video distinct counts, while dropped hot hashes under-count
    * n_shared for affected pairs — so derived containment/Jaccard are
    * conservative (never inflated), the same documented trade-off as
    * `inter` in [[Dedup.ngramJaccardPairs]].
    *
    * MATERIALIZE the frame table before calling (cache/localCheckpoint/
    * write): the plan references `frames` from up to five branches (two
    * self-join sides, the cap's count branch, the size counts), and when
    * it is a live [[videoFrames]] pipeline each branch re-decodes every
    * video — plan-audited in r15; the registered queries and
    * [[graft.streaming.Streams.ingestVideoDedup]] checkpoint first.
    */
  def videoNearPairs(frames: DataFrame, idCol: String, hashCol: String,
                     minShared: Int = 2,
                     maxHashFreq: Int = 1000): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val f = frames.select(col(idCol).cast("long").as("__vid"),
      col(hashCol).cast("long").as("__h")).distinct()
    // df-cap BEFORE the self-join (quadratic in bucket size otherwise) via
    // partial-agg + broadcast anti-join, then repartition on the join key
    // AFTER the cap — a count-window here would funnel the hottest hash's
    // entire posting list through one task before dropping it (see
    // Dedup.dropHotKeys), exactly the skew this cap exists to prevent
    val capped = Dedup.dropHotKeys(f, Seq("__h"), maxHashFreq)
      .repartition(col("__h"))
    val counts = f.groupBy(col("__vid")).agg(count(lit(1)).as("__nf"))
    val l = capped.select(col("__h"), col("__vid").as("left_id"))
    val r = capped.select(col("__h"), col("__vid").as("right_id"))
    l.join(r, Seq("__h"))
      .filter(col("left_id") < col("right_id"))
      .groupBy(col("left_id"), col("right_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(counts.select(col("__vid").as("left_id"), col("__nf").as("n_left")),
        Seq("left_id"))
      .join(counts.select(col("__vid").as("right_id"), col("__nf").as("n_right")),
        Seq("right_id"))
      .select(col("left_id"), col("right_id"), col("n_shared"),
        col("n_left"), col("n_right"))
  }

  /** Re-encoded-copy video near-dup pairs — the composition
    * [[videoNearPairs]]'s doc promises: a lossy re-encode perturbs every
    * frame's pixels, so frame dHashes land a few Hamming bits from the
    * original and the exact-hash equi-join finds nothing. Fix: cluster
    * the DISTINCT frame-hash vocabulary with [[dhashNearPairs]]
    * (Hamming ≤ `maxDist`, lossless banded candidates — never
    * all-pairs), take connected components over those hash pairs
    * ([[Dedup.connectedComponents]] — min-label propagation, O(log
    * diameter) rounds), and replace each frame's hash by its cluster
    * representative (min hash; singleton hashes represent themselves via
    * a left join + coalesce, no row lost). Then [[videoNearPairs]] on
    * the representative column does the rest unchanged. Scale shape: the
    * clustering runs over the distinct hash VOCABULARY (≪ frame count —
    * crawl frame tables repeat hashes heavily), the component table
    * joins back on the 64-bit hash (shuffle of fixed-width rows), and
    * the final stage inherits videoNearPairs' df-cap. Output schema
    * identical to [[videoNearPairs]]; n_shared counts shared DISTINCT
    * cluster representatives.
    */
  def videoNearPairsClustered(frames: DataFrame, idCol: String,
                              hashCol: String, maxDist: Int = 3,
                              minShared: Int = 2,
                              maxHashFreq: Int = 1000): DataFrame = {
    val f = frames.select(col(idCol).cast("long").as("__vid"),
      col(hashCol).cast("long").as("__h"))
    val vocab = f.select(col("__h")).distinct()
    // the hash IS the node id: dhashNearPairs keys pairs by value, and
    // min-hash-of-component is then a deterministic representative
    val hashPairs = dhashNearPairs(vocab, "__h", "__h", maxDist)
    val comps = Dedup.connectedComponents(hashPairs, "left_id", "right_id")
    val withRep = f
      .join(comps.select(col("id").as("__h"), col("comp").as("__rep")),
        Seq("__h"), "left")
      .select(col("__vid"), coalesce(col("__rep"), col("__h")).as("__reph"))
    videoNearPairs(withRep, "__vid", "__reph", minShared, maxHashFreq)
  }

  /** Scene-cut detection over a [[videoFrames]] table: a cut is a frame
    * whose dHash sits more than `cutDist` Hamming bits from its
    * predecessor (gradient-sign hashes move a few bits within a shot and
    * tens of bits across one — the standard shot-boundary signal), and
    * `scene_idx` is the running cut count, so "sample one frame per
    * scene" — the frame-sampling a vision-language pipeline actually
    * wants, instead of every-nth-frame — is a `row_number() == 1` filter
    * away. Adds (prev_dist nullable — null on frame 0, is_cut,
    * scene_idx). Execution is two window functions partitioned BY VIDEO:
    * the shuffle carries fixed-width rows keyed on the video id, and a
    * video's frames land in one task — bounded by the longest single
    * video (an hour at 30 fps is ~100k fixed-width rows), never by the
    * corpus.
    */
  def videoScenes(frames: DataFrame, idCol: String, frameIdxCol: String,
                  hashCol: String, cutDist: Int = 16): DataFrame = {
    require(cutDist >= 0 && cutDist < 64, "cutDist must be in [0, 64)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col(frameIdxCol))
    frames
      .withColumn("__prev", lag(col(hashCol), 1).over(w))
      .withColumn("prev_dist",
        when(col("__prev").isNull, lit(null).cast("long"))
          .otherwise(bit_count(col(hashCol).bitwiseXOR(col("__prev")))
            .cast("long")))
      .withColumn("is_cut", coalesce(col("prev_dist") > cutDist, lit(false)))
      .withColumn("scene_idx",
        sum(when(col("is_cut"), 1L).otherwise(0L))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)).cast("int"))
      .drop("__prev")
  }

  /** Multi-SCENE AVI fixtures for the scene-cut oracle: frame f of row
    * (k = `patternCol`, n = `framesCol`, len = `sceneLenCol`) is the
    * pattern grid for kf = k·16 + f/len — so frames within a scene are
    * BIT-IDENTICAL (prev_dist 0) and scene boundaries land exactly at
    * f % len == 0. Whether a given boundary's hash distance clears a
    * cut threshold is a property of the pattern formula that the oracle
    * re-derives bit-exactly (both sides apply the same rule to the same
    * hashes), and the unit spec pins it for the fixtures it plants.
    */
  def genSceneAvis(df: DataFrame, idCol: String, patternCol: String,
                   framesCol: String, sceneLenCol: String,
                   w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(framesCol).cast("int"), col(sceneLenCol).cast("int")) { r =>
      val k = r.getLong(1); val len = r.getInt(3)
      require(len > 0, "scene length must be positive")
      patternAviBytes(r.getInt(2), w, h,
        kfOf = f => k * 16 + f / len, flipFirstGradient = false)
    }

  /** One pattern-grid AVI payload: frame f's pixels from the shared
    * formula at `kfOf(f)`; `flipFirstGradient` applies the guaranteed
    * one-bit dHash perturbation documented on [[genPatternAvisPerturbed]].
    * The single encode path behind all three AVI fixture families.
    */
  private def patternAviBytes(n: Int, w: Int, h: Int, kfOf: Int => Long,
                              flipFirstGradient: Boolean): Array[Byte] =
    framesToAvi((0 until n).map(f =>
      patternFramePng(kfOf(f), w, h, flipFirstGradient)),
      usPerFrame = 33333, w, h)

  /** One pattern-formula frame as a lossless gray PNG — the shared encode
    * unit under every multi-frame fixture family (AVI movi sub-chunks and
    * MP4 mdat samples), so the same `kf` yields BYTE-IDENTICAL payloads in
    * either container and the frame-dedup oracles stay
    * container-independent.
    */
  private def patternFramePng(kf: Long, w: Int, h: Int,
                              flipFirstGradient: Boolean): Array[Byte] = {
    val px = patternGrid(kf, 0, w, h)
    if (flipFirstGradient) px(0) = if (px(1) > px(0)) 255 else 0
    encodeGrayPng(px, w, h)
  }

  /** SplitMix64 finalizer — the bit-mixer behind the NOISE fixture
    * generators ([[genNoiseVideos]]/[[genNoiseWavs]]). Public algorithm
    * (Steele, Lea & Flood, OOPSLA 2014; java.util.SplittableRandom).
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Noise frame `f` of seed `seed` as a gray PNG: pixel i is the low byte
    * of [[mix64]] over (seed, f, i).
    */
  private def noiseFramePng(seed: Long, f: Long, w: Int, h: Int): Array[Byte] =
    encodeGrayPng(Array.tabulate(w * h)(i =>
      (mix64(seed * 0x100000001B3L + f * 0x9E3779B97F4A7C15L + i) & 0xff).toInt), w, h)

  /** Wrap already-encoded PNG frame payloads as a canonical AVI (one
    * `00dc` movi sub-chunk per frame, word-aligned) — the container
    * assembly shared by the pattern and noise fixture families.
    */
  private def framesToAvi(frames: Seq[Array[Byte]], usPerFrame: Int,
                          w: Int, h: Int): Array[Byte] = {
    val movi = new ByteArrayOutputStream()
    frames.foreach { png =>
      val hdr = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      hdr.put("00dc".getBytes("US-ASCII")).putInt(png.length)
      movi.write(hdr.array())
      movi.write(png)
      if ((png.length & 1) == 1) movi.write(0) // word-align
    }
    encodeAvi(usPerFrame, frames.length, streams = 1, w, h, movi.toByteArray)
  }

  /** NOISE-frame video fixtures for scale soaks: frame f of row (seed =
    * `seedCol`) is a w×h PNG whose pixels are [[mix64]] of
    * (seed, f, pixel index) — so frame dHashes are effectively unique
    * across any soak-sized corpus. The PATTERN fixtures deliberately
    * compress to a ≤256-value hash space (their additive constant folds
    * mod 256 so a SQL oracle can replay them) and therefore CANNOT feed a
    * soak that asserts exact admission counts; these can, and the same
    * seed yields byte-identical frames in either container (`mp4Col`
    * picks AVI vs MP4 per row) so cross-container re-drops classify dup.
    */
  def genNoiseVideos(df: DataFrame, idCol: String, seedCol: String,
                     framesCol: String, mp4Col: String,
                     w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(seedCol).cast("long"),
      col(framesCol).cast("int"), col(mp4Col).cast("boolean")) { r =>
      val n = r.getInt(2)
      val frames = (0 until n).map(f => noiseFramePng(r.getLong(1), f, w, h))
      if (r.getBoolean(3)) encodeMp4("isom", 30000L, 1001L * n,
        Seq((w, h)), frames, 1001L)
      else framesToAvi(frames, usPerFrame = 33333, w, h)
    }

  /** LONG keyframed MP4s carrying [[genNoiseVideos]] content in their
    * SYNC samples — the keyframe-admission soak plant: `scenesCol` scenes
    * of `stepCol` frames each (n = scenes·step total), where scene-start
    * frame s·step is byte-identical to noise frame (seed, s) and the
    * filler frames are unique noise (frame index offset by 10⁶ — never
    * colliding with any stored signature). With n over the ingest's
    * `maxFrames` cap, full-frame admission can only QUARANTINE such a
    * file; keyframe admission decodes the `scenes` sync samples and
    * classifies it against stored day-0 content — the hour-long-outlier
    * economy the mode exists for.
    */
  def genNoiseKeyframedMp4s(df: DataFrame, idCol: String, seedCol: String,
                            scenesCol: String, stepCol: String,
                            w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(seedCol).cast("long"),
      col(scenesCol).cast("int"), col(stepCol).cast("int")) { r =>
      val seed = r.getLong(1)
      val scenes = r.getInt(2)
      val step = r.getInt(3)
      val n = scenes * step
      val frames = (0 until n).map { f =>
        if (f % step == 0) noiseFramePng(seed, f / step, w, h) // scene start = stored frame
        else noiseFramePng(seed, f + 1000000L, w, h) // filler: unique, never stored
      }
      encodeMp4Tracks("isom", 30000L, 1001L * n, Seq(
        Mp4Track("vide", w, h, frames, Seq((n, 1001L)),
          syncSamples = (0 until scenes).map(_ * step + 1))))
    }

  /** [[genNoiseVideos]]' frames in a FRAGMENTED MP4 (2-sample moof
    * fragments) — the soak-side fMP4 twin: a DASH re-packaging of stored
    * content must classify DUP through the fragment walk, with frame
    * hashes byte-identical to the plain-container noise fixtures.
    */
  def genNoiseFmp4s(df: DataFrame, idCol: String, seedCol: String,
                    framesCol: String, w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(seedCol).cast("long"),
      col(framesCol).cast("int")) { r =>
      val frames = (0 until r.getInt(2)).map(f => noiseFramePng(r.getLong(1), f, w, h))
      encodeFmp4("isom", 30000L, 1001L, w, h, frames.grouped(2).toSeq)
    }

  /** [[genNoiseVideos]]' MP4 form with the AUDIO track declared FIRST
    * (junk `soun` samples + its own sample table, then the `vide` trak
    * with the SAME noise frames) — the soak-side twin of
    * [[genPatternMp4sAvOrder]]: an audio-first re-container of stored
    * content must classify DUP through the `hdlr`-dispatched walk, not
    * quarantine on garbage frames a positional reader would pick.
    */
  def genNoiseVideosAvOrder(df: DataFrame, idCol: String, seedCol: String,
                            framesCol: String, w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(seedCol).cast("long"),
      col(framesCol).cast("int")) { r =>
      val seed = r.getLong(1)
      val n = r.getInt(2)
      val frames = (0 until n).map(f => noiseFramePng(seed, f, w, h))
      val audio = (0 until n * 4).map(i => Array[Byte](
        (mix64(seed + i) & 0xff).toByte, (mix64(seed - i) & 0xff).toByte))
      encodeMp4Tracks("isom", 30000L, 1001L * n, Seq(
        Mp4Track("soun", 0, 0, audio, Seq((audio.length, 250L))),
        Mp4Track("vide", w, h, frames, Seq((n, 1001L)))))
    }

  /** NOISE-window WAV fixtures for scale soaks — [[genToneWavs]] with
    * [[mix64]] amplitudes (1..120) instead of the oracle-replayable tone
    * formula (whose fingerprint space folds to ≤120 values): each clip's
    * [[audioFingerprint]] is effectively unique at soak scale. `perturb ≠
    * 0` keeps genToneWavs' modeled re-encode exactly (window 0 forced to
    * 127/0 against window 1's amplitude → fingerprint flips bit 0 only).
    */
  def genNoiseWavs(df: DataFrame, idCol: String, seedCol: String,
                   perturbCol: String, windowsCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(seedCol).cast("long"),
      col(perturbCol).cast("int"), col(windowsCol).cast("int")) { r =>
      val seed = r.getLong(1)
      toneWav(r.getInt(2), r.getInt(3), w =>
        (java.lang.Math.floorMod(mix64(seed * 0x100000001B3L + w), 120L) + 1L).toInt)
    }

  /** An 8 kHz mono clip of `nw` 20 ms windows, window w at the constant
    * amplitude `amp(w)` — except window 0 under `p ≠ 0`, forced to 127
    * when the first delta is positive, else 0 (the modeled re-encode of
    * [[genToneWavs]]).
    */
  private def toneWav(p: Int, nw: Int, amp: Int => Int): Array[Byte] = {
    val a0 = if (p != 0) { if (amp(1) > amp(0)) 127 else 0 } else amp(0)
    val samples = new Array[Short](nw * 160)
    var w = 0
    while (w < nw) {
      val a = (if (w == 0) a0 else amp(w)).toShort
      var j = 0
      while (j < 160) { samples(w * 160 + j) = a; j += 1 }
      w += 1
    }
    encodeWav(8000, 1, samples)
  }

  /** Deterministic multi-frame AVI fixtures: frame f of row (k =
    * `patternCol`) is the [[genPatternPngs]] formula grid with pattern
    * k·8+f (perturb 0), encoded as a lossless PNG payload in a `00dc`
    * movi sub-chunk — so the oracle re-derives every frame's pixels, and
    * [[videoFrames]] exercises the REAL container walk + codec decode.
    * Output (idCol, content AVI binary).
    */
  def genPatternAvis(df: DataFrame, idCol: String, patternCol: String,
                     framesCol: String, w: Int, h: Int): DataFrame =
    genPatternAvisPerturbed(df.withColumn("__p0", lit(0)),
      idCol, patternCol, "__p0", framesCol, w, h)

  /** [[genPatternAvis]] with a per-row perturb column — the modeled
    * "lossy re-encode" for [[videoNearPairsClustered]]: perturb ≠ 0
    * replaces pixel (0,0) of EVERY frame with 255 when the frame's
    * original (0,0)→(1,0) gradient is positive, else 0. Pixel (0,0) is
    * the LEFT operand of exactly one dHash comparison (x=0, y=0; it is
    * never anyone's right operand), so this flips exactly that one hash
    * bit: the perturbed frame's dHash sits at Hamming distance EXACTLY 1
    * from the original — deterministically never bit-identical (a small
    * additive bump would leave most gradient signs, hence the hash,
    * unchanged) yet always within the band join's maxDist. Exactly the
    * case the clustered pairing exists for and plain [[videoNearPairs]]
    * provably misses. One documented edge: a frame whose (1,0) pixel is 0
    * (a single kf residue class mod 256, unused by any fixture) cannot
    * flip its negative gradient and stays identical — the SQL oracle
    * replays the same rule, so even that frame stays oracle-consistent.
    */
  def genPatternAvisPerturbed(df: DataFrame, idCol: String,
                              patternCol: String, perturbCol: String,
                              framesCol: String, w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(perturbCol).cast("int"), col(framesCol).cast("int")) { r =>
      val k = r.getLong(1)
      patternAviBytes(r.getInt(3), w, h,
        kfOf = f => k * 8 + f, flipFirstGradient = r.getInt(2) != 0)
    }

  /** Encode a minimal canonical AVI container: `RIFF(AVI  LIST(hdrl
    * avih(...)) LIST(movi <payload>))` — the fixture generator and the
    * inverse of [[parseAvi]] for the header fields it reads.
    */
  def encodeAvi(usPerFrame: Int, totalFrames: Int, streams: Int,
                width: Int, height: Int,
                movi: Array[Byte] = Array.empty): Array[Byte] = {
    val avihSize = 56
    val hdrlSize = 4 + 8 + avihSize          // "hdrl" + avih chunk
    val moviSize = 4 + movi.length           // "movi" + payload bytes
    val riffSize = 4 + 8 + hdrlSize + 8 + moviSize
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("AVI ".getBytes("US-ASCII"))
      .put("LIST".getBytes("US-ASCII")).putInt(hdrlSize)
      .put("hdrl".getBytes("US-ASCII"))
      .put("avih".getBytes("US-ASCII")).putInt(avihSize)
      .putInt(usPerFrame).putInt(0).putInt(0).putInt(0)
      .putInt(totalFrames).putInt(0).putInt(streams).putInt(0)
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0)
      .put("LIST".getBytes("US-ASCII")).putInt(moviSize)
      .put("movi".getBytes("US-ASCII")).put(movi)
    bb.array()
  }

  /** Decode every AVI payload's main header: REAL frame timing, frame
    * count, stream count, and dimensions from the `avih` chunk, plus the
    * integer-floor duration (`usPerFrame·totalFrames / 1000` — exact
    * integer math the oracle replays). Completes the real-container triad
    * (PNG/JPEG images, WAV audio, AVI video) with zero external jars.
    * Input (idCol, contentCol); output adds
    * (width, height, n_frames, n_streams, fps_x1000, duration_ms).
    */
  def decodeVideoMeta(df: DataFrame, idCol: String,
                      contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 2, VideoFields)(
      bytes => Seq(aviFacts(parseAvi(bytes))))

  /** Fact columns of [[decodeVideoMeta]]. */
  private val VideoFields = Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("n_streams", IntegerType, nullable = false),
    StructField("fps_x1000", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false))

  private def aviFacts(m: AviMeta): Seq[Any] =
    Seq[Any](m.width, m.height, m.totalFrames, m.streams,
      // frames per 1000 s = 1e9 / usPerFrame — integer, no FP
      1000000000L / m.usPerFrame,
      m.usPerFrame.toLong * m.totalFrames / 1000)

  /** [[decodeVideoMeta]] for DIRTY corpora (wrong container, missing
    * `avih`/`mvhd`), under the [[graft.core.RowDecode]] quarantine policy:
    * (decode_ok, decode_err, mime) precede the facts, and a quarantined
    * row keeps its sniffed `mime`. Sniff-dispatched per container: AVI
    * through [[parseAvi]], MP4 through [[parseMp4]] (n_streams = track
    * count, n_frames/fps from the sample table when present, duration
    * from `mvhd` — the same integer-floor math as [[decodeMp4Meta]]).
    */
  def decodeVideoMetaLenient(df: DataFrame, idCol: String,
                             contentCol: String): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 2,
      RowDecode.flags("decode") ++ (MimeField +: RowDecode.nullable(VideoFields)),
      keepOnFailure = { case ("mime", b) => mimeOf(b) }) { bytes =>
      val mime = sniffMime(bytes)
      Seq(mime +: (mime match {
        case "video/avi" => aviFacts(parseAvi(bytes))
        case "video/mp4" =>
          val m = parseMp4(bytes)
          Seq[Any](m.width, m.height, m.nFrames, m.nTracks, m.fpsOrNull, m.durationMs)
        case other =>
          throw new IllegalArgumentException(s"unsupported video container: $other")
      }))
    }

  /** Deterministic AVI fixtures, one per input row, from id-derived
    * header parameters. The `movi` payload is a tiny deterministic byte
    * run (header decode never reads it).
    */
  def genAvis(df: DataFrame, idCol: String, usPerFrameCol: String,
              framesCol: String, widthCol: String,
              heightCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"),
      col(usPerFrameCol).cast("int"), col(framesCol).cast("int"),
      col(widthCol).cast("int"), col(heightCol).cast("int")) { r =>
      val id = r.getLong(0)
      val movi = Array.tabulate[Byte](16)(i => ((id * 31 + i * 7) % 256).toByte)
      encodeAvi(r.getInt(1), r.getInt(2), streams = 1, r.getInt(3), r.getInt(4), movi)
    }

  // ------------------------------------------------------------- ISO-BMFF

  /** Parsed ISO-BMFF (MP4) facts: `ftyp` major brand, `mvhd` movie
    * timescale/duration, track count, the first video track's pixel
    * dimensions (`tkhd`, 16.16 fixed → integer part), and — when a sample
    * table is present — the VIDEO track's sample count (`stsz`) plus the
    * total sample count and total timescale-unit duration summed over ALL
    * its `stts` entries (so fps is duration-weighted, correct for
    * variable-frame-rate files, not just the first run's rate). The video
    * track is the one whose `hdlr` handler type is `vide`; handler-less
    * containers fall back to the first track carrying a sample table, and
    * `stsz`/`stts` are always latched from the SAME track.
    * `hasEditList` is TRUE when ANY trak carries an `edts/elst` box with
    * at least one entry — a routing FACT, not an applied transform: the
    * frame tier decodes in sample (decode) order and ignores edit-list
    * offsets, which is fine for dedup (the payload bytes are what they
    * are) but presentation-order-sensitive pipelines should route
    * elst-carrying files on this flag. `hasCompOffsets` is the same kind
    * of fact for `ctts` composition offsets (decode order ≠ presentation
    * order — B-frame reordering): TRUE when the selected video track's
    * `stbl` carries a non-empty `ctts`, or (fragmented files) when any of
    * its `trun`s carries per-sample composition offsets (flag 0x800).
    */
  private[ext] final case class Mp4Meta(majorBrand: String, timescale: Long,
                                        duration: Long, nTracks: Int,
                                        width: Int, height: Int,
                                        nSamples: Int, sttsCount: Long,
                                        sttsDur: Long,
                                        hasEditList: Boolean = false,
                                        hasCompOffsets: Boolean = false) {
    /** Duration-weighted frames per 1000 s: `Σcount·timescale·1000 /
      * Σ(count·delta)` — for a single-entry `stts` this floors to exactly
      * the old first-delta form `timescale·1000/delta` (same rational).
      */
    def fpsX1000: Option[Long] =
      if (sttsCount > 0 && sttsDur > 0)
        Some(sttsCount * timescale * 1000L / sttsDur)
      else None

    /** [[fpsX1000]] as a column value: null without a sample table. */
    def fpsOrNull: java.lang.Long = fpsX1000.map(Long.box).orNull

    /** The video track's sample count, null without a sample table. */
    def nFrames: Any = if (nSamples > 0) nSamples else null

    /** `mvhd` duration in integer-floor milliseconds. */
    def durationMs: Long = duration * 1000L / timescale
  }

  /** Iterate the boxes of `bytes[from, until)`, calling
    * `f(type, payloadStart, payloadEnd)` per box — the one walk primitive
    * under every ISO 14496-12 reader here (the MP4 analogue of
    * [[parseAvi]]'s RIFF chunk scan). Handles the spec's three size
    * encodings: 32-bit compact, `size==1` + 64-bit largesize, and
    * `size==0` = box extends to the end of the enclosing scope. Malformed
    * sizes (overrunning the scope, or too small to hold the header) throw
    * rather than silently mis-walking.
    */
  private[ext] def walkBoxes(bytes: Array[Byte], from: Int, until: Int)
                            (f: (String, Int, Int) => Unit): Unit = {
    val bb = java.nio.ByteBuffer.wrap(bytes) // ISO-BMFF is big-endian
    var off = from
    while (off + 8 <= until) {
      val size32 = bb.getInt(off)
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      var payload = off + 8
      val end: Long =
        if (size32 == 1) { // 64-bit largesize follows the type field
          require(off + 16 <= until, s"box '$typ' at $off: truncated largesize")
          payload = off + 16
          off.toLong + bb.getLong(off + 8)
        } else if (size32 == 0) until.toLong // to end of enclosing scope
        else off.toLong + (size32.toLong & 0xffffffffL)
      require(end >= payload && end <= until,
        s"box '$typ' at $off: size overruns enclosing scope " +
          s"(end=$end, scope ends $until)")
      f(typ, payload, end.toInt)
      off = end.toInt
    }
  }

  /** Per-trak sample facts collected during one `moov` walk: the `tkhd`
    * track_ID (the join key into `moof`-fragment `tfhd` boxes), the `hdlr`
    * handler type (empty when absent), `stsz` sample count, the sum of
    * counts / sum of count·delta over ALL `stts` entries — both latched
    * from the SAME trak, never mixed across tracks — whether the trak
    * carries a non-empty `edts/elst` edit list, and whether its `stbl`
    * carries a non-empty `ctts` composition-offset table.
    */
  private final case class TrakFacts(trackId: Int, handler: String,
                                     nSamples: Int,
                                     sttsCount: Long, sttsDur: Long,
                                     hasElst: Boolean, hasCtts: Boolean) {
    def hasSampleTable: Boolean = nSamples > 0 || sttsCount > 0
  }

  /** Walk one `trak` box's `tkhd` + `mdia(hdlr, minf(stbl))` subtree into
    * its [[TrakFacts]] — the shared selection input of [[parseMp4]] and
    * the sample-extraction walks (which re-read the full table only for
    * the track this selection picks).
    */
  private def trakFacts(bytes: Array[Byte], s2: Int, e2: Int): TrakFacts = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var trackId = 0
    var handler = ""
    var nSamples = 0
    var sttsCount = 0L
    var sttsDur = 0L
    var hasElst = false
    var hasCtts = false
    walkBoxes(bytes, s2, e2) { (t3, s3, e3) =>
      t3 match {
        // edts/elst: entry_count after the FullBox header — ANY entry
        // marks the trak as edit-listed (presence fact; offsets are not
        // applied, see Mp4Meta.hasEditList)
        case "edts" => walkBoxes(bytes, s3, e3) { (t4, s4, _) =>
          if (t4 == "elst" && bb.getInt(s4 + 4) > 0) hasElst = true
        }
        case "tkhd" =>
          // track_ID after the FullBox header + creation/modification
          // times (32- or 64-bit per version)
          trackId =
            if ((bytes(s3) & 0xff) == 1) bb.getInt(s3 + 20)
            else bb.getInt(s3 + 12)
        case "mdia" => walkBoxes(bytes, s3, e3) { (t4, s4, e4) =>
          t4 match {
            // hdlr: FullBox(4) + pre_defined(4) + handler_type(4)
            case "hdlr" if e4 - s4 >= 12 =>
              handler = new String(bytes, s4 + 8, 4, "US-ASCII")
            case "minf" => walkBoxes(bytes, s4, e4) { (t5, s5, e5) =>
              if (t5 == "stbl") walkBoxes(bytes, s5, e5) { (t6, ps, _) =>
                t6 match {
                  case "stsz" =>
                    nSamples = bb.getInt(ps + 8) // count (after vf + size)
                  case "stts" =>
                    val n = bb.getInt(ps + 4)
                    var i = 0
                    while (i < n) {
                      val c = bb.getInt(ps + 8 + 8 * i).toLong & 0xffffffffL
                      val d = bb.getInt(ps + 12 + 8 * i).toLong & 0xffffffffL
                      sttsCount += c
                      sttsDur += c * d
                      i += 1
                    }
                  // ctts: entry_count after the FullBox header — ANY
                  // entry marks decode order ≠ presentation order
                  // (presence fact; offsets are not applied, see
                  // Mp4Meta.hasCompOffsets)
                  case "ctts" =>
                    if (bb.getInt(ps + 4) > 0) hasCtts = true
                  case _ =>
                }
              }
            }
            case _ =>
          }
        }
        case _ =>
      }
    }
    TrakFacts(trackId, handler, nSamples, sttsCount, sttsDur, hasElst,
      hasCtts)
  }

  /** Pick the track the frame tier should read: the first trak whose
    * `hdlr` handler type is `vide` AND that carries a sample table; when
    * no trak declares a video handler (minimal/handler-less files), the
    * first trak with a sample table — the pre-`hdlr` behavior. Positional
    * selection alone is WRONG for real crawl MP4s: audio tracks also carry
    * `stbl`, and a file that declares its audio track first would have its
    * audio samples extracted as "frames". Returns None to route to the
    * FRAGMENTED walk — including the HYBRID shape where a handler-typed
    * `vide` trak is table-less (its samples live in `moof` fragments) but
    * another trak (audio, typically) stores a populated `stbl` in `moov`:
    * falling back to that first table would extract audio samples as
    * frames, so when `fragmented` (the file carries `moof` boxes) the
    * table-less video trak wins over the first-table fallback.
    */
  private def pickVideoTrak(traks: Seq[TrakFacts],
                            fragmented: Boolean): Option[Int] = {
    val byHandler = traks.indexWhere(t => t.handler == "vide" && t.hasSampleTable)
    if (byHandler >= 0) Some(byHandler)
    else if (fragmented &&
      traks.exists(t => t.handler == "vide" && !t.hasSampleTable)) None
    else {
      val first = traks.indexWhere(_.hasSampleTable)
      if (first >= 0) Some(first) else None
    }
  }

  /** First `sidx` segment-index box (ISO 14496-12 §8.16.3) as
    * (reference_ID, timescale, total subsegment duration) — the
    * initialization facts of a SELF-INITIALIZING DASH media segment
    * (`styp sidx moof mdat…`), which carries no `moov` at all: the
    * reference_ID is the track binding for the fragment walk, the
    * timescale/duration play `mvhd`'s role. Handles both FullBox versions
    * (v1 = 64-bit earliest_presentation_time/first_offset).
    */
  private def readSidx(bytes: Array[Byte]): Option[(Int, Long, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var out: Option[(Int, Long, Long)] = None
    walkBoxes(bytes, 0, bytes.length) { (t, s, _) =>
      if (t == "sidx" && out.isEmpty) {
        val v = bytes(s) & 0xff
        val refId = bb.getInt(s + 4)
        val ts = bb.getInt(s + 8).toLong & 0xffffffffL
        // refs follow ept/first_offset (8 or 16 bytes) + reserved(2)
        val rcOff = s + 12 + (if (v == 1) 16 else 8) + 2
        val rc = bb.getShort(rcOff) & 0xffff
        var dur = 0L
        var i = 0
        while (i < rc) {
          dur += bb.getInt(rcOff + 2 + 12 * i + 4).toLong & 0xffffffffL
          i += 1
        }
        out = Some((refId, ts, dur))
      }
    }
    out
  }

  /** Whether any of `trackId`'s fragment `trun`s carries per-sample
    * composition offsets (flag 0x800) — the fragmented-file source of
    * the [[Mp4Meta.hasCompOffsets]] fact (moov-stored tables carry it
    * in `ctts` instead).
    */
  private def fragHasCts(bytes: Array[Byte], trackId: Int): Boolean = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var found = false
    walkBoxes(bytes, 0, bytes.length) { (t, s, e) =>
      if (t == "moof") walkBoxes(bytes, s, e) { (t2, s2, e2) =>
        if (t2 == "traf") {
          var track = -1
          walkBoxes(bytes, s2, e2) { (t3, s3, _) =>
            t3 match {
              case "tfhd" => track = bb.getInt(s3 + 4)
              case "trun" if track == trackId =>
                if ((bb.getInt(s3) & 0x800) != 0) found = true
              case _ =>
            }
          }
        }
      }
    }
    found
  }

  /** Whether the container carries any top-level `moof` fragment — the
    * signal that routes table-less video traks to the fragmented walk.
    */
  private def hasMoofBox(bytes: Array[Byte]): Boolean = {
    var found = false
    walkBoxes(bytes, 0, bytes.length) { (t, _, _) =>
      if (t == "moof") found = true
    }
    found
  }

  /** [[pickVideoTrak]] for FRAGMENTED files, where `moov`'s sample tables
    * are empty by design and selection can only go by declared handler:
    * the first `vide` trak, else the first trak.
    */
  private def pickVideoTrakAny(traks: Seq[TrakFacts]): Option[Int] = {
    val byHandler = traks.indexWhere(_.handler == "vide")
    if (byHandler >= 0) Some(byHandler)
    else if (traks.nonEmpty) Some(0) else None
  }

  /** `mvex/trex` defaults for EVERY track — track_ID →
    * (default_sample_duration, default_sample_size), the fallbacks
    * `tfhd`/`trun` omit per ISO 14496-12 §8.8.3. All tracks are collected
    * (one walk) because the §8.8.7 end-of-preceding-traf base default
    * makes every traf's data extent relevant, selected track or not.
    */
  private def trexAll(bytes: Array[Byte]): Map[Int, (Long, Int)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = Map.newBuilder[Int, (Long, Int)]
    walkBoxes(bytes, 0, bytes.length) { (t, s, e) =>
      if (t == "moov") walkBoxes(bytes, s, e) { (t2, s2, e2) =>
        if (t2 == "mvex") walkBoxes(bytes, s2, e2) { (t3, s3, _) =>
          if (t3 == "trex") out += bb.getInt(s3 + 4) ->
            ((bb.getInt(s3 + 12).toLong & 0xffffffffL, bb.getInt(s3 + 16)))
        }
      }
    }
    out.result()
  }

  /** Fragmented-MP4 sample layout for `trackId` from the `moof(traf(tfhd,
    * trun))` walk — the DASH/CMAF/streaming-recorder shape where `moov`'s
    * sample tables are EMPTY and every fragment carries its own run:
    * `tfhd` gives the track binding, optional explicit base_data_offset
    * (flag 0x1), and per-fragment defaults; absent an explicit base the
    * ISO 14496-12 §8.8.7 defaults apply — the enclosing `moof`'s own file
    * offset when default-base-is-moof (0x020000) is set OR the traf is
    * the moof's first, else the END of the preceding traf's data (the
    * legacy multi-traf shape; EVERY traf's truns advance the cursor,
    * selected track or not, so that default is tracked correctly).
    * `trun` gives sample count, optional data_offset (flag 0x1), and
    * per-sample sizes (0x200) / durations (0x100), falling back tfhd →
    * that track's `trex` entry. Returns per-sample (offsets, sizes,
    * durations) for `trackId` over ALL fragments in file order, plus
    * the 0-based index of each fragment's FIRST sample — fragment
    * boundaries are the sync points a DASH packager cuts at, so they
    * serve as the keyframe list the un-fragmented tier reads from `stss`.
    */
  private def fragLayout(bytes: Array[Byte], trackId: Int,
                         trex: Map[Int, (Long, Int)]):
      (Array[Long], Array[Int], Array[Long], Array[Int]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val durs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fragStarts = scala.collection.mutable.ArrayBuffer.empty[Int]
    // manual top-level walk: the moof's own FILE offset is a default
    // data base, which walkBoxes' payload-only callback cannot supply
    var off = 0
    while (off + 8 <= bytes.length) {
      val size32 = bb.getInt(off)
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      var payload = off + 8
      val end: Long =
        if (size32 == 1) { payload = off + 16; off.toLong + bb.getLong(off + 8) }
        else if (size32 == 0) bytes.length.toLong
        else off.toLong + (size32.toLong & 0xffffffffL)
      require(end >= payload && end <= bytes.length,
        s"box '$typ' at $off: size overruns the file")
      if (typ == "moof") {
        val moofStart = off.toLong
        // end of the preceding traf's data within THIS moof (-1 = none
        // yet): the §8.8.7 default base for second and subsequent trafs
        // that carry neither an explicit base nor default-base-is-moof
        var prevTrafEnd = -1L
        walkBoxes(bytes, payload, end.toInt) { (t2, s2, e2) =>
          if (t2 == "traf") {
            // tfhd: FullBox flags select which optional fields follow
            var track = -1
            var base = moofStart
            var defDur = 0L
            var defSize = 0
            var sawFirst = false
            var cursor = 0L
            var trafEnd = -1L
            walkBoxes(bytes, s2, e2) { (t3, s3, _) =>
              t3 match {
                case "tfhd" =>
                  val flags = bb.getInt(s3) & 0xffffff
                  track = bb.getInt(s3 + 4)
                  val td = trex.getOrElse(track, (0L, 0))
                  defDur = td._1
                  defSize = td._2
                  var q = s3 + 8
                  base =
                    if ((flags & 0x1) != 0) { val v = bb.getLong(q); q += 8; v }
                    else if ((flags & 0x020000) != 0) moofStart // base-is-moof
                    else if (prevTrafEnd >= 0) prevTrafEnd // end of prior traf
                    else moofStart // first traf in this moof
                  if ((flags & 0x2) != 0) q += 4 // sample_description_index
                  if ((flags & 0x8) != 0) {
                    defDur = bb.getInt(q).toLong & 0xffffffffL; q += 4
                  }
                  if ((flags & 0x10) != 0) { defSize = bb.getInt(q); q += 4 }
                  cursor = base
                case "trun" =>
                  val flags = bb.getInt(s3) & 0xffffff
                  val n = bb.getInt(s3 + 4)
                  var q = s3 + 8
                  if ((flags & 0x1) != 0) { cursor = base + bb.getInt(q); q += 4 }
                  if ((flags & 0x4) != 0) q += 4 // first_sample_flags
                  if (track == trackId && !sawFirst && n > 0) {
                    fragStarts += offsets.length
                    sawFirst = true
                  }
                  var i = 0
                  while (i < n) {
                    val d =
                      if ((flags & 0x100) != 0) {
                        val v = bb.getInt(q).toLong & 0xffffffffL; q += 4; v
                      } else defDur
                    val sz =
                      if ((flags & 0x200) != 0) {
                        val v = bb.getInt(q); q += 4; v
                      } else defSize
                    if ((flags & 0x400) != 0) q += 4 // sample_flags
                    if ((flags & 0x800) != 0) q += 4 // cts offset
                    if (track == trackId) {
                      offsets += cursor
                      sizes += sz
                      durs += d
                    }
                    cursor += sz
                    i += 1
                  }
                  if (n > 0) trafEnd = math.max(trafEnd, cursor)
                case _ =>
              }
            }
            // a sample-less traf defines no data extent — the prior end
            // stays in force for the next traf's default
            if (trafEnd >= 0) prevTrafEnd = trafEnd
          }
        }
      }
      off = end.toInt
    }
    (offsets.toArray, sizes.toArray, durs.toArray, fragStarts.toArray)
  }

  /** Parse an ISO-BMFF container's metadata boxes — `ftyp` → `moov(mvhd,
    * trak(tkhd, mdia(hdlr, minf(stbl(stts, stsz)))))` — the MP4 member of
    * the real-container tier ([[parseAvi]] is the RIFF member; MP4 is the
    * container the dominant share of crawl video actually arrives in).
    * Width/height come from the first track with nonzero `tkhd`
    * dimensions (audio tracks carry 0×0); the sample facts from the
    * `hdlr`-selected video track ([[pickVideoTrak]] — falls back to the
    * first sample-carrying track for handler-less files), with
    * `stsz`/`stts` read from that one track only. Handles both FullBox
    * versions of `mvhd` (v1 = 64-bit times). Pure JDK; throws on non-BMFF
    * bytes or a container missing `moov`/`mvhd`.
    */
  private[ext] def parseMp4(bytes: Array[Byte]): Mp4Meta = {
    require(sniffMime(bytes) == "video/mp4", "not an ISO-BMFF payload")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var majorBrand = ""
    var timescale = 0L
    var duration = 0L
    var width = 0
    var height = 0
    var sawMvhd = false
    val traks = Seq.newBuilder[TrakFacts]
    var nTracks = 0
    walkBoxes(bytes, 0, bytes.length) { (t, s, e) =>
      t match {
        case "ftyp" => majorBrand = new String(bytes, s, 4, "US-ASCII")
        // styp: the media-segment sibling of ftyp (self-initializing
        // DASH segments lead with it; same brand layout)
        case "styp" if majorBrand.isEmpty =>
          majorBrand = new String(bytes, s, 4, "US-ASCII")
        case "moov" => walkBoxes(bytes, s, e) { (t2, s2, e2) =>
          t2 match {
            case "mvhd" =>
              sawMvhd = true
              // FullBox: version byte decides 32- vs 64-bit time fields
              if ((bytes(s2) & 0xff) == 1) {
                timescale = bb.getInt(s2 + 20).toLong & 0xffffffffL
                duration = bb.getLong(s2 + 24)
              } else {
                timescale = bb.getInt(s2 + 12).toLong & 0xffffffffL
                duration = bb.getInt(s2 + 16).toLong & 0xffffffffL
              }
            case "trak" =>
              nTracks += 1
              traks += trakFacts(bytes, s2, e2)
              walkBoxes(bytes, s2, e2) { (t3, s3, e3) =>
                if (t3 == "tkhd") {
                  // width/height are the LAST two fields of either
                  // version: 16.16 fixed-point at payloadEnd-8/-4
                  val w = bb.getInt(e3 - 8) >>> 16
                  val h = bb.getInt(e3 - 4) >>> 16
                  if (width == 0 && w > 0) { width = w; height = h }
                }
              }
            case _ =>
          }
        }
        case _ =>
      }
    }
    if (!sawMvhd) {
      // SELF-INITIALIZING DASH MEDIA SEGMENT (styp sidx moof mdat…): no
      // moov anywhere — timescale/duration/track binding come from sidx,
      // sample facts from the trun walk (whose fields are explicit: with
      // no moov there is no trex to default to). One track by
      // construction; tkhd dims don't exist in this shape → 0×0.
      val (refId, sTs, sDur) = readSidx(bytes).getOrElse(
        throw new IllegalArgumentException("MP4 missing moov/mvhd header"))
      require(sTs > 0, "sidx timescale must be positive")
      val (_, szs, durs, _) = fragLayout(bytes, refId, Map.empty)
      return Mp4Meta(majorBrand, sTs, sDur, 1, 0, 0,
        szs.length, szs.length.toLong, durs.sum,
        hasEditList = false, hasCompOffsets = fragHasCts(bytes, refId))
    }
    require(timescale > 0, "MP4 missing moov/mvhd header")
    val all = traks.result()
    val anyElst = all.exists(_.hasElst)
    pickVideoTrak(all, hasMoofBox(bytes)).map(all) match {
      case Some(facts) =>
        Mp4Meta(majorBrand, timescale, duration, nTracks, width, height,
          facts.nSamples, facts.sttsCount, facts.sttsDur, anyElst,
          facts.hasCtts)
      case None =>
        // FRAGMENTED fallback: no trak carries an stbl sample table (the
        // DASH/CMAF init shape) — sample facts come from the moof/trun
        // walk of the handler-selected track, durations tfhd→trex
        val (frag, ctsFlag) = pickVideoTrakAny(all).map { i =>
          (fragLayout(bytes, all(i).trackId, trexAll(bytes))._3,
            fragHasCts(bytes, all(i).trackId))
        }.getOrElse((Array.emptyLongArray, false))
        Mp4Meta(majorBrand, timescale, duration, nTracks, width, height,
          frag.length, frag.length.toLong, frag.sum, anyElst, ctsFlag)
    }
  }

  /** The video track's per-sample file layout: absolute byte offset and
    * size per sample (in sample order), plus the `stss` sync-sample
    * numbers (1-based; EMPTY means the box is absent, which per ISO
    * 14496-12 §8.6.2 declares every sample a sync sample).
    */
  private[ext] final case class Mp4Layout(offsets: Array[Long],
                                          sizes: Array[Int],
                                          sync: Array[Int])

  /** Resolve an MP4's video-track sample table to its [[Mp4Layout]]:
    * `stsz` gives per-sample sizes (or the fixed-size shortcut),
    * `stco`/`co64` the chunk file offsets, `stsc` the samples-per-chunk
    * runs, and samples lie contiguously within each chunk — so each
    * sample's absolute file range is pure integer arithmetic over three
    * arrays, no codec involved. The track is selected by its `hdlr`
    * handler type (`vide`), falling back to the first sample-carrying
    * track for handler-less files ([[pickVideoTrak]]) — positional
    * selection would extract AUDIO samples as frames from any crawl MP4
    * that declares its audio track first.
    */
  private[ext] def mp4Layout(bytes: Array[Byte]): Mp4Layout = {
    require(sniffMime(bytes) == "video/mp4", "not an ISO-BMFF payload")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    // pass 1: per-trak facts, so selection never mixes tracks
    val trakSpans = Seq.newBuilder[(Int, Int)]
    walkBoxes(bytes, 0, bytes.length) { (t, s, e) =>
      if (t == "moov") walkBoxes(bytes, s, e) { (t2, s2, e2) =>
        if (t2 == "trak") trakSpans += ((s2, e2))
      }
    }
    val spans = trakSpans.result()
    val factsAll = spans.map { case (s2, e2) => trakFacts(bytes, s2, e2) }
    val picked = pickVideoTrak(factsAll, hasMoofBox(bytes))
    if (picked.isEmpty) {
      // FRAGMENTED fallback: empty moov sample tables → moof/trun layout
      // of the handler-selected track; fragment-start samples play the
      // stss role (a DASH packager cuts fragments at sync points). With
      // no trak AT ALL (a self-initializing styp/sidx media segment) the
      // binding comes from sidx's reference_ID and there is no trex.
      val (trackId, trexMap) = pickVideoTrakAny(factsAll) match {
        case Some(j) => (factsAll(j).trackId, trexAll(bytes))
        case None =>
          val (refId, _, _) = readSidx(bytes).getOrElse(throw
            new IllegalArgumentException("MP4 missing sample table (no trak)"))
          (refId, Map.empty[Int, (Long, Int)])
      }
      val (offs, szs, _, starts) = fragLayout(bytes, trackId, trexMap)
      require(offs.nonEmpty,
        "MP4 missing sample table (stsz/stco/stsc or moof/trun)")
      var i = 0
      while (i < offs.length) {
        require(offs(i) >= 0 && szs(i) >= 0 &&
          offs(i) + szs(i) <= bytes.length,
          s"fragment sample $i at offset ${offs(i)} overruns the file")
        i += 1
      }
      return Mp4Layout(offs, szs, starts.map(_ + 1))
    }
    // pass 2: full sample table of the selected trak only
    var sizes: Array[Int] = null
    var chunkOffsets: Array[Long] = null
    var stsc: Array[(Int, Int)] = null // (first_chunk 1-based, samples/chunk)
    var stss: Array[Int] = Array.emptyIntArray
    def readStbl(s: Int, e: Int): Unit = walkBoxes(bytes, s, e) { (t, ps, _) =>
      t match {
        case "stsz" =>
          val fixed = bb.getInt(ps + 4)
          val n = bb.getInt(ps + 8)
          sizes = if (fixed != 0) Array.fill(n)(fixed)
                  else Array.tabulate(n)(i => bb.getInt(ps + 12 + 4 * i))
        case "stco" =>
          val n = bb.getInt(ps + 4)
          chunkOffsets =
            Array.tabulate(n)(i => bb.getInt(ps + 8 + 4 * i).toLong & 0xffffffffL)
        case "co64" =>
          val n = bb.getInt(ps + 4)
          chunkOffsets = Array.tabulate(n)(i => bb.getLong(ps + 8 + 8 * i))
        case "stsc" =>
          val n = bb.getInt(ps + 4)
          stsc = Array.tabulate(n)(i =>
            (bb.getInt(ps + 8 + 12 * i), bb.getInt(ps + 12 + 12 * i)))
        case "stss" =>
          val n = bb.getInt(ps + 4)
          stss = Array.tabulate(n)(i => bb.getInt(ps + 8 + 4 * i))
        case _ =>
      }
    }
    val (ts, te) = spans(picked.get)
    walkBoxes(bytes, ts, te) { (t3, s3, e3) =>
      if (t3 == "mdia") walkBoxes(bytes, s3, e3) { (t4, s4, e4) =>
        if (t4 == "minf") walkBoxes(bytes, s4, e4) { (t5, s5, e5) =>
          if (t5 == "stbl") readStbl(s5, e5)
        }
      }
    }
    require(sizes != null && chunkOffsets != null && stsc != null,
      "MP4 missing sample table (stsz/stco/stsc)")
    val offsets = new Array[Long](sizes.length)
    var sample = 0
    var ci = 0
    while (ci < chunkOffsets.length && sample < sizes.length) {
      // samples-per-chunk for 1-based chunk ci+1: the last stsc run
      // whose first_chunk is <= it (runs are ascending per spec)
      var spc = stsc(0)._2
      var ri = 0
      while (ri < stsc.length && stsc(ri)._1 <= ci + 1) {
        spc = stsc(ri)._2
        ri += 1
      }
      var off = chunkOffsets(ci)
      var j = 0
      while (j < spc && sample < sizes.length) {
        val sz = sizes(sample)
        require(off + sz <= bytes.length,
          s"sample $sample at offset $off overruns the file")
        offsets(sample) = off
        off += sz
        sample += 1
        j += 1
      }
      ci += 1
    }
    require(sample == sizes.length,
      s"sample walk consumed $sample of ${sizes.length} declared samples " +
        "(chunk table too short)")
    Mp4Layout(offsets, sizes, stss)
  }

  /** Frame payloads from an MP4's sample table — the ISO-BMFF equivalent
    * of [[aviFramePayloads]]: [[mp4Layout]]'s per-sample ranges copied out
    * in sample order. The payload is whatever codec frame the file
    * carries (PNG in the oracle fixtures, MJPEG in the commonest
    * ImageIO-decodable crawl case — identical walk either way).
    */
  private[ext] def mp4FramePayloads(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val l = mp4Layout(bytes)
    (0 until l.sizes.length).map(i => java.util.Arrays.copyOfRange(
      bytes, l.offsets(i).toInt, (l.offsets(i) + l.sizes(i)).toInt))
  }

  /** KEYFRAME payloads from an MP4's `stss` sync-sample table, as
    * (0-based frame index, payload): the container's own declaration of
    * its independently-decodable samples — scene starts, in practice.
    * This is the 100 TB economy of the MP4 tier: sampling keyframes costs
    * byte-range copies of ONLY the sync samples (the AVI tier must decode
    * every frame and find scene cuts from dHash distances), so an
    * hour-long file contributes its handful of keyframes, not 10⁵ decodes.
    * An absent `stss` means every sample is sync (ISO 14496-12 §8.6.2) —
    * then this degrades to the full frame walk, same as AVI. That
    * degenerate case (and its cousin, an all-intra file whose `stss`
    * lists EVERY sample — MJPEG-in-MP4, exactly the codec this tier can
    * decode) is why `maxFrames` exists here too: the cap bounds the
    * KEYFRAME count, i.e. the number of per-task decodes — a sparse-stss
    * hour-long file sails under it while a no-`stss` hour-long file fails
    * (or quarantines, in the lenient twins) instead of decoding unbounded
    * through the path advertised as the cheap one. Checked BEFORE any
    * payload copy, so an over-cap file costs the box walk only.
    */
  private[ext] def mp4KeyframePayloads(bytes: Array[Byte],
                                       maxFrames: Int = Int.MaxValue): Seq[(Int, Array[Byte])] = {
    val l = mp4Layout(bytes)
    val idx =
      if (l.sync.isEmpty) 0 until l.sizes.length
      else l.sync.toIndexedSeq.map { s =>
        require(s >= 1 && s <= l.sizes.length,
          s"stss sync sample $s outside 1..${l.sizes.length}")
        s - 1
      }
    require(idx.length <= maxFrames,
      s"video has ${idx.length} keyframes > maxFrames=$maxFrames")
    idx.map(i => i -> java.util.Arrays.copyOfRange(
      bytes, l.offsets(i).toInt, (l.offsets(i) + l.sizes(i)).toInt))
  }

  /** Frame payloads for any supported video container, dispatched by the
    * magic-byte sniff — the single seam [[videoFrames]] /
    * [[videoFramesLenient]] (and through them the streaming video ingest)
    * decode through, so adding a container here lights up the whole
    * frame-dedup tier for it.
    */
  private[ext] def framePayloads(bytes: Array[Byte]): Seq[Array[Byte]] =
    sniffMime(bytes) match {
      case "video/avi" => aviFramePayloads(bytes)
      case "video/mp4" => mp4FramePayloads(bytes)
      case m => throw new IllegalArgumentException(
        s"unsupported video container: $m")
    }

  /** One track of an [[encodeMp4Tracks]] fixture: the `hdlr` handler type
    * (`"vide"`/`"soun"`; empty = emit no `hdlr`, modeling handler-less
    * minimal files), `tkhd` pixel dimensions (0×0 for audio), and an
    * optional sample table — payload bytes, `stts` (count, delta) runs
    * (multi-entry = variable frame rate; empty defaults to one run of
    * delta 1), `stss` sync-sample numbers (1-based; empty = no `stss`
    * box, i.e. every sample sync), an optional `edts/elst` edit list
    * as (segment_duration, media_time) v0 entries (empty = no `edts`
    * box; the [[decodeMp4Meta]] `has_edit_list` fixture channel), and an
    * optional `ctts` composition-offset table as (sample_count,
    * sample_offset) v0 entries (empty = no `ctts` box; the
    * `has_comp_offsets` fixture channel).
    */
  final case class Mp4Track(handler: String, width: Int, height: Int,
                            samples: Seq[Array[Byte]] = Nil,
                            stts: Seq[(Int, Long)] = Nil,
                            syncSamples: Seq[Int] = Nil,
                            editList: Seq[(Long, Long)] = Nil,
                            cttsRuns: Seq[(Int, Int)] = Nil)

  /** Encode a minimal canonical MP4: `ftyp(majorBrand) moov(mvhd
    * trak(tkhd mdia(mdhd [hdlr] minf(stbl(stsd stts stsc stsz stco
    * [stss]))))…) mdat(samples)` — the fixture generator and the inverse
    * of [[parseMp4]]/[[mp4Layout]] for the fields they read. EVERY track
    * may carry its own sample table (that's what makes audio-first track
    * order testable: the wrong, positional selection would land on the
    * audio table); each track's samples occupy one contiguous chunk, the
    * chunks laid out in `mdat` in track order with real absolute `stco`
    * offsets (two-pass build: moov's length does not depend on the offset
    * values).
    */
  def encodeMp4Tracks(majorBrand: String, timescale: Long, duration: Long,
                      tracks: Seq[Mp4Track],
                      udta: Array[Byte] = Array.empty): Array[Byte] = {
    def box(typ: String, payloads: Array[Byte]*): Array[Byte] = {
      val len = 8 + payloads.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(typ.getBytes("US-ASCII"))
      payloads.foreach(bb.put)
      bb.array()
    }
    def fullBoxPayload(bodyLen: Int)(fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + bodyLen)
      bb.putInt(0) // version 0, flags 0
      fill(bb)
      bb.array()
    }
    val identityMatrix = {
      val bb = java.nio.ByteBuffer.allocate(36)
      bb.putInt(0x00010000).putInt(0).putInt(0)
        .putInt(0).putInt(0x00010000).putInt(0)
        .putInt(0).putInt(0).putInt(0x40000000)
      bb.array()
    }
    val ftyp = box("ftyp", {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.put(majorBrand.getBytes("US-ASCII")).putInt(0x200)
        .put("iso2".getBytes("US-ASCII"))
      bb.array()
    })
    val mvhd = box("mvhd", fullBoxPayload(96) { bb =>
      bb.putInt(0).putInt(0) // creation, modification
        .putInt(timescale.toInt).putInt(duration.toInt)
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate, vol
        .putLong(0) // reserved
        .put(identityMatrix)
      (0 until 6).foreach(_ => bb.putInt(0)) // pre_defined
      bb.putInt(tracks.length + 1) // next_track_ID
    })
    def tkhd(trackId: Int, w: Int, h: Int) = box("tkhd", fullBoxPayload(80) { bb =>
      bb.putInt(0).putInt(0).putInt(trackId).putInt(0).putInt(duration.toInt)
        .putLong(0) // reserved
        .putShort(0).putShort(0).putShort(0).putShort(0) // layer/alt/vol/rsv
        .put(identityMatrix)
        .putInt(w << 16).putInt(h << 16)
    })
    val mdhd = box("mdhd", fullBoxPayload(20) { bb =>
      bb.putInt(0).putInt(0).putInt(timescale.toInt).putInt(duration.toInt)
        .putShort(0x55c4.toShort).putShort(0) // language "und", pre_defined
    })
    // hdlr: FullBox + pre_defined + handler_type + 3×reserved + empty name
    def hdlr(handler: String) = box("hdlr", fullBoxPayload(4 + 4 + 12 + 1) { bb =>
      bb.putInt(0).put(handler.getBytes("US-ASCII"))
        .putInt(0).putInt(0).putInt(0).put(0.toByte)
    })
    def stblBox(tr: Mp4Track, stcoOffset: Long): Array[Byte] = {
      val samples = tr.samples
      val n = samples.length
      val sttsRuns = if (tr.stts.nonEmpty) tr.stts else Seq((n, 1L))
      val stsd = box("stsd", fullBoxPayload(4 + 16) { bb =>
        bb.putInt(1) // entry_count: one generic 16-byte sample entry
        bb.putInt(16).put("gpng".getBytes("US-ASCII"))
          .putInt(0).putShort(0).putShort(1) // reserved, data_ref_index
      })
      val stts = box("stts", fullBoxPayload(4 + 8 * sttsRuns.length) { bb =>
        bb.putInt(sttsRuns.length)
        sttsRuns.foreach { case (c, d) => bb.putInt(c).putInt(d.toInt) }
      })
      val stsc = box("stsc", fullBoxPayload(16) { bb =>
        bb.putInt(1).putInt(1).putInt(n).putInt(1) // one chunk holds all
      })
      val allSame = samples.nonEmpty &&
        samples.forall(_.length == samples.head.length)
      val stsz =
        if (allSame) box("stsz", fullBoxPayload(8) { bb =>
          bb.putInt(samples.head.length).putInt(n)
        })
        else box("stsz", fullBoxPayload(8 + 4 * n) { bb =>
          bb.putInt(0).putInt(n)
          samples.foreach(s => bb.putInt(s.length))
        })
      val stco = box("stco", fullBoxPayload(8) { bb =>
        bb.putInt(1).putInt(stcoOffset.toInt)
      })
      val base = Seq(stsd, stts, stsc, stsz, stco)
      val withSync =
        if (tr.syncSamples.isEmpty) base
        else base :+ box("stss",
          fullBoxPayload(4 + 4 * tr.syncSamples.length) { bb =>
            bb.putInt(tr.syncSamples.length)
            tr.syncSamples.foreach(bb.putInt)
          })
      val kids =
        if (tr.cttsRuns.isEmpty) withSync
        else withSync :+ box("ctts",
          fullBoxPayload(4 + 8 * tr.cttsRuns.length) { bb =>
            bb.putInt(tr.cttsRuns.length)
            tr.cttsRuns.foreach { case (c, o) => bb.putInt(c).putInt(o) }
          })
      box("stbl", kids: _*)
    }
    // elst v0: entry_count + (segment_duration, media_time, rate 1.0)
    def edts(entries: Seq[(Long, Long)]) = box("edts",
      box("elst", fullBoxPayload(4 + 12 * entries.length) { bb =>
        bb.putInt(entries.length)
        entries.foreach { case (segDur, mediaTime) =>
          bb.putInt(segDur.toInt).putInt(mediaTime.toInt)
            .putShort(1).putShort(0) // media_rate 1.0
        }
      }))
    // mdat layout: each sample-carrying track's chunk in track order
    def moovBox(firstChunk: Long): Array[Byte] = {
      var off = firstChunk
      val traks = tracks.zipWithIndex.map { case (tr, i) =>
        val mdiaKids = Seq(mdhd) ++
          (if (tr.handler.nonEmpty) Seq(hdlr(tr.handler)) else Nil) ++
          (if (tr.samples.nonEmpty) {
            val stbl = stblBox(tr, off)
            off += tr.samples.map(_.length).sum
            Seq(box("minf", stbl))
          } else Nil)
        val kids = Seq(tkhd(i + 1, tr.width, tr.height)) ++
          (if (tr.editList.nonEmpty) Seq(edts(tr.editList)) else Nil) ++
          Seq(box("mdia", mdiaKids: _*))
        box("trak", kids: _*)
      }
      val kids = (mvhd +: traks) ++
        (if (udta.nonEmpty) Seq(box("udta", udta)) else Nil)
      box("moov", kids: _*)
    }
    // two-pass: moov's length is independent of the stco VALUES, so build
    // once to measure, then rebuild with the real first-chunk offset
    val moovLen = moovBox(0L).length
    val firstChunk = ftyp.length + moovLen + 8 // + mdat header
    val moov = moovBox(firstChunk.toLong)
    val mdat = box("mdat", tracks.flatMap(_.samples): _*)
    val out = new Array[Byte](ftyp.length + moov.length + mdat.length)
    System.arraycopy(ftyp, 0, out, 0, ftyp.length)
    System.arraycopy(moov, 0, out, ftyp.length, moov.length)
    System.arraycopy(mdat, 0, out, ftyp.length + moov.length, mdat.length)
    out
  }

  /** [[encodeMp4Tracks]] in the original single-sample-table shape: one
    * trak per `tracks` (width, height) entry, no `hdlr` boxes, the FIRST
    * track carrying the sample table at a constant `sampleDelta` — kept
    * as the handler-less fixture form that exercises the first-trak
    * fallback selection.
    */
  def encodeMp4(majorBrand: String, timescale: Long, duration: Long,
                tracks: Seq[(Int, Int)], samples: Seq[Array[Byte]] = Nil,
                sampleDelta: Long = 1L,
                udta: Array[Byte] = Array.empty): Array[Byte] =
    encodeMp4Tracks(majorBrand, timescale, duration,
      tracks.zipWithIndex.map { case ((w, h), i) =>
        if (i == 0 && samples.nonEmpty)
          Mp4Track("", w, h, samples, Seq((samples.length, sampleDelta)))
        else Mp4Track("", w, h)
      }, udta)

  /** Encode a minimal canonical FRAGMENTED MP4 (the DASH/CMAF/streaming-
    * recorder shape): `ftyp moov(mvhd trak(tkhd mdia(mdhd hdlr(vide)
    * minf(stbl(EMPTY tables)))) mvex(trex)) [moof(mfhd traf(tfhd trun))
    * mdat]…` — one fragment per `fragments` entry, `trex` carrying the
    * default sample duration, `tfhd` under the default-base-is-moof rule,
    * `trun` with explicit data_offset + per-sample sizes. The inverse of
    * the [[fragLayout]] walk for the fields it reads.
    */
  def encodeFmp4(majorBrand: String, timescale: Long, sampleDelta: Long,
                 width: Int, height: Int,
                 fragments: Seq[Seq[Array[Byte]]],
                 udta: Array[Byte] = Array.empty): Array[Byte] = {
    def box(typ: String, payloads: Array[Byte]*): Array[Byte] = {
      val len = 8 + payloads.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(typ.getBytes("US-ASCII"))
      payloads.foreach(bb.put)
      bb.array()
    }
    def full(bodyLen: Int, versionFlags: Int = 0)
            (fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + bodyLen)
      bb.putInt(versionFlags)
      fill(bb)
      bb.array()
    }
    val nTotal = fragments.map(_.length).sum
    val duration = nTotal * sampleDelta
    // the moov header: same shells as encodeMp4Tracks with NO sample
    // table (trakFacts reads that as table-less → the fragment path),
    // plus mvex/trex defaults spliced in below
    val init = encodeMp4Tracks(majorBrand, timescale, duration,
      Seq(Mp4Track("vide", width, height)), udta)
    // splice mvex(trex) into moov: rebuild moov with the extra child —
    // simplest correct splice is reconstruction: moov is the LAST box of
    // the init segment built above and its payload is self-contained
    val bbInit = java.nio.ByteBuffer.wrap(init)
    var moovStart = -1
    var off = 0
    while (off + 8 <= init.length) {
      if (new String(init, off + 4, 4, "US-ASCII") == "moov") moovStart = off
      off += bbInit.getInt(off)
    }
    require(moovStart >= 0, "encodeMp4Tracks emitted no moov")
    val moovLen = bbInit.getInt(moovStart)
    val trex = box("trex", full(20) { bb =>
      bb.putInt(1) // track_ID
        .putInt(1) // default_sample_description_index
        .putInt(sampleDelta.toInt) // default_sample_duration
        .putInt(0) // default_sample_size (truns carry explicit sizes)
        .putInt(0) // default_sample_flags
    })
    val mvex = box("mvex", trex)
    val moov = {
      val body = java.util.Arrays.copyOfRange(init, moovStart + 8,
        moovStart + moovLen) ++ mvex
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put("moov".getBytes("US-ASCII")).put(body)
      bb.array()
    }
    val head = java.util.Arrays.copyOfRange(init, 0, moovStart) ++ moov
    val out = new ByteArrayOutputStream(head.length)
    out.write(head)
    fragments.zipWithIndex.foreach { case (samples, fi) =>
      val mfhd = box("mfhd", full(4)(_.putInt(fi + 1))) // sequence_number
      // tfhd: default-base-is-moof (0x020000), no optional fields
      val tfhd = box("tfhd", full(4, 0x020000)(_.putInt(1)))
      def trun(dataOffset: Int) = box("trun",
        full(4 + 4 + 4 * samples.length, 0x000201) { bb =>
          bb.putInt(samples.length).putInt(dataOffset)
          samples.foreach(s => bb.putInt(s.length))
        })
      // two-pass: the moof's length is independent of the offset VALUE
      val moofLen = box("moof", mfhd, box("traf", tfhd, trun(0))).length
      val moof = box("moof", mfhd, box("traf", tfhd, trun(moofLen + 8)))
      out.write(moof)
      out.write(box("mdat", samples: _*))
    }
    out.toByteArray
  }

  /** Encode a SELF-INITIALIZING DASH MEDIA SEGMENT: `styp sidx [moof(mfhd
    * traf(tfhd trun)) mdat]…` — NO `moov` anywhere, the shape a DASH CDN
    * serves between init-segment refreshes (ISO 14496-12 §8.16). `sidx`
    * carries the track binding (reference_ID = 1), the timescale, and one
    * reference per fragment (referenced_size = that moof+mdat span,
    * subsegment_duration = its samples × `sampleDelta`); every `trun`
    * carries EXPLICIT per-sample durations AND sizes (flags 0x301) —
    * with no `moov` there is no `trex` to default to. The inverse of the
    * `readSidx` + fragment walk for the fields they read.
    */
  def encodeMediaSegment(majorBrand: String, timescale: Long,
                         sampleDelta: Long,
                         fragments: Seq[Seq[Array[Byte]]]): Array[Byte] = {
    def box(typ: String, payloads: Array[Byte]*): Array[Byte] = {
      val len = 8 + payloads.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(typ.getBytes("US-ASCII"))
      payloads.foreach(bb.put)
      bb.array()
    }
    def full(bodyLen: Int, versionFlags: Int = 0)
            (fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + bodyLen)
      bb.putInt(versionFlags)
      fill(bb)
      bb.array()
    }
    val styp = box("styp", {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.put(majorBrand.getBytes("US-ASCII")).putInt(0x200)
        .put("iso2".getBytes("US-ASCII"))
      bb.array()
    })
    val frags = fragments.zipWithIndex.map { case (samples, fi) =>
      val mfhd = box("mfhd", full(4)(_.putInt(fi + 1)))
      val tfhd = box("tfhd", full(4, 0x020000)(_.putInt(1))) // base-is-moof
      def trun(dataOffset: Int) = box("trun",
        full(4 + 4 + 8 * samples.length, 0x000301) { bb =>
          bb.putInt(samples.length).putInt(dataOffset)
          samples.foreach { s =>
            bb.putInt(sampleDelta.toInt).putInt(s.length)
          }
        })
      val moofLen = box("moof", mfhd, box("traf", tfhd, trun(0))).length
      val moof = box("moof", mfhd, box("traf", tfhd, trun(moofLen + 8)))
      moof ++ box("mdat", samples: _*)
    }
    // body: ref_ID(4) + timescale(4) + ept(4) + first_offset(4) +
    // reserved(2) + count(2) + 12 per reference
    val sidx = box("sidx", full(20 + 12 * fragments.length) { bb =>
      bb.putInt(1) // reference_ID: the one track this segment carries
        .putInt(timescale.toInt)
        .putInt(0) // earliest_presentation_time (v0)
        .putInt(0) // first_offset: data starts right after this box
        .putShort(0) // reserved
        .putShort(fragments.length.toShort)
      fragments.zip(frags).foreach { case (samples, bytes) =>
        bb.putInt(bytes.length) // reference_type 0 | referenced_size
          .putInt((samples.length * sampleDelta).toInt)
          .putInt(0) // starts_with_SAP/SAP_type/SAP_delta (unread here)
      }
    })
    val out = new ByteArrayOutputStream()
    out.write(styp)
    out.write(sidx)
    frags.foreach(out.write)
    out.toByteArray
  }

  /** Decode every MP4 payload's metadata: REAL box-walk facts from
    * `ftyp`/`mvhd`/`tkhd`/`stts`/`stsz` plus the integer-floor derived
    * fields the oracle replays (`duration_ms = duration·1000/timescale`,
    * `fps_x1000` = the duration-weighted [[Mp4Meta.fpsX1000]] over all
    * `stts` entries — exact for variable-frame-rate files, and for the
    * constant-rate case it floors to the same value as
    * `timescale·1000/delta`). Input (idCol, contentCol);
    * output (idCol, major_brand, timescale, duration_ms, n_tracks, width,
    * height, n_frames, fps_x1000, has_edit_list) — n_frames/fps null when
    * the container carries no sample table. `has_edit_list` surfaces any
    * trak's non-empty `edts/elst` box (see [[Mp4Meta.hasEditList]]): real
    * crawl MP4s carry non-identity edit lists, and while the frame tier
    * correctly ignores them for dedup (decode-order payload bytes), a
    * presentation-order-sensitive pipeline routes such files on this flag.
    */
  def decodeMp4Meta(df: DataFrame, idCol: String,
                    contentCol: String): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, Seq(
      StructField("major_brand", StringType, nullable = false),
      StructField("timescale", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("n_tracks", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("fps_x1000", LongType, nullable = true),
      StructField("has_edit_list", BooleanType, nullable = false),
      StructField("has_comp_offsets", BooleanType, nullable = false))) { bytes =>
      val m = parseMp4(bytes)
      Seq(Seq[Any](m.majorBrand, m.timescale, m.durationMs, m.nTracks, m.width,
        m.height, m.nFrames, m.fpsOrNull, m.hasEditList, m.hasCompOffsets))
    }

  /** `n` tiny 2-byte samples derived from `id` — the sample payloads of
    * the MP4 metadata fixtures (no decoder reads them).
    */
  private def tinySamples(id: Long, n: Int): Seq[Array[Byte]] =
    (0 until n).map(i => Array[Byte](
      ((id * 31 + i) % 256).toByte, ((id * 7 + i * 3) % 256).toByte))

  /** Frames 0 until n of pattern row k: the [[patternFramePng]] grid with
    * pattern k·8+f — the frame payloads of the pattern video fixtures.
    */
  private def patternFrames(k: Long, n: Int, w: Int, h: Int): Seq[Array[Byte]] =
    (0 until n).map(f => patternFramePng(k * 8 + f, w, h, flipFirstGradient = false))

  /** Deterministic MP4 metadata fixtures, one per input row:
    * `encodeMp4("isom", ts, frames·delta, video + optional audio track,
    * frames tiny fixed-size samples, delta)` — so every [[decodeMp4Meta]]
    * output field is re-derivable integer math, and the walk reads a real
    * `stbl` (fixed-size `stsz` branch; [[genPatternMp4s]] exercises the
    * per-sample-size branch).
    */
  def genMp4s(df: DataFrame, idCol: String, tsCol: String, deltaCol: String,
              framesCol: String, widthCol: String, heightCol: String,
              audioCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(tsCol).cast("long"),
      col(deltaCol).cast("long"), col(framesCol).cast("int"),
      col(widthCol).cast("int"), col(heightCol).cast("int"),
      col(audioCol).cast("boolean")) { r =>
      val id = r.getLong(0)
      val n = r.getInt(3)
      val tracks =
        if (r.getBoolean(6)) Seq((r.getInt(4), r.getInt(5)), (0, 0))
        else Seq((r.getInt(4), r.getInt(5)))
      // every fixture carries a udta metadata atom — the PII channel
      // the scrub oracle (mm_mp4_scrub) must provably neutralize;
      // parseMp4 never reads it, so the meta oracles are unaffected
      encodeMp4("isom", r.getLong(1), r.getLong(2) * n,
        tracks, tinySamples(id, n), r.getLong(2),
        udta = s"GRAFT-PII artist=$id gps=+0.0+0.0/".getBytes("US-ASCII"))
    }

  /** [[genMp4s]] with an optional `edts/elst` EDIT LIST on the video
    * track (single-track form): rows with `elstCol` true plant a
    * non-identity head-trim edit — one v0 entry (segment_duration =
    * (n−1)·delta, media_time = delta) — the shape real crawl MP4s carry;
    * rows with false emit no `edts` box at all. Every other
    * [[decodeMp4Meta]] field derives exactly as in [[genMp4s]], so the
    * oracle replays `has_edit_list` from the planting column alone.
    */
  def genElstMp4s(df: DataFrame, idCol: String, tsCol: String,
                  deltaCol: String, framesCol: String, widthCol: String,
                  heightCol: String, elstCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(tsCol).cast("long"),
      col(deltaCol).cast("long"), col(framesCol).cast("int"),
      col(widthCol).cast("int"), col(heightCol).cast("int"),
      col(elstCol).cast("boolean")) { r =>
      val d = r.getLong(2)
      val n = r.getInt(3)
      val elst =
        if (r.getBoolean(6)) Seq(((n - 1) * d, d)) else Nil
      encodeMp4Tracks("isom", r.getLong(1), d * n, Seq(
        Mp4Track("vide", r.getInt(4), r.getInt(5), tinySamples(r.getLong(0), n),
          Seq((n, d)), editList = elst)))
    }

  /** [[genElstMp4s]]' `ctts` sibling: rows with `cttsCol` true plant a
    * composition-offset table (one v0 run: every sample offset by one
    * delta — the B-frame-reorder shape), rows with false emit no `ctts`
    * box — the [[decodeMp4Meta]] `has_comp_offsets` fixture channel,
    * every other field the [[genMp4s]] single-track math.
    */
  def genCttsMp4s(df: DataFrame, idCol: String, tsCol: String,
                  deltaCol: String, framesCol: String, widthCol: String,
                  heightCol: String, cttsCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(tsCol).cast("long"),
      col(deltaCol).cast("long"), col(framesCol).cast("int"),
      col(widthCol).cast("int"), col(heightCol).cast("int"),
      col(cttsCol).cast("boolean")) { r =>
      val d = r.getLong(2)
      val n = r.getInt(3)
      val ctts = if (r.getBoolean(6)) Seq((n, d.toInt)) else Nil
      encodeMp4Tracks("isom", r.getLong(1), d * n, Seq(
        Mp4Track("vide", r.getInt(4), r.getInt(5), tinySamples(r.getLong(0), n),
          Seq((n, d)), cttsRuns = ctts)))
    }

  /** [[genPatternAvis]] in an MP4 container: frame f of row (k =
    * `patternCol`) is the same [[patternFramePng]] grid with pattern
    * k·8+f, carried as an `mdat` sample — byte-identical payloads to the
    * AVI fixtures, so the frame-dedup oracles are container-independent
    * (and an MP4 re-container of an AVI classifies as a dup). Output
    * (idCol, content MP4 binary).
    */
  def genPatternMp4s(df: DataFrame, idCol: String, patternCol: String,
                     framesCol: String, w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(framesCol).cast("int")) { r =>
      val n = r.getInt(2)
      encodeMp4("isom", 30000L, 1001L * n, Seq((w, h)),
        patternFrames(r.getLong(1), n, w, h), 1001L)
    }

  /** [[genPatternMp4s]] with the AUDIO track declared FIRST — the
    * real-crawl track order that breaks positional track selection: both
    * tracks carry sample tables and `hdlr` handler types (`soun` first,
    * `vide` second), the audio samples are deliberately undecodable junk,
    * and the video samples are the same pattern PNGs as the video-first
    * twin — so a reader that picks the first sample-carrying trak decodes
    * garbage (throws), while the `hdlr`-dispatched walk yields frames
    * byte-identical to [[genPatternMp4s]]'s.
    */
  def genPatternMp4sAvOrder(df: DataFrame, idCol: String, patternCol: String,
                            framesCol: String, w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(framesCol).cast("int")) { r =>
      val k = r.getLong(1)
      val n = r.getInt(2)
      val audio = (0 until n * 4).map(i => Array[Byte](
        ((k * 13 + i * 7) % 256).toByte, ((k * 5 + i * 11) % 256).toByte))
      encodeMp4Tracks("isom", 30000L, 1001L * n, Seq(
        Mp4Track("soun", 0, 0, audio, Seq((audio.length, 250L))),
        Mp4Track("vide", w, h, patternFrames(k, n, w, h), Seq((n, 1001L)))))
    }

  /** [[genPatternMp4s]] with a planted `stss` sync-sample table: frame f
    * of row k is the pattern-`(k·8+f)` PNG, and samples 1, 1+step,
    * 1+2·step, … (1-based) are declared sync — so the keyframe walk must
    * return exactly the frames with `f mod step = 0`, re-derivable in SQL.
    */
  def genPatternMp4sKeyframed(df: DataFrame, idCol: String,
                              patternCol: String, framesCol: String,
                              stepCol: String, w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(framesCol).cast("int"), col(stepCol).cast("int")) { r =>
      val n = r.getInt(2)
      val step = r.getInt(3)
      require(step >= 1, s"sync step must be >= 1, got $step")
      encodeMp4Tracks("isom", 30000L, 1001L * n, Seq(
        Mp4Track("vide", w, h, patternFrames(r.getLong(1), n, w, h), Seq((n, 1001L)),
          syncSamples = (0 until n by step).map(_ + 1))))
    }

  /** [[genPatternMp4s]] in a FRAGMENTED container: the same pattern-PNG
    * frames (byte-identical payloads, so the frame/keyframe oracles are
    * container-layout-independent), split into `fragCol`-sample
    * fragments — sample f starts a fragment iff `f mod fragSize = 0`,
    * which is exactly the `stss` shape [[genPatternMp4sKeyframed]] plants,
    * so the keyframe oracle SQL replays verbatim.
    */
  def genPatternFmp4s(df: DataFrame, idCol: String, patternCol: String,
                      framesCol: String, fragCol: String,
                      w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(framesCol).cast("int"), col(fragCol).cast("int")) { r =>
      val frag = r.getInt(3)
      require(frag >= 1, s"fragment size must be >= 1, got $frag")
      encodeFmp4("isom", 30000L, 1001L, w, h,
        patternFrames(r.getLong(1), r.getInt(2), w, h).grouped(frag).toSeq)
    }

  /** [[genPatternFmp4s]]' MEDIA-SEGMENT twin: the same pattern-PNG frames
    * in a moov-LESS `styp sidx moof mdat…` container ([[encodeMediaSegment]],
    * brand `msdh`) — byte-identical frame payloads, so the frame/keyframe
    * oracles replay verbatim through the sidx-bound walk.
    */
  def genPatternSegMp4s(df: DataFrame, idCol: String, patternCol: String,
                        framesCol: String, fragCol: String,
                        w: Int, h: Int): DataFrame =
    RowDecode.generate(df, idCol, col(idCol), col(patternCol).cast("long"),
      col(framesCol).cast("int"), col(fragCol).cast("int")) { r =>
      val frag = r.getInt(3)
      require(frag >= 1, s"fragment size must be >= 1, got $frag")
      encodeMediaSegment("msdh", 30000L, 1001L,
        patternFrames(r.getLong(1), r.getInt(2), w, h).grouped(frag).toSeq)
    }

  /** [[genMp4s]]' fragmented twin for the metadata oracle: single `vide`
    * track, tiny 2-byte samples in 8-sample fragments, `trex` carrying
    * the constant sample duration — every [[decodeMp4Meta]] field is the
    * same re-derivable integer math, now sourced from the moof/trun walk.
    */
  def genFmp4s(df: DataFrame, idCol: String, tsCol: String, deltaCol: String,
               framesCol: String, widthCol: String,
               heightCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(tsCol).cast("long"),
      col(deltaCol).cast("long"), col(framesCol).cast("int"),
      col(widthCol).cast("int"), col(heightCol).cast("int")) { r =>
      val id = r.getLong(0)
      // same udta PII plant as genMp4s — the frag-scrub oracle's target
      encodeFmp4("isom", r.getLong(1), r.getLong(2), r.getInt(4), r.getInt(5),
        tinySamples(id, r.getInt(3)).grouped(8).toSeq,
        udta = s"GRAFT-PII artist=$id gps=+0.0+0.0/".getBytes("US-ASCII"))
    }

  /** [[genFmp4s]]' MEDIA-SEGMENT twin for the metadata oracle: the same
    * 2-byte samples in 8-sample fragments, but moov-LESS (`styp sidx
    * moof mdat…`, brand `msdh`) — timescale/duration re-derive from
    * `sidx`, sample facts from the explicit-field `trun` walk, and tkhd
    * dims don't exist in this shape (0×0).
    */
  def genSegMp4s(df: DataFrame, idCol: String, tsCol: String,
                 deltaCol: String, framesCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(tsCol).cast("long"),
      col(deltaCol).cast("long"), col(framesCol).cast("int")) { r =>
      encodeMediaSegment("msdh", r.getLong(1), r.getLong(2),
        tinySamples(r.getLong(0), r.getInt(3)).grouped(8).toSeq)
    }

  /** Variable-frame-rate MP4 fixtures: the video track's `stts` carries
    * TWO runs — the first `n/2` samples at `deltaCol`, the rest at twice
    * it — so the duration-weighted fps differs from every per-run rate
    * and the oracle re-derives `fps_x1000 = n·ts·1000 / (n₁·d + n₂·2d)`
    * exactly. Tracks carry real `hdlr` types (`vide` + a dimensionless
    * `soun`), exercising the typed selection on the metadata path too.
    */
  def genVfrMp4s(df: DataFrame, idCol: String, tsCol: String,
                 deltaCol: String, framesCol: String, widthCol: String,
                 heightCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(tsCol).cast("long"),
      col(deltaCol).cast("long"), col(framesCol).cast("int"),
      col(widthCol).cast("int"), col(heightCol).cast("int")) { r =>
      val d = r.getLong(2)
      val n = r.getInt(3)
      val n1 = n / 2
      val dur = n1 * d + (n - n1) * 2 * d
      encodeMp4Tracks("isom", r.getLong(1), dur, Seq(
        Mp4Track("vide", r.getInt(4), r.getInt(5), tinySamples(r.getLong(0), n),
          Seq((n1, d), (n - n1, 2 * d))),
        Mp4Track("soun", 0, 0)))
    }

  /** Keyframe rows from every MP4 payload via its `stss` sync-sample
    * table ([[mp4KeyframePayloads]]): output (idCol, frame_idx, width,
    * height, dhash) where frame_idx is the 0-based SAMPLE index of the
    * keyframe — directly comparable/joinable with the full
    * [[videoFrames]] table. This is how the MP4 tier samples scene
    * representatives WITHOUT decoding every frame: only the sync samples'
    * byte ranges are copied and decoded, so cost scales with keyframe
    * count, not duration — the per-file economy that matters when
    * hour-long files appear at 100 TB. Same per-row, shuffle-free
    * execution as [[videoFrames]]. `maxFrames` caps the KEYFRAME count
    * (the number of decodes one task performs for one video): a
    * sparse-`stss` hour-long file passes untouched, while the degenerate
    * shapes where this path silently becomes the full walk — absent
    * `stss`, or an all-intra `stss` listing every sample — FAIL at the
    * cap (quarantine in [[mp4KeyframesLenient]]) instead of decoding
    * unbounded inside one task.
    */
  def mp4Keyframes(df: DataFrame, idCol: String, contentCol: String,
                   maxFrames: Int = Int.MaxValue): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, FrameFields)(
      bytes => frameFacts(mp4KeyframePayloads(bytes, maxFrames)))

  /** [[mp4Keyframes]] for DIRTY corpora — the keyframe twin of
    * [[videoFramesLenient]]: a malformed container, a rotten keyframe
    * payload or the `maxFrames` keyframe-count cap (the
    * no-`stss`/all-intra degenerate shapes) quarantines the video as ONE
    * `frame_ok=false` row under the [[graft.core.RowDecode]] quarantine
    * policy.
    */
  def mp4KeyframesLenient(df: DataFrame, idCol: String, contentCol: String,
                          maxFrames: Int = Int.MaxValue): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 1, FrameLenientFields)(
      bytes => frameFacts(mp4KeyframePayloads(bytes, maxFrames)))

  /** Scene table from an MP4's OWN sync-sample declaration — the
    * `stss`/fragment-start analogue of [[videoScenes]], which must first
    * decode EVERY frame ([[videoFrames]]) and diff dHash distances to
    * find cuts. Here each sync sample IS a scene start, so the table
    * comes straight off the keyframe walk: one row per sync sample,
    * (idCol, scene_idx = rank of the sync sample within its video,
    * start_frame_idx = its 0-based sample index, width, height, dhash of
    * the scene's representative frame). Fills [[videoScenes]]' slot in a
    * keyframe-sampling pipeline (`scenes → representative hashes →
    * [[videoNearPairs]]`) at keyframe-decode cost — no full decode, no
    * shuffle, no per-video frame table. Config op `mp4Scenes`.
    * `maxFrames` caps the keyframe (= scene) count exactly as in
    * [[mp4Keyframes]] — the guard against the no-`stss`/all-intra shapes
    * where every sample is sync and "scene sampling" degenerates to a
    * full unbounded decode.
    */
  def mp4Scenes(df: DataFrame, idCol: String, contentCol: String,
                maxFrames: Int = Int.MaxValue): DataFrame =
    RowDecode.strict(df, idCol, contentCol, keep = 1, SceneFields)(
      sceneFacts(maxFrames))

  /** Fact columns of [[mp4Scenes]]: the scene rank, then the frame facts
    * of its sync sample.
    */
  private val SceneFields = StructField("scene_idx", IntegerType, nullable = false) +:
    StructField("start_frame_idx", IntegerType, nullable = false) +: FrameFields.tail

  private def sceneFacts(maxFrames: Int)(bytes: Array[Byte]): Iterator[Seq[Any]] =
    mp4KeyframePayloads(bytes, maxFrames).iterator.zipWithIndex.map {
      case ((frameIdx, payload), sceneIdx) => sceneIdx +: frameFact(frameIdx, payload)
    }

  /** [[mp4Scenes]] for DIRTY corpora — the scene-table sibling of
    * [[mp4KeyframesLenient]], same one-row-per-failed-video quarantine
    * (the `maxFrames` keyframe-count cap included) under the
    * [[graft.core.RowDecode]] policy.
    */
  def mp4ScenesLenient(df: DataFrame, idCol: String, contentCol: String,
                       maxFrames: Int = Int.MaxValue): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 1,
      RowDecode.flags("frame") ++ RowDecode.nullable(SceneFields))(sceneFacts(maxFrames))

  /** Admission-SIGNATURE decoder for the keyframe mode of
    * [[graft.streaming.Streams.ingestVideoDedup]] — output bit-compatible
    * with [[videoFramesLenient]] (frame_ok, frame_err, frame_idx, width,
    * height, dhash), but MP4 payloads contribute their SYNC-SAMPLE
    * dHashes ([[mp4KeyframePayloads]]) instead of every frame's: an
    * hour-long `stss`-carrying MP4 classifies on a few hundred keyframe
    * decodes where the full-frame decoder would hit the `maxFrames`
    * quarantine. `maxFrames` caps the DECODE count of whichever walk
    * runs — keyframes for MP4 (so the no-`stss`/all-intra degenerate
    * shapes still quarantine), full frames for AVI (which has no sync
    * declaration to sample from). frame_idx is the 0-based SAMPLE index,
    * so MP4 keyframe signatures are a strict SUBSET of what
    * [[videoFramesLenient]] would emit for the same payload — the recall
    * consequence is documented on the ingest's `admit` parameter.
    */
  def videoKeySigsLenient(df: DataFrame, idCol: String, contentCol: String,
                          maxFrames: Int = Int.MaxValue): DataFrame =
    RowDecode.lenient(df, idCol, contentCol, keep = 1, FrameLenientFields) { bytes =>
      frameFacts(
        if (sniffMime(bytes) == "video/mp4") mp4KeyframePayloads(bytes, maxFrames)
        else allFrames(bytes, maxFrames))
    }

  /** Deterministic WAV fixtures, one per input row: 16-bit PCM at
    * (`rateCol`, `channelsCol`, `framesCol`) with sample j =
    * `(id·7 + j·13) mod 256 − 128` (content is irrelevant to header
    * decode; it just has to be real frames). Output (idCol, content).
    */
  def genWavs(df: DataFrame, idCol: String, rateCol: String,
              channelsCol: String, framesCol: String): DataFrame =
    RowDecode.generate(df, idCol, col(idCol).cast("long"), col(rateCol).cast("int"),
      col(channelsCol).cast("int"), col(framesCol).cast("int")) { r =>
      val id = r.getLong(0); val ch = r.getInt(2)
      val samples = Array.tabulate[Short](r.getInt(3) * ch)(j =>
        ((id * 7 + j * 13) % 256 - 128).toShort)
      encodeWav(r.getInt(1), ch, samples)
    }
}
