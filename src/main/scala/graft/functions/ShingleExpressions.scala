package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingle kernels as native codegen'd Catalyst expressions
  * (the [[WinnowFingerprints]] / [[SimHash64Text]] pattern): one pass over
  * the string's bytes tokenizes it, and every shingle is hashed once.
  *
  * Why native: the same semantics composed from built-in functions
  * (`TextFunctions.tokens` → shingles → per-seed `xxhash64`) run on
  * `transform`, which is CodegenFallback — interpreted per element, and
  * the enclosing projection drops out of WholeStageCodegen. The kernels
  * are bit-identical to those compositions, which the specs keep as the
  * reference they are checked against.
  */
object Shingles {

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Byte ranges of a text's tokens: token t spans `[start(t), end(t))`. */
  private final class Tokens {
    private var bounds = new Array[Int](128)
    var count = 0
    def start(t: Int): Int = bounds(2 * t)
    def end(t: Int): Int = bounds(2 * t + 1)
    def add(start: Int, end: Int): Unit = {
      if (2 * count + 2 > bounds.length)
        bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
      bounds(2 * count) = start
      bounds(2 * count + 1) = end
      count += 1
    }
  }

  /** Tokens of `s` exactly as `TextFunctions.tokens` splits them: `trim`
    * strips ASCII spaces (0x20) only, empty → no tokens, otherwise Java's
    * `split("\\s+", -1)`, which keeps an empty leading token when the
    * trimmed text starts with another whitespace byte and an empty trailing
    * one when it ends with one. Bytewise scanning is exact: `\s` is
    * ASCII-only and UTF-8 continuation bytes are ≥ 0x80.
    */
  private def tokenize(s: UTF8String): Tokens = {
    val out = new Tokens
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var a = 0
    var b = s.numBytes()
    while (a < b && Platform.getByte(base, off + a) == ' ') a += 1
    while (b > a && Platform.getByte(base, off + b - 1) == ' ') b -= 1
    if (a == b) return out
    var start = a
    var i = a
    while (i < b) {
      if (isSpace(Platform.getByte(base, off + i))) {
        out.add(start, i)
        while (i < b && isSpace(Platform.getByte(base, off + i))) i += 1
        start = i
      } else i += 1
    }
    out.add(start, b)
    out
  }

  /** `Dedup.minhashSignature`: for each seed h in [0, k), the minimum of
    * Spark's `xxhash64(shingle, h)` over the word n-gram shingles (tokens
    * joined by one space), or `xxhash64(text, h)` when the text has fewer
    * than `n` tokens. `xxhash64(x, h)` chains from seed 42 —
    * `hashInt(h, hashBytes(x, 42))` — so each shingle's bytes are hashed
    * once and the k values are derived from that base hash. A null text
    * hashes as Spark's `xxhash64(null, h)` does: `hashInt(h, 42)`.
    */
  def minhash(s: UTF8String, n: Int, k: Int): Array[Long] = {
    val sig = new Array[Long](k)
    val tok = if (s == null) null else tokenize(s)
    val t = if (tok == null) 0 else tok.count
    if (t < n) {
      val base = if (s == null) 42L
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      var h = 0
      while (h < k) { sig(h) = XXH64.hashInt(h, base); h += 1 }
      return sig
    }
    java.util.Arrays.fill(sig, Long.MaxValue)
    val src = s.getBaseObject
    val off = s.getBaseOffset
    var buf = new Array[Byte](64)
    var i = 0
    while (i + n <= t) {
      // the shingle string: tokens i..i+n-1 joined by single spaces
      var len = 0
      var j = i
      while (j < i + n) {
        val st = tok.start(j)
        val tl = tok.end(j) - st
        val need = len + tl + 1
        if (need > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
        if (j > i) { buf(len) = ' '; len += 1 }
        Platform.copyMemory(src, off + st, buf, Platform.BYTE_ARRAY_OFFSET + len, tl)
        len += tl
        j += 1
      }
      val base = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      var h = 0
      while (h < k) {
        val v = XXH64.hashInt(h, base)
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** `TextFunctions.wordShingleHashes`: per-word `xxhash64(word)`, then for
    * each word n-gram `xxhash64(h_i, …, h_{i+n-1})` — the long hashes
    * chained from seed 42 — in document order, duplicates kept. Empty when
    * the text has fewer than `n` tokens.
    */
  def shingleHashes(s: UTF8String, n: Int): Array[Long] = {
    val tok = tokenize(s)
    val t = tok.count
    if (t < n) return Array.emptyLongArray
    val src = s.getBaseObject
    val off = s.getBaseOffset
    val words = new Array[Long](t)
    var j = 0
    while (j < t) {
      val st = tok.start(j)
      words(j) = XXH64.hashUnsafeBytes(src, off + st, tok.end(j) - st, 42L)
      j += 1
    }
    val out = new Array[Long](t - n + 1)
    var i = 0
    while (i < out.length) {
      var h = 42L
      j = i
      while (j < i + n) { h = XXH64.hashLong(words(j), h); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  private[functions] def checkString(child: Expression, name: String): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name needs string, got ${other.simpleString(10)}")
    }
}

/** MinHash signature of a text column: `k` seeded minima over word
  * `n`-gram shingles (see [[Shingles.minhash]]). Never null: a null or
  * short text gets the fallback hashes.
  */
case class MinHashSignature(child: Expression, n: Int, k: Int) extends UnaryExpression {

  require(n >= 1 && k >= 1, "minhash signature needs n >= 1, k >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    Shingles.checkString(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_signature"

  override def eval(input: InternalRow): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Shingles.minhash(child.eval(input).asInstanceOf[UTF8String], n, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      |    graft.functions.Shingles.minhash(${c.isNull} ? null : ${c.value}, $n, $k));
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Word `n`-gram shingle hashes of a text column, in document order (see
  * [[Shingles.shingleHashes]]). Null text → null.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle hashes need n >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    Shingles.checkString(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Shingles.shingleHashes(input.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
         |    graft.functions.Shingles.shingleHashes($s, $n));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}
