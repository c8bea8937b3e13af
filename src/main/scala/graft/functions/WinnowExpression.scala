package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
  * the MOSS algorithm): hash every `k`-gram of characters with a rolling
  * polynomial hash, slide a window of `w` consecutive hashes, keep the
  * rightmost minimum of each window, dedupe consecutive picks. The
  * selected hashes are a compact, *shift-robust* signature: any shared
  * substring of length ≥ w+k-1 between two documents is guaranteed to
  * contribute at least one common fingerprint.
  *
  * Native codegen'd expression (SURVEY.md §7.3 tier (b)) — a rolling hash
  * is inherently sequential per row and inexpressible with built-in
  * columnar functions at acceptable cost. One pass over the bytes, O(text)
  * time, O(w) ring buffer.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 2 && w >= 1, "winnow needs k >= 2, w >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"winnow needs string, got ${other.simpleString(10)}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      WinnowFingerprints.winnow(input.asInstanceOf[UTF8String], k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.WinnowFingerprints.winnow($s, $k, $w));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {

  private[functions] final val Base = 1000003L

  /** Selected fingerprint hashes in document order (consecutive duplicates
    * collapsed). Shared by interpreted eval and generated code.
    */
  def winnow(s: UTF8String, k: Int, w: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < k) return Array.empty
    val m = n - k + 1                       // number of k-grams
    // rolling polynomial hash over bytes
    var pow = 1L
    var i = 1
    while (i < k) { pow *= Base; i += 1 }
    val hashes = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + (bytes(i) & 0xff); i += 1 }
    hashes(0) = h
    i = 1
    while (i < m) {
      h = (h - (bytes(i - 1) & 0xff) * pow) * Base + (bytes(i + k - 1) & 0xff)
      hashes(i) = h
      i += 1
    }
    if (m <= w) {
      // document shorter than one window: keep its single minimum
      var min = hashes(0); var idx = 0
      i = 1
      while (i < m) { if (hashes(i) <= min) { min = hashes(i); idx = i }; i += 1 }
      return Array(hashes(idx))
    }
    // Monotonic-deque sliding minimum (r20, guide §1.2 step 2 — per-task
    // work): O(m) instead of the O(m·w) per-window rescan. Selection is
    // IDENTICAL to the old `<=` linear scan ("rightmost minimum"): pushing
    // index j pops every back entry with hashes ≥ hashes(j) — a strictly
    // greater value can never be a window minimum again once j is in the
    // window, and an EQUAL value loses to the later index by the rightmost
    // rule — so deque values are strictly increasing front-to-back and the
    // front is always the window's minimum at its rightmost occurrence
    // (WinnowSpec pins deque == reference on randomized inputs).
    val out = ArrayBuffer.empty[Long]
    var lastIdx = -1
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0                            // live window indices: [head, tail)
    i = 0
    while (i < m) {
      while (tail > head && hashes(dq(tail - 1)) >= hashes(i)) tail -= 1
      dq(tail) = i; tail += 1
      val start = i - w + 1                 // window [start, i] complete when start >= 0
      if (start >= 0) {
        if (dq(head) < start) head += 1     // at most one expiry per slide
        val idx = dq(head)
        if (idx != lastIdx) { out += hashes(idx); lastIdx = idx }
      }
      i += 1
    }
    out.toArray
  }

  def winnowCol(text: Column, k: Int = 25, w: Int = 16): Column =
    Bridge.column(WinnowFingerprints(Bridge.expression(text), k, w))
}
