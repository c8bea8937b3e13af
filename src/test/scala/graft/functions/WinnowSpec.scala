package graft.functions

import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.ext.Dedup

/** The SIGMOD'03 winnowing selection spelled out directly: the executable
  * specification the optimized deque form in [[WinnowFingerprints.winnow]]
  * is property-tested against. No query path calls it.
  */
object WinnowOracle {

  /** Rightmost minimum of each w-window by linear rescan, O(m·w). */
  def winnow(s: UTF8String, k: Int, w: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < k) return Array.empty
    val m = n - k + 1
    var pow = 1L
    var i = 1
    while (i < k) { pow *= WinnowFingerprints.Base; i += 1 }
    val hashes = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = h * WinnowFingerprints.Base + (bytes(i) & 0xff); i += 1 }
    hashes(0) = h
    i = 1
    while (i < m) {
      h = (h - (bytes(i - 1) & 0xff) * pow) * WinnowFingerprints.Base + (bytes(i + k - 1) & 0xff)
      hashes(i) = h
      i += 1
    }
    if (m <= w) {
      var min = hashes(0); var idx = 0
      i = 1
      while (i < m) { if (hashes(i) <= min) { min = hashes(i); idx = i }; i += 1 }
      return Array(hashes(idx))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lastIdx = -1
    var start = 0
    while (start + w <= m) {
      var min = hashes(start); var idx = start
      i = start + 1
      while (i < start + w) { if (hashes(i) <= min) { min = hashes(i); idx = i }; i += 1 }
      if (idx != lastIdx) { out += hashes(idx); lastIdx = idx }
      start += 1
    }
    out.toArray
  }
}

class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private def fp(s: String, k: Int = 25, w: Int = 16): Seq[Long] =
    WinnowFingerprints.winnow(UTF8String.fromString(s), k, w).toSeq

  test("winnowing is deterministic and shift-robust") {
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val a = fp("XXX " + passage)
    val b = fp("completely different prefix text here " + passage)
    assert(a == fp("XXX " + passage))                       // deterministic
    // a shared passage guarantees shared fingerprints regardless of offset
    assert(a.toSet.intersect(b.toSet).nonEmpty)
  }

  test("documents shorter than k yield no fingerprints; short docs yield one") {
    assert(fp("abc") == Seq.empty)                          // < k chars
    val one = fp("abcdefgh", k = 5, w = 10)                 // m=4 <= w
    assert(one.length == 1)
  }

  test("different documents do not share fingerprints") {
    val a = fp("aaaaaaaaaaaaaaaaaaaa").toSet
    val b = fp("zzzzzzzzzzzzzzzzzzzz").toSet
    assert(a.intersect(b).isEmpty)
  }

  test("winnowPairs finds documents sharing a copied passage") {
    val passage = "this exact paragraph was copied between the two documents verbatim"
    val docs = Seq(
      (1L, s"intro text one. $passage and a unique ending here"),
      (2L, s"other beginning entirely. $passage trailing words differ"),
      (3L, "unrelated document about spark catalyst expressions and planning"))
      .toDF("id", "text")
    val pairs = Dedup.winnowPairs(docs, "id", "text")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("deque sliding minimum selects identically to the reference rescan") {
    // randomized equivalence: the O(m) monotonic-deque winnow must pick the
    // EXACT fingerprint sequence of the O(m·w) rightmost-minimum rescan —
    // ties included (a small alphabet forces many equal k-gram hashes)
    val rnd = new scala.util.Random(42)
    val alphabets = Seq("ab", "abcd", "abcdefghij ")
    for (trial <- 0 until 200) {
      val alpha = alphabets(trial % alphabets.size)
      val len = rnd.nextInt(300)
      val s = UTF8String.fromString(
        Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString)
      val k = 2 + rnd.nextInt(8)
      val w = 1 + rnd.nextInt(20)
      val fast = WinnowFingerprints.winnow(s, k, w).toSeq
      val ref = WinnowOracle.winnow(s, k, w).toSeq
      assert(fast == ref, s"trial=$trial k=$k w=$w text='$s'")
    }
  }

  test("the expression runs inside whole-stage codegen") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Seq(Tuple1("some text")).toDF("t").repartition(2)
        .select(WinnowFingerprints.winnowCol($"t"))
        .queryExecution.executedPlan.toString()
      assert(plan.contains("*(1) Project"), s"plan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
