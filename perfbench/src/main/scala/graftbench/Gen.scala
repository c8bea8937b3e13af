package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Seeded generators with known answers. Every input the program sees is
  * made here from the workload seed; the expected outputs are derived from
  * the same model, never from the program under test.
  */
object Gen {
  /** SplitMix64 finalizer: a stateless hash of (seed, a, b). */
  def mix(seed: Long, a: Long, b: Long = 0L): Long = {
    var z = seed + a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): SplittableRandom = new SplittableRandom(mix(seed, stream, 77L))

  /** Spark's `xxhash64` over a row, chained column by column from seed 42
    * exactly as Catalyst does, so the benchmark can predict the content
    * hash the program's output must have.
    */
  final class RowHash {
    private var h = 42L
    def long(v: Long): RowHash = { h = XXH64.hashLong(v, h); this }
    def int(v: Int): RowHash = { h = XXH64.hashInt(v, h); this }
    def str(v: String): RowHash = {
      val u = UTF8String.fromString(v)
      h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
      this
    }
    def value: Long = h
  }
}

/** Order rows for `etl_sync`. A row's content is a pure function of
  * (seed, order id, version, day), so the expected target is a small map
  * of the ids a round changed.
  */
final case class Order(order_id: Long, customer_id: Long, sku: String, qty: Int,
                       amount_cents: Long, status: String, version: Long,
                       channel: String, coupon: String, day: Int)

object Orders {
  val Days = 120
  private val Statuses = Array("new", "paid", "packed", "shipped", "delivered", "returned")
  private val Channels = Array("web", "app", "store", "partner")

  def row(seed: Long, id: Long, version: Long, day: Int): Order = {
    val a = Gen.mix(seed, id, 1L)
    val b = Gen.mix(seed, id, version + 1000L)
    val qty = 1 + (math.abs(b % 9)).toInt
    val price = 199L + math.abs(a % 40000L)
    val coupon = if ((b & 7L) == 0L) "C" + pad(math.abs(b >> 8) % 1000, 3) else ""
    Order(id, math.abs(a >> 7) % 200000L, "SKU-" + pad(math.abs(a >> 21) % 5000, 4), qty,
      qty * price + version * 13L, Statuses((version % Statuses.length).toInt),
      version, Channels(math.abs((a >> 40) % Channels.length).toInt), coupon, day)
  }

  private def pad(v: Long, width: Int): String = {
    val s = v.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  def hash(o: Order): Long =
    new Gen.RowHash().long(o.order_id).long(o.customer_id).str(o.sku).int(o.qty)
      .long(o.amount_cents).str(o.status).long(o.version).str(o.channel)
      .str(o.coupon).int(o.day).value

  val CsvHeader = "oid,cust,sku,qty,amount,status,ver,day,props"

  /** One delta line: plain CSV fields plus a quoted JSON `props` column. */
  def csv(o: Order): String = {
    val props = s"""{""channel"":""${o.channel}"",""coupon"":""${o.coupon}""}"""
    s"${o.order_id},${o.customer_id},${o.sku},${o.qty},${o.amount_cents}," +
      s"""${o.status},${o.version},${o.day},"$props""""
  }

  /** Recent days are favoured: P(day = last - k) ∝ 0.75^k. */
  def recentDay(r: SplittableRandom): Int = {
    var k = 0
    while (k < Days - 1 && r.nextDouble() < 0.75) k += 1
    Days - 1 - k
  }
}

/** Synthetic text for the curation workloads. A large, near-uniform
  * vocabulary keeps unrelated documents far apart in shingle space, so the
  * only near duplicates are the planted ones and no LSH bucket is hot.
  */
object Text {
  val Vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "in", "ep",
      "ra", "no", "shi", "gal", "te", "mo", "fin", "ul", "bra", "ze", "qua", "pe",
      "ti", "os", "han", "ve", "lu", "cor", "di", "am")
    val r = new SplittableRandom(20261017L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 8000) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    seen.toArray
  }

  def word(r: SplittableRandom): String = Vocab(r.nextInt(Vocab.length))

  /** A clean document of `n` words in sentences of 8-16 words. */
  def doc(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var left = 8 + r.nextInt(9)
    var i = 0
    while (i < n) {
      if (i > 0) sb += ' '
      sb ++= word(r)
      left -= 1
      if (left == 0 || i == n - 1) { sb += '.'; left = 8 + r.nextInt(9) }
      i += 1
    }
    sb.toString
  }

  /** Markup and control-character noise that `cleanText` removes exactly:
    * every insertion sits between spaces, so the cleaned text is `clean`.
    */
  def noisy(r: SplittableRandom, clean: String): String = {
    val ws = clean.split(' ')
    val sb = new StringBuilder
    ws.indices.foreach { i =>
      if (i > 0) {
        r.nextInt(12) match {
          case 0 => sb ++= " <b> "
          case 1 => sb ++= "  "
          case 2 => sb ++= " \u0007 "
          case 3 => sb ++= " </p>\n<p> "
          case _ => sb += ' '
        }
      }
      sb ++= ws(i)
    }
    if (r.nextBoolean()) s"<p>${sb.toString}</p>" else sb.toString
  }

  /** A near copy: the same words plus one appended word (word-3-shingle
    * Jaccard S/(S+1) ≥ 0.99 at the document lengths used here).
    */
  def nearCopy(r: SplittableRandom, clean: String): String = clean + " " + word(r) + "."

  /** Too short for the quality gate (quality ≤ ~300 per mille). */
  def lowQuality(r: SplittableRandom): String = doc(r, 12 + r.nextInt(18))

  def docLength(r: SplittableRandom): Int = 200 + r.nextInt(100)
}

/** Clustered 64-dim vectors with planted neighbours for `index_append`. */
object Vecs {
  val Dim = 64
  val Centers = 48

  final class Space(seed: Long) {
    private val r = Gen.rng(seed, 900L)
    val centers: Array[Array[Double]] =
      Array.fill(Centers)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
    def around(rr: SplittableRandom, c: Array[Double], spread: Double): Array[Float] =
      c.map(x => (x + gauss(rr) * spread).toFloat)
    def fresh(rr: SplittableRandom): Array[Float] = around(rr, centers(rr.nextInt(Centers)), 0.35)
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Exact top-k ids by squared L2 over the indexed vectors. */
  def bruteTopK(ids: Array[Long], vs: Array[Array[Float]], q: Array[Float], k: Int): Set[Long] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < vs.length) {
      val v = vs(i)
      var s = 0.0
      var j = 0
      while (j < Dim) { val d = v(j) - q(j); s += d * d; j += 1 }
      if (heap.size < k) heap.enqueue((s, ids(i)))
      else if (s < heap.head._1) { heap.dequeue(); heap.enqueue((s, ids(i))) }
      i += 1
    }
    heap.iterator.map(_._2).toSet
  }
}
