package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/**
 * Quest-style synthetic baskets (Agrawal & Srikant 1994, the IBM Quest
 * generator behind the T10I4D100K family), in the T10I4 shape over
 * `NItems` items. A pool of `NPatterns` potentially-frequent itemsets is
 * drawn first: pattern sizes are Poisson around `AvgPatLen`, each pattern re-uses an exponentially
 * distributed fraction of its predecessor's items (the correlation
 * level, 0.5), carries an exponential(1) weight and a corruption level
 * ~ N(0.5, 0.1). A transaction draws its size from Poisson(`AvgTxLen`)
 * and fills it with weighted patterns, each corrupted by dropping items
 * while a uniform draw stays under its corruption level; a pattern that
 * overflows the transaction is added anyway half of the time and
 * otherwise carried to the next transaction.
 *
 * The pattern pool is drawn from `Model` and the transactions from
 * `seed`, each from its own `SplittableRandom` in a fixed order: a seed
 * fixes the output byte for byte, and different seeds sample different
 * baskets from the same model, so the mined shape (frequent items,
 * itemsets, rules) stays put from seed to seed.
 */
final class QuestGen(seed: Long) {
  import QuestGen._

  private var rnd = new SplittableRandom(Model)

  private def poisson(mean: Double): Int = {
    val l = math.exp(-mean)
    var k = 0
    var p = rnd.nextDouble()
    while (p > l) { k += 1; p *= rnd.nextDouble() }
    k
  }
  private def exponential(mean: Double): Double = -mean * math.log(1.0 - rnd.nextDouble())
  private def gaussian(mu: Double, sigma: Double): Double = {
    // Box-Muller; one draw per call keeps the stream order simple
    val u = 1.0 - rnd.nextDouble()
    val v = rnd.nextDouble()
    mu + sigma * math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  private val patterns: Array[Array[Int]] = {
    var prev = Array.empty[Int]
    Array.fill(NPatterns) {
      val len = math.min(NItems, math.max(1, poisson(AvgPatLen - 1) + 1))
      val fromPrev = math.min(prev.length,
        math.round(math.min(1.0, exponential(0.5)) * len).toInt)
      val picked = mutable.LinkedHashSet.empty[Int]
      val shuffled = prev.clone()
      var i = shuffled.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
        i -= 1
      }
      shuffled.iterator.take(fromPrev).foreach(picked += _)
      while (picked.size < len) picked += rnd.nextInt(NItems)
      prev = picked.toArray
      prev
    }
  }
  private val cumWeight: Array[Double] = {
    val w = Array.fill(NPatterns)(exponential(1.0))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private val corruption: Array[Double] =
    Array.fill(NPatterns)(math.min(1.0, math.max(0.0, gaussian(0.5, 0.1))))

  rnd = new SplittableRandom(seed)
  private var carried: Array[Int] = null

  private def pickPattern(): Array[Int] = {
    val u = rnd.nextDouble()
    var i = java.util.Arrays.binarySearch(cumWeight, u)
    if (i < 0) i = -i - 1
    val p = math.min(i, NPatterns - 1)
    val kept = mutable.ArrayBuffer.from(patterns(p))
    while (kept.nonEmpty && rnd.nextDouble() < corruption(p))
      kept.remove(rnd.nextInt(kept.size))
    kept.toArray
  }

  /** Next transaction: distinct item ids, ascending. */
  def next(): Array[Int] = {
    val size = math.max(1, poisson(AvgTxLen))
    val txn = mutable.BitSet.empty
    var done = false
    var draws = 0
    while (!done && txn.size < size && draws < 1000) {
      draws += 1
      val pat = if (carried != null) { val c = carried; carried = null; c } else pickPattern()
      if (pat.isEmpty) ()
      else if (txn.nonEmpty && txn.size + pat.length > size && rnd.nextBoolean()) {
        carried = pat
        done = true
      } else pat.foreach(txn += _)
    }
    txn.toArray
  }
}

object QuestGen {
  /** Item ids are 0 until `NItems`. */
  val NItems = 1000
  /** The fixed Quest model (pattern pool) every seed samples from. */
  private val Model = 1994L
  private val NPatterns = 2000
  private val AvgTxLen = 10.0
  private val AvgPatLen = 4.0

  def itemName(id: Int): String = "i" + id

  /** `n` transactions in the reference text format: one per line,
    * items single-space-separated. */
  def text(gen: QuestGen, n: Int): (Array[Byte], Long, Int) = {
    val sb = new java.lang.StringBuilder(n * 64)
    var items = 0L
    val seen = mutable.BitSet.empty
    var t = 0
    while (t < n) {
      val txn = gen.next()
      var i = 0
      while (i < txn.length) {
        if (i > 0) sb.append(' ')
        sb.append(itemName(txn(i)))
        seen += txn(i)
        i += 1
      }
      sb.append('\n')
      items += txn.length
      t += 1
    }
    (sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), items, seen.size)
  }
}

/**
 * TPC-H-shaped order/part tables for the order -> brand baskets
 * (`lineitem(l_orderkey, l_partkey)`, `part(p_partkey, p_brand)`):
 * `nOrders` order keys of which a seeded ~90% are kept, 1 + Poisson(3)
 * lines per kept order (mean ~4, as in TPC-H), part keys uniform over
 * `nParts`, and `Brands` brands `Brand#1`..`Brand#25` assigned uniformly
 * per part. Every value is a pure function of (seed, key), so the tables
 * are the same whatever the partitioning that generates them.
 */
final case class BrandGen(seed: Long, nOrders: Int, nParts: Int) {
  private def rng(salt: Long, key: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt << 56) ^ key)

  def brandOf(part: Long): String = "Brand#" + (1 + rng(1, part).nextInt(BrandGen.Brands))

  /** Part keys of order `o`'s lines; empty when the order is not kept. */
  def linesOf(o: Long): Array[Long] = {
    val r = rng(2, o)
    if (r.nextDouble() >= 0.9) Array.empty
    else {
      val l = math.exp(-3.0)
      var k = 0
      var p = r.nextDouble()
      while (p > l) { k += 1; p *= r.nextDouble() }
      Array.fill(1 + k)(r.nextInt(nParts).toLong)
    }
  }

  /** The order's basket: distinct brands, sorted. */
  def basketOf(o: Long): Array[String] = linesOf(o).map(brandOf).distinct.sorted
}

object BrandGen {
  val Brands = 25
}
