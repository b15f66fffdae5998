package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

/**
 * Reference miner for the Quest workload: vertical Eclat (Zaki 2000) over
 * per-item transaction bitmaps, on the driver. It shares no code with the
 * engine's FP-Growth and, unlike MLlib's FP-Growth, finishes in seconds
 * at the workload's size, so every run can afford it.
 */
object Eclat {

  private def and(a: Array[Long], b: Array[Long]): Array[Long] = {
    val r = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { r(i) = a(i) & b(i); i += 1 }
    r
  }

  private def andCount(a: Array[Long], b: Array[Long]): Int = {
    var c = 0
    var i = 0
    while (i < a.length) { c += java.lang.Long.bitCount(a(i) & b(i)); i += 1 }
    c
  }

  /** Every itemset with support >= `minCount`: (item ids ascending, count). */
  def mine(txns: Array[Array[Int]], nItems: Int, minCount: Int): Seq[(Array[Int], Int)] = {
    val words = (txns.length + 63) / 64
    val bits = Array.fill(nItems)(new Array[Long](words))
    val counts = new Array[Int](nItems)
    var t = 0
    while (t < txns.length) {
      txns(t).foreach { i => bits(i)(t >> 6) |= 1L << (t & 63); counts(i) += 1 }
      t += 1
    }
    val frequent = (0 until nItems).filter(counts(_) >= minCount).map(i => (i, bits(i), counts(i))).toArray
    val out = new ConcurrentLinkedQueue[(Array[Int], Int)]()

    def extend(prefix: Array[Int], item: Int, bs: Array[Long], cnt: Int,
        rest: Array[(Int, Array[Long], Int)]): Unit = {
      val items = prefix :+ item
      out.add((items, cnt))
      val next = rest.flatMap { case (o, obs, _) =>
        val c = andCount(bs, obs)
        if (c >= minCount) Some((o, and(bs, obs), c)) else None
      }
      var k = 0
      while (k < next.length) {
        val (o, obs, c) = next(k)
        extend(items, o, obs, c, next.drop(k + 1))
        k += 1
      }
    }

    // each top-level item's subtree is independent: mine them in parallel
    java.util.stream.IntStream.range(0, frequent.length).parallel().forEach { i =>
      val (item, bs, cnt) = frequent(i)
      extend(Array.empty, item, bs, cnt, frequent.drop(i + 1))
    }
    out.toArray(Array.empty[(Array[Int], Int)]).toSeq
  }
}
