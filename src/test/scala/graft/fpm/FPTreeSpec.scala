package graft.fpm

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/**
 * FP-tree unit tests against brute force on the textbook fixture
 * (`/root/reference/datas/train.txt`, FIXTURES.md §1) and randomized
 * transaction sets: unit and weighted adds, sparse high ranks, and a tree
 * large enough that its arrays and child index grow several times.
 */
class FPTreeSpec extends AnyFunSuite {

  /** All frequent itemsets by naive subset counting. */
  private def bruteForce(
      txns: Seq[Array[Int]], minCount: Long): Map[List[Int], Long] = {
    val counts = mutable.Map.empty[List[Int], Long]
    txns.foreach { t =>
      val items = t.distinct.sorted.toList
      def subsets(l: List[Int]): List[List[Int]] = l match {
        case Nil => List(Nil)
        case h :: rest => subsets(rest).flatMap(s => List(s, h :: s))
      }
      subsets(items).filter(_.nonEmpty).foreach { s =>
        counts(s) = counts.getOrElse(s, 0L) + 1L
      }
    }
    counts.filter(_._2 >= minCount).toMap
  }

  private def mine(txns: Seq[Array[Int]], minCount: Long): Map[List[Int], Long] = {
    val tree = new FPTree
    txns.foreach(t => tree.add(t.distinct.sorted))
    tree.extract(minCount).map { case (arr, c) => arr.toList -> c }.toMap
  }

  // train.txt with I1..I5 -> ranks by descending frequency:
  // I2(4)->0, I1(3)->1, I3(2)->2, I4(2)->3, I5(2)->4 (ties broken by name).
  private val train: Seq[Array[Int]] = Seq(
    Array(0, 1, 4), // I1 I2 I5
    Array(0, 3),    // I2 I4
    Array(0, 2),    // I2 I3
    Array(1, 2),    // I1 I3
    Array(0, 1, 3, 4)) // I4 I2 I5 I1

  test("textbook fixture at minCount=2 matches the golden expectations") {
    val got = mine(train, 2L)
    val expected = Map(
      List(0) -> 4L, List(1) -> 3L, List(2) -> 2L, List(3) -> 2L, List(4) -> 2L,
      List(0, 1) -> 2L, List(1, 4) -> 2L, List(0, 4) -> 2L, List(0, 3) -> 2L,
      List(0, 1, 4) -> 2L)
    assert(got == expected)
  }

  test("matches brute force on random transaction sets") {
    // Unit weights, then weighted adds (the path conditional trees take):
    // a transaction added with count c counts as c copies of itself.
    for ((weighted, seed) <- Seq(false -> 42, true -> 7)) {
      val rng = new scala.util.Random(seed)
      for (trial <- 1 to 20) {
        val numItems = 2 + rng.nextInt(8)
        val txns = Seq.fill(5 + rng.nextInt(40)) {
          Array.fill(1 + rng.nextInt(numItems))(rng.nextInt(numItems)).distinct.sorted ->
            (if (weighted) 1L + rng.nextInt(5) else 1L)
        }
        val minCount = 1L + rng.nextInt(if (weighted) 10 else 4)
        val tree = new FPTree
        txns.foreach { case (t, c) => tree.add(t, c) }
        val got = tree.extract(minCount).map { case (p, c) => p.toList -> c }.toMap
        val copies = txns.flatMap { case (t, c) => Seq.fill(c.toInt)(t) }
        assert(got == bruteForce(copies, minCount),
          s"weighted $weighted trial $trial minCount $minCount")
      }
    }
    // Sparse high ranks: the dense per-item arrays grow to the largest rank.
    val ranks = Array(0, 7, 1000, 250000, 1000000)
    val rng = new scala.util.Random(5)
    for (trial <- 1 to 4) {
      val txns = Seq.fill(30)(ranks.filter(_ => rng.nextBoolean())).filter(_.nonEmpty)
      val minCount = 1L + rng.nextInt(3)
      assert(mine(txns, minCount) == bruteForce(txns, minCount),
        s"sparse trial $trial minCount $minCount")
    }
  }

  test("validateSuffix partitions the pattern set exactly once") {
    // A small tree, and one of 3,000 transactions over 60 items whose
    // arrays and child index grow several times.
    for ((numGroups, numItems, numTxns, minCount, seed) <-
           Seq((3, 8, 80, 2L, 11), (4, 60, 3000, 3L, 3))) {
      val groupOf = ItemGroups.balanced(numGroups, numItems)
      val rng = new scala.util.Random(seed)
      val txns = Seq.fill(numTxns)(
        Array.fill(1 + rng.nextInt(6))(rng.nextInt(numItems)).distinct.sorted)
      val tree = new FPTree
      txns.foreach(tree.add(_))
      val all = tree.extract(minCount).map { case (p, c) => p.toList -> c }.toMap
      assert(all == bruteForce(txns, minCount), s"$numTxns transactions")
      // In the real pipeline each group's tree sees only its cond-transactions;
      // here the gate alone must already partition patterns disjointly, keyed
      // by the largest-rank (last) item.
      val perGroup = (0 until numGroups).map { g =>
        tree.extract(minCount, r => groupOf(r) == g).map { case (p, c) => p.toList -> c }.toMap
      }
      assert(perGroup.map(_.size).sum == all.size)
      assert(perGroup.reduce(_ ++ _) == all)
      perGroup.zipWithIndex.foreach { case (m, g) =>
        m.keys.foreach(p => assert(groupOf(p.last) == g))
      }
    }
  }
}
