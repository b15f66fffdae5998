package graft.fpm

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/**
 * FP-tree unit tests against brute force on the textbook fixture
 * (`/root/reference/datas/train.txt`, FIXTURES.md §1) and randomized
 * transaction sets.
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
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val numItems = 2 + rng.nextInt(8)
      val txns = Seq.fill(5 + rng.nextInt(40)) {
        Array.fill(1 + rng.nextInt(numItems))(rng.nextInt(numItems)).distinct.sorted
      }
      val minCount = 1L + rng.nextInt(4)
      assert(mine(txns, minCount) == bruteForce(txns, minCount),
        s"trial $trial minCount $minCount")
    }
  }

  test("validateSuffix partitions the pattern set exactly once") {
    val numGroups = 3
    val groupOf = ItemGroups.balanced(numGroups, 8)
    val rng = new scala.util.Random(11)
    val txns = Seq.fill(80)(
      Array.fill(1 + rng.nextInt(6))(rng.nextInt(8)).distinct.sorted)
    val tree = new FPTree
    txns.foreach(tree.add(_))
    val all = tree.extract(2L).map { case (p, c) => p.toList -> c }.toMap
    // In the real pipeline each group's tree sees only its cond-transactions;
    // here the gate alone must already partition patterns disjointly, keyed
    // by the largest-rank (last) item.
    val perGroup = (0 until numGroups).map { g =>
      tree.extract(2L, r => groupOf(r) == g).map { case (p, c) => p.toList -> c }.toMap
    }
    assert(perGroup.map(_.size).sum == all.size)
    assert(perGroup.reduce(_ ++ _) == all)
    perGroup.zipWithIndex.foreach { case (m, g) =>
      m.keys.foreach(p => assert(groupOf(p.last) == g))
    }
  }
}
