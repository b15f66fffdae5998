package graft.fpm

import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** ScalaCheck property tests (SURVEY.md §5): FP-tree vs brute force over
  * generated transaction sets, group-assignment invariants, hash parity. */
class FpmPropertiesSpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(60)

  private def check(name: String)(prop: org.scalacheck.Prop): Unit = {
    val r = SCTest.check(params, prop)
    assert(r.passed, s"$name: $r")
  }

  private def bruteForce(txns: Seq[Seq[Int]], minCount: Long): Map[List[Int], Long] = {
    val counts = mutable.Map.empty[List[Int], Long]
    txns.foreach { t =>
      val items = t.distinct.sorted.toList
      (1 to items.length).foreach { k =>
        items.combinations(k).foreach { s =>
          counts(s) = counts.getOrElse(s, 0L) + 1L
        }
      }
    }
    counts.filter(_._2 >= minCount).toMap
  }

  private val txnsGen: Gen[List[List[Int]]] = for {
    numItems <- Gen.choose(1, 9)
    n <- Gen.choose(1, 40)
    txns <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.choose(0, numItems - 1)))
  } yield txns

  test("FPTree.extract == brute-force subset counting (generated)") {
    check("fp-vs-brute")(forAll(txnsGen, Gen.choose(1, 5)) { (txns, mc) =>
      val tree = new FPTree
      txns.foreach(t => tree.add(t.distinct.sorted.toArray))
      val got = tree.extract(mc.toLong).map { case (p, c) => p.toList -> c }.toMap
      got == bruteForce(txns, mc.toLong)
    })
  }

  test("owner-gated extraction is a disjoint exact cover (generated)") {
    check("exactly-once")(forAll(txnsGen, Gen.choose(1, 6)) { (txns, groups) =>
      val numItems = txns.flatten.foldLeft(0)(math.max) + 1
      val groupOf = ItemGroups.balanced(groups, numItems)
      val tree = new FPTree
      txns.foreach(t => tree.add(t.distinct.sorted.toArray))
      val all = tree.extract(2L).map { case (p, c) => p.toList -> c }.toMap
      val parts = (0 until groups).map { g =>
        tree.extract(2L, r => groupOf(r) == g).map { case (p, c) => p.toList -> c }.toMap
      }
      parts.map(_.size).sum == all.size && parts.fold(Map.empty)(_ ++ _) == all
    })
  }

  test("balanced assignment: total, in-range, deterministic, bounded (generated)") {
    check("balanced")(forAll(Gen.choose(1, 32), Gen.choose(0, 500)) { (g, n) =>
      val a = ItemGroups.balanced(g, n)
      val b = ItemGroups.balanced(g, n)
      a.length == n &&
        a.forall(x => x >= 0 && x < g) &&
        a.sameElements(b) &&
        (n < g * 4 || ItemGroups.loadImbalance(a, g) <= 4.0 / 3.0 + 1e-9)
    })
  }

  test("rolling hash: reference impl is associative-free and stable (generated)") {
    check("rk")(forAll(Gen.asciiPrintableStr) { s =>
      graft.functions.RollingHash.hashString(s) ==
        graft.functions.RollingHash.hashBytes(
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    })
  }

  test("condTransactions: one emission per touched group, prefixes nested (generated)") {
    check("condtxn")(forAll(txnsGen, Gen.choose(1, 5)) { (txns, groups) =>
      val numItems = txns.flatten.foldLeft(0)(math.max) + 1
      val rankOf = (0 until numItems).map(i => i.toString -> i).toMap
      val rankMap = new java.util.HashMap[String, Integer]
      rankOf.foreach { case (i, r) => rankMap.put(i, r) }
      val groupOf = ItemGroups.hashed(groups, numItems)
      txns.forall { t =>
        val txn = t.distinct.map(_.toString)
        val out = FPGrowth.condTransactions[Array[String], String](
          Iterator.single(txn.toArray), _.length, _(_), rankMap, groupOf).toList
        val targets = out.map(_._1)
        // one entry per distinct group among the txn's items
        targets.distinct == targets &&
          targets.toSet == txn.map(i => groupOf(rankOf(i))).toSet &&
          // each emitted prefix ends at an item owned by its target group
          out.forall { case (g, ranks) => groupOf(ranks.last) == g } &&
          // prefixes are nested (each is a prefix of the full sorted txn)
          out.forall { case (_, ranks) =>
            ranks.sameElements(txn.map(rankOf).sorted.take(ranks.length))
          }
      }
    })
  }
}
