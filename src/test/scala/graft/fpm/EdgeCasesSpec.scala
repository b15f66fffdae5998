package graft.fpm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate inputs: empty data, extreme supports, all-infrequent items. */
class EdgeCasesSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("edge-spec")
    .getOrCreate()

  import org.apache.spark.sql.functions._

  private def df(txns: Seq[Seq[String]]) = {
    import spark.implicits._
    txns.toDF("items")
  }

  test("empty input yields empty itemsets and rules") {
    val m = new FPGrowth().setMinSupport(0.5).fit(df(Nil))
    assert(m.freqItemsets.count() == 0)
    assert(m.associationRules.count() == 0)
    assert(m.numTransactions == 0)
  }

  test("minSupport = 1.0 keeps only universal items") {
    val m = new FPGrowth().setMinSupport(1.0)
      .fit(df(Seq(Seq("a", "b"), Seq("a", "c"), Seq("a"))))
    import spark.implicits._
    val got = m.freqItemsets.as[(Seq[String], Long)].collect()
      .map { case (i, f) => i.toSet -> f }.toMap
    assert(got == Map(Set("a") -> 3L))
  }

  test("all items below support: no itemsets, transform still works") {
    val data = df(Seq(Seq("a"), Seq("b"), Seq("c"), Seq("d")))
    val m = new FPGrowth().setMinSupport(0.9).fit(data)
    assert(m.freqItemsets.count() == 0)
    val out = m.transform(data).select(col("prediction")).collect()
    assert(out.forall(_.getString(0) == ""))
  }

  test("null transactions are filtered, not fatal") {
    import spark.implicits._
    val data = Seq(Some(Seq("a", "b")), None, Some(Seq("a"))).toDF("items")
    val m = new FPGrowth().setMinSupport(0.5).fit(data)
    assert(m.numTransactions == 2) // null row dropped before counting
    assert(m.itemSupport("a") == 1.0)

    // a null element is an ordinary item, frequent or not
    def bruteForce(txns: Seq[Seq[String]], minCount: Long): Map[Set[String], Long] =
      txns.flatMap(_.toSet.subsets().filter(_.nonEmpty)).groupBy(identity)
        .map { case (s, occ) => s -> occ.size.toLong }.filter(_._2 >= minCount)
    val frequentNull = Seq(Seq("a", null), Seq(null, "b"), Seq("a", "b", null), Seq("a"))
    val rareNull = Seq(Seq("a", "b"), Seq("a", null), Seq("a", "b"))
    for (txns <- Seq(frequentNull, rareNull)) {
      val withNulls = (txns.map(Option(_)) :+ None).toDF("items")
      val got = new FPGrowth().setMinSupport(0.5).fit(withNulls)
        .freqItemsets.as[(Seq[String], Long)].collect()
        .map { case (i, f) => i.toSet -> f }.toMap
      val minCount = math.ceil(0.5 * txns.size).toLong
      assert(got == bruteForce(txns, minCount), txns)
      assert(got.contains(Set[String](null)) == (txns.count(_.contains(null)) >= minCount))
    }
  }

  test("single transaction, numPartitions larger than items") {
    val m = new FPGrowth().setMinSupport(0.5).setNumPartitions(64)
      .fit(df(Seq(Seq("x", "y", "z"))))
    assert(m.freqItemsets.count() == 7) // all non-empty subsets of {x,y,z}
  }

  test("duplicate items are rejected even when the duplicate is infrequent") {
    // The reference validates the RAW transaction, before the frequency
    // filter: ["a","a","z"] must throw even though "a" (support 1/4) falls
    // under minSupport and would be filtered out of the mining path.
    val data = df(Seq(
      Seq("z", "y"), Seq("z", "y"), Seq("z", "y"), Seq("a", "a", "z")))
    // fit() materializes the mined itemsets, so the invariant fires there
    val e = intercept[org.apache.spark.SparkException] {
      new FPGrowth().setMinSupport(0.6).fit(data).freqItemsets.count()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("unique")), s"unexpected failure: $e")

    // a duplicated null is a duplicate too
    val nulls = df(Seq(Seq("z", "y"), Seq("z", "y"), Seq("z", "y"), Seq(null, null, "z")))
    val eNull = intercept[org.apache.spark.SparkException] {
      new FPGrowth().setMinSupport(0.6).fit(nulls).freqItemsets.count()
    }
    assert(chain(eNull).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("unique")), s"unexpected failure: $eNull")
  }

  test("Apriori on empty and degenerate inputs") {
    assert(new Apriori().setMinSupport(0.5).freqItemsets(df(Nil)).count() == 0)
    assert(new Apriori().setMinSupport(0.5).rules(df(Seq(Seq("a")))).count() == 0)
  }
}
