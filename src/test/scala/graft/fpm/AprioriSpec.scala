package graft.fpm

import graft.sources.TextTransactions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Apriori + RDD-compat core: differential vs the FP-Growth engine. */
class AprioriSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("apriori-spec")
    .getOrCreate()

  private def trainDF = TextTransactions.fromLines(spark,
    Seq("I1 I2 I5", "I2 I4", "I2 I3", "I1 I3", "I4 I2 I5 I1"))

  private def setsOf(df: org.apache.spark.sql.DataFrame): Map[Set[String], Long] = {
    import spark.implicits._
    df.selectExpr("items", "freq").as[(Seq[String], Long)].collect()
      .map { case (i, f) => i.toSet -> f }.toMap
  }

  test("Apriori itemsets == FP-Growth itemsets on the fixture") {
    val ap = new Apriori().setMinSupport(0.4).freqItemsets(trainDF)
    val fp = new FPGrowth().setMinSupport(0.4).fit(trainDF).freqItemsets
    assert(setsOf(ap) == setsOf(fp))
  }

  test("Apriori itemsets == FP-Growth on random baskets") {
    import spark.implicits._
    val rng = new scala.util.Random(77)
    val items = (0 until 9).map(i => s"x$i")
    val df = Seq.fill(200)(rng.shuffle(items).take(1 + rng.nextInt(5))).toDF("items")
    val ap = new Apriori().setMinSupport(0.1).freqItemsets(df)
    val fp = new FPGrowth().setMinSupport(0.1).fit(df).freqItemsets
    assert(setsOf(ap) == setsOf(fp))
  }

  test("Apriori 1=>1 rules carry confidence, standard and raw lift") {
    import spark.implicits._
    val rules = new Apriori().setMinSupport(0.4).setMinConfidence(0.5)
      .rules(trainDF)
      .as[(String, String, Double, Double, Double, Double)].collect()
    assert(rules.nonEmpty)
    rules.foreach { case (_, _, conf, lift, liftRaw, support) =>
      assert(conf >= 0.5 && conf <= 1.0)
      assert(support > 0 && support <= 1.0)
      // raw-count lift is the standard lift scaled down by n (5 transactions)
      assert(math.abs(liftRaw * 5 - lift) < 1e-12)
    }
  }

  test("RDD-compat FPGrowthCore + PMAssociationRules reproduce the engine") {
    import spark.implicits._
    val txns = Seq(
      Array("I1", "I2", "I5"), Array("I2", "I4"), Array("I2", "I3"),
      Array("I1", "I3"), Array("I4", "I2", "I5", "I1"))
    val rdd = spark.sparkContext.parallelize(txns, 2)
    val (itemsets, itemSupport, n) =
      new FPGrowthCore[String]().setMinSupport(0.4).setNumPartitions(3).run(rdd)
    val got = itemsets.collect().map(fi => fi.items.toSet -> fi.freq).toMap
    val fp = new FPGrowth().setMinSupport(0.4).fit(trainDF).freqItemsets
    assert(got == setsOf(fp))
    assert(n == 5)
    assert(math.abs(itemSupport("I2") - 0.8) < 1e-12)

    val rules = new PMAssociationRules().setMinConfidence(0.6)
      .run(itemsets, itemSupport).collect()
    assert(rules.nonEmpty)
    rules.foreach { r =>
      assert(r.confidence >= 0.6)
      assert(r.lift.isDefined)
      assert(r.antecedent.toSet.intersect(r.consequent.toSet).isEmpty)
    }
  }

  test("FPGrowthCore == FPGrowth on random baskets at 1, 3, 4, 7 partitions") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val items = (0 until 14).map(i => s"r$i")
    val txns = Seq.fill(300)(rng.shuffle(items).take(1 + rng.nextInt(6)))
    val engine = new FPGrowth().setMinSupport(0.04).fit(txns.toDF("items"))
    val expected = setsOf(engine.freqItemsets)
    val rdd = spark.sparkContext.parallelize(txns.map(_.toArray), 3)
    for (parts <- Seq(1, 3, 4, 7)) {
      val (itemsets, itemSupport, n) =
        new FPGrowthCore[String]().setMinSupport(0.04).setNumPartitions(parts).run(rdd)
      val got = itemsets.collect().map(fi => fi.items.toSet -> fi.freq).toMap
      assert(got == expected, s"parts=$parts")
      assert(n == txns.size)
      assert(itemSupport == engine.itemSupport, s"parts=$parts")
    }
  }

  test("FPGrowthCore over Int items == the String engine on the same baskets") {
    import spark.implicits._
    val rng = new scala.util.Random(59)
    val txns = Seq.fill(250)(rng.shuffle((0 until 11).toList).take(1 + rng.nextInt(5)))
    val rdd = spark.sparkContext.parallelize(txns.map(_.toArray), 2)
    val (itemsets, _, _) =
      new FPGrowthCore[Int]().setMinSupport(0.05).setNumPartitions(4).run(rdd)
    val got = itemsets.collect().map(fi => fi.items.map(_.toString).toSet -> fi.freq).toMap
    val expected = setsOf(new FPGrowth().setMinSupport(0.05)
      .fit(txns.map(_.map(_.toString)).toDF("items")).freqItemsets)
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("FPGrowthCore rejects a transaction with duplicate items") {
    val rdd = spark.sparkContext.parallelize(Seq(Array("a", "b"), Array("a", "a", "b")), 2)
    val ex = intercept[Exception] {
      new FPGrowthCore[String]().setMinSupport(0.1).setNumPartitions(2).run(rdd)._1.collect()
    }
    assert(ex.getMessage.contains("must be unique"))
  }

  test("text ingestion dedupes tokens per line") {
    import spark.implicits._
    val df = TextTransactions.fromLines(spark, Seq("a b a c", "d d"))
    val got = df.as[Seq[String]].collect().map(_.toList).toList
    assert(got == List(List("a", "b", "c"), List("d")))
  }
}
