package graft.fpm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** UDF vs relational prediction: identical output strings by construction. */
class PredictorSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("predictor-spec")
    .getOrCreate()

  test("predictRelational == predict (broadcast UDF) on sf0.001 baskets") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val baskets = graft.Tables.orderBrandBaskets(spark, dir)
    val model = graft.FpmQueries.model(spark, dir)
    val rulesDF = model.associationRules

    val rulesArr = rulesDF
      .select($"antecedent", $"consequent".getItem(0), $"lift")
      .as[(Array[String], String, Double)].collect()
    val viaUdf = Predictor.predict(
        baskets, Predictor.sortRules(rulesArr), "items", "prediction")
      .select($"l_orderkey", $"prediction")
      .as[(Long, String)].collect().toMap

    val viaRel = Predictor.predictRelational(
        baskets, rulesDF, Seq("l_orderkey"), "items", "prediction")
      .select($"l_orderkey", $"prediction")
      .as[(Long, String)].collect().toMap

    assert(viaRel.size == viaUdf.size)
    val diffs = viaUdf.collect {
      case (k, v) if viaRel(k) != v => (k, v, viaRel(k))
    }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(3)}")
    assert(viaUdf.values.exists(_.nonEmpty))
  }

  test("q198: predict from refresh-derived rules == predict from fresh fit (q05)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // transform must be artifact-stable: the refreshed-artifact rule
    // path and the fresh-fit rule path drive byte-identical predictions
    val viaArtifact = graft.FpmQueries.predictFromRefreshedArtifact(spark, dir)
      .as[(Long, String)].collect().toMap
    val viaFit = graft.FpmQueries.predict(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(viaArtifact.size == viaFit.size)
    val diffs = viaFit.collect {
      case (k, v) if viaArtifact(k) != v => (k, v, viaArtifact(k))
    }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(3)}")
    assert(viaFit.values.exists(_.nonEmpty))
  }

  test("generic fallback (>64-item rule vocab) == relational on synthetic rules") {
    import spark.implicits._
    // 80 distinct items forces the set-probe path (bitset handles <= 64);
    // rules i => i+1 with lift descending by i, deterministic baskets.
    val items = (0 until 80).map(i => f"it$i%02d")
    val rules = items.init.zipWithIndex.map { case (it, i) =>
      (Array(it), items(i + 1), (200 - i).toDouble)
    }.toArray
    val baskets = (0 until 200).map { b =>
      (b.toLong, (0 until 80).filter(i => (b * 31 + i * 7) % 5 < 2).map(items))
    }.toDF("l_orderkey", "items")
    val viaUdf = Predictor.predict(
        baskets, Predictor.sortRules(rules), "items", "prediction")
      .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
    val rulesDF = rules.toSeq
      .map { case (a, c, l) => (a.toSeq, Seq(c), l) }
      .toDF("antecedent", "consequent", "lift")
    val viaRel = Predictor.predictRelational(
        baskets, rulesDF, Seq("l_orderkey"), "items", "prediction")
      .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
    assert(viaUdf == viaRel)
    assert(viaUdf.values.exists(_.nonEmpty))
  }

  /** Reference for [[Predictor.predict]]: every rule tested on every row, in
    * (pre-sorted) rule order, first occurrence of each consequent kept. */
  private def linearScan(
      items: Seq[String], rules: Array[(Array[String], String, Double)]): String =
    if (items == null) null
    else {
      val set = items.toSet
      rules.collect { case (ant, cons, _) if !set(cons) && ant.forall(set) => cons }
        .distinct.mkString(", ")
    }

  test("generic path (>64-item rule vocab) == linear-scan reference on random rules") {
    import spark.implicits._
    for (seed <- Seq(3, 17, 41)) {
      val rng = new scala.util.Random(seed)
      val vocab = (0 until 100).map(i => f"v$i%03d")
      val outside = (0 until 10).map(i => s"x$i") // in no rule
      def draw(n: Int) = rng.shuffle(vocab).take(n)
      val random = Array.fill(400) {
        val ant = draw(rng.nextInt(4)).toArray
        val cons = rng.shuffle(vocab.filterNot(ant.contains)).head
        (ant, cons, rng.nextInt(12) / 4.0) // coarse lifts: ties on purpose
      }
      val rules = random ++ Array(
        (Array.empty[String], "v000", 1.5), // fires on every row without v000
        (Array("v001"), "v002", 9.0),       // one consequent at three lifts
        (Array("v003", "v004"), "v002", 4.0),
        (Array("v005"), "v002", 0.5)) ++
        vocab.init.map(v => (Array(v), "v099", 0.25)) // every item in the vocab
      val sorted = Predictor.sortRules(rules)
      val baskets: Seq[(Long, Option[Seq[String]])] = (0 until 300).map { b =>
        val row = b % 10 match {
          case 0 => None
          case 1 => Some(Seq.empty[String])
          case 2 => Some(rng.shuffle(outside).take(1 + rng.nextInt(3)))
          case _ => Some(rng.shuffle(draw(1 + rng.nextInt(12)) ++
            outside.take(rng.nextInt(2))))
        }
        (b.toLong, row)
      }
      val got = Predictor.predict(
          baskets.toDF("l_orderkey", "items"), sorted, "items", "prediction")
        .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
      val expected = baskets.map { case (k, row) =>
        k -> linearScan(row.orNull, sorted)
      }.toMap
      assert(got == expected, s"seed=$seed")
      assert(expected.values.count(p => p != null && p.contains(",")) > 10)
    }
  }

  test("null baskets predict null in BOTH paths; empty baskets predict empty string") {
    import spark.implicits._
    val rules = Array((Array("a"), "b", 2.0))
    val baskets = Seq(
      (1L, Seq("a")),          // fires the rule
      (2L, Seq.empty[String]), // matches nothing -> ""
      (3L, null)               // null basket -> null prediction, NOT ""
    ).toDF("l_orderkey", "items")
    val rulesDF = Seq((Seq("a"), Seq("b"), 2.0))
      .toDF("antecedent", "consequent", "lift")
    val viaUdf = Predictor.predict(
        baskets, Predictor.sortRules(rules), "items", "prediction")
      .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
    val viaRel = Predictor.predictRelational(
        baskets, rulesDF, Seq("l_orderkey"), "items", "prediction")
      .select($"l_orderkey", $"prediction").as[(Long, String)].collect().toMap
    val expected = Map(1L -> "b", 2L -> "", 3L -> (null: String))
    assert(viaUdf == expected)
    assert(viaRel == expected)
  }
}
