package graft.fpm

import org.apache.spark.sql.{DataFrame, Dataset, GraftShims, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Level-wise Apriori, distributed.
 *
 * The reference's Apriori (`/root/reference/src/main/java/fdu/cst/bigdata/apriori/Apriori.scala:20-133`)
 * collects the whole dataset to the driver and scans it per candidate —
 * an anti-pattern called out in SURVEY.md A7/S2 that cannot survive any
 * scale. This rewrite keeps its *semantics* (same frequent-itemset output)
 * but distributes the scan and prunes candidates:
 *
 *  - L1 = explode/groupBy/HAVING (same as FP-Growth's first pass);
 *  - level-k candidates extend frequent (k-1)-itemsets with a larger
 *    frequent singleton and keep only those whose every (k-1)-subset is
 *    frequent (anti-monotone pruning). The reference enumerates ALL
 *    C(n, k) singleton combinations (`apriori/Apriori.scala:87-90`) —
 *    results are provably identical, but C(n, k) driver blowup is not;
 *  - support counting = one distributed pass per level: each basket emits
 *    the ids of candidates it contains (subset probe against the broadcast
 *    table), then a count per id — no driver data.
 *
 * Rules are 1 => 1 only (only those survive the reference's final filter,
 * `apriori/Apriori.scala:124`). Two lift columns are produced:
 * `lift` = standard confidence/support(consequent), and `lift_raw` =
 * confidence / raw count(consequent) — the reference divides by the raw
 * count, not the support fraction (`apriori/Apriori.scala:124-125`); that
 * quirk is reproduced under its own name rather than silently copied.
 */
class Apriori private (
    private var itemsCol: String,
    private var minSupport: Double,
    private var minConfidence: Double,
    private var maxLevel: Int) extends Serializable {

  def this() = this("items", 0.3, 0.8, 10)

  def setItemsCol(v: String): this.type = { itemsCol = v; this }
  def setMinSupport(v: Double): this.type = { minSupport = v; this }
  def setMinConfidence(v: Double): this.type = { minConfidence = v; this }
  def setMaxLevel(v: Int): this.type = { maxLevel = v; this }

  /** Frequent (k-1)-itemsets -> pruned k-candidates (sorted item arrays). */
  private def genCandidates(
      frontier: Seq[Array[String]], singletons: Array[String]): Array[Array[String]] = {
    val frequent = frontier.map(_.toSeq).toSet
    frontier.iterator.flatMap { fs =>
      singletons.iterator
        .filter(_ > fs.last)
        .map(i => fs :+ i)
        .filter { c =>
          c.indices.forall { drop =>
            frequent.contains((c.take(drop) ++ c.drop(drop + 1)).toSeq)
          }
        }
    }.toArray
  }

  /** One mining pass: (all frequent itemsets, #transactions). */
  private def mineAll(
      spark: SparkSession, input: DataFrame): (Seq[(Array[String], Long)], Long) = {
    import spark.implicits._
    val handlePersist = input.storageLevel == StorageLevel.NONE
    if (handlePersist) input.persist(StorageLevel.MEMORY_AND_DISK)
    // Build the cache and count its rows in one job
    val n = GraftShims.buildCache(input)(_.map(_.numRows.toLong).fold(0L)(_ + _))
    val minCount = math.max(1L, math.ceil(minSupport * n).toLong)

    val l1: Array[(String, Long)] = input
      .select(explode(col(itemsCol)).as("item"))
      .groupBy($"item").agg(count(lit(1)).as("freq"))
      .where($"freq" >= minCount)
      .orderBy($"item")
      .as[(String, Long)].collect()

    val singletons = l1.map(_._1) // sorted
    var results = l1.map { case (i, f) => (Array(i), f) }.toSeq
    var frontier: Seq[Array[String]] = singletons.map(Array(_)).toSeq
    var k = 2
    val sc = spark.sparkContext

    while (frontier.nonEmpty && k <= maxLevel) {
      val candidates = genCandidates(frontier, singletons)
      if (candidates.isEmpty) frontier = Nil
      else {
        val bc = sc.broadcast(candidates)
        val counts: Array[(Int, Long)] = input
          .as[Seq[String]]
          .mapPartitions { it =>
            val cands = bc.value
            it.flatMap { txn =>
              val set = txn.toSet
              cands.indices.iterator.filter(i => cands(i).forall(set.contains))
            }
          }
          .groupByKey(identity)
          .count()
          .filter(_._2 >= minCount)
          .collect()
        bc.destroy()
        val frequent = counts.map { case (i, f) => (candidates(i), f) }
        results ++= frequent
        frontier = frequent.map(_._1).toSeq
        k += 1
      }
    }
    if (handlePersist) input.unpersist()
    (results, n)
  }

  /** All frequent itemsets: `items array<string>, freq long`. */
  def freqItemsets(dataset: Dataset[_]): DataFrame = {
    val spark = dataset.sparkSession
    import spark.implicits._
    val input = dataset.select(col(itemsCol)).where(col(itemsCol).isNotNull)
    val (results, _) = mineAll(spark, input)
    spark.createDataset(results).toDF("items", "freq")
  }

  /** 1 => 1 rules with both standard and reference-quirk lift. */
  def rules(dataset: Dataset[_]): DataFrame = {
    val spark = dataset.sparkSession
    import spark.implicits._
    val input = dataset.select(col(itemsCol)).where(col(itemsCol).isNotNull)
    val (results, n) = mineAll(spark, input) // single pass: count + itemsets
    val fi = spark.createDataset(results).toDF("items", "freq")

    val k1 = fi.where(size($"items") === 1)
      .select($"items".getItem(0).as("item"), $"freq")
    val k2 = fi.where(size($"items") === 2)

    k2.select($"freq".as("freq_union"), explode($"items").as("consequent"), $"items")
      .select(
        array_remove($"items", $"consequent").getItem(0).as("antecedent"),
        $"consequent", $"freq_union")
      .join(k1.select($"item".as("antecedent"), $"freq".as("freq_ant")), "antecedent")
      .join(k1.select($"item".as("consequent"), $"freq".as("freq_cons")), "consequent")
      .select(
        $"antecedent", $"consequent",
        ($"freq_union".cast("double") / $"freq_ant").as("confidence"),
        (($"freq_union".cast("double") / $"freq_ant") /
          ($"freq_cons".cast("double") / lit(n.toDouble))).as("lift"),
        (($"freq_union".cast("double") / $"freq_ant") / $"freq_cons").as("lift_raw"),
        ($"freq_union".cast("double") / lit(n.toDouble)).as("support"))
      .where($"confidence" >= minConfidence)
  }
}
