package graft.fpm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/**
 * Spark-native parallel FP-Growth (Li et al. 2008, "PFP: Parallel
 * FP-Growth for Query Recommendation") with the load-balanced group
 * assignment of the reference's EPFP variant.
 *
 * API mirrors the reference estimator
 * (`/root/reference/src/main/java/fdu/cst/bigdata/epfp/FPGrowth.scala:31-57`):
 * `setItemsCol / setMinSupport / setMinConfidence / setNumPartitions` +
 * `fit`. Unlike the reference — which drops to `RDD[Array[Any]]` at the
 * first opportunity — every relational stage here stays in DataFrame land
 * so Catalyst supplies column pruning / predicate pushdown / partial
 * aggregation; only the per-group tree mining itself is typed
 * (`repartitionById(...).mapPartitions`), which is genuinely imperative.
 *
 * Pipeline:
 *  1. L1 pass: `explode -> groupBy(item).count -> HAVING count >= minCount`
 *     (map-side partial agg for free) -> collect the (small, <= #distinct
 *     frequent items) list and rank it on the driver by (freq desc, item
 *     asc) in Spark's string order ([[FPGrowth.rankOrder]]): a distributed
 *     `orderBy` would add a range-sampling job and an exchange.
 *  2. Broadcast rank dictionary + rank->group map ([[ItemGroups]]).
 *  3. Conditional transactions: typed flatMap emitting per transaction at
 *     most one (groupId, rank-prefix) per distinct group — the PFP shuffle
 *     dedup trick (`pfp/FPGrowthCore.scala:121-140`). Shuffled as packed
 *     Int arrays (Tungsten), far cheaper than serialized tree graphs.
 *  4. Shuffle on the group id as the partition id, then per-group
 *     [[FPTree]] build + extract with owner-validated suffixes
 *     (exactly-once global emission, no distinct needed downstream).
 *
 * Scale notes (100 TB design): the only data-sized shuffle is step 3,
 * whose volume is bounded by sum(txn length x distinct groups touched)
 * ints — mitigated by the prefix dedup and by dictionary rank encoding
 * (strings never shuffle). Skew across groups is the classic PFP failure
 * mode; `balanced = true` (default, = EPFP) packs item ranks into groups
 * by estimated mining cost via LPT. The group count is the mining task
 * count: group g is mined by task g, whatever
 * `spark.sql.shuffle.partitions` is, so the LPT packing is the task
 * packing. Driver state is only the frequent-item dictionary, which
 * minSupport bounds.
 */
class FPGrowth private (
    private var itemsCol: String,
    private var minSupport: Double,
    private var minConfidence: Double,
    private var numPartitions: Int,
    private var balanced: Boolean) extends Serializable {

  def this() = this("items", 0.3, 0.8, -1, true)

  def setItemsCol(v: String): this.type = { itemsCol = v; this }
  def setMinSupport(v: Double): this.type = {
    require(v >= 0.0 && v <= 1.0, s"minSupport must be in [0,1] but got $v")
    minSupport = v; this
  }
  def setMinConfidence(v: Double): this.type = {
    require(v >= 0.0 && v <= 1.0, s"minConfidence must be in [0,1] but got $v")
    minConfidence = v; this
  }
  def setNumPartitions(v: Int): this.type = { numPartitions = v; this }

  /** Absolute support-count threshold, overriding the relative
    * `minSupport` when >= 1 — the knob the incremental refresh
    * ([[ItemsetRefresh]]) needs: its probe artifact must be mined at an
    * EXACT absolute count (`minCount_union - |delta|`), and deriving
    * that through a fraction would round through IEEE ceil. */
  private var minCountOverride: Long = -1L
  def setMinCount(v: Long): this.type = {
    require(v >= 1L, s"minCount must be >= 1 but got $v")
    minCountOverride = v; this
  }
  /** true = EPFP balanced groups (default); false = PFP hash groups. */
  def setBalanced(v: Boolean): this.type = { balanced = v; this }

  def fit(dataset: Dataset[_]): FPGrowthModel = {
    val spark = dataset.sparkSession
    import spark.implicits._

    val input = dataset.select(col(itemsCol)).where(col(itemsCol).isNotNull)
    // Persist iff the caller hasn't (same guard as pfp/FPGrowth.scala:62,66-68):
    // the input is scanned twice (L1 + cond-transactions).
    val handlePersistence = input.storageLevel == StorageLevel.NONE
    if (handlePersistence) input.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val numTransactions = input.count()
      val minCount =
        if (minCountOverride >= 1L) minCountOverride
        else math.max(1L, math.ceil(minSupport * numTransactions).toLong)

      // L1: frequent items, ranked on the driver (pipeline step 1)
      val freqItems: Array[(String, Long)] = FPGrowth.rankOrder(input
        .select(explode(col(itemsCol)).as("item"))
        .groupBy($"item").agg(count(lit(1)).as("freq"))
        .where($"freq" >= minCount)
        .as[(String, Long)]
        .collect())

      val numParts =
        if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
      val rankOf: Map[String, Int] = freqItems.iterator.map(_._1).zipWithIndex.toMap
      val groupOf: Array[Int] =
        if (balanced) ItemGroups.balanced(numParts, freqItems.length)
        else ItemGroups.hashed(numParts, freqItems.length)

      val sc = spark.sparkContext
      val bcRank = sc.broadcast(rankOf)
      val bcGroup = sc.broadcast(groupOf)
      val bcItems = sc.broadcast(freqItems.map(_._1))

      // Group ids are 0 until numParts, so the id IS the partition id:
      // group g is mined by task g and the LPT packing reaches the
      // executors (a hash shuffle on the id collides groups onto shared
      // partitions).
      val freqItemsets: DataFrame = input
        .as[Seq[String]]
        .mapPartitions { it =>
          val rank = bcRank.value
          val group = bcGroup.value
          it.flatMap(txn => FPGrowth.condTransactions(txn, rank, group))
        }
        .repartitionById(numParts, col("_1"))
        .mapPartitions { it =>
          val dict = bcItems.value
          FPGrowth.mineGroups(it, bcGroup.value, minCount)
            .map { case (ranks, cnt) => (ranks.map(dict), cnt) }
        }
        .toDF("items", "freq")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try freqItemsets.count() // materialize before releasing the input
      catch { case e: Throwable => freqItemsets.unpersist(); throw e }

      val itemSupport: Map[String, Double] =
        freqItems.iterator.map { case (i, c) => i -> c.toDouble / numTransactions }.toMap

      new FPGrowthModel(freqItemsets, itemSupport, numTransactions,
        itemsCol, "prediction", minConfidence)
    } finally {
      if (handlePersistence) input.unpersist()
    }
  }
}

object FPGrowth {

  /**
   * The deterministic rank order of the L1 list, exactly what
   * `orderBy(freq.desc, item.asc)` gives: freq desc, then item ascending
   * in Spark's string order — UTF-8 byte order, nulls first. That is not
   * `String.compareTo`'s UTF-16 order, which puts a supplementary-plane
   * character (a surrogate pair) before U+E000..U+FFFF.
   */
  private[fpm] def rankOrder(freqItems: Array[(String, Long)]): Array[(String, Long)] = {
    val utf8Order: Ordering[UTF8String] = (a, b) => a.binaryCompare(b)
    freqItems.sortBy { case (item, freq) => (-freq, Option(item).map(UTF8String.fromString)) }(
      Ordering.Tuple2(Ordering.Long, Ordering.Option(utf8Order)))
  }

  /**
   * Per-transaction conditional transactions: filter to frequent items, map
   * to ranks, sort ascending, and — walking from the full prefix down —
   * emit each prefix `ranks[0..i]` the first time partition
   * `group(ranks(i))` is seen, so each target group receives exactly one
   * (longest) projection of the transaction. Semantics of
   * `pfp/FPGrowthCore.scala:121-140`.
   *
   * Also enforces the reference's uniqueness invariant
   * (`pfp/FPGrowthCore.scala:75-80`): duplicate items in a transaction
   * are an error.
   */
  private[graft] def condTransactions[Item](
      txn: collection.Seq[Item],
      rankOf: Map[Item, Int],
      groupOf: Array[Int]): Iterator[(Int, Array[Int])] = {
    // The uniqueness invariant holds on the RAW transaction — matching the
    // reference, which validates before the frequency filter, so a
    // duplicate of an INFREQUENT item (["a","a","z"] with "a" rare) is
    // still an error rather than silently passing.
    val seenItems = new java.util.HashSet[Item](math.max(8, txn.size * 2))
    txn.foreach { item =>
      if (!seenItems.add(item)) {
        throw new IllegalArgumentException(
          s"Items in a transaction must be unique but got ${txn.mkString("[", ",", "]")}")
      }
    }
    val ranks = txn.iterator.flatMap(rankOf.get).toArray
    java.util.Arrays.sort(ranks)
    if (ranks.isEmpty) Iterator.empty
    else {
      val out = mutable.ArrayBuffer.empty[(Int, Array[Int])]
      val seen = mutable.BitSet.empty
      var j = ranks.length - 1
      while (j >= 0) {
        val g = groupOf(ranks(j))
        if (!seen.contains(g)) {
          seen += g
          out += ((g, java.util.Arrays.copyOfRange(ranks, 0, j + 1)))
        }
        j -= 1
      }
      out.iterator
    }
  }

  /**
   * The PFP mining kernel for one partition of shuffled
   * [[condTransactions]]: builds one [[FPTree]] per group id and extracts
   * its frequent patterns (ascending-rank arrays) with the owner gate
   * `groupOf(suffix) == gid`, so every pattern is emitted by exactly one
   * group. Keyed by group id, the result stays exact even when a partition
   * holds several groups.
   */
  private[graft] def mineGroups(
      it: Iterator[(Int, Array[Int])],
      groupOf: Array[Int],
      minCount: Long): Iterator[(Array[Int], Long)] = {
    val trees = mutable.LongMap.empty[FPTree]
    it.foreach { case (gid, txn) =>
      trees.getOrElseUpdate(gid.toLong, new FPTree).add(txn)
    }
    trees.iterator.flatMap { case (gid, tree) =>
      tree.extract(minCount, r => groupOf(r) == gid)
    }
  }
}

/**
 * Fitted model. Mirrors the reference model surface
 * (`epfp/FPGrowth.scala:83-150`, `pfp/FPGrowth.scala:83-148`):
 * `freqItemsets`, `associationRules` (memoized per minConfidence,
 * `pfp/FPGrowth.scala:94-107`), `transform`.
 */
class FPGrowthModel private[fpm] (
    val freqItemsets: DataFrame,
    val itemSupport: Map[String, Double],
    val numTransactions: Long,
    private var itemsCol: String,
    private var predictionCol: String,
    private var minConfidence: Double) extends Serializable {

  def setItemsCol(v: String): this.type = { itemsCol = v; this }
  def setPredictionCol(v: String): this.type = { predictionCol = v; this }
  def setMinConfidence(v: Double): this.type = {
    require(v >= 0.0 && v <= 1.0)
    // Invalidate nothing: cache is keyed by confidence (pfp/FPGrowth.scala:94-107).
    minConfidence = v; this
  }

  @transient private lazy val rulesCache =
    mutable.Map.empty[Double, Array[AssociationRules.Rule]]

  /** The rules at the current minConfidence, derived once per confidence. */
  private def rules: Array[AssociationRules.Rule] = rulesCache.synchronized {
    rulesCache.getOrElseUpdate(minConfidence,
      AssociationRules.collectRules(
        freqItemsets, itemSupport, numTransactions, minConfidence))
  }

  /** Association rules X => y at the current minConfidence: a driver-local
    * frame over the memoized rules, so reading it runs no Spark job. */
  def associationRules: DataFrame =
    AssociationRules.toFrame(freqItemsets.sparkSession, rules)

  /**
   * Adds `predictionCol`: consequents of all matching rules (antecedent a
   * subset of the row's items, consequent not already present), ordered by
   * lift desc, deduped, joined with ", " — a StringType column, matching
   * `pfp/FPGrowth.scala:168-177`. Null items propagate null.
   *
   * The memoized rule table is broadcast (it is minSupport-bounded and
   * small); the probe is a subset test per row — the same broadcast-join
   * shape the reference hand-rolls (`pfp/FPGrowth.scala:151-155`).
   */
  def transform(dataset: Dataset[_]): DataFrame =
    Predictor.predict(dataset.toDF(),
      Predictor.sortRules(rules.map(r => (r.antecedent, r.consequent, r.lift))),
      itemsCol, predictionCol)

  /**
   * pfp-only variant (`pfp/FPGrowth.scala:124-148`): predict over the
   * distinct rule antecedents themselves.
   */
  def transform(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val antecedents = associationRules
      .select(col("antecedent").as(itemsCol)).distinct()
    transform(antecedents)
  }

  /**
   * Persist the fitted model: itemsets + item support as parquet, scalar
   * params as a one-line JSON (no external libs — the schema is 4 fields).
   */
  def save(path: String): Unit = {
    val spark = freqItemsets.sparkSession
    import spark.implicits._
    freqItemsets.write.mode("overwrite").parquet(s"$path/freqItemsets")
    itemSupport.toSeq.toDF("item", "support")
      .write.mode("overwrite").parquet(s"$path/itemSupport")
    // metadata as a one-row parquet: no hand-rolled JSON escaping/parsing
    Seq((numTransactions, minConfidence, itemsCol, predictionCol))
      .toDF("numTransactions", "minConfidence", "itemsCol", "predictionCol")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/metadata")
  }
}

object FPGrowthModel {

  /** Load a model persisted by [[FPGrowthModel.save]]. */
  def load(spark: SparkSession, path: String): FPGrowthModel = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/metadata")
      .select("numTransactions", "minConfidence", "itemsCol", "predictionCol")
      .as[(Long, Double, String, String)].head()
    val itemSupport = spark.read.parquet(s"$path/itemSupport")
      .as[(String, Double)].collect().toMap
    new FPGrowthModel(
      spark.read.parquet(s"$path/freqItemsets"),
      itemSupport,
      meta._1, meta._3, meta._4, meta._2)
  }
}
