package graft.fpm

import org.apache.spark.sql.{DataFrame, Dataset, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.AbstractIterator
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
 * Pipeline (five Spark jobs under AQE):
 *  1. Input pass, one job: build the input's cache and count its rows
 *     from the cached batches (`GraftShims.buildCache`). A query over the
 *     unbuilt cache (`input.count()`) ran three: AQE builds the cache in a
 *     `TableCacheQueryStage` job of its own before the count's two.
 *     L1 pass, two jobs: `explode -> groupBy(item).count -> HAVING count
 *     >= minCount` (map-side partial agg for free) -> collect the (small,
 *     <= #distinct frequent items) list, keys as the bytes L1 grouped on,
 *     and rank it on the driver by (freq desc, item asc) in Spark's string
 *     order ([[FPGrowth.rankOrder]]): a distributed `orderBy` would add a
 *     range-sampling job and an exchange.
 *  2. Broadcast rank dictionary + rank->group map ([[ItemGroups]]).
 *  3. Conditional transactions ([[FPGrowth.condTransactions]]), the map
 *     side of one job: read straight off the cached `InternalRow`s, each
 *     item's `UTF8String` looked up in the byte-keyed rank dictionary, and
 *     emit per transaction at most one (groupId, rank-prefix) per distinct
 *     group — the PFP shuffle dedup trick (`pfp/FPGrowthCore.scala:121-140`).
 *     Deserializing each basket to a `Seq[String]` first cost more than
 *     the rest of the pass. Shuffled as packed Int arrays (Tungsten), far
 *     cheaper than serialized tree graphs.
 *  4. Shuffle on the group id as the partition id, then per-group
 *     [[FPTree]] build + extract with owner-validated suffixes
 *     (exactly-once global emission, no distinct needed downstream). The
 *     tree is primitive arrays (node-link header table, open-addressing
 *     child index) and its conditional trees are sized by their own
 *     prefix base, so the mining task allocates no boxed values.
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
      // The input pass: build the cache and count its rows in one job
      val numTransactions =
        GraftShims.buildCache(input)(_.map(_.numRows.toLong).fold(0L)(_ + _))
      val minCount =
        if (minCountOverride >= 1L) minCountOverride
        else math.max(1L, math.ceil(minSupport * numTransactions).toLong)

      // L1: frequent items, ranked on the driver (pipeline step 1). The
      // keys come back as the bytes L1 grouped on, not decoded Strings.
      val freqItems: Array[(UTF8String, Long)] = FPGrowth.rankOrder(input
        .select(explode(col(itemsCol)).as("item"))
        .groupBy($"item").agg(count(lit(1)).as("freq"))
        .where($"freq" >= minCount)
        .select($"item".cast("binary"), $"freq")
        .as[(Array[Byte], Long)]
        .collect()
        .map { case (bytes, freq) => (UTF8String.fromBytes(bytes), freq) })
      val itemNames: Array[String] = freqItems.map { case (item, _) =>
        if (item == null) null else item.toString
      }

      val numParts =
        if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
      val rankOf = new java.util.HashMap[UTF8String, Integer]
      freqItems.iterator.zipWithIndex.foreach { case ((item, _), r) => rankOf.put(item, r) }
      val groupOf: Array[Int] =
        if (balanced) ItemGroups.balanced(numParts, freqItems.length)
        else ItemGroups.hashed(numParts, freqItems.length)

      val sc = spark.sparkContext
      val bcRank = sc.broadcast(rankOf)
      val bcGroup = sc.broadcast(groupOf)
      val bcItems = sc.broadcast(itemNames)

      // Conditional transactions straight off the cached rows (pipeline
      // step 3). Group ids are 0 until numParts, so the id IS the
      // partition id: group g is mined by task g and the LPT packing
      // reaches the executors (a hash shuffle on the id collides groups
      // onto shared partitions).
      val condTransactions = input.queryExecution.toRdd.mapPartitions { rows =>
        FPGrowth.condTransactions[ArrayData, UTF8String](rows.map(_.getArray(0)),
          _.numElements(), _.getUTF8String(_), bcRank.value, bcGroup.value)
      }
      val freqItemsets: DataFrame = spark.createDataset(condTransactions)
        .repartitionById(numParts, col("_1"))
        .mapPartitions { it =>
          val dict = bcItems.value
          FPGrowth.mineGroups(it, bcGroup.value, minCount)
            .map { case (ranks, cnt) => (ranks.map(dict), cnt) }
        }
        .toDF("items", "freq")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Materialize before releasing the input: the build is the mining stage
      try GraftShims.buildCache(freqItemsets)(_.count())
      catch { case e: Throwable => freqItemsets.unpersist(); throw e }

      val itemSupport: Map[String, Double] = itemNames.iterator.zip(freqItems.iterator)
        .map { case (name, (_, c)) => name -> c.toDouble / numTransactions }.toMap

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
  private[fpm] def rankOrder(freqItems: Array[(UTF8String, Long)]): Array[(UTF8String, Long)] = {
    val utf8Order: Ordering[UTF8String] = (a, b) => a.binaryCompare(b)
    freqItems.sortBy { case (item, freq) => (-freq, Option(item)) }(
      Ordering.Tuple2(Ordering.Long, Ordering.Option(utf8Order)))
  }

  /**
   * The conditional-transaction kernel over one partition of baskets. Per
   * basket: map its items to ranks, sort them ascending and — walking from
   * the full prefix down — emit each prefix `ranks[0..j]` the first time
   * group `groupOf(ranks(j))` is seen, so each target group receives
   * exactly one (longest) projection of the basket. Semantics of
   * `pfp/FPGrowthCore.scala:121-140`.
   *
   * A basket is read through `size` and `item`, so the engine looks its
   * cached rows' `UTF8String`s up in place (`rankOf` keyed by their
   * bytes) and the RDD shim reads its arrays. A null item is an ordinary
   * item. The uniqueness set, the sort buffer and the group stamps are
   * reused across the partition; only the emitted prefixes are allocated.
   *
   * Also enforces the reference's uniqueness invariant
   * (`pfp/FPGrowthCore.scala:75-80`) on the RAW basket, as the reference
   * validates before the frequency filter: a duplicate of an INFREQUENT
   * item (["a","a","z"] with "a" rare) is still an error.
   */
  private[graft] def condTransactions[B, Item](
      baskets: Iterator[B],
      size: B => Int,
      item: (B, Int) => Item,
      rankOf: java.util.Map[Item, Integer],
      groupOf: Array[Int]): Iterator[(Int, Array[Int])] =
    new CondTransactions(baskets, size, item, rankOf, groupOf)

  private final class CondTransactions[B, Item](
      baskets: Iterator[B],
      size: B => Int,
      item: (B, Int) => Item,
      rankOf: java.util.Map[Item, Integer],
      groupOf: Array[Int]) extends AbstractIterator[(Int, Array[Int])] {
    private val seen = new java.util.HashSet[Item]
    private var ranks = new Array[Int](16)
    /** stamp(g) == basket: group g already has this basket's prefix */
    private val stamp = new Array[Int](if (groupOf.isEmpty) 0 else groupOf.max + 1)
    private var basket = 0
    /** the end of the next prefix to emit; -1 when the basket is done */
    private var j = -1

    private def load(b: B): Unit = {
      val n = size(b)
      if (ranks.length < n) ranks = new Array[Int](math.max(n, 2 * ranks.length))
      seen.clear()
      var len = 0
      var i = 0
      while (i < n) {
        val x = item(b, i)
        if (!seen.add(x)) {
          throw new IllegalArgumentException("Items in a transaction must be unique but got " +
            (0 until n).map(item(b, _)).mkString("[", ",", "]"))
        }
        val r = rankOf.get(x)
        if (r != null) { ranks(len) = r; len += 1 }
        i += 1
      }
      java.util.Arrays.sort(ranks, 0, len)
      if (basket == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); basket = 0 }
      basket += 1
      j = len - 1
    }

    private def skipServed(): Unit =
      while (j >= 0 && stamp(groupOf(ranks(j))) == basket) j -= 1

    def hasNext: Boolean = {
      skipServed()
      while (j < 0 && baskets.hasNext) { load(baskets.next()); skipServed() }
      j >= 0
    }

    def next(): (Int, Array[Int]) = {
      if (!hasNext) throw new NoSuchElementException("no more conditional transactions")
      val g = groupOf(ranks(j))
      stamp(g) = basket
      val out = (g, java.util.Arrays.copyOfRange(ranks, 0, j + 1))
      j -= 1
      out
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
