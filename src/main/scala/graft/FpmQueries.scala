package graft

import graft.fpm.{Apriori, AssociationRules, FPGrowth, FPGrowthModel, Predictor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentHashMap

/**
 * The FP-Growth-family queries of SparkEntry, over the canonical
 * order->brand baskets (FIXTURES.md §3), each with a DuckDB-oracle SQL
 * counterpart built from brute-force k<=3 itemset enumeration (FP-Growth
 * itemset extraction itself is not SQL-expressible at scale; capping the
 * declared query at arity 3 keeps the oracle exact — SURVEY.md §5).
 */
object FpmQueries {

  val MinSupport = 0.01
  val MinConfidence = 0.05

  // One fitted model per sf dir: fit once, query many (the reference's
  // model-reuse shape; also what Verify/Bench want).
  private val models = new ConcurrentHashMap[String, FPGrowthModel]()

  // Keyed memo of PROBE-threshold itemset mines — the r15 discipline
  // already applied to the sequence family (`RelQueries.minedSequences`)
  // on the itemset side: q170/q187/q188/q198/q199 each fit FP-Growth on
  // the IDENTICAL old snapshot at the IDENTICAL probe threshold, and
  // q193/q194 share another — before this memo each row paid its own
  // fit. The capped artifact is support-bounded metadata, so it caches
  // as driver-local rows keyed by (context, corpus dir, input subset,
  // exact absolute threshold); only bit-identical mines share. Each
  // row's declared lifecycle (artifact write + fold + swap + stream)
  // still runs per invocation. The warehouse-scale analogue is the
  // artifact store: one probe mine per snapshot serves every
  // maintenance consumer.
  private val probeMines =
    new ConcurrentHashMap[String, Caches.Memo[Seq[(String, Long)]]]()

  /** Unpersist and drop every memoized model (mirrors Tables/Dedup). */
  def clearCaches(): Unit = {
    models.values.forEach { m =>
      try m.freqItemsets.unpersist() catch { case _: Throwable => }
    }
    models.clear()
    probeMines.clear()
  }

  /** The memoized probe mine: arity-capped `(itemset, freq)` rows of
    * `input` at absolute threshold `minCount` (see [[probeMines]]). */
  private[graft] def minedItemsets(
      spark: SparkSession, dir: String, subsetTag: String,
      input: DataFrame, minCount: Long): DataFrame = {
    // semanticHash of the analyzed input plan rides in the key so a
    // reused subset tag with a coinciding threshold can never serve a
    // mine of a DIFFERENT input; the fit runs inside a Caches.Memo,
    // outside the ConcurrentHashMap bin lock (see minedSequences twin)
    val key = Tables.cacheKey(spark, dir) + s"#itemmine#$subsetTag#" +
      s"${input.queryExecution.analyzed.semanticHash()}#$minCount"
    itemsetFrame(spark, probeMines.computeIfAbsent(key,
      _ => new Caches.Memo(cappedItemsets(input, minCount))).value)
  }

  /** The arity-capped itemset mine every itemset artifact is written
    * from — the snapshot ([[minedItemsets]]) and every re-snapshot
    * ([[itemsetFamily]]): FP-Growth at absolute `minCount`, itemsets of
    * arity <= 3 as sorted comma-joined `(itemset, freq)` rows. The
    * capped artifact is support-bounded metadata, so it is collected,
    * and the fitted itemsets are unpersisted on every exit — a failed
    * collect must not leave them cached. */
  private def cappedItemsets(
      input: DataFrame, minCount: Long): Seq[(String, Long)] = {
    val m = new FPGrowth()
      .setMinCount(minCount)
      .setNumPartitions(input.sparkSession.sparkContext.defaultParallelism)
      .fit(input)
    try m.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"),
        col("freq"))
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    finally m.freqItemsets.unpersist()
  }

  private def itemsetFrame(
      spark: SparkSession, rows: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("itemset", "freq")
  }

  /** The itemset family of [[graft.streaming.ArtifactStream.epochStep]]:
    * a batch charges its row count, folds by FUP
    * ([[graft.fpm.ItemsetRefresh.fold]]), and re-mines the promoted
    * corpus through [[cappedItemsets]] at `probe`. */
  private[graft] def itemsetFamily(
      minCountUni: Long, probe: Long): graft.streaming.ArtifactStream.Family =
    graft.streaming.ArtifactStream.Family(
      deltaSize = _.count(),
      fold = (artifact, batch, _, cum) => graft.fpm.ItemsetRefresh.fold(
        artifact, batch, "items", minCountUni, cum),
      remine = corpus =>
        itemsetFrame(corpus.sparkSession, cappedItemsets(corpus, probe)))

  def model(spark: SparkSession, dir: String): FPGrowthModel =
    models.computeIfAbsent(Tables.cacheKey(spark, dir), _ =>
      new FPGrowth()
        .setMinSupport(MinSupport)
        .setMinConfidence(MinConfidence)
        .setNumPartitions(spark.sparkContext.defaultParallelism)
        .fit(Tables.orderBrandBaskets(spark, dir)))

  /** q: the basket-ization itself (join + collect_set + array_sort). */
  def baskets(spark: SparkSession, dir: String): DataFrame =
    Tables.orderBrandBaskets(spark, dir)
      .select(col("l_orderkey"), array_join(col("items"), ",").as("items_str"))

  /** q: L1 frequent items — explode / groupBy / HAVING / no FP machinery. */
  def l1FreqItems(spark: SparkSession, dir: String, minSupport: Double = 0.05): DataFrame = {
    val b = Tables.orderBrandBaskets(spark, dir)
    val n = b.count()
    val minCount = math.max(1L, math.ceil(minSupport * n).toLong)
    b.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minCount)
  }

  /**
   * q: item frequencies through the REAL DataSource V2 connector
   * ([[graft.sources.TransactionsV2]]) — the driver-checked row for the
   * connector's split planner. The canonical baskets are round-tripped
   * through the reference's transaction-text format (one line per basket,
   * single-space-separated items), read back with
   * `spark.read.format("graft-transactions")` at a 64 KiB split size —
   * small enough that every range boundary lands mid-line at sf0.01+, so
   * the LineRecordReader skip/overshoot contract is what's under test —
   * and reduced to the per-item frequency table. Items are distinct and
   * space-free within a basket, so the text round trip is lossless and
   * the oracle is the plain parquet-side frequency count.
   *
   * The fixture directory is unique per invocation and deleted after the
   * eager aggregate (the q64 temp-dir discipline); only the item-domain-
   * sized frequency table (~25 brands at any SF) is collected.
   */
  def v2ItemFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-v2-tx")
    try {
      Tables.orderBrandBaskets(spark, dir)
        .select(array_join(col("items"), " ").as("value"))
        .write.mode("overwrite").text(out.toString)
      val freq = spark.read.format("graft-transactions")
        .option("maxSplitBytes", 64L * 1024)
        .load(out.toString)
        .select(explode(col("items")).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
        .collect() // item-domain-sized: bounded metadata, never corpus rows
      freq.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("item", "cnt")
    } finally Fs.deleteRecursively(out)
  }

  /**
   * q: item frequencies through the connector's STREAMING read and
   * MANIFEST commit together — q78's shape with both round-8
   * capabilities in the executed path: the baskets are written through
   * `format("graft-transactions")` in `manifestCommit` mode (one
   * staging-dir rename + one atomic `_manifest` flip — the
   * O(1)-visibility commit), then streamed back through the connector's
   * MICRO_BATCH_READ (`readStream`, availableNow, 64 KiB split ranges —
   * the micro-batch planner must honor the manifest exactly like the
   * batch scan) into a parquet sink, and the sink reduces to the same
   * per-item frequency table. Shares q78's oracle: the text round trip
   * is lossless and the streamed rows must equal the batch rows.
   * Fixture, sink, and checkpoint are per-invocation and deleted after
   * the eager item-domain-sized aggregate.
   */
  def v2StreamItemFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-v2-stream")
    try {
      val fixture = base.resolve("tx")
      Tables.orderBrandBaskets(spark, dir).select(col("items"))
        .write.format("graft-transactions")
        .option("manifestCommit", "true")
        .mode("overwrite").save(fixture.toString)
      val sink = base.resolve("sink")
      val q = spark.readStream.format("graft-transactions")
        .option("maxSplitBytes", 64L * 1024)
        .load(fixture.toString)
        .writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      java.nio.file.Files.createDirectories(sink) // empty corpus: zero batches
      val freq = spark.read
        .schema("items ARRAY<STRING>").parquet(sink.toString)
        .select(explode(col("items")).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
        .collect() // item-domain-sized: bounded metadata, never corpus rows
      freq.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("item", "cnt")
    } finally Fs.deleteRecursively(base)
  }

  /**
   * q: the connector WRITE path's contract row (the q64 write-path
   * pattern): every basket written through
   * `format("graft-transactions")`'s staged-rename commit, read back
   * through the connector at a 64 KiB split size, and compared as a
   * MULTISET (full-outer join of per-line counts — order-free, dup-
   * preserving). One row: the basket count plus `roundtrip_exact`
   * pinned true by the oracle; zero rows on an empty warehouse (both
   * sides of the HAVING convention). The fixture dir is per-invocation
   * and deleted after the eager one-row aggregate.
   */
  def v2WriteRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-v2-write")
    try {
      val items = Tables.orderBrandBaskets(spark, dir).select(col("items"))
      items.write.format("graft-transactions").mode("overwrite").save(out.toString)
      val back = spark.read.format("graft-transactions")
        .option("maxSplitBytes", 64L * 1024).load(out.toString)
      def lineCounts(df: org.apache.spark.sql.DataFrame, cnt: String) =
        df.select(array_join(col("items"), " ").as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as(cnt))
      val contract = lineCounts(items, "oc")
        .join(lineCounts(back, "bc"), Seq("t"), "full_outer")
        // grouped-then-dropped key: zero rows on an empty warehouse (a
        // global agg would emit one null row), matching the oracle HAVING
        .groupBy(lit(1).as("one"))
        .agg(
          sum(coalesce(col("oc"), lit(0L))).as("total_rows"),
          // distinct coalesce sentinels: a side missing a line must FAIL
          // the equality, not vanish into bool_and's null-skipping
          bool_and(coalesce(col("oc"), lit(-1L)) ===
            coalesce(col("bc"), lit(-2L))).as("roundtrip_exact"))
        .drop("one")
        .collect()
      contract.map(r => (r.getLong(0), r.getBoolean(1))).toSeq
        .toDF("total_rows", "roundtrip_exact")
    } finally Fs.deleteRecursively(out)
  }

  /** q: full FP-Growth, declared at itemset arity <= 3 (oracle-exact cap). */
  def freqItemsets(spark: SparkSession, dir: String): DataFrame =
    model(spark, dir).freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))

  /** q: closed/maximal flags over the q03 itemsets within the same
    * arity cap ([[graft.fpm.ClosedItemsets.flag]] — subset-key
    * equi-join, never a pairwise containment join). */
  def closedMaximalItemsets(spark: SparkSession, dir: String): DataFrame =
    graft.fpm.ClosedItemsets.flag(
      model(spark, dir).freqItemsets.where(size(col("items")) <= 3),
      "items", "freq")

  /** q: INCREMENTAL frequent-itemset refresh — the artifact lifecycle
    * (q129/q148/q150/q163) applied to the flagship FP-growth output,
    * which the reference re-mines from scratch every run
    * (`reference pfp/FPGrowthCore.scala:49-65`). The OLD snapshot
    * (baskets with `l_orderkey % 211 != 0`) is mined ONCE at the
    * reduced absolute threshold `minCount_union - |delta|` and
    * persisted (save -> load); the refresh counts each candidate's
    * exact support in only the |delta| added baskets and re-thresholds
    * ([[graft.fpm.ItemsetRefresh]] — FUP candidate refresh, provably
    * complete while `|delta| < minCount_union`, require-enforced; the
    * 1/211 delta sits under the 1% support floor at every SF). The
    * oracle is q03's statement verbatim over the union corpus: the
    * refreshed table IS the full re-mine, bit for bit. */
  def itemsetRefresh(spark: SparkSession, dir: String): DataFrame =
    itemsetRefreshIn(spark, dir, "q170")

  /** [[itemsetRefresh]] with a caller-owned staging tag — q187 re-runs
    * the lifecycle under its own dir so its `Fs.staged` truncation can
    * never invalidate a previously-built q170 frame's pinned file
    * listing (and vice versa). */
  /** One-pass row counts of the basket table split by the delta
    * (and, for the CDC rows, removal) predicates — the prologues
    * previously paid a separate count job per split. The basket table
    * is persisted, so this trims job overhead locally; at warehouse
    * scale it is the difference between one corpus pass and three for
    * numbers a single aggregation derives. */
  private[graft] def splitBasketCounts(b: DataFrame): (Long, Long, Long) = {
    val isAdded = col("l_orderkey") % 211 === 0
    val isRemoved = !isAdded && col("l_orderkey") % 199 === 0
    val r = b.agg(
      count(when(!isAdded, lit(1))),
      count(when(isAdded, lit(1))),
      count(when(isRemoved, lit(1)))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def itemsetRefreshIn(
      spark: SparkSession, dir: String, tag: String): DataFrame = {
    val b = Tables.orderBrandBaskets(spark, dir)
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val (nOld, nAdded, _) = splitBasketCounts(b)
    val minCountUni =
      math.max(1L, math.ceil(MinSupport * (nOld + nAdded)).toLong)
    val probe = math.max(1L, minCountUni - nAdded)
    val staged = graft.Fs.stagedFor(tag, dir)
    val artPath = staged.resolve("itemsets").toString
    minedItemsets(spark, dir, "old211", old, probe)
      .write.mode("overwrite").parquet(artPath)
    val stored = spark.read.parquet(artPath)
    graft.fpm.ItemsetRefresh.refresh(stored, added, "items",
      minCountUni, nAdded)
  }

  /** Same statement as q03: the refresh must equal the full re-mine
    * (lazy: FreqItemsetsSql is declared below). */
  lazy val ItemsetRefreshSql: String = FreqItemsetsSql

  /**
   * q: association rules DERIVED FROM THE REFRESHED ITEMSET ARTIFACT —
   * the last lifecycle gap in the flagship family: q170 maintains the
   * itemset artifact incrementally, but q04's rule table was still
   * derived only from a from-scratch mine (as the reference does every
   * run, `reference pfp/AssociationRules.scala:60-81`). This row closes
   * it: the q170 refresh output (old-snapshot artifact + delta fold,
   * bit-equal to the union re-mine by the FUP bound) feeds
   * [[graft.fpm.AssociationRules.derive]] directly — counts
   * are already in the artifact, so rule derivation is pure count
   * algebra over it, no corpus rescan. Because refresh == re-mine bit
   * for bit and the rule chain is deterministic IEEE over those counts,
   * refresh-then-derive == mine-then-derive, and the oracle is q04's
   * statement verbatim over the (whole) union corpus.
   *
   * Scale shape: rule DERIVATION touches only the artifact (support-
   * bounded rows, collected once) — one driver-side hash lookup per
   * candidate for its antecedent count and the artifact's own L1 rows
   * for consequent supports — plus the basket count for the support
   * denominator. The DECLARED row also
   * re-runs the q170 build+refresh so it owns an artifact to derive
   * from (each driver row is self-contained); a production pipeline
   * derives from the maintained artifact and pays only the
   * artifact-sized algebra per refresh.
   */
  def rulesFromRefreshedArtifact(spark: SparkSession, dir: String): DataFrame =
    AssociationRules.toFrame(spark, refreshedArtifactRules(spark, dir, "q187"))
      .where(size(col("antecedent")) <= 2)
      .select(
        array_join(array_sort(col("antecedent")), ",").as("antecedent"),
        col("consequent").getItem(0).as("consequent"),
        col("confidence"), col("lift"), col("support"))

  /** The rules of the q170-refreshed itemset artifact, derived on the
    * driver from ONE evaluation of the refresh plan: the artifact is
    * support-bounded, so it collects whole, and its arity-1 rows are the
    * item supports (present for every frequent item by
    * anti-monotonicity). */
  private def refreshedArtifactRules(
      spark: SparkSession, dir: String, tag: String): Array[AssociationRules.Rule] = {
    val rows: Array[(String, Long)] = itemsetRefreshIn(spark, dir, tag)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = Tables.orderBrandBaskets(spark, dir).count()
    val itemSupport: Map[String, Double] = rows
      .filter(!_._1.contains(","))
      .map { case (i, f) => i -> f.toDouble / n }.toMap
    AssociationRules.derive(rows.map { case (k, f) => (k.split(",").toSeq, f) },
      itemSupport, n, MinConfidence)
  }

  /** q04's statement verbatim: refresh-then-derive must equal
    * mine-then-derive (lazy: AssocRulesSql is declared below). */
  lazy val RulesFromArtifactSql: String = AssocRulesSql

  /**
   * q: PREDICT from the REFRESHED rule artifact — the last derive edge
   * in the flagship family's lifecycle graph: q170 maintains the
   * itemset artifact, q187 proved rule DERIVATION is artifact-stable
   * (refresh-then-derive == mine-then-derive), but the TRANSFORM stage
   * (q05's per-basket prediction) still only ever ran against rules
   * from a fresh fit — exactly as the reference does, where transform
   * always follows a fresh fit (`reference pfp/FPGrowth.scala:168-177`)
   * and no artifact-served prediction path exists at all. This row
   * closes the edge: the q170-refreshed itemset artifact feeds the q187
   * rule algebra, and the resulting rule table drives q05's broadcast
   * subset-probe prediction over every basket. Because the refreshed
   * artifact is bit-equal to the union re-mine (FUP bound), the rule
   * chain is deterministic IEEE over its counts, and the predictor's
   * output is invariant under permutations of an equal rule SET (rules
   * sort by (lift desc, consequent asc); first-occurrence dedup is per
   * consequent), predict(refresh-derived rules) == predict(mine-derived
   * rules) byte for byte — the oracle is q05's statement verbatim.
   *
   * Scale shape: rule derivation is artifact-sized count algebra
   * (q187), the rule table is bounded broadcast metadata (q05), and the
   * one corpus-sized pass is the prediction scan itself — identical to
   * q05's plan. The declared row re-runs the q170 build+refresh so it
   * owns an artifact (the self-contained-row convention); a production
   * pipeline predicts from the maintained artifact with zero mine cost.
   */
  def predictFromRefreshedArtifact(
      spark: SparkSession, dir: String): DataFrame = {
    val rules = refreshedArtifactRules(spark, dir, "q198")
      .collect { case r if r.antecedent.length <= 2 => (r.antecedent, r.consequent, r.lift) }
    Predictor.predict(
      Tables.orderBrandBaskets(spark, dir),
      Predictor.sortRules(rules), "items", "prediction")
      .select(col("l_orderkey"), col("prediction"))
  }

  /** q05's statement verbatim: predict from the refresh-derived rule
    * artifact must equal predict from the fresh fit (lazy: PredictSql
    * is declared below). */
  lazy val PredictFromArtifactSql: String = PredictSql

  /**
   * q: STREAM-MAINTAINED frequent-itemset artifact — the last artifact
   * family to gain the q135 read-merge-swap lifecycle (HLL/CMS/qsketch/
   * KMV/dup-clusters/boilerplate all have one): the OLD snapshot is
   * mined ONCE at the probe threshold and persisted; the added baskets
   * then ARRIVE AS A STREAM (availableNow, one file per trigger) and
   * each micro-batch folds its exact candidate counts into the stored
   * artifact via [[graft.fpm.ItemsetRefresh.fold]] — read artifact,
   * fold batch, write sibling, atomic swap. Two soundness properties
   * carry the row:
   *
   *  - the fold is UN-thresholded: counts are additive and the
   *    candidate set is left intact, so the fold is associative over
   *    batches and batch boundaries cannot matter (thresholding
   *    mid-stream would drop probe-only candidates later batches
   *    still need — the reason the stream twin folds and the final
   *    read thresholds);
   *  - the FUP bound guard runs per batch on the CUMULATIVE delta
   *    (`fold`'s require), so a stream that outgrows the increment
   *    contract fails loudly mid-stream instead of emitting an
   *    unsound table. The cumulative count is DURABLE state — a
   *    `_cum_<n>` counter riding inside the artifact dir, committed
   *    atomically with each fold by the same swap rename — because a
   *    driver-side counter misses both realities of at-least-once
   *    delivery: it resets on restart, and it never sees batches the
   *    replay guard skips (whose adds the artifact already carries);
   *  - the fold is made IDEMPOTENT per batch id (unlike the max-merge
   *    sketch streams, re-folding a redelivered batch would
   *    double-count): an `_applied_<id>` marker rides inside the
   *    swapped artifact dir, committing with the fold in one atomic
   *    rename.
   *
   * The final read applies `minCount_union` once — bit-equal to the
   * q170 one-shot refresh and therefore to the full re-mine; the
   * oracle is q03's statement verbatim over the union corpus.
   *
   * Scale shape: per batch, work is delta-sized enumeration over the
   * candidate item universe plus one artifact-sized equi-join — no
   * stage rescans the old corpus, and the artifact swap is one staged
   * rename (the q177 idiom).
   */
  def itemsetStreamMaintained(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.orderBrandBaskets(spark, dir)
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val (nOld, nAdded, _) = splitBasketCounts(b)
    val minCountUni =
      math.max(1L, math.ceil(MinSupport * (nOld + nAdded)).toLong)
    val probe = math.max(1L, minCountUni - nAdded)
    val base = graft.Fs.stagedFor("q188", dir)
    val artDir = base.resolve("itemsets")
    minedItemsets(spark, dir, "old211", old, probe)
      .write.parquet(artDir.toString)
    // the delta arrives as a stream: two files, one per micro-batch
    val in = base.resolve("in").toString
    added.where(col("l_orderkey") % 2 === 0).coalesce(1)
      .write.parquet(in)
    added.where(col("l_orderkey") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(in)
    // Additive fold => replay must be de-duplicated per batch id (the
    // shared [[graft.streaming.ArtifactStream]] scaffold — marker and
    // fold commit in one atomic rename; redelivered ids skip the fold).
    // The cumulative-adds guard count is DURABLE: read from the
    // artifact, written into the sibling, committed by the same swap —
    // it survives restarts and counts replay-skipped batches, which a
    // driver-side counter misses on both ends.
    graft.streaming.ArtifactStream.foldAvailableNow(
        spark, base, artDir, in) { (batch, sibling) =>
      graft.streaming.ArtifactStream.counterFold(
          spark, artDir, sibling, batch.count()) { (artifact, cum) =>
        graft.fpm.ItemsetRefresh.fold(
          artifact, batch, "items", minCountUni, cum)
      }
    }
    spark.read.parquet(artDir.toString)
      .where(col("freq") >= minCountUni)
  }

  /** Same statement as q03: the stream-folded artifact must equal the
    * full re-mine at the union threshold. */
  lazy val ItemsetStreamSql: String = FreqItemsetsSql

  /**
   * q: FUP AUTO-RE-SNAPSHOT — the q152 staleness-triggered-rebuild
   * convention applied to the itemset artifact: every incremental fold
   * family carries a `require` that fails LOUDLY when the cumulative
   * delta outgrows the FUP candidate bound, but until this row nothing
   * demonstrated the RECOVERY path end to end. Here the stream watches
   * its own durable `_cum_` counter against a declared headroom budget
   * `H` (the artifact's mine threshold sits `H` below the serving
   * threshold; folding stays provably complete while cumulative adds
   * <= H), and when a batch pushes consumption past 60% of `H` the fold
   * is REPLACED by a re-snapshot: mine the CURRENT corpus (old snapshot
   * ∪ every ingested batch, this one included) at the restored probe
   * threshold, reset the cumulative counter to zero, bump a durable
   * `_snap_` counter — all committed by the same atomic swap as an
   * ordinary fold, so a crash anywhere leaves either the old artifact
   * or the complete new snapshot, never a half state. Later batches
   * fold against the fresh snapshot with full headroom again; the
   * require never fires because the trigger re-mines FIRST (fail-loudly
   * stays as the backstop for a single batch so large it overshoots
   * 100% before the 60% trigger can act — that batch still re-mines
   * here, but a caller composing folds directly would be refused).
   *
   * The fixture routes the q170 delta as FOUR micro-batches (quarter
   * each, by `(l_orderkey div 211) % 4`), so the trigger fires
   * mid-stream — batches fold BEFORE the re-snapshot and fold AFTER it,
   * proving the swapped snapshot serves subsequent folds. Final state
   * == the union re-mine (pre-trigger folds are exact FUP, the re-mine
   * is exact by construction, post-trigger folds are exact FUP over the
   * new snapshot); the oracle is q03's statement verbatim.
   *
   * Scale shape: the ingest record is the fixture's stand-in for the
   * warehouse's own ingested partitions (epoch-scoped and id-keyed, so
   * redelivery after a crash overwrites idempotently); the re-mine
   * costs one corpus-sized pass — the point of the trigger is that it
   * runs once per consumed-headroom epoch instead of once per query
   * (q170's amortization argument), and the stream schedules it itself
   * instead of waiting for a human to notice the require firing. The
   * trigger also RE-BASES: the union corpus promotes to the next
   * epoch's base and the absorbed ingest dirs are swept at the next
   * batch, so the record and the re-mine input stay epoch-sized over
   * an unbounded stream (see
   * [[graft.streaming.ArtifactStream.epochStep]]).
   */
  def itemsetAutoResnapshot(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.orderBrandBaskets(spark, dir)
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val (nOld, nAdded, _) = splitBasketCounts(b)
    val minCountUni =
      math.max(1L, math.ceil(MinSupport * (nOld + nAdded)).toLong)
    // declared headroom budget: the whole delta fits exactly once —
    // so a 60% trigger MUST fire mid-stream across four quarter batches
    val headroom = math.max(1L, nAdded)
    val probe = math.max(1L, minCountUni - headroom)
    val base = graft.Fs.stagedFor("q199", dir)
    val artDir = base.resolve("itemsets")
    minedItemsets(spark, dir, "old211", old, probe)
      .write.parquet(artDir.toString)
    val in = base.resolve("in").toString
    (0L to 3L).foreach { qd =>
      added.where(expr("l_orderkey div 211") % 4 === qd).coalesce(1)
        .write.mode("append").parquet(in)
    }
    graft.streaming.ArtifactStream.foldAvailableNowWithId(
        spark, base, artDir, in) { (batch, id, sibling) =>
      graft.streaming.ArtifactStream.epochStep(spark,
        itemsetFamily(minCountUni, probe), old, base, artDir, sibling,
        batch, id, headroom)
    }
    spark.read.parquet(artDir.toString)
      .where(col("freq") >= minCountUni)
  }

  /** Same statement as q03: pre-trigger folds + the auto re-snapshot +
    * post-trigger folds must land exactly on the union re-mine. */
  lazy val ItemsetAutoResnapshotSql: String = FreqItemsetsSql

  /**
   * q: STREAM-MAINTAINED itemset artifact under CDC batches — q188's
   * read-merge-swap lifecycle upgraded from append-only to CHANGE
   * batches: each micro-batch carries adds (`op = 1`) and deletes
   * (`op = -1`), the per-batch fold is the SIGNED
   * [[graft.fpm.ItemsetRefresh.foldSigned]] (`freq + added − removed`
   * — still associative over batches because sign distributes over
   * the additive counts, so batch boundaries cannot matter), and the
   * threshold applies once at read against the FINAL corpus's
   * minCount. The q188 guards carry over unchanged: the fold is
   * un-thresholded mid-stream, the FUP require runs per batch on the
   * CUMULATIVE ADDED count only (deletions carry no bound term —
   * [[graft.fpm.ItemsetRefresh.foldSigned]]'s asymmetry), and
   * redelivered batch ids skip the fold via the `_applied_<id>`
   * marker committing atomically with the swap (a signed fold
   * replayed would double-count in BOTH directions).
   *
   * Final state == q193's one-shot CDC refresh == the post-churn
   * re-mine; the oracle is [[ItemsetCdcSql]] verbatim.
   *
   * Scale shape: per batch, two delta-sized candidate-filtered
   * enumerations + two artifact-sized equi-joins; the swap is one
   * staged rename. No stage rescans the surviving corpus.
   */
  def itemsetCdcStreamMaintained(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.orderBrandBaskets(spark, dir)
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val removed = old.where(col("l_orderkey") % 199 === 0)
    val (nOld, nAdded, nRemoved) = splitBasketCounts(b)
    val minCountNew = math.max(1L,
      math.ceil(MinSupport * (nOld - nRemoved + nAdded)).toLong)
    val probe = math.max(1L, minCountNew - nAdded)
    val base = graft.Fs.stagedFor("q194", dir)
    val artDir = base.resolve("itemsets")
    minedItemsets(spark, dir, "old211", old, probe)
      .write.parquet(artDir.toString)
    // the churn arrives as a CDC stream: two files, each a mixed batch
    // of adds (op = 1) and deletes (op = -1)
    val in = base.resolve("in").toString
    def cdcSlice(even: Boolean) = {
      val side = if (even) lit(0L) else lit(1L)
      added.where(col("l_orderkey") % 2 === side)
        .select(col("items"), lit(1).as("op"))
        .unionByName(removed.where(col("l_orderkey") % 2 === side)
          .select(col("items"), lit(-1).as("op")))
    }
    cdcSlice(even = true).coalesce(1).write.parquet(in)
    cdcSlice(even = false).coalesce(1).write.mode("append").parquet(in)
    // Signed fold => replay corrupts BOTH directions; the shared
    // scaffold's marker guard + the durable `_cum_` adds counter (read
    // from the artifact, committed with the fold — restart-safe and
    // replay-skip-aware, see q188).
    graft.streaming.ArtifactStream.foldAvailableNow(
        spark, base, artDir, in) { (batch, sibling) =>
      val adds = batch.where(col("op") === 1).select(col("items"))
      val dels = batch.where(col("op") === -1).select(col("items"))
      graft.streaming.ArtifactStream.counterFold(
          spark, artDir, sibling, adds.count()) { (artifact, cum) =>
        graft.fpm.ItemsetRefresh.foldSigned(
          artifact, adds, dels, "items", minCountNew, cum)
      }
    }
    spark.read.parquet(artDir.toString)
      .where(col("freq") >= minCountNew)
  }

  /**
   * q: DELETION-AWARE itemset refresh (FUP2, Cheung et al. 1997) — the
   * itemset-family twin of q192's discharged exclusion: q170/q188
   * handle a corpus that only GROWS; real warehouses also retract
   * (GDPR erasure, late-arriving corrections, TTL'd partitions). The
   * churn here: added orders (`% 211 = 0`, q170's delta) AND removed
   * orders (`% 199 = 0` among the pre-existing). The old snapshot is
   * mined ONCE at `minCount_new - |added|` — deletions carry NO bound
   * term (they can only have inflated old counts, never hidden a
   * future-frequent itemset from the old-snapshot mine; the
   * [[graft.fpm.ItemsetRefresh.foldSigned]] scaladoc carries the
   * two-line proof) — then one signed fold replays both correction
   * terms and re-thresholds at the NEW corpus's minCount. Bit-equal to
   * re-mining the post-churn corpus from scratch, which is exactly
   * what the oracle states ([[ItemsetCdcSql]] — q03's statement over
   * the retained baskets, threshold re-derived from THEIR count).
   *
   * Scale shape: both correction terms are delta-sized candidate-
   * filtered subset enumerations (the removed rows' retrieval is a
   * key-pruned scan under the q64 layout at warehouse scale); the
   * stored side is artifact-sized; no stage rescans the surviving
   * corpus.
   */
  def itemsetCdcRefresh(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.orderBrandBaskets(spark, dir)
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val removed = old.where(col("l_orderkey") % 199 === 0)
    val (nOld, nAdded, nRemoved) = splitBasketCounts(b)
    val minCountNew = math.max(1L,
      math.ceil(MinSupport * (nOld - nRemoved + nAdded)).toLong)
    val probe = math.max(1L, minCountNew - nAdded)
    val staged = graft.Fs.stagedFor("q193", dir)
    val artPath = staged.resolve("itemsets").toString
    minedItemsets(spark, dir, "old211", old, probe)
      .write.mode("overwrite").parquet(artPath)
    graft.fpm.ItemsetRefresh.refreshCdc(
      spark.read.parquet(artPath), added, removed, "items",
      minCountNew, nAdded)
  }

  /** q03's statement over the post-churn corpus: the CDC refresh must
    * equal the full re-mine of the retained baskets at a threshold
    * re-derived from their count. */
  lazy val ItemsetCdcSql: String =
    s"""WITH ${mineCtesOver(BasketCteCdc)}
       |SELECT item AS itemset, f AS freq FROM k1
       |UNION ALL SELECT i1 || ',' || i2, f FROM k2
       |UNION ALL SELECT i1 || ',' || i2 || ',' || i3, f FROM k3""".stripMargin

  /** q: association rules, antecedent arity <= 2 (matches the k<=3 cap). */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    model(spark, dir).associationRules
      .where(size(col("antecedent")) <= 2)
      .select(
        array_join(array_sort(col("antecedent")), ",").as("antecedent"),
        col("consequent").getItem(0).as("consequent"),
        col("confidence"), col("lift"), col("support"))

  /** q: rule interestingness beyond confidence/lift — leverage
    * (Piatetsky-Shapiro independence gap) and conviction (Brin et al.,
    * NULL for exact rules) beside q04's columns, every measure an exact
    * decimal count product finished by one pinned IEEE step
    * ([[graft.fpm.AssociationRules.interestingness]]; the reference
    * stops at lift, `reference pfp/AssociationRules.scala:109-114`).
    * Same arity caps as q04; q04's schema is untouched. */
  def ruleInterest(spark: SparkSession, dir: String): DataFrame = {
    val m = model(spark, dir)
    AssociationRules.interestingness(
        m.freqItemsets.where(size(col("items")) <= 3),
        m.numTransactions, MinConfidence)
      .where(size(col("antecedent")) <= 2)
      .select(
        array_join(array_sort(col("antecedent")), ",").as("antecedent"),
        col("consequent").getItem(0).as("consequent"),
        col("confidence"), col("lift"), col("support"),
        col("leverage"), col("conviction"))
  }

  /** q: rule-based prediction over every basket (broadcast rules + subset probe). */
  def predict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = model(spark, dir)
    val rules = m.associationRules
      .where(size(col("antecedent")) <= 2)
      .select(col("antecedent"), col("consequent").getItem(0), col("lift"))
      .as[(Array[String], String, Double)]
      .collect()
    Predictor.predict(
      Tables.orderBrandBaskets(spark, dir),
      Predictor.sortRules(rules), "items", "prediction")
      .select(col("l_orderkey"), col("prediction"))
  }

  /**
   * q: level-wise Apriori over the same baskets and support as q03 — the
   * reference's fourth algorithm variant (`apriori/Apriori.scala:20-48`),
   * distributed rewrite ([[graft.fpm.Apriori]]). Identical itemsets from a
   * different algorithm: a cross-algorithm differential under the q03
   * oracle's hash gate. maxLevel 3 = the declared arity cap, so the level
   * loop stops exactly where the oracle's brute-force enumeration does.
   */
  def aprioriItemsets(spark: SparkSession, dir: String): DataFrame =
    new Apriori()
      .setMinSupport(MinSupport)
      .setMaxLevel(3)
      .freqItemsets(Tables.orderBrandBaskets(spark, dir))
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))

  /**
   * q: the fully relational twin of q05 — broadcast rule table probed by
   * the codegen'd `array_contains_all` subset test instead of a driver-
   * collected UDF table ([[graft.fpm.Predictor.predictRelational]]).
   * Byte-identical output to q05 (PredictorSpec equality), same oracle.
   */
  def predictRelational(spark: SparkSession, dir: String): DataFrame =
    Predictor.predictRelational(
      Tables.orderBrandBaskets(spark, dir),
      model(spark, dir).associationRules.where(size(col("antecedent")) <= 2),
      Seq("l_orderkey"), "items", "prediction")
      .select(col("l_orderkey"), col("prediction"))

  /**
   * q: FP-Growth over the (wider, deeper) order->supplier basket domain —
   * ~4x the item count of brands, lower support, deeper conditional trees.
   * Itemset arity capped at 3 for the brute-force oracle.
   */
  def supplierItemsets(spark: SparkSession, dir: String): DataFrame = {
    val m = models.computeIfAbsent(Tables.cacheKey(spark, dir) + "#supplier", _ =>
      new FPGrowth()
        .setMinSupport(0.001)
        .setNumPartitions(spark.sparkContext.defaultParallelism)
        .fit(Tables.orderSupplierBaskets(spark, dir)))
    m.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
  }

  val SupplierItemsetsSql: String =
    s"""WITH baskets AS (
       |  SELECT l_orderkey, list_sort(list(DISTINCT l_suppkey::VARCHAR)) AS items
       |  FROM lineitem GROUP BY l_orderkey),
       |n AS (SELECT count(*) AS c FROM baskets),
       |mc AS (SELECT greatest(1, cast(ceil(0.001::DOUBLE * c) AS BIGINT)) AS m FROM n),
       |ex AS (SELECT l_orderkey, unnest(items) AS item FROM baskets),
       |k1 AS (SELECT item, count(*) AS f FROM ex GROUP BY 1
       |       HAVING count(*) >= (SELECT m FROM mc)),
       |k2 AS (SELECT a.item AS i1, b.item AS i2, count(*) AS f
       |       FROM ex a JOIN ex b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
       |       GROUP BY 1, 2 HAVING count(*) >= (SELECT m FROM mc)),
       |k3 AS (SELECT a.item AS i1, b.item AS i2, c.item AS i3, count(*) AS f
       |       FROM ex a
       |       JOIN ex b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
       |       JOIN ex c ON b.l_orderkey = c.l_orderkey AND b.item < c.item
       |       GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT m FROM mc))
       |SELECT item AS itemset, f AS freq FROM k1
       |UNION ALL SELECT i1 || ',' || i2, f FROM k2
       |UNION ALL SELECT i1 || ',' || i2 || ',' || i3, f FROM k3""".stripMargin

  /**
   * q: rules grouped per antecedent (the reference's A8 `reduceByKey(_ ::: _)`
   * + O3 per-group lift-desc sort, `apriori/Apriori.scala:127-128`), as a
   * deterministic projection: group size, best consequent by (lift desc,
   * consequent asc), and the group's max lift.
   */
  def rulesByAntecedent(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = model(spark, dir).associationRules
      .where(size(col("antecedent")) <= 2)
      .select(
        array_join(array_sort(col("antecedent")), ",").as("antecedent"),
        col("consequent").getItem(0).as("consequent"),
        col("lift"))
    val w = Window.partitionBy(col("antecedent"))
      .orderBy(col("lift").desc, col("consequent").asc)
    r.withColumn("rn", row_number().over(w))
      .groupBy(col("antecedent"))
      .agg(
        count(lit(1)).as("n_rules"),
        max(when(col("rn") === 1, col("consequent"))).as("top_consequent"),
        max(col("lift")).as("max_lift"))
  }

  // lazy: RuleCtes is declared later in this object (init-order)
  lazy val RulesByAntecedentSql: String =
    s"""WITH $RuleCtes,
       |flat AS (
       |  SELECT array_to_string(ant, ',') AS antecedent, cons, lift,
       |         row_number() OVER (PARTITION BY array_to_string(ant, ',')
       |                            ORDER BY lift DESC, cons ASC) AS rn
       |  FROM rules)
       |SELECT antecedent, count(*) AS n_rules,
       |       max(CASE WHEN rn = 1 THEN cons END) AS top_consequent,
       |       max(lift) AS max_lift
       |FROM flat GROUP BY antecedent""".stripMargin

  // ---------------------------------------------------------------- oracle SQL

  /** Shared basket-ization CTE (DuckDB). */
  val BasketCte: String =
    """baskets AS (
      |  SELECT l_orderkey, list_sort(list(DISTINCT p_brand)) AS items
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY l_orderkey)""".stripMargin

  /** CDC-state baskets: the q193/q194 corpus AFTER the declared churn —
    * added orders (`% 211 = 0`) present, removed orders (`% 199 = 0`
    * among the pre-existing) gone. Same shape as [[BasketCte]] with the
    * retained-keys predicate. */
  val BasketCteCdc: String =
    """baskets AS (
      |  SELECT l_orderkey, list_sort(list(DISTINCT p_brand)) AS items
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE (l_orderkey % 199 <> 0 OR l_orderkey % 211 = 0)
      |  GROUP BY l_orderkey)""".stripMargin

  /** Brute-force k1/k2/k3 itemset CTEs at MinSupport over any baskets
    * CTE (DuckDB) — the threshold re-derives from THAT corpus's count,
    * so the CDC variant prices deletions into minCount exactly as the
    * Spark side does. */
  private def mineCtesOver(basketCte: String): String =
    s"""$basketCte,
       |n AS (SELECT count(*) AS c FROM baskets),
       |mc AS (SELECT greatest(1, cast(ceil(${MinSupport}::DOUBLE * c) AS BIGINT)) AS m FROM n),
       |ex AS (SELECT l_orderkey, unnest(items) AS item FROM baskets),
       |k1 AS (SELECT item, count(*) AS f FROM ex GROUP BY 1
       |       HAVING count(*) >= (SELECT m FROM mc)),
       |k2 AS (SELECT a.item AS i1, b.item AS i2, count(*) AS f
       |       FROM ex a JOIN ex b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
       |       GROUP BY 1, 2 HAVING count(*) >= (SELECT m FROM mc)),
       |k3 AS (SELECT a.item AS i1, b.item AS i2, c.item AS i3, count(*) AS f
       |       FROM ex a
       |       JOIN ex b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
       |       JOIN ex c ON b.l_orderkey = c.l_orderkey AND b.item < c.item
       |       GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT m FROM mc))""".stripMargin

  val MineCtes: String = mineCtesOver(BasketCte)

  /** Rule CTEs (list-typed antecedents) on top of [[MineCtes]] (DuckDB). */
  val RuleCtes: String =
    s"""$MineCtes,
       |cand AS (
       |  SELECT [i1] AS ant, i2 AS cons, f FROM k2
       |  UNION ALL SELECT [i2], i1, f FROM k2
       |  UNION ALL SELECT [i1, i2], i3, f FROM k3
       |  UNION ALL SELECT [i1, i3], i2, f FROM k3
       |  UNION ALL SELECT [i2, i3], i1, f FROM k3),
       |antfreq AS (
       |  SELECT [item] AS key, f FROM k1
       |  UNION ALL SELECT [i1, i2], f FROM k2),
       |rules AS (
       |  SELECT cand.ant, cand.cons,
       |         cand.f::DOUBLE / af.f AS confidence,
       |         (cand.f::DOUBLE / af.f) / (fc.f::DOUBLE / (SELECT c FROM n)) AS lift,
       |         cand.f::DOUBLE / (SELECT c FROM n) AS support
       |  FROM cand
       |  JOIN antfreq af ON cand.ant = af.key
       |  JOIN k1 fc ON cand.cons = fc.item
       |  WHERE cand.f::DOUBLE / af.f >= ${MinConfidence}::DOUBLE)""".stripMargin

  val BasketsSql: String =
    s"""WITH $BasketCte
       |SELECT l_orderkey, array_to_string(items, ',') AS items_str FROM baskets""".stripMargin

  /** The write-path contract as an oracle: the basket count survives the
    * connector round trip and the multiset equality holds (Spark computes
    * it from the real written files; the oracle pins it true). HAVING
    * matches the Spark side's grouped aggregate: BOTH yield zero rows on
    * an empty warehouse. */
  val V2WriteRoundtripSql: String =
    s"""WITH $BasketCte
       |SELECT count(*)::BIGINT AS total_rows, true AS roundtrip_exact
       |FROM baskets HAVING count(*) > 0""".stripMargin

  /** The connector round trip is lossless (distinct, space-free items),
    * so the oracle is the straight parquet-side item frequency. */
  val V2ItemFreqSql: String =
    s"""WITH $BasketCte
       |SELECT item, count(*)::BIGINT AS cnt
       |FROM (SELECT unnest(items) AS item FROM baskets)
       |GROUP BY item""".stripMargin

  def l1Sql(minSupport: Double = 0.05): String =
    s"""WITH $BasketCte,
       |n AS (SELECT count(*) AS c FROM baskets)
       |SELECT item, count(*) AS freq
       |FROM (SELECT unnest(items) AS item FROM baskets)
       |GROUP BY item
       |HAVING count(*) >= (SELECT greatest(1, cast(ceil(${minSupport}::DOUBLE * c) AS BIGINT)) FROM n)""".stripMargin

  val FreqItemsetsSql: String =
    s"""WITH $MineCtes
       |SELECT item AS itemset, f AS freq FROM k1
       |UNION ALL SELECT i1 || ',' || i2, f FROM k2
       |UNION ALL SELECT i1 || ',' || i2 || ',' || i3, f FROM k3""".stripMargin

  val ClosedMaximalSql: String =
    s"""WITH $MineCtes,
       |iset AS (SELECT [item] AS items, f FROM k1
       |         UNION ALL SELECT [i1, i2], f FROM k2
       |         UNION ALL SELECT [i1, i2, i3], f FROM k3),
       |sub AS (SELECT s.f AS sup_freq,
       |          array_to_string(list_filter(s.items,
       |            (x, i) -> ((m >> (i - 1)) & 1) = 1), ',') AS itemset
       |        FROM iset s, unnest(range(1, (1 << len(s.items)) - 1)) AS u(m)
       |        WHERE len(s.items) > 1),
       |ik AS (SELECT array_to_string(items, ',') AS itemset, f AS freq FROM iset)
       |SELECT ik.itemset, ik.freq,
       |       coalesce(sum(CASE WHEN s.sup_freq = ik.freq THEN 1 ELSE 0 END), 0) = 0
       |         AS closed,
       |       count(s.sup_freq) = 0 AS maximal
       |FROM ik LEFT JOIN sub s USING (itemset)
       |GROUP BY 1, 2""".stripMargin

  val AssocRulesSql: String =
    s"""WITH $RuleCtes
       |SELECT array_to_string(ant, ',') AS antecedent, cons AS consequent,
       |       confidence, lift, support
       |FROM rules""".stripMargin

  /** q171 oracle: the q04 rule chain plus leverage/conviction computed
    * from the same count CTEs with the exact decimal(18,0)-product /
    * pinned-IEEE-finish discipline as the Spark side. */
  val RuleInterestSql: String =
    s"""WITH $RuleCtes,
       |ri AS (
       |  SELECT cand.ant, cand.cons,
       |         cand.f::DOUBLE / af.f AS confidence,
       |         (cand.f::DOUBLE / af.f)
       |           / (fc.f::DOUBLE / (SELECT c FROM n)) AS lift,
       |         cand.f::DOUBLE / (SELECT c FROM n) AS support,
       |         (cand.f::DECIMAL(18,0) * (SELECT c FROM n)::DECIMAL(18,0)
       |            - af.f::DECIMAL(18,0) * fc.f::DECIMAL(18,0))::DOUBLE
       |           / ((SELECT c FROM n)::DOUBLE * (SELECT c FROM n)::DOUBLE)
       |           AS leverage,
       |         CASE WHEN af.f = cand.f THEN NULL
       |              ELSE (((SELECT c FROM n)::DECIMAL(18,0)
       |                       - fc.f::DECIMAL(18,0)) * af.f::DECIMAL(18,0))::DOUBLE
       |                   / ((SELECT c FROM n)::DECIMAL(18,0)
       |                       * (af.f::DECIMAL(18,0) - cand.f::DECIMAL(18,0)))::DOUBLE
       |              END AS conviction
       |  FROM cand
       |  JOIN antfreq af ON cand.ant = af.key
       |  JOIN k1 fc ON cand.cons = fc.item
       |  WHERE cand.f::DOUBLE / af.f >= ${MinConfidence}::DOUBLE)
       |SELECT array_to_string(ant, ',') AS antecedent, cons AS consequent,
       |       confidence, lift, support, leverage, conviction
       |FROM ri""".stripMargin

  /** q: non-redundant rule flags over the q04 rule table
    * ([[graft.fpm.AssociationRules.nonRedundantFlags]]) — a rule is
    * redundant when a more general same-consequent rule in the declared
    * table is at least as confident; subset-bitmask equi-join, never a
    * containment BNL. Same arity caps as q04. */
  def ruleNonRedundant(spark: SparkSession, dir: String): DataFrame =
    AssociationRules.nonRedundantFlags(
      model(spark, dir).associationRules
        .where(size(col("antecedent")) <= 2))

  val RuleNonRedundantSql: String =
    s"""WITH $RuleCtes,
       |sub AS (SELECT r.ant, r.cons, r.confidence,
       |          array_to_string(list_filter(r.ant,
       |            (x, i) -> ((m >> (i - 1)) & 1) = 1), ',') AS sub_key
       |        FROM rules r, unnest(range(1, (1 << len(r.ant)) - 1)) AS u(m)
       |        WHERE len(r.ant) > 1),
       |dom AS (SELECT s.ant, s.cons,
       |          count(*)::BIGINT AS n_general,
       |          sum(CASE WHEN g.confidence >= s.confidence
       |                   THEN 1 ELSE 0 END)::BIGINT AS n_dominating
       |        FROM sub s JOIN rules g
       |          ON array_to_string(g.ant, ',') = s.sub_key AND g.cons = s.cons
       |        GROUP BY 1, 2)
       |SELECT array_to_string(r.ant, ',') AS antecedent, r.cons AS consequent,
       |       r.confidence,
       |       coalesce(d.n_general, 0)::BIGINT AS n_general,
       |       coalesce(d.n_dominating, 0)::BIGINT AS n_dominating,
       |       coalesce(d.n_dominating, 0) > 0 AS redundant
       |FROM rules r LEFT JOIN dom d ON r.ant = d.ant AND r.cons = d.cons""".stripMargin

  val PredictSql: String =
    s"""WITH $RuleCtes,
       |matches AS (
       |  SELECT b.l_orderkey, r.cons, max(r.lift) AS best_lift
       |  FROM baskets b JOIN rules r
       |    ON list_has_all(b.items, r.ant) AND NOT list_contains(b.items, r.cons)
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT l_orderkey,
       |         string_agg(cons, ', ' ORDER BY best_lift DESC, cons) AS prediction
       |  FROM matches GROUP BY 1)
       |SELECT b.l_orderkey, coalesce(p.prediction, '') AS prediction
       |FROM baskets b LEFT JOIN pred p ON b.l_orderkey = p.l_orderkey""".stripMargin
}
