package graft.fpm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental itemset refresh: delta counting vs brute force, the
  * refresh == full-re-mine differential, and the soundness trigger. */
class ItemsetRefreshSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("itemset-refresh-spec")
    .getOrCreate()

  test("deltaCounts == brute-force subset counts on a hand fixture") {
    import spark.implicits._
    val added = Seq(
      Seq("a", "b", "c"),
      Seq("a", "c", "d"),
      Seq("b"),
      Seq("a", "b", "c", "e")).toDF("items")
    // candidate universe excludes e: subsets containing e must not appear
    val got = ItemsetRefresh.deltaCounts(added, "items", Seq("a", "b", "c", "d"))
      .as[(String, Long)].collect().toMap
    val txns = Seq(Seq("a","b","c"), Seq("a","c","d"), Seq("b"), Seq("a","b","c"))
    val naive = txns.flatMap { t =>
      val subs = (1 to 3).flatMap(k => t.combinations(k))
      subs.map(_.mkString(","))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == naive)
    assert(!got.keys.exists(_.contains("e")))
  }

  test("refresh == full FP-growth re-mine on sf0.001 baskets") {
    import spark.implicits._
    val b = graft.Tables.orderBrandBaskets(spark, "/root/testdata/sf0.001")
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val nOld = old.count(); val nAdded = added.count()
    val minCountUni = math.max(1L, math.ceil(0.01 * (nOld + nAdded)).toLong)
    assert(nAdded > 0 && nAdded < minCountUni, "fixture must exercise the delta path")
    val probe = math.max(1L, minCountUni - nAdded)
    val mOld = new FPGrowth().setMinCount(probe).setNumPartitions(4).fit(old)
    val stored = mOld.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
    val refreshed = ItemsetRefresh
      .refresh(stored, added, "items", minCountUni, nAdded)
      .as[(String, Long)].collect().toSet
    val mFull = new FPGrowth().setMinCount(minCountUni).setNumPartitions(4).fit(b)
    val full = mFull.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
      .as[(String, Long)].collect().toSet
    mOld.freqItemsets.unpersist(); mFull.freqItemsets.unpersist()
    assert(refreshed.nonEmpty)
    assert(refreshed == full, "delta refresh must equal the full re-mine")
  }

  test("rules derived from the refreshed artifact == rules from the q04 mine") {
    // the q187 contract: refresh-then-derive equals mine-then-derive —
    // the rule chain is deterministic IEEE over counts, and the counts
    // are bit-equal by the FUP bound (previous test), so the rule
    // tables must match on every measure bit for bit.
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val fromArtifact = graft.FpmQueries.rulesFromRefreshedArtifact(spark, dir)
      .as[(String, String, Double, Double, Double)].collect().toSet
    val fromMine = graft.FpmQueries.assocRules(spark, dir)
      .as[(String, String, Double, Double, Double)].collect().toSet
    assert(fromArtifact.nonEmpty)
    assert(fromArtifact == fromMine)
  }

  test("auto re-snapshot (q199): trigger fires mid-stream, folds continue after, final == union re-mine") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = graft.FpmQueries.itemsetAutoResnapshot(spark, dir)
      .as[(String, Long)].collect().toSet
    val want = graft.FpmQueries.freqItemsets(spark, dir)
      .as[(String, Long)].collect().toSet
    assert(got.nonEmpty && got == want,
      "folds + auto re-snapshot + folds must land exactly on the union re-mine")
    val artDir = java.nio.file.Paths.get(
      "/tmp", "graft-q199-" + dir.replaceAll("[^A-Za-z0-9.]", "_"), "itemsets")
    assert(graft.Fs.readCounter(artDir, "snap") >= 1L,
      "the 60%-headroom trigger never fired — the fixture no longer " +
        "drives the cumulative counter past it")
    assert(graft.Fs.readCounter(artDir, "cum") > 0L,
      "no fold landed AFTER the re-snapshot — the row no longer proves " +
        "the swapped snapshot serves subsequent folds")
    // the trigger RE-BASED: epoch tracks snap, the promoted corpus
    // exists, and the post-trigger batch swept the absorbed epoch-0
    // ingest dirs — the record is epoch-bounded (VERDICT r15 #4)
    val epoch = graft.Fs.readCounter(artDir, "epoch")
    assert(epoch == graft.Fs.readCounter(artDir, "snap"))
    val streamBase = artDir.getParent
    assert(java.nio.file.Files.exists(
      streamBase.resolve("corpus").resolve(s"e$epoch")))
    assert(!java.nio.file.Files.exists(
      streamBase.resolve("ingested").resolve("e0")),
      "absorbed epoch-0 ingest dirs must be swept after the trigger")
  }

  test("auto re-snapshot state (cum reset + snap bump) survives a crash-restart") {
    // the composite window for the q199 branch: the SNAP batch's swap
    // committed (re-mined artifact + _cum_0 + _snap_1), then the
    // process died before the checkpoint commit. On restart the snap
    // batch is redelivered under the SAME id and must be marker-
    // skipped — NOT re-snapshotted (a second re-mine is harmless for
    // the artifact but would double-bump _snap_ and re-pay the mine) —
    // and the NEXT batch must fold against the restored-budget
    // artifact with cum restarting from the durable zero.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-snap-recovery")
    val art = base.resolve("art")
    val ingested = base.resolve("ingested")
    val in = base.resolve("in").toString
    // old corpus: a:3, b:3, {a,b}:2 at probe 1 (arity-capped mine)
    val old = Seq(Seq("a", "b"), Seq("a"), Seq("b"), Seq("a", "b"))
      .toDF("items")
    Seq(("a", 3L), ("b", 3L), ("a,b", 2L)).toDF("itemset", "freq")
      .coalesce(1).write.parquet(art.toString)
    // batches: 1 row (fold, cum 1 of headroom 4), 2 rows (cum 3 ->
    // 15 >= 12: SNAP + injected crash), 1 row (fold after restart)
    Seq(Seq("a")).toDF("items").coalesce(1).write.parquet(in)
    Seq(Seq("a", "b"), Seq("b")).toDF("items").coalesce(1)
      .write.mode("append").parquet(in)
    Seq(Seq("a")).toDF("items").coalesce(1)
      .write.mode("append").parquet(in)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val schema = spark.read.parquet(in).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.Fs.appliedMarkerSwap(base, art, id) { sib =>
            graft.streaming.ArtifactStream.epochStep(spark,
              graft.FpmQueries.itemsetFamily(minCountUni = 100L, probe = 1L),
              old, base, art, sib, batch, id, headroom = 4L)
          }
          if (id == 1L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after snap commit")
          ()
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(crashed.get, "the injected crash must have fired")
    assert(graft.Fs.readCounter(art, "snap") == 1L, "snap committed pre-crash")
    run() // restart: batch 1 marker-skipped, batch 2 folds
    val got = spark.read.parquet(art.toString)
      .as[(String, Long)].collect().toMap
    // exact counts over old ∪ {a} ∪ {a,b},{b} ∪ {a}:
    // a: 3+1+1+1 = 6, b: 3+2 = 5, {a,b}: 2+1 = 3
    assert(got == Map("a" -> 6L, "b" -> 5L, "a,b" -> 3L),
      s"snap + post-restart fold must equal the exact union counts: $got")
    assert(graft.Fs.readCounter(art, "snap") == 1L,
      "the redelivered snap batch must be marker-skipped, not re-snapshotted")
    assert(graft.Fs.readCounter(art, "cum") == 1L,
      "cum must restart from the durable zero and count only the post-snap fold")
    // the re-base committed with the snap: epoch bumped, the union
    // corpus promoted, and the post-restart fold batch swept the
    // absorbed e0 ingest dirs — the record is epoch-bounded, not
    // lifetime-bounded (VERDICT r15 #4)
    assert(graft.Fs.readCounter(art, "epoch") == 1L)
    assert(java.nio.file.Files.exists(
      base.resolve("corpus").resolve("e1")), "promoted corpus base")
    assert(!java.nio.file.Files.exists(ingested.resolve("e0")),
      "absorbed epoch-0 ingest dirs must be swept by the next batch")
    assert(java.nio.file.Files.exists(ingested.resolve("e1").resolve("b2")),
      "post-trigger record carries only the current epoch's batches")
    graft.Fs.deleteRecursively(base)
  }

  test("two-epoch auto re-snapshot: the second trigger re-mines FROM the promoted corpus") {
    // epoch >= 1's re-mine reads corpus/e<n>, not the caller's `old`
    // frame — drive two full headroom epochs and check the final
    // artifact equals the exact union counts, which can only happen if
    // the promoted base carried epoch 0's ingest forward.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-two-epoch")
    val art = base.resolve("art")
    val ingested = base.resolve("ingested")
    val old = Seq(Seq("a", "b"), Seq("a"), Seq("b"), Seq("a", "b"))
      .toDF("items")
    Seq(("a", 3L), ("b", 3L), ("a,b", 2L)).toDF("itemset", "freq")
      .coalesce(1).write.parquet(art.toString)
    // headroom 2: every second single-row batch trips the 60% trigger
    // (cum 1 folds, cum 2 snaps) — two full epochs, then one trailing
    // fold whose lazy sweep reclaims epoch 1's absorbed dirs
    val batches = Seq(Seq(Seq("a")), Seq(Seq("a", "b")),
      Seq(Seq("b")), Seq(Seq("a")), Seq(Seq("b")))
    batches.zipWithIndex.foreach { case (rows, id) =>
      graft.Fs.appliedMarkerSwap(base, art, id.toLong) { sib =>
        graft.streaming.ArtifactStream.epochStep(spark,
          graft.FpmQueries.itemsetFamily(minCountUni = 100L, probe = 1L),
          old, base, art, sib, rows.toDF("items"), id.toLong,
          headroom = 2L)
      }
    }
    val got = spark.read.parquet(art.toString)
      .as[(String, Long)].collect().toMap
    // old(a:3,b:3,ab:2) + {a} + {a,b} + {b} + {a} + {b}: a 6, b 6, ab 3
    assert(got == Map("a" -> 6L, "b" -> 6L, "a,b" -> 3L),
      s"second-epoch re-mine lost epoch 0's absorbed ingest: $got")
    assert(graft.Fs.readCounter(art, "snap") == 2L, "two triggers fired")
    assert(graft.Fs.readCounter(art, "epoch") == 2L)
    // batch 4 (epoch 2) swept everything below epoch 2 — the dir
    // listing is epoch-bounded over an unbounded stream
    assert(!java.nio.file.Files.exists(ingested.resolve("e0")))
    assert(!java.nio.file.Files.exists(ingested.resolve("e1")))
    assert(!java.nio.file.Files.exists(base.resolve("corpus").resolve("e1")))
    assert(java.nio.file.Files.exists(base.resolve("corpus").resolve("e2")))
    assert(java.nio.file.Files.exists(ingested.resolve("e2").resolve("b4")))
    graft.Fs.deleteRecursively(base)
  }

  test("an itemset batch overshooting the whole headroom re-mines instead of require-failing") {
    // the itemset twin of SequentialPatternsSpec's overshoot test: the
    // 60% trigger is checked BEFORE any fold, so one batch that jumps
    // past 100% of the headroom routes to the union re-mine — the
    // fold's FUP require (cum 5 >= minCount 3, which would refuse it)
    // is never consulted on that path
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-item-overshoot")
    val art = base.resolve("art")
    val old = Seq(Seq("a", "b"), Seq("a"), Seq("b"), Seq("a", "b"))
      .toDF("items")
    Seq(("a", 3L), ("b", 3L), ("a,b", 2L)).toDF("itemset", "freq")
      .coalesce(1).write.parquet(art.toString)
    // headroom 2, ONE batch of 5 rows, one of them carrying an item
    // ("c") the old snapshot never saw — only a re-mine can count it
    val giant = Seq(Seq("a"), Seq("a", "b"), Seq("b"), Seq("a", "b", "c"),
      Seq("c")).toDF("items")
    graft.Fs.appliedMarkerSwap(base, art, 0L) { sib =>
      graft.streaming.ArtifactStream.epochStep(spark,
        graft.FpmQueries.itemsetFamily(minCountUni = 3L, probe = 1L),
        old, base, art, sib, giant, 0L, headroom = 2L)
    }
    val got = spark.read.parquet(art.toString)
      .as[(String, Long)].collect().toMap
    // exact counts over old ∪ giant at minCount 1, arity <= 3
    assert(got == Map("a" -> 6L, "b" -> 6L, "c" -> 2L, "a,b" -> 4L,
      "a,c" -> 1L, "b,c" -> 1L, "a,b,c" -> 1L),
      s"overshoot batch must land on the union re-mine: $got")
    assert(graft.Fs.readCounter(art, "snap") == 1L)
    assert(graft.Fs.readCounter(art, "epoch") == 1L)
    assert(graft.Fs.readCounter(art, "cum") == 0L,
      "the overshoot batch is absorbed by the snapshot, not counted as a fold")
    graft.Fs.deleteRecursively(base)
  }

  test("fold is associative over batches: two folds == one fold == refresh+threshold") {
    // the q188 contract: the un-thresholded fold leaves the candidate
    // set intact, so batch boundaries cannot matter, and thresholding
    // once at the end equals the one-shot refresh.
    import spark.implicits._
    val b = graft.Tables.orderBrandBaskets(spark, "/root/testdata/sf0.001")
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val d1 = added.where(col("l_orderkey") % 2 === 0)
    val d2 = added.where(col("l_orderkey") % 2 =!= 0)
    val nAdded = added.count(); val n1 = d1.count()
    val minCountUni = math.max(1L, math.ceil(0.01 * b.count()).toLong)
    val probe = math.max(1L, minCountUni - nAdded)
    val m = new FPGrowth().setMinCount(probe).setNumPartitions(4).fit(old)
    val stored = m.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
      .cache()
    val twoBatches = ItemsetRefresh.fold(
        ItemsetRefresh.fold(stored, d1, "items", minCountUni, n1),
        d2, "items", minCountUni, nAdded)
      .as[(String, Long)].collect().toMap
    val oneBatch = ItemsetRefresh.fold(stored, added, "items", minCountUni, nAdded)
      .as[(String, Long)].collect().toMap
    val refreshed = ItemsetRefresh.refresh(stored, added, "items", minCountUni, nAdded)
      .as[(String, Long)].collect().toMap
    stored.unpersist(); m.freqItemsets.unpersist()
    assert(twoBatches == oneBatch)
    assert(twoBatches.filter(_._2 >= minCountUni) == refreshed)
  }

  test("CDC refresh (adds + deletes) == full re-mine of the post-churn corpus (q193 contract)") {
    import spark.implicits._
    val b = graft.Tables.orderBrandBaskets(spark, "/root/testdata/sf0.001")
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val removed = old.where(col("l_orderkey") % 199 === 0)
    val nOld = old.count(); val nAdded = added.count()
    val nRemoved = removed.count()
    assert(nAdded > 0 && nRemoved > 0, "fixture must both add and remove")
    val minCountNew = math.max(1L,
      math.ceil(0.01 * (nOld - nRemoved + nAdded)).toLong)
    assert(nAdded < minCountNew)
    val probe = math.max(1L, minCountNew - nAdded)
    val m = new FPGrowth().setMinCount(probe).setNumPartitions(4).fit(old)
    val stored = m.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
    val got = ItemsetRefresh
      .refreshCdc(stored, added, removed, "items", minCountNew, nAdded)
      .as[(String, Long)].collect().toSet
    val retained = b.where(
      col("l_orderkey") % 199 =!= 0 || col("l_orderkey") % 211 === 0)
    val mFull = new FPGrowth().setMinCount(minCountNew).setNumPartitions(4)
      .fit(retained)
    val full = mFull.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
      .as[(String, Long)].collect().toSet
    m.freqItemsets.unpersist(); mFull.freqItemsets.unpersist()
    assert(got.nonEmpty)
    assert(got == full, "CDC refresh must equal the post-churn re-mine")
  }

  test("deletions-only CDC pass is sound at any threshold (no added rows)") {
    import spark.implicits._
    val b = graft.Tables.orderBrandBaskets(spark, "/root/testdata/sf0.001")
    val removed = b.where(col("l_orderkey") % 199 === 0)
    val nRemoved = removed.count()
    assert(nRemoved > 0)
    val minCountNew = math.max(1L,
      math.ceil(0.01 * (b.count() - nRemoved)).toLong)
    // deletions carry no bound term: the artifact needs only the NEW
    // threshold itself as its probe (probe = minCountNew - 0)
    val m = new FPGrowth().setMinCount(minCountNew).setNumPartitions(4).fit(b)
    val stored = m.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
    val empty = Seq.empty[Seq[String]].toDF("items")
    val got = ItemsetRefresh
      .refreshCdc(stored, empty, removed, "items", minCountNew, 0L)
      .as[(String, Long)].collect().toSet
    val mFull = new FPGrowth().setMinCount(minCountNew).setNumPartitions(4)
      .fit(b.where(col("l_orderkey") % 199 =!= 0))
    val full = mFull.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
      .as[(String, Long)].collect().toSet
    m.freqItemsets.unpersist(); mFull.freqItemsets.unpersist()
    assert(got == full)
  }

  test("foldSigned is associative over CDC batches (q194 contract)") {
    import spark.implicits._
    val b = graft.Tables.orderBrandBaskets(spark, "/root/testdata/sf0.001")
    val old = b.where(col("l_orderkey") % 211 =!= 0)
    val added = b.where(col("l_orderkey") % 211 === 0)
    val removed = old.where(col("l_orderkey") % 199 === 0)
    val a1 = added.where(col("l_orderkey") % 2 === 0)
    val a2 = added.where(col("l_orderkey") % 2 =!= 0)
    val r1 = removed.where(col("l_orderkey") % 2 === 0)
    val r2 = removed.where(col("l_orderkey") % 2 =!= 0)
    val nAdded = added.count(); val n1 = a1.count()
    val minCountNew = math.max(1L,
      math.ceil(0.01 * (old.count() - removed.count() + nAdded)).toLong)
    val probe = math.max(1L, minCountNew - nAdded)
    val m = new FPGrowth().setMinCount(probe).setNumPartitions(4).fit(old)
    val stored = m.freqItemsets
      .where(size(col("items")) <= 3)
      .select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
      .cache()
    val twoBatches = ItemsetRefresh.foldSigned(
        ItemsetRefresh.foldSigned(stored, a1, r1, "items", minCountNew, n1),
        a2, r2, "items", minCountNew, nAdded)
      .as[(String, Long)].collect().toMap
    val oneBatch = ItemsetRefresh
      .foldSigned(stored, added, removed, "items", minCountNew, nAdded)
      .as[(String, Long)].collect().toMap
    val refreshed = ItemsetRefresh
      .refreshCdc(stored, added, removed, "items", minCountNew, nAdded)
      .as[(String, Long)].collect().toMap
    stored.unpersist(); m.freqItemsets.unpersist()
    assert(twoBatches == oneBatch)
    assert(twoBatches.filter(_._2 >= minCountNew) == refreshed)
  }

  test("a CDC fold with cumulative adds at or above minCount is refused") {
    import spark.implicits._
    val stored = Seq(("a", 5L)).toDF("itemset", "freq")
    val added = Seq(Seq("a")).toDF("items")
    val none = Seq.empty[Seq[String]].toDF("items")
    val e = intercept[IllegalArgumentException] {
      ItemsetRefresh.foldSigned(stored, added, none, "items",
        minCountUnion = 3L, nAddedCumulative = 3L)
    }
    assert(e.getMessage.contains("re-mine"))
  }

  test("a batch redelivered after a post-commit crash folds exactly once (stream recovery)") {
    // the at-least-once window the marker guard exists for: foreachBatch
    // completed its swap, then the process died BEFORE the engine wrote
    // the checkpoint commit — on restart the same batch id is
    // redelivered and must be skipped, not re-folded.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-recovery")
    val art = base.resolve("art")
    val in = base.resolve("in").toString
    // stored artifact: candidates a, b with probe counts
    Seq(("a", 2L), ("b", 1L)).toDF("itemset", "freq")
      .coalesce(1).write.parquet(art.toString)
    // two delta batches, one file each
    Seq(Seq("a")).toDF("items").coalesce(1).write.parquet(in)
    Seq(Seq("a", "b")).toDF("items").coalesce(1)
      .write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.Fs.appliedMarkerSwap(base, art, id) { sib =>
            ItemsetRefresh.fold(
                spark.read.parquet(art.toString), batch, "items",
                minCountUnion = 100L, nAddedCumulative = 0L)
              .coalesce(1).write.parquet(sib.toString)
          }
          if (id == 0L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after commit")
          ()
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(crashed.get, "the injected crash must have fired")
    run() // restart from the same checkpoint: batch 0 is redelivered
    val got = spark.read.parquet(art.toString)
      .as[(String, Long)].collect().toMap
    // each batch folded exactly once: a: 2+1+1=4, b: 1+0+1=2
    assert(got == Map("a" -> 4L, "b" -> 2L),
      s"redelivered batch must not double-count: $got")
    graft.Fs.deleteRecursively(base)
  }

  test("the cumulative FUP guard survives a crash-restart (durable counter, not driver memory)") {
    // regression for the review finding: a driver-side cumulative
    // counter resets on restart and never counts replay-skipped
    // batches, so a stream crossing the FUP bound ACROSS a crash would
    // silently pass its require. With the durable _cum_ counter the
    // restarted run must REFUSE batch 1 (cum = 1 + 1 >= minCount 2).
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-cum-recovery")
    val art = base.resolve("art")
    val in = base.resolve("in").toString
    Seq(("a", 2L)).toDF("itemset", "freq")
      .coalesce(1).write.parquet(art.toString)
    Seq(Seq("a")).toDF("items").coalesce(1).write.parquet(in)
    Seq(Seq("a")).toDF("items").coalesce(1)
      .write.mode("append").parquet(in)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val schema = spark.read.parquet(in).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.Fs.appliedMarkerSwap(base, art, id) { sibling =>
            val cum = graft.Fs.readCounter(art, "cum") + batch.count()
            ItemsetRefresh.fold(
                spark.read.parquet(art.toString), batch, "items",
                minCountUnion = 2L, nAddedCumulative = cum)
              .coalesce(1).write.parquet(sibling.toString)
            graft.Fs.writeCounter(sibling, "cum", cum)
          }
          // crash AFTER the swap committed, BEFORE the engine writes
          // the checkpoint commit — the at-least-once window
          if (id == 0L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after commit")
          ()
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // first run: batch 0 commits (cum=1), then the injected crash
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(graft.Fs.readCounter(art, "cum") == 1L, "counter committed with batch 0")
    // restart: batch 0 redelivered+skipped (still counted — it is IN
    // the artifact), batch 1 reads cum=1, folds to 2 >= minCount 2 and
    // the require must fire
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    def causeChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(c => Option(c.getMessage).getOrElse("")).toSeq
    assert(causeChain(e).exists(_.contains("re-mine")),
      s"the FUP require must refuse across the restart: ${causeChain(e)}")
    graft.Fs.deleteRecursively(base)
  }

  test("a fold refuses an artifact itemset of arity above 3 instead of under-counting it") {
    // the subset enumeration stops at arity 3: folding [a,b,c,d] into a
    // stored {a,b,c,d}:5 would leave it at 5, not 6, and a refresh at
    // minCount 6 would silently drop it
    import spark.implicits._
    val stored = Seq(("a", 5L), ("b", 5L), ("c", 5L), ("d", 5L), ("a,b,c,d", 5L))
      .toDF("itemset", "freq")
    val added = Seq(Seq("a", "b", "c", "d")).toDF("items")
    val e = intercept[IllegalArgumentException] {
      ItemsetRefresh.refresh(stored, added, "items", minCountUnion = 6L, nAdded = 1L)
    }
    assert(e.getMessage.contains("a,b,c,d") && e.getMessage.contains("arity"))
  }

  test("a delta at or above minCount_union is refused (full re-mine trigger)") {
    import spark.implicits._
    val stored = Seq(("a", 5L)).toDF("itemset", "freq")
    val added = Seq(Seq("a")).toDF("items")
    val e = intercept[IllegalArgumentException] {
      ItemsetRefresh.refresh(stored, added, "items", minCountUnion = 3L, nAdded = 3L)
    }
    assert(e.getMessage.contains("re-mine"))
  }
}
