package graft.fpm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Sequential pattern mining — the event-log sibling of the reference's
 * frequent-ITEMSET mining (`/root/reference/src/main/java/fdu/cst/
 * bigdata/pfp/FPGrowthCore.scala` mines unordered transactions; this
 * mines ORDERED per-key event sequences, the GSP/PrefixSpan problem
 * family of Srikant & Agrawal 1996 / Pei et al. 2001). A pattern
 * `a -> b -> c` is frequent when at least `minSupport` of the keys'
 * event sequences contain it as a (not necessarily contiguous)
 * subsequence.
 *
 * == Algorithm (PrefixSpan-style frequent-prefix projection) ==
 *
 * Level k grows each frequent (k-1)-pattern `p` by the event types
 * OBSERVED after `p`'s match in each sequence — never by enumerating
 * the alphabet. The correctness hinge: greedy earliest matching is
 * optimal for subsequence containment, so a sequence contains `p :+ c`
 * iff `c` occurs strictly after the end of the greedy earliest match
 * of `p`. Each level is therefore one distributed pass: per
 * (sequence, frequent prefix), find the greedy match end (an
 * `aggregate` fold carrying a (cursor, index, end) struct — no UDF),
 * project the distinct types of the suffix, and count (prefix, type)
 * pairs. Candidates that never co-occur in the data are never
 * generated, let alone counted.
 *
 * This replaces round-13's GSP candidate enumeration, whose level-k
 * candidate literal was `|freq(k-1)| x |F1|`-sized — alphabet-bounded,
 * fine at a 5-type events fixture, but a 10^4-type vocabulary makes
 * the level-2 literal 10^8 entries: a Catalyst expression tree that
 * large fails long before the cluster does. Here the only literal
 * shipped is the frequent-prefix list itself — OUTPUT-bounded (few by
 * the PrefixSpan premise at any useful support), not V^k.
 *
 * == Scale shape ==
 *
 * One shuffle builds the per-key ordered sequences (bounded per-key
 * collect — the projected-database assumption every PrefixSpan-family
 * miner makes: one key's history fits in memory). Each level is then a
 * pure projection over the cached sequences — per-row work is
 * `|freq(k-1)| x |seq|` greedy folds plus one suffix-distinct, followed
 * by one partial-aggregated groupBy whose key domain is the observed
 * (prefix, extension) pairs. Corpus size never enters a join; layer
 * results collect as support-bounded metadata (the histogram /
 * codebook discipline) and the output assembles driver-side.
 *
 * Determinism: sequences order by the strictly-unique (time, eventId)
 * pair, so subsequence positions biject onto strict lexicographic
 * comparisons — the declared row's oracle states containment as
 * EXISTS-ordered-positions joins and counts match exactly.
 */
object SequentialPatterns {

  /** Test-only window onto [[greedyMatchEnd]] — the specialization
    * contract spec pins [[matchEndLit]] against the generic fold. */
  private[fpm] def testGreedyMatchEnd(seq: Column, pat: Column): Column =
    greedyMatchEnd(seq, pat)

  /** 1-based index where the greedy earliest match of `pat` inside
    * `seq` completes; 0 when `seq` does not contain `pat`. The fold
    * carries (match cursor m, element index i, completion index e):
    * greedy matching advances m on every hit while m < |pat|, and e
    * records i the first time m reaches |pat|. */
  private def greedyMatchEnd(seq: Column, pat: Column): Column =
    aggregate(seq,
      struct(lit(0).as("m"), lit(0).as("i"), lit(0).as("e")),
      (a, x) => {
        val hit = a.getField("m") < size(pat) &&
          x === element_at(pat, a.getField("m") + 1)
        val m2 = when(hit, a.getField("m") + 1).otherwise(a.getField("m"))
        struct(m2.as("m"), (a.getField("i") + 1).as("i"),
          when(a.getField("e") === 0 && hit && m2 === size(pat),
            a.getField("i") + 1).otherwise(a.getField("e")).as("e"))
      },
      a => a.getField("e"))

  /** Whether `seq` contains `pat` as a (not necessarily contiguous)
    * subsequence — greedy earliest matching, see [[greedyMatchEnd]].
    * Public for the transform surface (q201's rule firing test). */
  def containsPattern(seq: Column, pat: Column): Column =
    greedyMatchEnd(seq, pat) > 0

  /** Prefixes per mine LEVEL up to which [[matchEndLit]] specialization
    * is used in [[frequentSequences]]' extension layer; above it the
    * generic [[greedyMatchEnd]] fold keeps the expression tree bounded
    * (a plan literal of tens of thousands of chained natives would cost
    * more to codegen than it saves — the same cap discipline as the
    * q201 probe). The specialized arm applies ONLY where a corpus-sized
    * pass amortizes its plan cost: round 17 measured the per-call
    * analysis+codegen of ~155 chained-native trees at ~1.5-2 s — a win
    * inside the mine (one pass per level over the whole corpus, native
    * early-exit scans per row) and a 2-3.5x LOSS in the per-batch
    * [[signedSupport]] path, whose inputs are delta-sized by design
    * (the round-16 regression, adjudicated in OPTIMIZATION_r17.md).
    * Env-overridable for adjudication experiments; the local default is
    * also the production default — the bound is a plan-size budget, not
    * a data-size tunable. */
  private[fpm] val SpecializeCap =
    sys.env.get("GRAFT_SPECIALIZE_CAP").map(_.toInt).getOrElse(1024)

  /** Max pattern LENGTH for the specialized arm: [[matchEndLit]]
    * references `prev` three times per chained step, so its tree grows
    * ~3^L in pattern length L — the count cap alone does not bound the
    * plan (a length-12 artifact times 1024 patterns would blow up
    * analysis). Mines at the declared maxLen (3-4) specialize; beyond
    * this the generic fold arm runs. */
  private[fpm] val SpecializeMaxPatLen = 6

  /** [[greedyMatchEnd]] SPECIALIZED at expression-build time for a
    * pattern known driver-side (the q201 probe discipline generalized
    * to any literal pattern): greedy earliest matching is a chain of
    * first-occurrence scans, so each step is one early-exiting native
    * `array_position` over the suffix after the previous step's match
    * — whole-stage-codegen'd, no per-element struct allocation, exits
    * at the hit instead of folding the whole sequence. Returns the
    * identical 1-based completion index, 0 on no match (spec-pinned
    * equal to the generic fold on random inputs). */
  private[fpm] def matchEndLit(seq: Column, pat: Seq[String]): Column = {
    require(pat.nonEmpty, "matchEndLit needs a nonempty pattern")
    pat.tail.foldLeft(array_position(seq, lit(pat.head))) { (prev, item) =>
      // slice length over-shoots (clamped) — cheaper than size-prev
      val rel = array_position(
        slice(seq, (prev + 1).cast("int"), size(seq)), lit(item))
      when(prev > 0 && rel > 0, prev + rel).otherwise(lit(0L))
    }
  }

  /**
   * Signed containment counts of the candidate `patterns` —
   * `(pattern, support)` with the `"a->b"` string key and `support =
   * Σ sign × (keys whose sequence on that side contains the pattern)`,
   * omitting candidates no side contains. ONE distributed job for any
   * number of sides: each side's events are tagged with its index and
   * sign and unioned (no union for a single side), each (key, side)
   * builds its ordered sequence in one shuffle, and one aggregation sums
   * the signs. The candidate list ships as a plan literal (caller-
   * bounded — artifact-sized at the fold call sites); containment is
   * the greedy fold. Lazy — the returned plan executes when the caller
   * acts on it.
   *
   * Deliberately the GENERIC fold arm, never the [[matchEndLit]]
   * specialization: every lifecycle caller hands this delta-sized
   * input (added / touched / erased keys only), where round 17
   * measured the specialized arm's per-call plan analysis+codegen
   * (~1.5-2 s for an artifact-sized candidate list) at 2-3.5x the
   * whole query — the round-16 driver regression. The specialization
   * earns its plan cost only on corpus-sized passes (the mine's
   * extension layer, q201's literal probes).
   */
  private[fpm] def signedSupport(
      sides: Seq[(DataFrame, Int)], keyCol: String, tsCol: String,
      idCol: String, typeCol: String,
      patterns: Seq[Seq[String]]): DataFrame = {
    val seqs = sides.zipWithIndex.map { case ((ev, sign), j) =>
      ev.select(col(keyCol).as("k"), col(tsCol).as("t"),
          col(idCol).as("i"), col(typeCol).as("y"),
          lit(j).as("__side"), lit(sign.toLong).as("__sign"))
        .where(col("y").isNotNull)
    }.reduce(_ unionByName _)
      .groupBy(col("k"), col("__side"), col("__sign"))
      .agg(sort_array(collect_list(struct(col("t"), col("i"),
        col("y")))).as("s"))
      .select(col("__sign"), expr("transform(s, x -> x.y)").as("seq"))
    val patLit = array(patterns.map(p => array(p.map(lit): _*)): _*)
    seqs
      .select(col("__sign"), explode(patLit).as("pat"), col("seq"))
      .where(greedyMatchEnd(col("seq"), col("pat")) > 0)
      .groupBy(array_join(col("pat"), "->").as("pattern"))
      .agg(sum(col("__sign")).as("support"))
  }

  /** This family's [[Fup.fold]]: `stored` `(pattern, plen, support)`
    * plus the signed containment counts of its patterns over `sides` —
    * one correction job, none when the artifact is empty (empty
    * patterns are dropped and duplicates collapse before the plan
    * literal is built). */
  private def signedFold(
      stored: DataFrame, sides: Seq[(DataFrame, Int)], keyCol: String,
      tsCol: String, idCol: String, typeCol: String): DataFrame =
    Fup.fold(stored.select(col("pattern"), col("plen"), col("support")),
        "pattern", "support") { keys =>
      val pats = keys.map(_.split("->").toSeq).filter(_.nonEmpty).distinct
      if (pats.isEmpty) Map.empty
      else signedSupport(sides, keyCol, tsCol, idCol, typeCol, pats)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /**
   * FUP refresh ([[Fup]]) of a frequent-sequence artifact for a
   * KEY-DISJOINT delta — the [[graft.fpm.ItemsetRefresh]] lifecycle
   * applied to the sequence family. Its additivity contract: sequence
   * support counts are additive over KEYS, not rows — `support_union(p)
   * = support_old(p) + support_delta(p)` holds exactly when the delta's
   * keys are disjoint from the old snapshot's (new users), because an
   * event that EXTENDS an existing key's sequence can create
   * containments in the old half, which no delta-only count can see.
   * Key-disjointness is the caller's CONTRACT (the itemset family needs
   * no such clause — transactions are rows, rows are trivially
   * disjoint); a same-key-extending ingest needs [[refreshTouched]] or a
   * re-mine. Under it the charged unit of the candidate bound is the
   * delta's key count: disjoint delta keys add at most `|deltaKeys|`.
   *
   * `stored`: `(pattern, plen, support)` mined at the probe threshold.
   * Work: only the delta's events are sequenced; the stored side is
   * artifact-sized (one bounded collect for the candidates and the
   * merge).
   */
  def refresh(
      stored: DataFrame, deltaEvents: DataFrame, keyCol: String,
      tsCol: String, idCol: String, typeCol: String,
      minCountUnion: Long, nAddedKeys: Long): DataFrame =
    fold(stored, deltaEvents, keyCol, tsCol, idCol, typeCol,
      minCountUnion, nAddedKeys)
      .where(col("support") >= minCountUnion)

  /**
   * Changed-keys recount refresh — the SAME-KEY-EXTENDING ingest case
   * [[refresh]] excludes. Its additivity contract: when delta events
   * extend EXISTING keys' sequences, per-key support is not additive,
   * but it IS per-key replaceable — `support_new(p) = support_old(p) -
   * contained_oldTouched(p) + contained_newTouched(p)`, because only the
   * touched keys' terms in the support sum change. Both correction
   * terms are exact containment counts over ONLY the touched keys'
   * sequences (old and new versions) — delta-sized work when touches
   * are sparse, and at warehouse scale the old-touched retrieval is a
   * key-pruned scan (the q64 layout's case).
   *
   * The charged unit of the candidate bound is the touched-key count: a
   * touched key can raise a pattern's support by at most 1, and only
   * touched keys can raise it. Keys whose entire history is new (absent
   * from the old snapshot) are just touched keys whose old containment
   * terms are zero — the disjoint-delta [[refresh]] is the special case
   * where ALL touched keys are such.
   *
   * `oldTouched`/`newTouched`: the touched keys' events in the old
   * resp. new corpus state (the caller filters; a semi-join against
   * the delta's key set is the scale-safe filter).
   */
  def refreshTouched(
      stored: DataFrame, oldTouched: DataFrame, newTouched: DataFrame,
      keyCol: String, tsCol: String, idCol: String, typeCol: String,
      minCountUnion: Long, nTouchedKeys: Long): DataFrame =
    foldTouched(stored, oldTouched, newTouched, keyCol, tsCol, idCol,
      typeCol, minCountUnion, nTouchedKeys)
      .where(col("support") >= minCountUnion)

  /**
   * Un-thresholded [[refreshTouched]] — the CDC-stream building block,
   * [[fold]]'s role for same-key-extending batches: the per-key
   * correction terms for KEY-DISJOINT batches commute and sum, so
   * folding touched-key batches is associative. `nTouchedCumulative` is
   * the total distinct touched keys folded so far including this batch
   * — batches must be key-disjoint among THEMSELVES (one key's whole
   * churn inside one batch: a key touched twice would subtract a stale
   * old term the second time), and the candidate-bound require lives
   * here so no per-batch caller can skip it. Both correction terms come
   * out of ONE distributed job.
   */
  def foldTouched(
      stored: DataFrame, oldTouched: DataFrame, newTouched: DataFrame,
      keyCol: String, tsCol: String, idCol: String, typeCol: String,
      minCountUnion: Long, nTouchedCumulative: Long): DataFrame = {
    Fup.requireBound(nTouchedCumulative, minCountUnion, "touched keys")
    signedFold(stored, Seq(oldTouched -> -1, newTouched -> 1),
      keyCol, tsCol, idCol, typeCol)
  }

  /**
   * KEY-ERASURE refresh — the deletion-only [[refreshTouched]] case
   * (GDPR right-to-be-forgotten, the maintenance op a user-keyed
   * warehouse actually runs on a deadline): remove whole keys and
   * their histories, keep the pattern artifact exact. Erasure only
   * LOWERS supports, so it carries no candidate-bound require
   * ([[Fup]]: deletions are free). The caller's one obligation: the
   * stored artifact's mine threshold must not exceed the POST-erasure
   * `minCountNew` (a support-fraction convention shrinks it with the key
   * universe, so such an artifact needs probe slack for the shrinkage,
   * or a re-mine; the declared row mines its artifact at exactly
   * `minCountNew` to state the boundary sharply).
   *
   * Work: one containment count over ONLY the erased keys' events —
   * delta-sized, key-pruned under the q64 layout — one artifact-sized
   * merge, one re-threshold. The untouched keys are never rescanned:
   * erasing a user costs their own history, not the corpus.
   */
  def erase(
      stored: DataFrame, erasedEvents: DataFrame, keyCol: String,
      tsCol: String, idCol: String, typeCol: String,
      minCountNew: Long): DataFrame =
    eraseFold(stored, erasedEvents, keyCol, tsCol, idCol, typeCol)
      .where(col("support") >= minCountNew)

  /**
   * Un-thresholded [[erase]] — the erasure-QUEUE streaming building
   * block: subtraction terms for key-disjoint batches commute and
   * sum, so folding erasure requests batch by batch is associative
   * and the threshold applies once at read. The stream's one contract
   * is that each key is erased ONCE (a key whose erasure request is
   * delivered in two different batches would subtract twice — the
   * batch-id replay guard handles redelivery of the SAME batch; no
   * in-batch require can check cross-batch dedup). [[eraseBatchOnce]]
   * turns that contract into a CHECKED invariant via a durable
   * erased-key record committed with each swap — the form every stream
   * caller should use; this raw fold remains the algebra underneath it
   * and the right call when the caller guarantees disjointness
   * structurally (q195's one shot).
   */
  def eraseFold(
      stored: DataFrame, erasedEvents: DataFrame, keyCol: String,
      tsCol: String, idCol: String, typeCol: String): DataFrame =
    signedFold(stored, Seq(erasedEvents -> -1), keyCol, tsCol, idCol,
      typeCol)

  /** Default erase-once redelivery horizon, in batch ids: a duplicate
    * erase request is assumed to arrive at most this many batches
    * after the batch that first applied the key. 16 matches
    * [[graft.Fs.MarkerRetention]]'s breadcrumb depth — generous for
    * queue redelivery (typically the NEXT delivery attempt, lag 1-2)
    * while keeping the record a bounded window rather than the
    * stream's whole history. */
  val DefaultRedeliveryHorizon = 16L

  /** The erased-key record after one batch, pure: `requested` keys are
    * stamped with this batch id (a redelivery REFRESHES its stamp —
    * the safe direction: a key seen twice gets a full new horizon),
    * then every key whose stamp has fallen more than `horizon` batch
    * ids behind is dropped. That keeps the record's size bounded by
    * the keys erased within the horizon window instead of the
    * stream's lifetime — the compaction VERDICT r15 asked for. The
    * price is explicit: a duplicate arriving MORE than `horizon`
    * batches late is no longer caught (it would subtract again), so
    * `horizon` must dominate the queue's true max redelivery lag. */
  def compactEraseRecord(
      done: Map[Long, Long], requested: Set[Long],
      batchId: Long, horizon: Long): Map[Long, Long] =
    (done ++ requested.iterator.map(_ -> batchId))
      .filter { case (_, stamped) => stamped + horizon >= batchId }

  /**
   * One erase-queue batch with the erase-once contract CHECKED, not
   * trusted: the already-erased keys ride durably inside the artifact
   * dir (`_erased`, [[graft.Fs.readKeyMap]] — key -> the batch id that
   * last carried it) and commit atomically with each fold by the same
   * swap rename — so a key whose request is redelivered in a LATER
   * batch (a different batch id, which the `_applied_` replay marker
   * cannot catch) subtracts its containment terms exactly once; the
   * duplicate is skipped and the artifact is unharmed. The request set
   * is driver-side by nature (it is also what must be recorded):
   * erasure queues are request-sized, not corpus-sized — the IN-list
   * retrieval below is the same key-pruned scan as the semi-join form
   * at warehouse scale (partition pruning under the q64 layout), and
   * the record itself is BOUNDED by [[compactEraseRecord]]'s
   * redelivery-horizon compaction: keys the queue can no longer
   * redeliver leave the exact set, so a year-long stream carries a
   * window-sized record, not its whole erasure history (the Bloom
   * variant for the 10^9-keys-per-window regime is documented at
   * [[graft.Fs.readKeyMap]]).
   *
   * Writes the complete replacement artifact (fold result + updated
   * key record) into `sibling`; the caller's
   * [[graft.Fs.appliedMarkerSwap]] publishes it. An all-duplicate
   * batch still writes a full sibling (the swap protocol requires a
   * complete replacement, and the marker still needs to commit).
   */
  def eraseBatchOnce(
      stored: DataFrame, allEvents: DataFrame, keyCol: String,
      tsCol: String, idCol: String, typeCol: String,
      artDir: java.nio.file.Path, sibling: java.nio.file.Path,
      requested: Set[Long], batchId: Long,
      redeliveryHorizon: Long = DefaultRedeliveryHorizon): Unit = {
    val done = graft.Fs.readKeyMap(artDir, "erased")
    val fresh = requested -- done.keySet
    val out =
      if (fresh.isEmpty)
        stored.select(col("pattern"), col("plen"), col("support"))
      else
        eraseFold(stored,
          allEvents.where(col(keyCol).isInCollection(fresh)),
          keyCol, tsCol, idCol, typeCol)
    out.coalesce(1).write.parquet(sibling.toString)
    graft.Fs.writeKeyMap(sibling, "erased",
      compactEraseRecord(done, requested, batchId, redeliveryHorizon))
  }

  /**
   * Un-thresholded [[refresh]] — the streaming building block, exactly
   * [[graft.fpm.ItemsetRefresh.fold]]'s role for this family (see
   * [[Fup]]). `nAddedKeysCumulative` is the total distinct delta keys
   * folded so far including this batch (each key's WHOLE event history
   * must arrive within one batch — a key split across batches is the
   * same additivity violation as a same-key extension); the
   * candidate-bound require lives here so no per-batch caller can skip
   * it.
   */
  def fold(
      stored: DataFrame, deltaEvents: DataFrame, keyCol: String,
      tsCol: String, idCol: String, typeCol: String,
      minCountUnion: Long, nAddedKeysCumulative: Long): DataFrame = {
    Fup.requireBound(nAddedKeysCumulative, minCountUnion, "new keys")
    signedFold(stored, Seq(deltaEvents -> 1), keyCol, tsCol, idCol, typeCol)
  }

  /**
   * Frequent sequential patterns of length 1..`maxLen` over per-key
   * ordered event sequences. `minSupportNum / minSupportDen` is the
   * support fraction (kept rational so the threshold
   * `ceil(frac * keys)` is exact integer arithmetic cross-engine).
   *
   * Returns `(pattern, plen, support)` — the pattern as
   * `"a->b->c"`, its length, and the number of keys containing it.
   */
  def frequentSequences(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      typeCol: String, minSupportNum: Long = 4L, minSupportDen: Long = 5L,
      maxLen: Int = 3): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1: $maxLen")
    require(minSupportNum >= 0 && minSupportDen > 0,
      s"support fraction must be a nonnegative rational: " +
        s"$minSupportNum/$minSupportDen")
    val spark = events.sparkSession
    val seqs = events.where(col(typeCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("t"),
        col(idCol).as("i"), col(typeCol).as("y")))).as("s"))
      .select(expr("transform(s, x -> x.y)").as("seq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // One long of metadata: the key count that anchors the threshold.
      val numKeys = seqs.count()
      val minCount = (numKeys * minSupportNum + minSupportDen - 1) /
        minSupportDen

      // One distributed pass per level: frequent prefixes ship as an
      // output-bounded plan literal; extensions are PROJECTED from the
      // data (suffix after the greedy match), never enumerated.
      def extendLayer(freqPrev: Seq[List[String]]): Seq[(List[String], Long)] =
        if (freqPrev.isEmpty) Nil
        else if (freqPrev.length <= SpecializeCap &&
            freqPrev.iterator.map(_.length).max <= SpecializeMaxPatLen) {
          // Specialized arm (the [[matchEndLit]] discipline): compute
          // every prefix's distinct suffix types in ONE projection per
          // sequence row — each prefix costs an early-exiting native
          // match + one guarded slice/distinct — then posexplode the
          // per-prefix arrays. The exchange carries (int index, type)
          // instead of the fold arm's (full pattern array, type), and
          // no generator row ever copies the sequence itself.
          val exts = array(freqPrev.map { p =>
            val e = matchEndLit(col("seq"), p)
            when(e > 0, array_distinct(
              slice(col("seq"), (e + 1).cast("int"), size(col("seq")))))
              .otherwise(lit(null).cast("array<string>"))
          }: _*)
          seqs.select(posexplode(exts).as(Seq("j", "cs")))
            .where(col("cs").isNotNull)
            .select(col("j"), explode(col("cs")).as("c"))
            .groupBy(col("j"), col("c")).agg(count(lit(1)).as("support"))
            .where(col("support") >= minCount)
            .collect()
            .map(r => (freqPrev(r.getInt(0)) :+ r.getString(1),
              r.getLong(2))).toSeq
        } else {
          val patLit = array(freqPrev.map(p => array(p.map(lit): _*)): _*)
          seqs.select(col("seq"), explode(patLit).as("pat"))
            .withColumn("e", greedyMatchEnd(col("seq"), col("pat")))
            .where(col("e") > 0)
            .select(col("pat"), explode(array_distinct(
              slice(col("seq"), col("e") + 1,
                size(col("seq")) - col("e")))).as("c"))
            .groupBy(col("pat"), col("c")).agg(count(lit(1)).as("support"))
            .where(col("support") >= minCount)
            .collect()
            .map(r => (r.getSeq[String](0).toList :+ r.getString(1),
              r.getLong(2))).toSeq
        }

      // L1: one vocabulary-sized aggregation (the only alphabet-sized
      // result in the mine; everything after is support-bounded).
      val l1: Seq[(List[String], Long)] = seqs
        .select(explode(array_distinct(col("seq"))).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("support"))
        .where(col("support") >= minCount)
        .collect().map(r => (List(r.getString(0)), r.getLong(1))).toSeq
      var layers = List(l1)
      var freqK: Seq[List[String]] = l1.map(_._1)
      var k = 2
      while (k <= maxLen && freqK.nonEmpty) {
        val lk = extendLayer(freqK)
        layers = lk :: layers
        freqK = lk.map(_._1)
        k += 1
      }
      import spark.implicits._
      layers.reverse.flatten
        .map { case (p, s) => (p.mkString("->"), p.length, s) }
        .toDF("pattern", "plen", "support")
    } finally seqs.unpersist()
  }
}
