package graft.fpm

import org.apache.spark.sql.DataFrame
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
 * of `p` ([[matchEnd]]). Each level is therefore one distributed pass:
 * a typed `mapPartitions` over the cached sequences, with the frequent
 * prefixes broadcast, emits `(prefix index, type)` for every distinct
 * type in the suffix after each matched prefix, and one groupBy counts
 * the pairs. Candidates that never co-occur in the data are never
 * generated, let alone counted.
 *
 * [[matchEnd]] is the family's one containment test: the mine above,
 * the FUP correction pass ([[signedSupport]]) and the next-event
 * predictor (`graft.RelQueries.sequencePredictFrom`) all call it on
 * plain arrays. No pattern ever becomes a plan literal, so the plan is
 * the same size whatever the number or length of the patterns.
 *
 * This replaces round-13's GSP candidate enumeration, whose level-k
 * candidate literal was `|freq(k-1)| x |F1|`-sized — alphabet-bounded,
 * fine at a 5-type events fixture, but a 10^4-type vocabulary makes
 * the level-2 literal 10^8 entries: a Catalyst expression tree that
 * large fails long before the cluster does. Here the only state shipped
 * is the frequent-prefix list itself — OUTPUT-bounded (few by the
 * PrefixSpan premise at any useful support), not V^k.
 *
 * == Scale shape ==
 *
 * One shuffle builds the per-key ordered sequences ([[sequences]]: a
 * bounded per-key collect — the projected-database assumption every
 * PrefixSpan-family miner makes: one key's history fits in memory).
 * Each level is then a typed pass over the cached sequences — per-row
 * work is `|freq(k-1)|` greedy scans that stop at the match plus one
 * suffix-distinct per matched prefix, followed by one partial-aggregated
 * groupBy whose key domain is the observed (prefix index, extension)
 * pairs. Corpus size never enters a join; layer results collect as
 * support-bounded metadata (the histogram / codebook discipline) and
 * the output assembles driver-side.
 *
 * Determinism: sequences order by the strictly-unique (time, eventId)
 * pair, so subsequence positions biject onto strict lexicographic
 * comparisons — the declared row's oracle states containment as
 * EXISTS-ordered-positions joins and counts match exactly.
 */
object SequentialPatterns {

  /** 1-based index where the greedy earliest match of `pat` inside
    * `seq` completes; 0 when `seq` does not contain `pat` or `pat` is
    * empty. Greedy matching advances the pattern cursor on every hit,
    * so the scan stops at the first completion. */
  def matchEnd(seq: Array[String], pat: Array[String]): Int = {
    if (pat.isEmpty) return 0
    var m = 0
    var i = 0
    while (i < seq.length) {
      if (seq(i) == pat(m)) {
        m += 1
        if (m == pat.length) return i + 1
      }
      i += 1
    }
    0
  }

  /** Per-key ordered event sequences: `keyCols` plus `seq`, each key's
    * non-null `typeCol` values ordered by the strictly-unique (time,
    * event id) pair. One shuffle. */
  def sequences(
      events: DataFrame, keyCols: Seq[String], tsCol: String,
      idCol: String, typeCol: String): DataFrame =
    events.where(col(typeCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(tsCol).as("t"),
        col(idCol).as("i"), col(typeCol).as("y")))).as("s"))
      .select(keyCols.map(col) :+
        expr("transform(s, x -> x.y)").as("seq"): _*)

  /**
   * Signed containment counts of the candidate `patterns`: entry j is
   * `Σ sign × (keys whose sequence on that side contains patterns(j))`.
   * ONE distributed job for any number of sides: each side's events are
   * tagged with its index and sign and unioned (no union for a single
   * side), each (key, side) builds its ordered sequence in one shuffle,
   * and a typed pass tests every broadcast candidate with [[matchEnd]],
   * summing signs into one `Long` array per partition. The driver adds
   * the partitions' arrays.
   */
  private def signedSupport(
      sides: Seq[(DataFrame, Int)], keyCol: String, tsCol: String,
      idCol: String, typeCol: String,
      patterns: Array[Array[String]]): Array[Long] = {
    val tagged = sides.zipWithIndex.map { case ((ev, sign), j) =>
      ev.select(col(keyCol), col(tsCol), col(idCol), col(typeCol),
        lit(j).as("__side"), lit(sign.toLong).as("__sign"))
    }.reduce(_ unionByName _)
    val spark = tagged.sparkSession
    import spark.implicits._
    val pats = spark.sparkContext.broadcast(patterns)
    try {
      val parts = sequences(tagged, Seq(keyCol, "__side", "__sign"),
          tsCol, idCol, typeCol)
        .select(col("__sign"), col("seq")).as[(Long, Array[String])]
        .mapPartitions { it =>
          val ps = pats.value
          val sums = new Array[Long](ps.length)
          it.foreach { case (sign, s) =>
            var j = 0
            while (j < ps.length) {
              if (matchEnd(s, ps(j)) > 0) sums(j) += sign
              j += 1
            }
          }
          Iterator.single(sums)
        }
        .collect()
      Array.tabulate(patterns.length)(j => parts.iterator.map(_(j)).sum)
    } finally pats.destroy()
  }

  /** This family's [[Fup.fold]]: `stored` `(pattern, plen, support)`
    * plus the signed containment counts of its patterns over `sides` —
    * one correction job, none when the artifact is empty (empty
    * patterns are dropped and duplicates collapse before the
    * candidates are broadcast). */
  private def signedFold(
      stored: DataFrame, sides: Seq[(DataFrame, Int)], keyCol: String,
      tsCol: String, idCol: String, typeCol: String): DataFrame =
    Fup.fold(stored.select(col("pattern"), col("plen"), col("support")),
        "pattern", "support") { keys =>
      val pats = keys.map(_.split("->").toSeq).filter(_.nonEmpty).distinct
      if (pats.isEmpty) Map.empty
      else pats.map(_.mkString("->")).zip(signedSupport(sides, keyCol,
        tsCol, idCol, typeCol, pats.map(_.toArray).toArray)).toMap
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
    import spark.implicits._
    val seqs = sequences(events, Seq(keyCol), tsCol, idCol, typeCol)
      .select(col("seq")).as[Array[String]]
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // One long of metadata: the key count that anchors the threshold.
      val numKeys = seqs.count()
      val minCount = (numKeys * minSupportNum + minSupportDen - 1) /
        minSupportDen

      // One distributed pass per level: the frequent prefixes are
      // broadcast; extensions are PROJECTED from the data (the distinct
      // types after each prefix's greedy match), never enumerated.
      def extendLayer(freqPrev: Seq[List[String]]): Seq[(List[String], Long)] =
        if (freqPrev.isEmpty) Nil
        else {
          val prefixes = freqPrev.map(_.toArray).toArray
          val bc = spark.sparkContext.broadcast(prefixes)
          try seqs.mapPartitions { it =>
              val ps = bc.value
              it.flatMap { s =>
                ps.indices.iterator.flatMap { j =>
                  val e = matchEnd(s, ps(j))
                  if (e == 0) Iterator.empty
                  else s.iterator.drop(e).distinct.map(c => (j, c))
                }
              }
            }
            .toDF("j", "c")
            .groupBy(col("j"), col("c")).agg(count(lit(1)).as("support"))
            .where(col("support") >= minCount)
            .collect()
            .map(r => (prefixes(r.getInt(0)).toList :+ r.getString(1),
              r.getLong(2))).toSeq
          finally bc.destroy()
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
      layers.reverse.flatten
        .map { case (p, s) => (p.mkString("->"), p.length, s) }
        .toDF("pattern", "plen", "support")
    } finally seqs.unpersist()
  }
}
