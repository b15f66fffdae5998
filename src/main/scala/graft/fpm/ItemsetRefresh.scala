package graft.fpm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incremental frequent-itemset refresh — the save→load→merge lifecycle
 * the engine's other artifacts follow (HLL/CMS/qsketch registers, dup
 * clusters, boilerplate counts), applied to the flagship FP-growth
 * output, which the reference re-mines from scratch on every run
 * (`reference pfp/FPGrowthCore.scala:49-65` has no refresh path).
 *
 * Design: the FUP/FUP2 candidate refresh of [[Fup]] (the probe-threshold
 * candidate bound, the re-mine trigger, deletions carrying no bound
 * term), NOT group re-mining. This family's additivity contract:
 * transactions are rows, so support counts are additive over added and
 * removed transactions with no further clause — `count_new = count_old
 * + count_added − count_removed`, where `removed` is a sub-multiset of
 * the corpus state the artifact reflects (you can only delete rows that
 * exist; under it no stored count goes negative). The charged unit of
 * the bound is the cumulative ADDED transaction count. Each fold counts
 * every artifact candidate's EXACT support in the changed transactions
 * alone (one bounded subset enumeration — no re-mining, no old-corpus
 * rescan) and adds it; a refresh then re-thresholds. The result is
 * bit-equal to a full re-mine at `minCount_union` — which is exactly
 * what the q170 oracle states by mining the union corpus directly (same
 * statement as q03).
 *
 * Arity is capped at 3 throughout — the family's oracle-exactness cap
 * (q03/q04/q168); the subset enumeration below is hard-wired to it, so
 * a fold refuses an artifact holding a wider itemset instead of
 * silently leaving its count stale.
 *
 * Scale shape: the artifact build is one FP-growth run over the OLD
 * snapshot (paid once per snapshot, amortized across refreshes); each
 * refresh touches only `|delta|` transactions — the enumeration
 * explodes at most `m + C(m,2) + C(m,3)` subset rows per changed
 * transaction over the candidate item universe `m = |F-list at
 * minCount_probe|` (candidate-filtered BEFORE enumeration), partial-
 * aggregated into delta counts, then merged into the collected
 * artifact. No stage scales with the old corpus.
 */
object ItemsetRefresh {

  /**
   * Exact support counts, in `added` alone, of every itemset of arity
   * <= 3 over `candidateItems` — `(itemset, freq_delta)` with the
   * canonical sorted comma-joined key (transactions arrive as SORTED
   * DISTINCT item arrays, the basket contract, so in-order enumeration
   * with strict `>` item comparisons emits each subset exactly once,
   * already canonical).
   */
  def deltaCounts(
      added: DataFrame, itemsCol: String,
      candidateItems: Seq[String]): DataFrame =
    signedCounts(Seq(added -> 1), itemsCol, candidateItems)

  /**
   * The signed correction plan: every arity-<=3 subset of each side's
   * candidate-filtered transactions, `sum(sign)` per canonical key, out
   * of ONE pass — the sides union with a sign column (no union for a
   * single side, so the add-only plan is exactly [[deltaCounts]]').
   *
   * Shape notes (the r17 q127/q98 discipline — no interpreted HOFs, no
   * re-scanning unions):
   *  - the candidate filter is `array_intersect` (real codegen; the
   *    `filter(_, lambda)` it replaces is `ArrayFilter`, a
   *    CodegenFallback) — items are SORTED DISTINCT by the basket
   *    contract, so intersect-with-dedup == the lambda filter;
   *  - singles, pairs and triples all come out of ONE Generate chain
   *    instead of a 3-branch union that re-scanned the delta (and its
   *    upstream corpus scan) once per arity: levels 2 and 3 explode the
   *    remaining suffix with a PREPENDED null sentinel (`[null] ++
   *    rest`), so every prefix always emits one "stop here" row beside
   *    its continuations, and `concat_ws` skips the nulls — a row with
   *    `i2 = i3 = null` IS the single `{i1}`, `i3 = null` the pair
   *    `{i1,i2}` — each subset exactly once, already canonical
   *    (in-order positions over a sorted array).
   */
  private[graft] def signedCounts(
      sides: Seq[(DataFrame, Int)], itemsCol: String,
      candidateItems: Seq[String]): DataFrame = {
    val stop = array(lit(null).cast("string"))
    val tagged = sides.map { case (df, sign) =>
      df.select(col(itemsCol).as("__items"), lit(sign.toLong).as("__sign"))
    }.reduce(_ unionByName _)
    val f = tagged.select(
      array_intersect(col("__items"),
        typedLit[Seq[String]](candidateItems)).as("fi"),
      col("__sign"))
    // slice is 1-based: elements strictly after 0-based position p are
    // slice(fi, p + 2, size - p - 1), length clamped at 0 (slice throws
    // on negatives when p is the last element)
    val lvl1 = f.select(col("fi"), col("__sign"),
      posexplode(col("fi")).as(Seq("p1", "i1")))
    val lvl2 = lvl1.select(col("fi"), col("__sign"), col("p1"), col("i1"),
      posexplode(concat(stop, slice(col("fi"), col("p1") + lit(2),
        greatest(size(col("fi")) - col("p1") - lit(1), lit(0)))))
        .as(Seq("q2", "i2")))
    // i2 is null iff q2 = 0 (the sentinel); otherwise its absolute
    // 0-based position is p1 + q2, so the level-3 suffix starts at
    // 1-based p1 + q2 + 2 — a null i2 must stop (bare sentinel), not
    // continue
    val lvl3 = lvl2.select(col("__sign"), col("i1"), col("i2"),
      explode(when(col("i2").isNotNull,
        concat(stop, slice(col("fi"), col("p1") + col("q2") + lit(2),
          greatest(size(col("fi")) - col("p1") - col("q2") - lit(1), lit(0)))))
        .otherwise(stop))
        .as("i3"))
    lvl3.select(concat_ws(",", col("i1"), col("i2"), col("i3")).as("itemset"),
        col("__sign"))
      .groupBy(col("itemset")).agg(sum(col("__sign")).as("freq_delta"))
  }

  /**
   * Fold a delta's exact candidate counts into a PROBE-threshold
   * artifact `(itemset, freq)` WITHOUT re-thresholding — the streaming
   * building block (see [[Fup]] for why folds are associative and
   * threshold once at read). `nAddedCumulative` is the TOTAL delta
   * transaction count folded so far including this batch; the
   * candidate-bound require lives here so no per-batch caller can skip
   * it.
   */
  def fold(
      stored: DataFrame, added: DataFrame, itemsCol: String,
      minCountUnion: Long, nAddedCumulative: Long): DataFrame =
    signedFold(stored, Seq(added -> 1), itemsCol, minCountUnion,
      nAddedCumulative)

  /**
   * Fold a delta into a loaded probe artifact `(itemset, freq)` and
   * re-threshold at the union's minCount. `nAdded` is the delta
   * transaction count — the soundness require lives in [[fold]] so no
   * caller can skip it.
   */
  def refresh(
      stored: DataFrame, added: DataFrame, itemsCol: String,
      minCountUnion: Long, nAdded: Long): DataFrame =
    fold(stored, added, itemsCol, minCountUnion, nAdded)
      .where(col("freq") >= minCountUnion)

  /**
   * SIGNED fold — additions AND deletions in one pass (FUP2:
   * transactions leave the corpus as well as enter it). The require
   * guards the cumulative ADDED count alone; removed transactions are
   * free ([[Fup]]), so a deletions-only maintenance pass is sound at
   * any threshold. Both correction terms come out of one distributed
   * pass — [[fold]]'s shape once, not twice.
   */
  def foldSigned(
      stored: DataFrame, added: DataFrame, removed: DataFrame,
      itemsCol: String, minCountUnion: Long,
      nAddedCumulative: Long): DataFrame =
    signedFold(stored, Seq(added -> 1, removed -> -1), itemsCol,
      minCountUnion, nAddedCumulative)

  private def signedFold(
      stored: DataFrame, sides: Seq[(DataFrame, Int)], itemsCol: String,
      minCountUnion: Long, nAddedCumulative: Long): DataFrame = {
    Fup.requireBound(nAddedCumulative, minCountUnion, "added transactions")
    Fup.fold(stored.select(col("itemset"), col("freq")), "itemset", "freq") {
      keys =>
        val wide = keys.find(_.count(_ == ',') >= 3)
        require(wide.isEmpty, s"artifact itemset {${wide.getOrElse("")}} " +
          "has arity > 3, beyond the fold's subset enumeration: cap the " +
          "artifact at arity 3")
        signedCounts(sides, itemsCol, keys.filterNot(_.contains(",")))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /**
   * [[foldSigned]] + re-threshold at the NEW corpus's minCount —
   * the deletion-aware one-shot refresh. Bit-equal to a full re-mine
   * of the new corpus (old − removed + added) at `minCountNew`.
   */
  def refreshCdc(
      stored: DataFrame, added: DataFrame, removed: DataFrame,
      itemsCol: String, minCountNew: Long, nAdded: Long): DataFrame =
    foldSigned(stored, added, removed, itemsCol, minCountNew, nAdded)
      .where(col("freq") >= minCountNew)
}
