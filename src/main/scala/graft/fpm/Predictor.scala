package graft.fpm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

import scala.collection.mutable

/**
 * Broadcast rule-table prediction (the reference's hand-rolled broadcast
 * join, `pfp/FPGrowth.scala:151-177`): for each row, consequents of rules
 * whose antecedent is a subset of the row's items and whose consequent is
 * not already present, ordered by lift desc (ties: consequent asc), deduped
 * keeping the best-lift occurrence, joined with ", ".
 */
object Predictor {

  /** Insertion-ordered (item -> bit index) over every antecedent item and
    * consequent a rule table references — the shared vocabulary BOTH
    * probe paths ([[predict]]'s UDF and [[predictRelational]]) key their
    * <= 64-item bitset fast path on; one definition keeps the two paths'
    * encodings byte-identical (spec-enforced equality depends on it). */
  private def ruleVocab(
      rules: Iterable[(Seq[String], String)]): mutable.LinkedHashMap[String, Int] = {
    val vocab = mutable.LinkedHashMap.empty[String, Int]
    rules.foreach { case (ant, cons) =>
      ant.foreach(a => vocab.getOrElseUpdate(a, vocab.size))
      vocab.getOrElseUpdate(cons, vocab.size)
    }
    vocab
  }

  /** OR of the vocab bits of `items` (every item must be in the vocab). */
  private def maskOf(items: Seq[String], index: collection.Map[String, Int]): Long =
    items.foldLeft(0L)((m, a) => m | (1L << index(a)))

  /**
   * Rules must be pre-sorted by (lift desc, consequent asc).
   *
   * When the rules reference <= 64 distinct items (the common case: rule
   * tables are lift-filtered and small even when the corpus is not), the
   * probe runs on 64-bit masks: a rule fires iff
   * `(mask & antMask) == antMask && (mask & consBit) == 0`, and
   * first-occurrence dedup is one more bit test — two branch-free ANDs
   * per rule instead of a hash probe per antecedent item. Measured ~4x on
   * the 147k-basket x 600-rule benchmark query; output is byte-identical
   * to the generic set-probe path (spec-enforced), which remains the
   * fallback for wider rule vocabularies.
   */
  def predict(
      data: DataFrame,
      rules: Array[(Array[String], String, Double)],
      itemsCol: String,
      predictionCol: String): DataFrame = {
    val vocab = ruleVocab(rules.map { case (ant, cons, _) => (ant.toSeq, cons) })
    val predictUDF =
      if (vocab.size <= 64) {
        val index = vocab.toMap
        val antMasks = rules.map { case (ant, _, _) => maskOf(ant.toSeq, index) }
        val consBits = rules.map { case (_, cons, _) => maskOf(Seq(cons), index) }
        val conses = rules.map(_._2)
        val bc = data.sparkSession.sparkContext
          .broadcast((index, antMasks, consBits, conses))
        udf { items: Seq[String] =>
          if (items == null) null
          else {
            val (idx, ams, cbs, cs) = bc.value
            var mask = 0L
            items.foreach { it =>
              val i = idx.getOrElse(it, -1)
              if (i >= 0) mask |= 1L << i
            }
            var seen = 0L
            val sb = new java.lang.StringBuilder
            var r = 0
            while (r < ams.length) {
              val am = ams(r); val cb = cbs(r)
              if ((mask & am) == am && (mask & cb) == 0L && (seen & cb) == 0L) {
                if (sb.length > 0) sb.append(", ")
                sb.append(cs(r))
                seen |= cb
              }
              r += 1
            }
            sb.toString
          }
        }
      } else {
        // Each rule is filed under its first antecedent item (empty
        // antecedents apart): a rule whose first item is not in the row
        // cannot fire, so a row tests only the rules filed under its own
        // items. Visiting those in ascending rule index keeps the scan's
        // lift order, so the output equals a scan of the whole table.
        val (conditional, unconditional) = rules.indices.partition(r => rules(r)._1.nonEmpty)
        val byFirstItem: Map[String, Array[Int]] =
          conditional.groupBy(r => rules(r)._1.head).map { case (it, rs) => it -> rs.toArray }
        val bc = data.sparkSession.sparkContext
          .broadcast((rules, byFirstItem, unconditional.toArray))
        udf { items: Seq[String] =>
          if (items == null) null
          else {
            val (rs, byItem, always) = bc.value
            val itemset = items.toSet
            val candidates = mutable.ArrayBuilder.make[Int]
            candidates ++= always
            itemset.foreach(it => byItem.get(it).foreach(candidates ++= _))
            val order = candidates.result()
            java.util.Arrays.sort(order)
            val picked = mutable.LinkedHashSet.empty[String]
            order.foreach { r =>
              val (ant, cons, _) = rs(r)
              if (!itemset.contains(cons) && ant.forall(itemset.contains)) picked += cons
            }
            picked.mkString(", ")
          }
        }
      }
    data.withColumn(predictionCol, predictUDF(col(itemsCol)))
  }

  /** Rules sorted (lift desc, consequent asc) — the deterministic
    * refinement of the reference's lift-desc sort
    * (`pfp/FPGrowth.scala:171-172`) that [[predict]] expects. */
  def sortRules(
      rules: Array[(Array[String], String, Double)]): Array[(Array[String], String, Double)] =
    rules.sortBy { case (_, cons, lift) => (-lift, cons) }

  /**
   * Fully relational prediction — same semantics as [[predict]] but as
   * declarative algebra Catalyst can plan, in ONE pass over `data`: a
   * sentinel-completed inner broadcast probe (unmatched and null-basket
   * rows flow through — no restore-rows re-join, no second scan of the
   * big side) feeding a single per-key ordered aggregation ((lift desc, consequent
   * asc), `array_distinct` keeps first occurrences = best-lift per
   * consequent). `keyCols` MUST uniquely key the input rows — this is
   * load-bearing, not advisory: the one-pass groupBy collapses key
   * duplicates into a single row with arbitrary non-key values (the old
   * restore-rows join merely duplicated predictions). Callers own the
   * invariant; checking it would cost the pass this rewrite removed.
   *
   * Probe encodings, mirroring [[predict]]'s two paths:
   *  - rule vocab <= 64: one O(|items|) dictionary fold precomputes a
   *    64-bit item mask per row, and the probe collapses to two codegen'd
   *    integer ANDs per (row, rule) — no per-pair array walks.
   *  - wider vocabs: the native [[graft.functions.ArrayContainsAll]]
   *    subset test.
   * The rule table is bounded metadata (support/confidence-filtered) — the
   * same driver-sized object [[predict]] broadcasts — so collecting it to
   * pick the encoding adds no distributed work.
   */
  def predictRelational(
      data: DataFrame,
      rules: DataFrame, // antecedent array<string>, consequent array<string>, lift
      keyCols: Seq[String],
      itemsCol: String,
      predictionCol: String): DataFrame = {
    import graft.functions.ArrayContainsAll.array_contains_all
    import org.apache.spark.sql.functions._
    val spark = data.sparkSession
    import spark.implicits._
    val reserved = Seq("__mask", "r_ant", "r_cons", "r_lift", "r_ant_mask", "r_cons_bit")
    require(!data.columns.exists(reserved.contains),
      s"input uses a reserved column name (${reserved.mkString(", ")})")

    val ruleRows: Array[(Seq[String], String, Double)] = rules
      .select(col("antecedent").cast("array<string>"),
        col("consequent").getItem(0).cast("string"), col("lift").cast("double"))
      .collect()
      .map(r => (r.getSeq[String](0), r.getString(1), r.getDouble(2)))
    val vocab = ruleVocab(ruleRows.map { case (ant, cons, _) => (ant, cons) })

    // The probe is an INNER broadcast join (codegen-eligible — Spark's
    // outer BroadcastNestedLoopJoin falls out of whole-stage codegen and
    // evaluates the 88M-pair predicate interpreted, measured ~6x slower)
    // made loss-free by a SENTINEL rule row with a null consequent: its
    // `isnull(r_cons)` branch matches EVERY data row (null baskets
    // included), so zero-match rows survive without a second restore-rows
    // scan, and the aggregate's `when(isNotNull(r_cons))` already ignores
    // the sentinel.
    val joined =
      if (vocab.size <= 64) {
        val index = vocab.toMap
        val r = broadcast((ruleRows.toSeq.map { case (ant, cons, lift) =>
          (maskOf(ant, index), maskOf(Seq(cons), index), cons, lift)
        } :+ ((0L, 0L, null: String, 0.0)))
          .toDF("r_ant_mask", "r_cons_bit", "r_cons", "r_lift"))
        // items outside the rule vocab fold to 0 (they cannot affect any
        // rule); a null basket folds to a null mask, which matches only
        // the sentinel (real-rule conditions evaluate null -> no match).
        // Native codegen'd fold — NOT the `aggregate` HOF, whose
        // CodegenFallback evicts the whole probe from codegen.
        data.withColumn("__mask",
            graft.functions.ItemBitMask.item_bit_mask(col(itemsCol),
              vocab.map { case (it, i) => it -> (1L << i) }.toMap))
          .join(r,
            col("r_cons").isNull ||
              ((col("__mask").bitwiseAND(col("r_ant_mask")) === col("r_ant_mask")) &&
                (col("__mask").bitwiseAND(col("r_cons_bit")) === lit(0L))))
      } else {
        val r = broadcast(
          (ruleRows.toSeq :+ ((Seq.empty[String], null: String, 0.0)))
            .toDF("r_ant", "r_cons", "r_lift"))
        data.join(r,
          col("r_cons").isNull ||
            (array_contains_all(col(itemsCol), col("r_ant")) &&
              !array_contains(col(itemsCol), col("r_cons"))))
      }

    // Prediction assembly is the bounded-buffer [[BestRulesAgg]]: best
    // lift per consequent-vocab slot, ties to consequent binary order —
    // byte-identical to the collect_list(struct) -> sort_array ->
    // array_distinct -> array_join formulation it replaces, without that
    // formulation's per-fired-pair struct allocation and struct-list
    // shuffle (the partial aggregate combines to one fixed-size buffer
    // per key). The sentinel's null consequent is skipped by the
    // aggregate, so no-match groups evaluate to "".
    val pred = BestRulesAgg.best_rules_prediction(
      col("r_cons"), col("r_lift"),
      ruleRows.map(_._2).filter(_ != null).distinct)
    val others = data.columns.filterNot(keyCols.contains)
    val aggs = others.map(c => first(col(c)).as(c)) :+ pred.as(predictionCol)
    joined.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      // null baskets predict null (matching predict's UDF), not "".
      .withColumn(predictionCol, when(col(itemsCol).isNotNull, col(predictionCol)))
      .select((data.columns :+ predictionCol).map(col): _*)
  }
}
