package graft.fpm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * Association-rule generation from frequent itemsets — single-item
 * consequents, like the reference
 * (`/root/reference/src/main/java/fdu/cst/bigdata/pfp/AssociationRules.scala:60-82`).
 *
 * Rule derivation is count algebra over the itemset table, which
 * minSupport bounds: [[collectRules]] collects it once and [[derive]]
 * runs on the driver — every itemset of arity >= 2 yields one candidate
 * per item as the consequent, its antecedent count is one hash lookup on
 * the canonical (sorted) antecedent key, and the consequent support comes
 * from the L1 table. That is the same bound `transform` relies on when it
 * collects and broadcasts the whole rule table.
 *
 * Why not a distributed explode + join plan: it costs three Spark jobs
 * per derivation, and a memoized frame over it keeps its executed plan
 * alive, with the driver-side broadcast hash relations of its joins.
 * Their Tungsten pages are sized by heap / cores, not by the table (two
 * ~16 MiB pages for a 900-item, 12k-itemset table at a 2 GiB heap and 4
 * cores), so every live model would pin them. The model memoizes the
 * rules as plain rows instead, and [[toFrame]] serves them as a
 * `LocalRelation`, which runs no job and holds no broadcast.
 *
 * Output schema matches `pfp/FPGrowth.scala:212-219`:
 * `antecedent array, consequent array, confidence double, lift double,
 * support double`.
 */
object AssociationRules {

  /** One rule `antecedent => consequent`; the antecedent keeps the
    * itemset's item order. */
  final case class Rule(
      antecedent: Array[String],
      consequent: String,
      confidence: Double,
      lift: Double,
      support: Double)

  /** The rule frame's columns. */
  val Schema: StructType = StructType(Seq(
    StructField("antecedent", ArrayType(StringType)),
    StructField("consequent", ArrayType(StringType), nullable = false),
    StructField("confidence", DoubleType),
    StructField("lift", DoubleType),
    StructField("support", DoubleType)))

  private val nullsFirst: Ordering[String] = Ordering.by(Option(_: String))

  /**
   * Rules over `(items, freq)` itemset rows, linear in itemsets x arity.
   * The doubles are direct count divisions in a pinned order —
   * `confidence = fu / fa`, `lift = confidence / support(consequent)`,
   * `support = fu / n` — so a DuckDB oracle dividing the same counts
   * matches them bit for bit. A candidate whose antecedent is not an
   * itemset, or whose consequent is null or has no support, is dropped.
   */
  def derive(
      itemsets: Iterable[(collection.Seq[String], Long)],
      itemSupport: collection.Map[String, Double],
      numTransactions: Long,
      minConfidence: Double): Array[Rule] = {
    val keyed = itemsets.map { case (items, freq) => (items, items.sorted(nullsFirst).toSeq, freq) }
    val freqOf = mutable.HashMap.empty[Seq[String], Long]
    keyed.foreach { case (_, key, freq) => freqOf(key) = freq }
    val out = Array.newBuilder[Rule]
    for ((items, key, fu) <- keyed if items.length > 1; cons <- items if cons != null) {
      for (fa <- freqOf.get(key.filterNot(_ == cons)); cSupport <- itemSupport.get(cons)) {
        val confidence = fu.toDouble / fa
        if (confidence >= minConfidence)
          out += Rule(items.filterNot(_ == cons).toArray, cons, confidence,
            confidence / cSupport, fu.toDouble / numTransactions.toDouble)
      }
    }
    out.result()
  }

  /** [[derive]] over one collect of `freqItemsets`. */
  def collectRules(
      freqItemsets: DataFrame,
      itemSupport: collection.Map[String, Double],
      numTransactions: Long,
      minConfidence: Double): Array[Rule] = {
    val rows = freqItemsets.select(col("items"), col("freq")).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getSeq[String](0), r.getLong(1)))
    derive(rows, itemSupport, numTransactions, minConfidence)
  }

  /** `rules` as a driver-local frame with the [[Schema]] columns. */
  def toFrame(spark: SparkSession, rules: Array[Rule]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rules.map(r =>
      Row(r.antecedent.toSeq, Seq(r.consequent), r.confidence, r.lift, r.support)): _*),
      Schema)

  /**
   * Rule interestingness BEYOND confidence/lift — the measures real
   * rule consumers filter on and the reference stops short of
   * (`reference pfp/AssociationRules.scala:109-114` ends at lift):
   *
   *  - `leverage = support(X∪Y) - support(X)·support(Y)` — the additive
   *    independence gap (Piatetsky-Shapiro), 0 under independence;
   *  - `conviction = (1 - support(Y)) / (1 - confidence)` — the
   *    implication-strength ratio (Brin et al. 1997), NULL for exact
   *    rules (confidence = 1, where the ratio diverges) rather than a
   *    sentinel infinity no oracle can replay.
   *
   * Arithmetic discipline: every numerator/denominator is an EXACT
   * decimal product of support counts (never a pre-rounded fraction),
   * finished by a pinned-order IEEE step — so a DuckDB oracle computing
   * the same expressions hash-matches bit for bit. Counts enter as
   * decimal(18,0) so every product (<= 36 digits) and difference
   * (<= 38) stays inside BOTH engines' 38-digit decimal cap — exact
   * while N < 10^18, i.e. always:
   *   leverage   = double(fu·N - fa·fc) / (double(N) * double(N))
   *   conviction = double((N - fc)·fa) / double(N·(fa - fu))
   *
   * Derivation is pure count algebra on the frequent-itemset table
   * itself: consequent counts come from its arity-1 rows (present for
   * every frequent item by anti-monotonicity), broadcast-joined. The
   * confidence/lift/support columns replicate [[derive]]'s
   * exact double formulas, so the shared columns agree with q04
   * bit for bit (q04's schema itself is untouched).
   *
   * Output: `antecedent array, consequent array, confidence, lift,
   * support, leverage, conviction`.
   */
  def interestingness(
      freqItemsets: DataFrame,
      numTransactions: Long,
      minConfidence: Double): DataFrame = {
    val n = numTransactions
    val dec = "decimal(18,0)"
    val consFreq = broadcast(freqItemsets
      .where(size(col("items")) === 1)
      .select(col("items").getItem(0).as("c_item"), col("freq").as("freq_cons")))
    val antecedentFreq = freqItemsets
      .select(array_sort(col("items")).as("ant_key"),
        col("freq").as("freq_antecedent"))
    val fu = col("freq_union").cast(dec)
    val fa = col("freq_antecedent").cast(dec)
    val fc = col("freq_cons").cast(dec)
    freqItemsets
      .where(size(col("items")) > 1)
      .select(col("freq").as("freq_union"),
        explode(col("items")).as("cons_item"), col("items"))
      .select(
        array_remove(col("items"), col("cons_item")).as("antecedent"),
        col("cons_item"), col("freq_union"))
      .join(antecedentFreq, array_sort(col("antecedent")) === col("ant_key"))
      .join(consFreq, col("cons_item") === col("c_item"))
      .select(
        col("antecedent"),
        array(col("cons_item")).as("consequent"),
        (col("freq_union").cast("double") / col("freq_antecedent"))
          .as("confidence"),
        ((col("freq_union").cast("double") / col("freq_antecedent")) /
          (col("freq_cons").cast("double") / lit(n.toDouble))).as("lift"),
        (col("freq_union").cast("double") / lit(n.toDouble)).as("support"),
        ((fu * lit(n).cast(dec) - fa * fc).cast("double") /
          (lit(n.toDouble) * lit(n.toDouble))).as("leverage"),
        when(col("freq_antecedent") === col("freq_union"),
          lit(null).cast("double"))
          .otherwise(
            ((lit(n).cast(dec) - fc) * fa).cast("double") /
              (lit(n).cast(dec) * (fa - fu)).cast("double"))
          .as("conviction"))
      .where(col("confidence") >= minConfidence)
  }

  /**
   * NON-REDUNDANT rule flags (Zaki, "Generating non-redundant
   * association rules", KDD 2000; Bastide et al.'s min-max basis): a
   * rule `X -> y` is REDUNDANT when a MORE GENERAL rule `X' -> y` (X' a
   * proper non-empty subset of X) is at least as confident — the
   * general rule predicts the same consequent from weaker premises, so
   * the specific one adds nothing a rule consumer can act on. Flags are
   * judged within the given (minConfidence-filtered) rule table — the
   * q168 declared-universe convention: a general rule pruned by the
   * confidence floor cannot witness redundancy.
   *
   * Emits `(antecedent, consequent, confidence, n_general,
   * n_dominating, redundant)` with the canonical sorted comma-joined
   * antecedent key: `n_general` counts the rule's more-general
   * same-consequent rules present at all, `n_dominating` those at
   * least as confident, `redundant = n_dominating > 0`. The
   * non-redundant survivors are the actionable rule basis — on
   * typical mining output a large fraction of raw rules fold away.
   *
   * Scale shape: the [[ClosedItemsets]] discipline — each antecedent
   * enumerates its proper non-empty subsets by bitmask (2^arity,
   * arity hard-capped at [[ClosedItemsets.MaxArity]] with the same
   * raise_error contract) and the generality test becomes ONE
   * equi-join on `(subset key, consequent)` + a partial-aggregated
   * groupBy — never a pairwise rule-containment BNL.
   */
  def nonRedundantFlags(rules: DataFrame): DataFrame = {
    val guarded = when(size(col("antecedent")) > ClosedItemsets.MaxArity,
        raise_error(concat(
          lit("AssociationRules.nonRedundantFlags: antecedent arity "),
          size(col("antecedent")).cast("string"),
          lit(s" exceeds the hard cap ${ClosedItemsets.MaxArity}" +
            " (2^arity subset enumeration; 32-bit masks)"))))
      .otherwise(array_sort(col("antecedent")))
    val keyed = rules.select(
      guarded.as("__ant"),
      col("consequent").getItem(0).as("consequent"),
      col("confidence"))
      .select(array_join(col("__ant"), ",").as("antecedent"),
        col("__ant"), col("consequent"), col("confidence"))
    val general = keyed.select(col("antecedent").as("__gkey"),
      col("consequent").as("__gcons"), col("confidence").as("__gconf"))
    val bit: (Column, Column) => Column = (mask, i) =>
      pmod(call_function("shiftright", mask, i.cast("int")), lit(2)) === 1
    val subs = keyed.where(size(col("__ant")) > 1)
      .select(col("antecedent"), col("consequent"), col("confidence"),
        col("__ant"),
        explode(sequence(lit(1),
          call_function("shiftleft", lit(1), size(col("__ant"))) - 2))
          .as("__mask"))
      .select(col("antecedent"), col("consequent"), col("confidence"),
        array_join(filter(col("__ant"), (x, i) => bit(col("__mask"), i)), ",")
          .as("__subkey"))
    val dom = subs.join(general,
        col("__subkey") === col("__gkey") &&
          subs("consequent") === col("__gcons"))
      .groupBy(subs("antecedent"), subs("consequent"))
      .agg(count(lit(1)).as("n_general"),
        sum(when(col("__gconf") >= subs("confidence"), 1L).otherwise(0L))
          .as("n_dominating"))
    keyed.drop("__ant")
      .join(dom, Seq("antecedent", "consequent"), "left_outer")
      .select(col("antecedent"), col("consequent"), col("confidence"),
        coalesce(col("n_general"), lit(0L)).as("n_general"),
        coalesce(col("n_dominating"), lit(0L)).as("n_dominating"),
        (coalesce(col("n_dominating"), lit(0L)) > 0L).as("redundant"))
  }
}
