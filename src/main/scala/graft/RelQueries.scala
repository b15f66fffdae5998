package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Relational coverage queries over the TPC-H-ish testdata — one per
 * operator family in SURVEY.md §2 that is pure Catalyst: scan+projection+
 * filter pushdown (S1/P1/P2), hash aggregation (A1/A2/P3), broadcast joins
 * (J2), ordering/top-k (O1), distinct (O5), word count (A5).
 *
 * Double sums are computed exactly (cast to decimal(18,4), summed, cast
 * back to double) so the Spark and DuckDB results are bit-identical
 * regardless of accumulation order.
 */
object RelQueries {

  private def dec(c: String) = sum(col(c).cast("decimal(18,4)"))

  /** TPC-H Q1-shaped pricing summary: filter pushdown + partial/final agg. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .where(col("l_shipdate") < lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dec("l_quantity").cast("double").as("sum_qty"),
        dec("l_extendedprice").cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  val PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  cast(sum(cast(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue per nation: two joins, the dims broadcast. */
  def nationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        dec("o_totalprice").cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  val NationRevenueSql: String =
    """SELECT n_name,
      |  cast(sum(cast(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Top-k with deterministic tie-break. */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(25)

  val TopOrdersSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""".stripMargin

  /** Distinct projection. */
  def distinctStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority")).distinct()

  val DistinctStatusSql: String =
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"

  /** Word count over documents (the reference's WordCountDemo, A5). */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  val WordCountSql: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word""".stripMargin

  /** Per-user per-event-type aggregate over events. */
  def eventStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        dec("value").cast("double").as("sum_value"))

  val EventStatsSql: String =
    """SELECT user_id, event_type, count(*) AS n,
      |  cast(sum(cast(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id, event_type""".stripMargin

  /** Tumbling-hour aggregate (batch twin of the streaming window query). */
  def eventHourly(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.hourlyBatch(spark, dir)

  val EventHourlySql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
      |  count(*) AS n,
      |  cast(sum(cast(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /**
   * Trailing-window anomaly detection over hourly event volumes: each
   * (event_type, hour) count is z-scored against the preceding 24
   * OBSERVED hours of the same type (`ROWS BETWEEN 24 PRECEDING AND 1
   * PRECEDING` over the non-empty hour cells — the current hour never
   * smooths its own baseline), flagging |z| >= 3 — the standard
   * volume-spike / pipeline-drift monitor. Hours with zero events
   * produce no cell, so for a SPARSE event type the 24-row baseline can
   * span more than 24 wall-clock hours; a deployment monitoring
   * wall-clock recency rather than traffic-shape recency should densify
   * the per-type hour range (generate missing hours with n = 0) before
   * windowing — kept observed-hours here because a zero-filled baseline
   * drags the mean toward 0 and flags every busy hour of a bursty type.
   *
   * Cross-engine exactness without a tolerance band: mean and variance
   * come from explicit integer sums (`sum(c)`, `sum(c*c)` — exact
   * BIGINTs) with single IEEE divisions, and `sqrt` is CORRECTLY ROUNDED
   * by IEEE 754 (unlike log/exp, which differ across libms), so the
   * z-score doubles hash-match DuckDB bit for bit. Hours with a
   * degenerate baseline (< 2 prior rows or zero variance) emit null z.
   *
   * Scale shape: the corpus reduces to (type, hour) cells in one
   * partial-aggregated shuffle; the window runs over CELLS (bounded by
   * types x hours — metadata, not events), partitioned by type.
   */
  def eventAnomalies(spark: SparkSession, dir: String): DataFrame =
    anomalyScores(graft.streaming.EventStreams.hourlyBatch(spark, dir)
      .select(col("event_type"), col("hour_bucket"), col("n")))

  /** Core of [[eventAnomalies]] over any (event_type, hour_bucket, n)
    * frame — separated so fixtures can exercise the arithmetic. */
  def anomalyScores(hourly: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_bucket"))
      .rowsBetween(-24, -1)
    val stats = hourly
      .withColumn("n_prior", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
    val mean = col("s1").cast("double") / col("n_prior")
    val variance = col("s2").cast("double") / col("n_prior") - mean * mean
    stats
      .withColumn("mean_prior", when(col("n_prior") >= 2, mean))
      .withColumn("z",
        when(col("n_prior") >= 2 && variance > 0,
          (col("n") - mean) / sqrt(variance)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) >= 3.0, lit(false)))
      .select(col("event_type"), col("hour_bucket"), col("n"),
        col("mean_prior"), col("z"), col("is_anomaly"))
  }

  // layered CTEs keep ONE copy of the mean/variance/z expressions (like
  // the Scala plan), so a future threshold/floor edit cannot leave a
  // silently divergent duplicate
  val EventAnomaliesSql: String =
    """WITH hourly AS (
      |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_bucket,
      |         count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, hour_bucket, n,
      |    count(n) OVER w AS n_prior,
      |    sum(n) OVER w AS s1,
      |    sum(n * n) OVER w AS s2
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
      |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |calc AS (
      |  SELECT event_type, hour_bucket, n, n_prior,
      |    s1::DOUBLE / n_prior AS mean,
      |    s2::DOUBLE / n_prior - (s1::DOUBLE / n_prior) * (s1::DOUBLE / n_prior) AS variance
      |  FROM stats),
      |scored AS (
      |  SELECT event_type, hour_bucket, n,
      |    CASE WHEN n_prior >= 2 THEN mean END AS mean_prior,
      |    CASE WHEN n_prior >= 2 AND variance > 0
      |         THEN (n - mean) / sqrt(variance) END AS z
      |  FROM calc)
      |SELECT event_type, hour_bucket, n, mean_prior, z,
      |       coalesce(abs(z) >= 3.0, false) AS is_anomaly
      |FROM scored""".stripMargin

  /**
   * Hopping (sliding) windows via Spark's native `window()` generator:
   * 30-minute windows every 10 minutes, so each event lands in exactly 3
   * overlapping windows. The replication factor is window/slide — fixed
   * at plan time, applied in the scan projection (a generator, no
   * shuffle) — and the aggregate is partial-combined per (window, type).
   */
  def eventHopping(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      // null timestamps are excluded EXPLICITLY (Spark's window generator
      // silently drops them; the oracle must agree instead of emitting a
      // NULL-window group)
      .where(col("ts").isNotNull)
      .select(window(expr("timestamp_micros(ts div 1000)"),
        "30 minutes", "10 minutes").as("w"), col("event_type"))
      .groupBy(unix_micros(col("w.start")).as("w_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  val EventHoppingSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS tsu, event_type FROM events
      |           WHERE ts IS NOT NULL)
      |SELECT (tsu // 600000000) * 600000000 - k.i * 600000000 AS w_start_us,
      |       event_type, count(*)::BIGINT AS n
      |FROM e, generate_series(0, 2) AS k(i)
      |GROUP BY 1, 2""".stripMargin

  /** Cube over order status x priority (every grouping set + grouping id).
    * Known engine divergence ON EMPTY INPUT only: SQL-standard CUBE emits
    * the grand-total grouping-set row (count 0) for an empty table, while
    * Spark's cube emits no rows; the oracle matches on any non-empty
    * input (EmptyCorpusSpec pins the Spark behavior). */
  def statusCube(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dec("o_totalprice").cast("double").as("sum_price"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("gid"), col("n"), col("sum_price"))

  val StatusCubeSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
      |       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      |       grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
      |       count(*) AS n,
      |       cast(sum(cast(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  /**
   * Frequent event paths: order-sensitive 3-gram sequences of event
   * types per user (ordered by time, unique event id as tie-break),
   * counted corpus-wide, paths seen >= 5 times — the sequence-pattern
   * complement to the engine's (order-free) itemset mining.
   *
   * Scale shape: each user's ordered type sequence is one
   * `collect_list` group — bounded by per-user activity, the same
   * per-group memory boundary sessionization already assumes — and the
   * 3-grams are sliced out of the array shuffle-free (the q53 slice+zip
   * shape); path counting partial-aggregates on a path-string key.
   */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val seqs = Tables.load(spark, dir, "events")
      // null types/timestamps excluded on BOTH engines: concat_ws skips
      // null fields (collapsing a 3-gram to a shorter path) where SQL
      // `||` nulls the whole path — neither is a useful "pattern"
      .where(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        struct(expr("ts div 1000L").as("tsu"), col("event_id"),
          col("event_type")).as("e"))
      .groupBy(col("user_id"))
      .agg(transform(array_sort(collect_list(col("e"))),
        s => s.getField("event_type")).as("seq"))
    seqs
      .select(explode(graft.pipeline.Signals.sliceNgrams(col("seq"), 3)).as("g"))
      .select(concat_ws(">", col("g.0"), col("g.1"), col("g.2")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 5)
  }

  val EventPathsSql: String =
    """WITH s AS (SELECT user_id,
      |             list(event_type ORDER BY epoch_us(ts), event_id) AS seq
      |           FROM events
      |           WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |           GROUP BY 1),
      |g AS (SELECT seq[i] || '>' || seq[i + 1] || '>' || seq[i + 2] AS path
      |      FROM s, unnest(range(1, greatest(len(seq) - 1, 1))) AS t(i))
      |SELECT path, count(*)::BIGINT AS cnt
      |FROM g GROUP BY 1 HAVING count(*) >= 5""".stripMargin

  /** 30-min-gap sessionization (batch twin of flatMapGroupsWithState). */
  def eventSessions(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionsBatch(spark, dir)

  val EventSessionsSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tns FROM events),
      |x AS (SELECT user_id, event_id, tns,
      |        CASE WHEN lag(tns) OVER w IS NULL
      |                  OR tns - lag(tns) OVER w > 1800000000
      |             THEN 1 ELSE 0 END AS is_start
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
      |s AS (SELECT user_id, tns,
      |        sum(is_start) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS session_no
      |      FROM x)
      |SELECT user_id, session_no::BIGINT AS session_no, count(*) AS n_events,
      |       min(tns) AS start_us, max(tns) AS end_us
      |FROM s GROUP BY 1, 2""".stripMargin

  /** JSON property extraction + aggregate. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), countDistinct(col("k")).as("n_distinct_k"))

  val JsonPropsSql: String =
    """SELECT event_type, sum(k)::BIGINT AS sum_k,
      |       count(DISTINCT k) AS n_distinct_k
      |FROM (SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS k
      |      FROM events)
      |GROUP BY 1""".stripMargin

  /** Hierarchical rollup totals. `gid` (grouping id) distinguishes subtotal
    * rows from genuine NULL/'ALL' data values — the sentinel alone cannot. */
  def rollupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        dec("l_quantity").cast("double").as("sum_qty"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("n"), col("sum_qty"))

  val RollupCountsSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |       grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
      |       count(*) AS n,
      |       cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** Pivot: per-user value sums by event type (fixed column set). */
  def eventPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum(col("value").cast("decimal(18,4)")).cast("double"))
      // scoped fill: an unscoped na.fill would also rewrite a NULL group key
      .na.fill(0.0, Seq("click", "error", "purchase", "signup", "view"))

  val EventPivotSql: String =
    """SELECT user_id,
      |  coalesce(cast(sum(cast(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'click') AS DOUBLE), 0.0) AS click,
      |  coalesce(cast(sum(cast(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'error') AS DOUBLE), 0.0) AS error,
      |  coalesce(cast(sum(cast(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'purchase') AS DOUBLE), 0.0) AS purchase,
      |  coalesce(cast(sum(cast(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'signup') AS DOUBLE), 0.0) AS signup,
      |  coalesce(cast(sum(cast(value AS DECIMAL(18,4))) FILTER (WHERE event_type = 'view') AS DOUBLE), 0.0) AS view
      |FROM events GROUP BY user_id""".stripMargin

  /** Running per-supplier revenue: window frame over a unique sort key. */
  def runningRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // l_extendedprice as FINAL tiebreaker: (l_orderkey, l_linenumber) is
    // NOT a key of the synthetic lineitem (sf0.1 duplicates the pair on
    // ~143k of 600k rows; exactly one tie group on the full old ordering
    // key also differs in price), so without it the tied rows'
    // intermediate running sums are engine- and run-order-dependent.
    // With it the order is value-total: rows still tied are fully
    // identical, and identical rows' prefix sums are order-indifferent
    // by construction.
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_extendedprice").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_extendedprice"))
      .withColumn("running_revenue",
        sum(col("l_extendedprice").cast("decimal(18,4)")).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("running_revenue"))
  }

  val RunningRevenueSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber::BIGINT AS l_linenumber,
      |  cast(sum(cast(l_extendedprice AS DECIMAL(18,4)))
      |         OVER (PARTITION BY l_suppkey
      |               ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
      |               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
      |FROM lineitem""".stripMargin

  /** Semi/anti join: per-segment counts of customers with and without orders. */
  def customerOrderPresence(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders").select(col("o_custkey"))
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("with_orders"))
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("without_orders"))
    withOrders.join(withoutOrders, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("with_orders"), lit(0L)).as("with_orders"),
        coalesce(col("without_orders"), lit(0L)).as("without_orders"))
  }

  val CustomerOrderPresenceSql: String =
    """SELECT c_mktsegment,
      |  count(*) FILTER (WHERE EXISTS
      |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS with_orders,
      |  count(*) FILTER (WHERE NOT EXISTS
      |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS without_orders
      |FROM customer GROUP BY 1""".stripMargin

  /** As-of attribution: every event joined to the user's most recent
    * `purchase` event at-or-before its timestamp
    * ([[graft.operators.AsOf.asOfJoin]] — one merge-window shuffle on
    * user_id, never a per-key range cross product). A purchase attributes
    * to itself (`<=`). Events before the user's first purchase coalesce to
    * -1 (null-free output for the dtype-strict oracle compare). */
  def eventAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000L").as("tsu"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("ptsu"),
        col("event_id").as("purchase_id"))
    graft.operators.AsOf.asOfJoin(ev, purchases, Seq("user_id"),
        col("tsu"), col("ptsu"), Seq("purchase_id", "ptsu"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("matched.purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("tsu") - col("matched.ptsu"), lit(-1L))
          .as("us_since_purchase"))
  }

  /**
   * q44's attribution under a ONE-DAY lookback horizon
   * ([[graft.operators.AsOf.asOfJoinLookback]]): a purchase more than
   * 24 hours old does not attribute — the batch twin of the evicting
   * streaming enrichment, where the same horizon is enforced by state
   * timeout instead of a post-filter. Ages are exact integer
   * microsecond differences, so the horizon cut is hash-exact
   * cross-engine.
   */
  def eventAttributionLookback(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000L").as("tsu"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("ptsu"),
        col("event_id").as("purchase_id"))
    graft.operators.AsOf.asOfJoinLookback(ev, purchases, Seq("user_id"),
        col("tsu"), col("ptsu"), Seq("purchase_id", "ptsu"),
        horizon = 86400000000L, rightTimeField = "ptsu",
        tieBreak = Seq("purchase_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("matched.purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("tsu") - col("matched.ptsu"), lit(-1L))
          .as("us_since_purchase"))
  }

  /** The lookback cut as a CASE over the plain ASOF join: the as-of
    * match is the latest at-or-before purchase, so an out-of-horizon
    * match means no in-horizon candidate exists. */
  val EventAttributionLookbackSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, event_type
      |           FROM events),
      |p AS (SELECT user_id, epoch_us(ts) AS ptsu, event_id AS purchase_id
      |      FROM events WHERE event_type = 'purchase')
      |SELECT e.event_id, e.user_id, e.event_type,
      |       CASE WHEN e.tsu - p.ptsu <= 86400000000
      |            THEN p.purchase_id ELSE -1 END::BIGINT AS purchase_id,
      |       CASE WHEN e.tsu - p.ptsu <= 86400000000
      |            THEN e.tsu - p.ptsu ELSE -1 END::BIGINT AS us_since_purchase
      |FROM e ASOF LEFT JOIN p
      |  ON e.user_id = p.user_id AND e.tsu >= p.ptsu""".stripMargin

  /**
   * q44's attribution computed by an EXECUTED STREAMING QUERY — the
   * declared row that graduates the streaming family from spec-only to
   * driver-checked: [[graft.streaming.EventStreams.attributionStream]]
   * (flatMapGroupsWithState, one LastPurchase row per user) runs under
   * an `AvailableNow` trigger into a parquet sink, and the returned
   * frame is the sink read back — so the oracle hash covers rows that
   * actually flowed through the state store. Reuses q44's
   * `EventAttributionSql` oracle verbatim (same columns, same
   * semantics; purchase timestamps are unique per user in this corpus,
   * so the stream's greatest-id tie rule and ASOF agree). The events
   * table is a single file, so the one availableNow batch trivially
   * satisfies the stream's batches-in-event-time-order contract; sink
   * and checkpoint live under a deterministic per-corpus temp dir,
   * truncated at the start of each invocation (bounded residue, exact
   * re-runs).
   */
  def eventAttributionStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q84", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.attributionStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // explicit schema: an EMPTY corpus streams zero batches, leaving a
    // sink directory with no parquet footers to infer from — the read
    // must still return the (empty) attribution frame, not throw
    java.nio.file.Files.createDirectories(out)
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "purchase_id BIGINT, us_since_purchase BIGINT")
      .parquet(out.toString)
  }

  /**
   * q27's sessionization computed by an EXECUTED STREAMING QUERY — the
   * second streaming family graduated from spec-only to driver-checked
   * (the q84 pattern): [[graft.streaming.EventStreams.sessionsClosedStream]]
   * (flatMapGroupsWithState, event-time timeout, one OPEN session per
   * user of state) runs under `AvailableNow` into a parquet sink, and
   * the returned frame is the sink read back — the oracle hash covers
   * rows that actually flowed through the state store and its timers.
   *
   * What the stream emits vs the batch twin is EXACTLY the streaming
   * contract, and the oracle states it: every non-final session closes
   * INLINE (a later event jumps the 30-min gap within the one
   * availableNow batch — the events table is a single file, so one data
   * batch), and a user's FINAL session closes only if its event-time
   * timer fires in the trailing no-data micro-batch — i.e. iff
   * `(end + gap) rounded up to ms < watermark`, the watermark being
   * `max(event ts) in ms` at delay 0. Sessions still open when the
   * stream ends are NOT emitted (they have not closed — emitting them
   * would be wrong); the oracle applies the same timer arithmetic the
   * operator arms (`EventStreams.sessionsClosedFromEvents`'s rounded-up
   * instant and Spark's strict `timeout < watermark` comparison), so
   * the row-for-row match pins the timer semantics too, not just the
   * session math. Sink + checkpoint under a deterministic per-corpus
   * temp dir, truncated at the start of each invocation (the q84
   * discipline).
   */
  def eventSessionsStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q91", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.sessionsClosedStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // explicit schema: an EMPTY corpus streams zero batches, leaving a
    // sink directory with no parquet footers to infer from
    java.nio.file.Files.createDirectories(out)
    spark.read
      .schema("user_id BIGINT, session_no BIGINT, n_events BIGINT, " +
        "start_us BIGINT, end_us BIGINT")
      .parquet(out.toString)
  }

  /** q27's session algebra restricted to sessions that CLOSE under the
    * stream's semantics: non-final sessions (closed inline by the gap
    * jump) plus final sessions whose rounded-up timer instant is
    * strictly below the final watermark (max ts in ms, delay 0) — the
    * exact arithmetic the streaming operator arms and Spark's timer
    * comparison applies. */
  val EventSessionsStreamedSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tns FROM events),
      |x AS (SELECT user_id, event_id, tns,
      |        CASE WHEN lag(tns) OVER w IS NULL
      |                  OR tns - lag(tns) OVER w > 1800000000
      |             THEN 1 ELSE 0 END AS is_start
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
      |s AS (SELECT user_id, tns,
      |        sum(is_start) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS session_no
      |      FROM x),
      |sess AS (SELECT user_id, session_no::BIGINT AS session_no,
      |                count(*) AS n_events,
      |                min(tns) AS start_us, max(tns) AS end_us
      |         FROM s GROUP BY 1, 2),
      |lastno AS (SELECT user_id, max(session_no) AS last_no
      |           FROM sess GROUP BY 1),
      |wm AS (SELECT max(tns) // 1000 AS wm_ms FROM e)
      |SELECT sess.user_id, sess.session_no, sess.n_events,
      |       sess.start_us, sess.end_us
      |FROM sess JOIN lastno ON sess.user_id = lastno.user_id
      |WHERE sess.session_no < lastno.last_no
      |   OR (sess.end_us + 1800000000 + 999) // 1000 < (SELECT wm_ms FROM wm)""".stripMargin

  /**
   * q: sessionization by the NATIVE `session_window` operator, EXECUTED
   * — the declarative sibling of q91's flatMapGroupsWithState path (the
   * engine declares BOTH: custom state for bespoke lifecycles, the
   * built-in for the common case). Append mode emits a session once the
   * watermark (delay 0) passes its end = last event + 30 min; the
   * oracle replays the built-in's semantics exactly — a gap-EQUAL event
   * MERGES into the running session (Spark's UpdatingSessionsIterator
   * starts a new session only when the incoming start is strictly past
   * the current end, i.e. split on `>` — the same boundary as q27/q91;
   * pinned empirically by EventStreamsSpec's gap-equal fixture) —
   * restricted to sessions the final watermark closed.
   */
  def sessionWindowStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q160", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.sessionWindowStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    java.nio.file.Files.createDirectories(out)
    spark.read
      .schema("user_id BIGINT, start_us BIGINT, end_us BIGINT, n_events BIGINT")
      .parquet(out.toString)
  }

  val SessionWindowStreamedSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |x AS (SELECT user_id, event_id, tus,
      |        CASE WHEN lag(tus) OVER w IS NULL
      |                  OR tus - lag(tus) OVER w > 1800000000
      |             THEN 1 ELSE 0 END AS is_start
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |s AS (SELECT user_id, tus,
      |        sum(is_start) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS sno
      |      FROM x),
      |sess AS (SELECT user_id, min(tus) AS start_us,
      |                max(tus) + 1800000000 AS end_us,
      |                count(*)::BIGINT AS n_events
      |         FROM s GROUP BY user_id, sno),
      |wm AS (SELECT max(tus) // 1000 AS wm_ms FROM e)
      |SELECT user_id, start_us, end_us, n_events
      |FROM sess
      |WHERE end_us <= (SELECT wm_ms FROM wm) * 1000""".stripMargin

  /**
   * q26's hourly aggregation computed by an EXECUTED STREAMING QUERY —
   * the third graduated streaming family (q84 as-of, q91 sessions, now
   * WATERMARKED WINDOWED AGGREGATION, the canonical structured-streaming
   * shape): [[graft.streaming.EventStreams.hourlyStream]] (1h tumbling
   * windows, 1h watermark delay, append mode) runs under `AvailableNow`
   * into a parquet sink. Append mode emits a window only once the
   * watermark passes its END — so the oracle is q26's hourly algebra
   * restricted to windows with `end <= watermark`, the watermark being
   * `max(event ts in ms) - 1h` (the declared delay) at stream end:
   * windows still open when the stream ends (the last ~2h of event
   * time) are correctly NOT emitted. The row-for-row match therefore
   * pins the append-mode eviction arithmetic (ms-floor watermark, the
   * <= end comparison), not just the window sums. Same per-corpus
   * temp-dir discipline as q84/q91.
   */
  def eventHourlyStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q92", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.hourlyStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    java.nio.file.Files.createDirectories(out)
    spark.read
      .schema("hour_bucket BIGINT, event_type STRING, n BIGINT, " +
        "sum_value DOUBLE")
      .parquet(out.toString)
  }

  /** q26's hourly algebra restricted to windows CLOSED by the final
    * watermark: window end (us) <= (max event ms - 1h delay) as us —
    * the exact append-mode eviction comparison. */
  val EventHourlyStreamedSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS tus,
      |                  epoch_ns(ts) // 3600000000000 AS hb,
      |                  event_type, value
      |           FROM events),
      |wm AS (SELECT max(tus // 1000) - 3600000 AS wm_ms FROM e)
      |SELECT hb AS hour_bucket, event_type, count(*) AS n,
      |       cast(sum(cast(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM e GROUP BY 1, 2
      |HAVING (hb + 1) * 3600000000 <= (SELECT wm_ms FROM wm) * 1000""".stripMargin

  /**
   * q: WINDOWED quantile sketch computed by an EXECUTED STREAMING QUERY
   * — the fourth watermarked-aggregation family member (q92 tumbling
   * counts, q94 hopping, q91 sessions, now a SKETCH in the window
   * state): [[graft.streaming.EventStreams.hourlyQsketchStream]] folds
   * each event's value-cents into its hour window's log-bucket cell;
   * append mode emits a window's finished cell table once the watermark
   * passes its end, and the declared row serves per-hour p50/p90/p99
   * from the emitted cells. The oracle is the one-pass per-hour sketch
   * restricted to windows CLOSED by the final watermark — q92's
   * append-mode eviction arithmetic, applied to sketch cells. State
   * while running: live windows × occupied cells (≤ ~1.9k each) — the
   * per-hour-latency-quantiles shape an SLO monitor runs forever.
   */
  def windowedQsketchStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q159", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.hourlyQsketchStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    java.nio.file.Files.createDirectories(out)
    val cells = spark.read
      .schema("hour_bucket BIGINT, qbucket BIGINT, cnt BIGINT")
      .parquet(out.toString)
    graft.pipeline.Sketches.qsketchQuantiles(cells, Seq("hour_bucket"),
      Seq(("p50_est", 0.5), ("p90_est", 0.9), ("p99_est", 0.99)))
  }

  /** Per-hour sketch estimates over the windows the final watermark
    * closed (q92's eviction restriction), replaying the bucket algebra
    * on value cents. */
  val WindowedQsketchStreamedSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS tus,
      |                  epoch_ns(ts) // 3600000000000 AS hb,
      |                  (value::DECIMAL(18,2) * 100)::BIGINT AS cents
      |           FROM events),
      |wm AS (SELECT max(tus // 1000) - 3600000 AS wm_ms FROM e),
      |closed AS (SELECT hb, cents FROM e
      |           WHERE cents >= 0
      |             AND (hb + 1) * 3600000000 <= (SELECT wm_ms FROM wm) * 1000),
      |v AS (SELECT hb AS source, cents AS len FROM closed),
      |sk AS (SELECT source,
      |         CASE WHEN len < 128 THEN len
      |              ELSE (len // (1::BIGINT << (length(bin(len)) - 7)))
      |                   + (length(bin(len)) - 7)::BIGINT * 64 END AS qbucket,
      |         count(*)::BIGINT AS cnt
      |       FROM v GROUP BY 1, 2),
      |skc AS (SELECT source, qbucket, cnt,
      |          sum(cnt) OVER (PARTITION BY source ORDER BY qbucket)::BIGINT AS cc,
      |          sum(cnt) OVER (PARTITION BY source)::BIGINT AS n
      |        FROM sk),
      |eb AS (SELECT source, count(*)::BIGINT AS sketch_buckets,
      |         min(CASE WHEN cc >= ceil(n * 0.5) THEN qbucket END)::BIGINT AS b50,
      |         min(CASE WHEN cc >= ceil(n * 0.9) THEN qbucket END)::BIGINT AS b90,
      |         min(CASE WHEN cc >= ceil(n * 0.99) THEN qbucket END)::BIGINT AS b99
      |       FROM skc GROUP BY 1),
      |est AS (SELECT source, sketch_buckets,
      |          CASE WHEN b50 < 128 THEN b50
      |               ELSE ((b50 - (b50 // 64 - 1) * 64)::BIGINT << (b50 // 64 - 1))
      |                    + (1::BIGINT << (b50 // 64 - 1)) - 1 END AS p50_est,
      |          CASE WHEN b90 < 128 THEN b90
      |               ELSE ((b90 - (b90 // 64 - 1) * 64)::BIGINT << (b90 // 64 - 1))
      |                    + (1::BIGINT << (b90 // 64 - 1)) - 1 END AS p90_est,
      |          CASE WHEN b99 < 128 THEN b99
      |               ELSE ((b99 - (b99 // 64 - 1) * 64)::BIGINT << (b99 // 64 - 1))
      |                    + (1::BIGINT << (b99 // 64 - 1)) - 1 END AS p99_est
      |        FROM eb)
      |SELECT source AS hour_bucket, sketch_buckets, p50_est, p90_est, p99_est
      |FROM est""".stripMargin

  /**
   * q60's hopping-window counts computed by an EXECUTED STREAMING QUERY
   * — the overlapping-window sibling of q92's tumbling aggregation
   * (same append-mode eviction discipline, but each event feeds THREE
   * live windows, so the state the watermark must retire is
   * window/slide x deeper): [[graft.streaming.EventStreams.hoppingStream]]
   * (30-min windows sliding every 10, 1h watermark) under `AvailableNow`
   * into a parquet sink. The oracle is q60's algebra restricted to
   * windows with `end <= watermark` — identical eviction arithmetic to
   * q92 with a 30-minute window length. Same temp-dir discipline.
   */
  def eventHoppingStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q94", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.hoppingStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    java.nio.file.Files.createDirectories(out)
    spark.read
      .schema("w_start_us BIGINT, event_type STRING, n BIGINT")
      .parquet(out.toString)
  }

  /** q60's hopping algebra restricted to windows CLOSED by the final
    * watermark: `w_start + 30min <= (max event ms - 1h) as us`. */
  val EventHoppingStreamedSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS tsu, event_type FROM events
      |           WHERE ts IS NOT NULL),
      |wm AS (SELECT max(tsu // 1000) - 3600000 AS wm_ms FROM e)
      |SELECT (tsu // 600000000) * 600000000 - k.i * 600000000 AS w_start_us,
      |       event_type, count(*)::BIGINT AS n
      |FROM e, generate_series(0, 2) AS k(i)
      |GROUP BY 1, 2
      |HAVING (tsu // 600000000) * 600000000 - k.i * 600000000 + 1800000000
      |         <= (SELECT wm_ms FROM wm) * 1000""".stripMargin

  /**
   * The STREAM-STREAM interval join executed as a declared row — the
   * fifth and final streaming family graduated (q84 keyed state, q91
   * timers, q92/q94 window eviction, now two-sided join state):
   * [[graft.streaming.EventStreams.followupsStream]] (signups joined
   * with the same user's follow-ups in the next hour, both sides
   * watermarked so buffered rows evict once the other side's watermark
   * clears the bound) under `AvailableNow` into a parquet sink. INNER
   * stream-stream joins emit pairs as they match — no watermark wait —
   * and the events table is one file, so the single data batch delivers
   * both sides and every qualifying pair emits: the oracle is the plain
   * batch pair set (q45's interval predicate at pair granularity, no
   * eviction restriction needed — unlike the append-mode aggregations,
   * where the oracle must model what the watermark left open). Same
   * temp-dir discipline as q84/q91/q92/q94.
   */
  def signupFollowupsStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q95", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.followupsStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    java.nio.file.Files.createDirectories(out)
    spark.read
      .schema("signup_id BIGINT, follow_id BIGINT")
      .parquet(out.toString)
  }

  /** q45's interval predicate at PAIR granularity — the inner
    * stream-stream join emits every qualifying pair, so no eviction
    * clause applies. */
  val SignupFollowupsStreamedSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
      |s AS (SELECT user_id, event_id AS signup_id, epoch_us(ts) AS st
      |      FROM events WHERE event_type = 'signup')
      |SELECT s.signup_id, e.event_id AS follow_id
      |FROM s JOIN e
      |  ON e.user_id = s.user_id
      | AND e.tsu > s.st AND e.tsu <= s.st + 3600000000""".stripMargin

  /** q44's attribution through the NATIVE as-of operator
    * ([[graft.plans.AsOfJoinNative]] — logical plan + strategy + custom
    * `SparkPlan` merge) instead of the composed merge window: identical
    * rows against the identical DuckDB `ASOF LEFT JOIN` oracle, a
    * cross-implementation differential for the whole planner-extension
    * stack. Ties on (user, time) resolve to the greatest purchase_id —
    * deterministic regardless of the oracle's tie choice because purchase
    * timestamps are unique per user in this corpus (hash-checked). */
  def eventAttributionNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000L").as("tsu"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("tsu").as("ptsu"),
        col("event_id").as("purchase_id"))
    graft.plans.AsOfJoinNative.asOfJoin(
        ev, purchases, "user_id", "p_user", "tsu", "ptsu", "purchase_id")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("tsu") - col("ptsu"), lit(-1L))
          .as("us_since_purchase"))
  }

  /** Interval join: for each `signup` event, how many events the same user
    * produced in the following hour — window `(signup_ts, signup_ts + 1h]`
    * expressed as the inclusive `[ts+1us, ts+1h]`
    * ([[graft.operators.IntervalJoin.intervalJoin]], 1h buckets: every
    * interval spans <= 2 cells, each qualifying pair meets exactly once,
    * plain equi-join plan). Signups with a quiet hour keep n_follow = 0. */
  def signupFollowups(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000L").as("tsu"))
    val signups = Tables.load(spark, dir, "events")
      .where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        expr("ts div 1000L + 1L").as("w_start"),
        expr("ts div 1000L + 3600000000L").as("w_end"))
    val matches = graft.operators.IntervalJoin.intervalJoin(
        ev, signups, Seq("user_id"),
        col("tsu"), col("w_start"), col("w_end"), bucketWidth = 3600000000L)
      .groupBy(col("signup_id")).agg(count(lit(1)).as("n_follow"))
    signups.join(matches, Seq("signup_id"), "left")
      .select(col("signup_id"), col("user_id"),
        coalesce(col("n_follow"), lit(0L)).as("n_follow"))
  }

  val SignupFollowupsSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
      |s AS (SELECT user_id, event_id AS signup_id, epoch_us(ts) AS st
      |      FROM events WHERE event_type = 'signup')
      |SELECT s.signup_id, s.user_id, count(e.event_id)::BIGINT AS n_follow
      |FROM s LEFT JOIN e
      |  ON e.user_id = s.user_id
      | AND e.tsu > s.st AND e.tsu <= s.st + 3600000000
      |GROUP BY 1, 2""".stripMargin

  val EventAttributionSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, event_type
      |           FROM events),
      |p AS (SELECT user_id, epoch_us(ts) AS ptsu, event_id AS purchase_id
      |      FROM events WHERE event_type = 'purchase')
      |SELECT e.event_id, e.user_id, e.event_type,
      |       coalesce(p.purchase_id, -1)::BIGINT AS purchase_id,
      |       coalesce(e.tsu - p.ptsu, -1)::BIGINT AS us_since_purchase
      |FROM e ASOF LEFT JOIN p
      |  ON e.user_id = p.user_id AND e.tsu >= p.ptsu""".stripMargin

  /**
   * Per-group top-k (top 3 customers per nation by lifetime revenue) —
   * the window-rank idiom. Orders aggregate to one row per customer
   * FIRST (map-side partial sums), so the window's shuffle moves a
   * customer-sized frame, never raw orders; the customer dim joins
   * broadcast. Ordering is fully deterministic: revenue is an exact
   * decimal sum (bit-identical across engines) with the unique custkey
   * as tie-break.
   */
  def topCustomersPerNation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nationkey"))
    val rev = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
    val w = Window.partitionBy(col("nationkey"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
    rev.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("nationkey"), col("rk"), col("c_custkey").as("custkey"),
        col("revenue"))
  }

  /**
   * q: per-segment order revenue routed through the SALTED join
   * ([[graft.operators.Skew.saltedJoin]]) — the skew machinery declared
   * against a DuckDB oracle. Each orders row gets a salt in [0, 8), the
   * customer side is replicated once per salt value, and the join key
   * becomes (custkey, salt): a pathologically hot customer spreads over 8
   * shuffle partitions instead of one. The salt is dropped before the
   * aggregate, so the result equals the plain join by construction —
   * which is exactly what the plain-SQL oracle checks.
   */
  def saltedSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    graft.operators.Skew.saltedJoin(o, c, "custkey", salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  val SaltedSegmentsSql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       cast(sum(cast(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  /**
   * Cohort retention: users grouped by their first active week, counted
   * per (cohort week, weeks-since-cohort offset) — the standard
   * retention triangle. All integer arithmetic on microsecond epochs.
   *
   * Scale shape: ONE event scan — events reduce to distinct (user, week)
   * pairs (partial-aggregated), the per-user first week attaches as a
   * WINDOW min (a cohort groupBy + self-join would scan events twice —
   * the q35/q53 lesson), and the final (cohort, offset) aggregate moves
   * one row per active user-week, not per event.
   */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weeks = Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("week"))
      .distinct()
    weeks
      .withColumn("cohort_week",
        min(col("week")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("offset_weeks"))
      .agg(count(lit(1)).as("n_users"))
  }

  val RetentionCohortsSql: String =
    """WITH weeks AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
      |c AS (SELECT week, min(week) OVER (PARTITION BY user_id) AS cohort_week FROM weeks)
      |SELECT cohort_week, week - cohort_week AS offset_weeks, count(*)::BIGINT AS n_users
      |FROM c GROUP BY 1, 2""".stripMargin

  /**
   * Latest-state compaction (the CDC / changelog-upsert primitive): keep
   * each user's most recent event, ties on timestamp broken by the
   * unique event id. Plans with the same `WindowGroupLimit` rank-limit
   * pushdown as [[topCustomersPerNation]] — each map partition forwards
   * at most one row per user into the shuffle, so compacting a 100 TB
   * changelog moves ~|keys| rows, not |events|.
   */
  def latestEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu").desc, col("event_id").desc)
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000L").as("tsu"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("tsu"), col("event_type"))
  }

  val LatestEventsSql: String =
    """SELECT user_id, event_id, tsu, event_type FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1""".stripMargin

  /**
   * Z-order clustering keys for orders over (custkey, order-day), 10 bits
   * each — the layout key [[graft.operators.Layout.zorderBy]]
   * range-partitions by so file min/max envelopes stay tight in BOTH
   * dimensions (multi-dimensional scan pruning). Declared as the key
   * computation (pure codegen'd bit algebra, oracle-checkable); the
   * partition/sort/write step's locality property is spec-enforced.
   */
  def zorderKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        graft.operators.Layout.mortonKey(
          col("o_custkey"),
          expr("unix_timestamp(o_orderdate) div 86400"),
          bits = 10).as("zkey"))

  /**
   * The z-order WRITE path, driver-checked end to end: [[zorderKeys]]'s
   * dimensions are clustered with [[graft.operators.Layout.zorderBy]]
   * (range-partition by morton key + sort within partitions), written as
   * parquet, and read back with the per-row `_metadata.file_path` to
   * recover what each FILE actually contains. The layout contract is then
   * asserted as data: per-file zkey intervals are pairwise disjoint (the
   * property that makes file-level min/max pruning work — a zkey predicate
   * touches exactly the files whose interval it intersects), the file
   * count respects the requested split count, and no row was lost or
   * duplicated by the partition/sort/write round trip.
   *
   * Scale shape: the write is ONE range shuffle (the same distributed sort
   * every lakehouse OPTIMIZE ZORDER runs); the envelope check aggregates
   * one row PER FILE — bounded metadata (~100k rows at 100 TB), so the
   * ordered window over file envelopes never sees data rows. The grouped
   * final aggregate (instead of a bare `.agg`) makes the query yield zero
   * rows on a zero-row warehouse rather than a single all-null row.
   */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("unix_timestamp(o_orderdate) div 86400").as("o_day"))
    val numFiles = 8
    // Unique per-invocation temp dir (concurrent Bench/Verify/test runs
    // never race on one overwrite path), DELETED after the eager
    // read-back below — repeated runs accumulate nothing. The contract
    // row is computed eagerly (the write is eager anyway) so the
    // directory's lifetime ends inside this call.
    val out = java.nio.file.Files.createTempDirectory("graft-zorder")
    try {
      graft.operators.Layout
        .zorderBy(o, col("o_custkey"), col("o_day"), bits = 10, numFiles = numFiles)
        .write.mode("overwrite").parquet(out.toString)
      val back = spark.read.parquet(out.toString)
        .select(
          col("_metadata.file_path").as("file"),
          graft.operators.Layout.mortonKey(col("o_custkey"), col("o_day"), 10).as("zkey"))
      val env = back.groupBy(col("file"))
        .agg(min(col("zkey")).as("zmin"), max(col("zkey")).as("zmax"),
          count(lit(1)).as("cnt"))
      val wz = Window.orderBy(col("zmin"), col("file")) // one row per file: metadata-sized
      val contract = env.withColumn("prev_zmax", lag(col("zmax"), 1).over(wz))
        .groupBy(lit(1).as("one"))
        .agg(
          sum(col("cnt")).as("total_rows"),
          coalesce(bool_and(col("prev_zmax") < col("zmin")), lit(true))
            .as("files_disjoint"),
          (count(lit(1)) <= numFiles).as("file_count_ok"))
        .drop("one")
        .collect() // zero rows on an empty warehouse, one otherwise
      import spark.implicits._
      contract.map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq
        .toDF("total_rows", "files_disjoint", "file_count_ok")
    } finally Fs.deleteRecursively(out)
  }

  /** The write-path contract as an oracle: rows survive the round trip and
    * the layout properties hold (Spark computes them from real file
    * envelopes; the oracle pins them to `true`). HAVING matches the Spark
    * side's grouped aggregate: BOTH yield zero rows on an empty warehouse. */
  val ZorderLayoutSql: String =
    """SELECT count(*)::BIGINT AS total_rows,
      |       true AS files_disjoint,
      |       true AS file_count_ok
      |FROM orders HAVING count(*) > 0""".stripMargin

  val ZorderKeysSql: String =
    """WITH o AS (SELECT o_orderkey,
      |             o_custkey & 1023 AS xb,
      |             (epoch(o_orderdate)::BIGINT // 86400) & 1023 AS yb
      |           FROM orders)
      |SELECT o_orderkey,
      |  (SELECT sum(((xb >> i) & 1) * (1::BIGINT << (2 * i)) +
      |              ((yb >> i) & 1) * (1::BIGINT << (2 * i + 1)))
      |   FROM generate_series(0, 9) AS t(i))::BIGINT AS zkey
      |FROM o""".stripMargin

  val TopCustomersPerNationSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         cast(sum(cast(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT c_nationkey::BIGINT AS nationkey, c_custkey AS custkey, revenue,
      |         row_number() OVER (PARTITION BY c_nationkey
      |                            ORDER BY revenue DESC, c_custkey ASC) AS rk
      |  FROM rev JOIN customer ON o_custkey = c_custkey)
      |SELECT nationkey, rk::BIGINT AS rk, custkey, revenue
      |FROM r WHERE rk <= 3""".stripMargin

  // ------------------------------------------------------------------ funnel

  /**
   * Ordered-funnel resolution over an event log — the product-analytics
   * primitive behind every conversion report: for each user, the
   * earliest time they completed step k STRICTLY AFTER their recorded
   * completion of step k-1 (min ts of step 0, then min ts of step 1
   * greater than that, and so on). A user who performs steps out of
   * order does not advance — a click before any view is not a
   * view→click conversion. `stage` counts completed steps; by
   * construction step k's timestamp is non-null only if step k-1's is.
   *
   * Scale shape: one filtered aggregation per step plus an equi-join
   * against the previous step's (user, ts) frame — every exchange is
   * keyed by user and carries two columns; the final assembly is k
   * left joins onto the distinct-user frame. No window over the event
   * log, no ordering ever materialized. Step count is a constant of
   * the report (funnels are 3-6 steps), so the plan is a fixed chain.
   */
  def funnelStages(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "a funnel needs at least one step")
    val users = events.select(col(userCol)).distinct()
    val stepFrames = steps.zipWithIndex
      .foldLeft(List.empty[DataFrame]) { case (acc, (st, i)) =>
        val base = events.where(col(typeCol) === st)
          .select(col(userCol), col(tsCol).as("__t"))
        val gated = acc match {
          case Nil => base
          case prev :: _ =>
            base.join(prev, Seq(userCol))
              .where(col("__t") > col(s"step${i - 1}_ts"))
        }
        gated.groupBy(col(userCol))
          .agg(min(col("__t")).as(s"step${i}_ts")) :: acc
      }.reverse
    val joined = stepFrames.foldLeft(users)(
      (acc, f) => acc.join(f, Seq(userCol), "left"))
    joined.withColumn("stage",
      steps.indices
        .map(i => when(col(s"step${i}_ts").isNotNull, 1L).otherwise(0L))
        .reduce(_ + _))
  }

  /** The view → click → purchase conversion funnel over the events log
    * (strict event-time ordering, per-user micros). */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelStages(
      Tables.load(spark, dir, "events")
        .select(col("user_id"), expr("ts div 1000L").as("tsu"),
          col("event_type")),
      "user_id", "tsu", "event_type", Seq("view", "click", "purchase"))
      .select(col("user_id"), col("step0_ts").as("view_ts"),
        col("step1_ts").as("click_ts"), col("step2_ts").as("purchase_ts"),
        col("stage"))

  val EventFunnelSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events),
      |v AS (SELECT user_id, min(tsu) AS view_ts FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(tsu) AS click_ts
      |      FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND tsu > view_ts GROUP BY 1),
      |p AS (SELECT e.user_id, min(tsu) AS purchase_ts
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND tsu > click_ts GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM e)
      |SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts,
      |       ((CASE WHEN v.view_ts IS NULL THEN 0 ELSE 1 END) +
      |        (CASE WHEN c.click_ts IS NULL THEN 0 ELSE 1 END) +
      |        (CASE WHEN p.purchase_ts IS NULL THEN 0 ELSE 1 END))::BIGINT
      |         AS stage
      |FROM u LEFT JOIN v USING (user_id)
      |       LEFT JOIN c USING (user_id)
      |       LEFT JOIN p USING (user_id)""".stripMargin

  /** q: frequent sequential patterns (length 1-3) over per-user event
    * histories at an 80% support fraction — GSP-style growth with the
    * lossless anti-monotone prune; see
    * [[graft.fpm.SequentialPatterns]]. The oracle states containment
    * directly as EXISTS-ordered-position joins (no prune — pruning is
    * lossless, so the frequent sets coincide) with the identical
    * strict (time, event_id) order and exact rational threshold. */
  def sequentialPatterns(spark: SparkSession, dir: String): DataFrame =
    minedSequences(spark, dir, "full", seqEvents(spark, dir), 4L, 5L)

  /** q121's event projection — shared by the mine and its refresh. */
  private def seqEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        col("event_id"), col("event_type"))

  /** One-pass distinct-user counts of `ev` split by `pred`: (users
    * among pred rows, users among !pred rows, users total). The
    * lifecycle prologues previously paid two or three separate
    * scan+distinct JOBS over the same uncached events projection for
    * numbers one aggregation derives — Catalyst plans the three
    * DISTINCT aggregates as a single scan + expand + exchange, which
    * is also the only shape that survives a 100x corpus (threshold
    * derivation must not cost three corpus passes). An event-level
    * predicate counts a user on BOTH sides when their events straddle
    * it — exactly like the filtered distinct counts this replaces. */
  private def splitUserCounts(
      ev: DataFrame, pred: Column): (Long, Long, Long) = {
    val r = ev.agg(
      countDistinct(when(pred, col("user_id"))),
      countDistinct(when(!pred, col("user_id"))),
      countDistinct(col("user_id"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  // Keyed memo of sequence-pattern mines, the q53/q66/q40 keyed-cache
  // discipline applied to this family: seven lifecycle rows
  // (q189-q192, q195-q197) each need a probe mine of a near-identical
  // snapshot, and before this cache each paid the full
  // `frequentSequences` pass (~25 s of the round-14 suite). A mine
  // result is support-bounded metadata (the PrefixSpan output-bounded
  // premise), so it caches as driver-local rows and re-enters as a
  // LocalRelation; the key pins (context, corpus dir, input subset,
  // exact rational threshold, maxLen), so only BIT-IDENTICAL mines
  // share. One row pays the declared build; every other declared step
  // of each row's lifecycle (artifact write + fold + swap + executed
  // stream) still runs per invocation.
  private val seqMines = new java.util.concurrent.ConcurrentHashMap[
    String, Caches.Memo[Seq[(String, Int, Long)]]]()

  /** Drop the sequence-mine memo (see [[Caches.clearAll]]). */
  def clearCaches(): Unit = seqMines.clear()

  private def minedSequences(
      spark: SparkSession, dir: String, subsetTag: String,
      input: DataFrame, num: Long, den: Long, maxLen: Int = 3): DataFrame = {
    // the key embeds the analyzed plan's semanticHash, not just the
    // caller-supplied subset tag: two call sites reusing a tag with a
    // coinciding threshold but DIFFERENT input plans must not share a
    // mine (the tag stays in the key as a human-readable trace label);
    // the mine runs inside a Caches.Memo so the multi-second Spark job
    // never executes under the ConcurrentHashMap bin lock
    val key = Tables.cacheKey(spark, dir) +
      s"#seqmine#$subsetTag#" +
      s"${input.queryExecution.analyzed.semanticHash()}#$num/$den#$maxLen"
    val rows = seqMines.computeIfAbsent(key, _ => new Caches.Memo(
      graft.fpm.SequentialPatterns.frequentSequences(
          input, "user_id", "tsu", "event_id", "event_type",
          minSupportNum = num, minSupportDen = den, maxLen = maxLen)
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq)).value
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("pattern", "plen", "support")
  }

  /**
   * q: INCREMENTAL sequential-pattern refresh — the q170 artifact
   * lifecycle for the sequence family, under the family's own
   * soundness contract ([[graft.fpm.SequentialPatterns.refresh]]):
   * support is additive over KEYS, so the delta must be key-disjoint —
   * here the 1/17 of users absent from the OLD snapshot. The old
   * snapshot is mined ONCE at the reduced absolute threshold
   * `minCount_union - |deltaUsers|` (expressed as the exact rational
   * `probe/nOldUsers` so the miner's integer-ceil threshold lands on
   * `probe` precisely) and persisted; the refresh counts each artifact
   * candidate's exact support among only the added users' sequences
   * and re-thresholds. Bit-equal to the union re-mine by the FUP
   * bound, which is exactly what the oracle states: q121's statement
   * verbatim over the whole events table.
   *
   * Scale shape: only the delta users' events are sequenced per
   * refresh; the stored side is artifact-sized (support-bounded
   * candidate list as a plan literal, one equi-join). No stage
   * rescans the old users' histories.
   */
  def sequentialPatternRefresh(spark: SparkSession, dir: String): DataFrame =
    sequentialPatternRefreshIn(spark, dir, "q189")

  /** [[sequentialPatternRefresh]] with a caller-owned staging tag —
    * q191 re-runs the lifecycle under its own dir so its `Fs.staged`
    * truncation can never invalidate a previously-built q189 frame's
    * pinned file listing (and vice versa). */
  private def sequentialPatternRefreshIn(
      spark: SparkSession, dir: String, tag: String): DataFrame = {
    val ev = seqEvents(spark, dir).where(col("event_type").isNotNull)
    val old = ev.where(col("user_id") % 17 =!= 0)
    val added = ev.where(col("user_id") % 17 === 0)
    val (nAdded, nOld, _) =
      splitUserCounts(ev, col("user_id") % 17 === 0)
    val minCountUni = ((nOld + nAdded) * 4L + 4L) / 5L
    val probe = math.max(1L, minCountUni - nAdded)
    val staged = graft.Fs.stagedFor(tag, dir)
    val artPath = staged.resolve("seqpatterns").toString
    minedSequences(spark, dir, "old17", old, probe, math.max(1L, nOld))
      .write.parquet(artPath)
    graft.fpm.SequentialPatterns.refresh(
      spark.read.parquet(artPath), added,
      "user_id", "tsu", "event_id", "event_type", minCountUni, nAdded)
  }

  /**
   * q: CHANGED-KEYS sequence-pattern refresh — the SAME-KEY-EXTENDING
   * ingest q189 excludes by contract, served by per-key recount
   * ([[graft.fpm.SequentialPatterns.refreshTouched]]): the old
   * snapshot withholds part of every 13th user's history (so the
   * "ingest" EXTENDS existing keys — the case where support is not
   * additive), the artifact is mined once at the touched-keys FUP
   * bound `minCount_union - |touchedKeys|`, and the refresh replaces
   * only the touched keys' containment terms: subtract their
   * old-sequence counts, add their new-sequence counts, re-threshold.
   * Bit-equal to the union re-mine; the oracle is q121's statement
   * verbatim over the whole events table.
   *
   * Scale shape: both correction terms sequence ONLY the touched
   * keys' events (semi-join-filtered — delta-sized when touches are
   * sparse; key-pruned scan under the q64 layout at warehouse scale);
   * the stored side is artifact-sized. The untouched 12/13 of users
   * are never rescanned.
   */
  def sequentialPatternTouchRefresh(
      spark: SparkSession, dir: String): DataFrame = {
    val sp = graft.fpm.SequentialPatterns
    val ev = seqEvents(spark, dir).where(col("event_type").isNotNull)
    // delta = the withheld events; old = everything else; new = all
    val isDelta = col("user_id") % 13 === 0 && col("event_id") % 5 === 0
    val old = ev.where(!isDelta)
    val delta = ev.where(isDelta)
    val touchedKeys = delta.select(col("user_id")).distinct()
    val (nTouched, nOldUsers, nUsers) = splitUserCounts(ev, isDelta)
    val minCountUni = (nUsers * 4L + 4L) / 5L
    val probe = math.max(1L, minCountUni - nTouched)
    val staged = graft.Fs.stagedFor("q192", dir)
    val artPath = staged.resolve("seqpatterns").toString
    minedSequences(spark, dir, "oldtouch", old, probe,
        math.max(1L, nOldUsers))
      .write.parquet(artPath)
    val oldTouched = old.join(touchedKeys, Seq("user_id"), "left_semi")
    val newTouched = ev.join(touchedKeys, Seq("user_id"), "left_semi")
    sp.refreshTouched(spark.read.parquet(artPath), oldTouched, newTouched,
      "user_id", "tsu", "event_id", "event_type", minCountUni, nTouched)
  }

  /**
   * q: STREAM-MAINTAINED sequence artifact under TOUCHED-KEY batches —
   * the q190 lifecycle upgraded from whole-new-user batches to
   * same-key-EXTENDING micro-batches (the CDC shape: an existing
   * user's new events arrive later). Per batch, the un-thresholded
   * [[graft.fpm.SequentialPatterns.foldTouched]] replaces exactly that
   * batch's keys' containment terms (old side retrieved from the base
   * snapshot by semi-join, new side = those keys' full current
   * history); corrections for key-disjoint batches commute and sum, so
   * batch boundaries cannot matter and the threshold applies once at
   * read. The q188/q190 guards carry over: cumulative-touched-keys
   * require per batch, `_applied_<id>` replay marker (the fold
   * subtracts as well as adds — a redelivered batch corrupts in both
   * directions), swap is one staged rename. Batch key-disjointness is
   * the stream's routing contract (one key's churn in one batch),
   * enforced here by parity-routing the touched users.
   *
   * Final state == q192's one-shot recount == the union re-mine; the
   * oracle is q121's statement verbatim.
   */
  def sequentialPatternTouchStream(
      spark: SparkSession, dir: String): DataFrame = {
    val sp = graft.fpm.SequentialPatterns
    val ev = seqEvents(spark, dir).where(col("event_type").isNotNull)
    val isDelta = col("user_id") % 13 === 0 && col("event_id") % 5 === 0
    val old = ev.where(!isDelta)
    val delta = ev.where(isDelta)
    val touchedKeys = delta.select(col("user_id")).distinct()
    val (nTouched, nOldUsers, nUsers) = splitUserCounts(ev, isDelta)
    val minCountUni = (nUsers * 4L + 4L) / 5L
    val probe = math.max(1L, minCountUni - nTouched)
    val base = graft.Fs.stagedFor("q196", dir)
    val artDir = base.resolve("seqpatterns")
    minedSequences(spark, dir, "oldtouch", old, probe,
        math.max(1L, nOldUsers))
      .write.parquet(artDir.toString)
    // the churn arrives as a stream: one file per touched-user parity
    // half, so each key's WHOLE delta lives in exactly one batch
    val in = base.resolve("in").toString
    delta.where(expr("user_id div 13") % 2 === 0).coalesce(1)
      .write.parquet(in)
    delta.where(expr("user_id div 13") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(in)
    // subtract-and-add fold => replay corrupts both directions; shared
    // scaffold's marker guard + durable `_cum_` touched-keys counter
    // (restart-safe, replay-aware — see q188)
    graft.streaming.ArtifactStream.foldAvailableNow(
        spark, base, artDir, in) { (batch, sibling) =>
      val keys = batch.select(col("user_id")).distinct()
      val oldTouched = old.join(keys, Seq("user_id"), "left_semi")
      val newTouched = ev.join(keys, Seq("user_id"), "left_semi")
      graft.streaming.ArtifactStream.counterFold(
          spark, artDir, sibling, keys.count()) { (artifact, cum) =>
        sp.foldTouched(artifact, oldTouched, newTouched,
          "user_id", "tsu", "event_id", "event_type", minCountUni, cum)
      }
    }
    spark.read.parquet(artDir.toString)
      .where(col("support") >= minCountUni)
  }

  /**
   * q: KEY-ERASURE sequence-pattern refresh — GDPR right-to-be-
   * forgotten as an artifact-maintenance op: every 17th user's whole
   * history leaves the corpus, and the pattern artifact stays exact by
   * subtracting ONLY the erased users' containment counts
   * ([[graft.fpm.SequentialPatterns.erase]]); no candidate-bound
   * require exists because deletions only lower supports (the
   * deletion-is-free asymmetry, q193's FUP2 argument on the sequence
   * side). The threshold re-derives from the RETAINED user count —
   * erasure SHRINKS minCount under the support-fraction convention,
   * which is exactly why the artifact must be mined at (or below) the
   * post-erasure threshold; the declared row mines at exactly that
   * bound to state the boundary sharply. Oracle: q121's statement over
   * the retained users, threshold from their count.
   *
   * Scale shape: the subtraction term sequences only the erased users'
   * events (key-pruned under the q64 layout); the stored side is
   * artifact-sized; the surviving users are never rescanned — erasing
   * a user costs their own history, not the corpus.
   */
  /**
   * q: ERASURE-REQUEST STREAM for the sequence artifact — the GDPR
   * queue as a maintained artifact: forget-me requests (user ids)
   * arrive as micro-batches, and each batch subtracts exactly its
   * users' containment terms via the un-thresholded
   * [[graft.fpm.SequentialPatterns.eraseFold]] (associative over
   * key-disjoint batches — subtraction terms commute and sum), with
   * the threshold applied once at read against the post-erasure
   * minCount. No candidate-bound require exists on this path
   * (deletions are free, q195's asymmetry); the guards that remain
   * are the `_applied_<id>` replay marker (a replayed subtraction
   * corrupts downward) and the queue's routing contract that each
   * key is erased once across batches — parity-enforced in the
   * fixture, stated in the eraseFold scaladoc because no in-batch
   * require can check it.
   *
   * Final state == q195's one-shot erase == the retained-users
   * re-mine; the oracle is q195's statement verbatim.
   *
   * Scale shape: per batch, one containment count over only the
   * requesting users' events (key-pruned under the q64 layout) + one
   * artifact-sized join + a staged rename — the erasure deadline is
   * met at per-user cost while the surviving corpus is never
   * rescanned.
   */
  def sequentialPatternEraseStream(
      spark: SparkSession, dir: String): DataFrame = {
    val sp = graft.fpm.SequentialPatterns
    val ev = seqEvents(spark, dir).where(col("event_type").isNotNull)
    val erased = ev.where(col("user_id") % 17 === 0)
    val kept = ev.where(col("user_id") % 17 =!= 0)
    val (_, nKept, nAll) =
      splitUserCounts(ev, col("user_id") % 17 === 0)
    val minCountNew = (nKept * 4L + 4L) / 5L
    val base = graft.Fs.stagedFor("q197", dir)
    val artDir = base.resolve("seqpatterns")
    minedSequences(spark, dir, "full", ev, minCountNew,
        math.max(1L, nAll))
      .write.parquet(artDir.toString)
    // the erasure queue: one file of user ids per parity half — PLUS a
    // deliberate cross-batch duplicate: batch 2 redelivers one batch-1
    // key (a different batch id, so the `_applied_` replay marker
    // cannot catch it). The durable erased-key record must skip it or
    // the double subtraction breaks q195's oracle — the correctness
    // gate itself proves the erase-once contract.
    val in = base.resolve("in").toString
    val reqs = erased.select(col("user_id")).distinct()
    val b1 = reqs.where(expr("user_id div 17") % 2 === 0)
    val b2 = reqs.where(expr("user_id div 17") % 2 =!= 0)
      .unionByName(b1.orderBy(col("user_id")).limit(1))
    b1.coalesce(1).write.parquet(in)
    b2.coalesce(1).write.mode("append").parquet(in)
    // subtraction fold => a replayed batch corrupts downward (marker
    // guard) and a key redelivered across batches corrupts downward
    // too (durable `_erased` record, committed with each swap —
    // [[graft.fpm.SequentialPatterns.eraseBatchOnce]]; batch-id
    // stamped so the record compacts to the redelivery-horizon
    // window instead of growing with the stream's lifetime). No
    // cumulative counter: deletions carry no candidate bound to track.
    graft.streaming.ArtifactStream.foldAvailableNowWithId(
        spark, base, artDir, in) { (batch, id, sibling) =>
      val requested = batch.select(col("user_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      sp.eraseBatchOnce(
        spark.read.parquet(artDir.toString), ev,
        "user_id", "tsu", "event_id", "event_type",
        artDir, sibling, requested, id)
    }
    spark.read.parquet(artDir.toString)
      .where(col("support") >= minCountNew)
  }

  def sequentialPatternErase(spark: SparkSession, dir: String): DataFrame = {
    val sp = graft.fpm.SequentialPatterns
    val ev = seqEvents(spark, dir).where(col("event_type").isNotNull)
    val erased = ev.where(col("user_id") % 17 === 0)
    val kept = ev.where(col("user_id") % 17 =!= 0)
    val (_, nKept, nAll) =
      splitUserCounts(ev, col("user_id") % 17 === 0)
    val minCountNew = (nKept * 4L + 4L) / 5L
    val staged = graft.Fs.stagedFor("q195", dir)
    val artPath = staged.resolve("seqpatterns").toString
    minedSequences(spark, dir, "full", ev, minCountNew,
        math.max(1L, nAll))
      .write.parquet(artPath)
    sp.erase(spark.read.parquet(artPath), erased,
      "user_id", "tsu", "event_id", "event_type", minCountNew)
  }

  /**
   * q: sequence RULES derived from the REFRESHED pattern artifact —
   * the q187 composition for the ordered half, closing the family's
   * lifecycle matrix (mine q121 / rules q186 / refresh q189 / stream
   * q190 / rules-from-artifact here): the q189 refresh output is
   * bit-equal to the union re-mine, the rule chain is deterministic
   * IEEE over its counts ([[sequenceRulesFrom]]), so
   * refresh-then-derive == mine-then-derive and the oracle is q186's
   * statement verbatim. Rule derivation itself touches only the
   * artifact (pattern-table-sized joins) plus the 1-row user count.
   */
  def sequentialRulesFromArtifact(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val nUsers = Tables.load(spark, dir, "events")
      .where(col("event_type").isNotNull)
      .agg(count_distinct(col("user_id")).as("n_users"))
    // ONE evaluation of the refresh plan: the pattern artifact is
    // support-bounded, so it collects whole (bounded metadata) and
    // re-enters as a LocalRelation — sequenceRulesFrom references its
    // pattern input three times (rule split + prefix + consequent
    // supports), which would re-run the delta fold per reference on
    // the live plan (the q186 input is already driver-local).
    val pat = sequentialPatternRefreshIn(spark, dir, "q191")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq.toDF("pattern", "plen", "support")
    sequenceRulesFrom(pat, nUsers)
  }

  /**
   * q: STREAM-MAINTAINED sequence-pattern artifact — the q188
   * read-merge-swap lifecycle for the sequence family, under the
   * family's key-disjointness contract: delta batches carry WHOLE NEW
   * USERS (the fixture routes each added user's complete history into
   * exactly one input file, so no key straddles a batch — a straddled
   * key is the same additivity violation as a same-key extension).
   * Per micro-batch: read artifact, un-thresholded
   * [[graft.fpm.SequentialPatterns.fold]] (candidate patterns intact
   * => associative over batches), write sibling, atomic swap with an
   * `_applied_<id>` marker (the fold is ADDITIVE, so foreachBatch
   * redelivery must be de-duplicated — the q188 guard). The cumulative
   * new-key require runs per batch; the final read thresholds once at
   * `minCount_union` — bit-equal to q189's one-shot refresh and the
   * union re-mine, which is what the oracle states: q121's statement
   * verbatim.
   */
  def sequentialPatternStreamMaintained(
      spark: SparkSession, dir: String): DataFrame = {
    val sp = graft.fpm.SequentialPatterns
    val ev = seqEvents(spark, dir).where(col("event_type").isNotNull)
    val old = ev.where(col("user_id") % 17 =!= 0)
    val added = ev.where(col("user_id") % 17 === 0)
    val (nAdded, nOld, _) =
      splitUserCounts(ev, col("user_id") % 17 === 0)
    val minCountUni = ((nOld + nAdded) * 4L + 4L) / 5L
    val probe = math.max(1L, minCountUni - nAdded)
    val base = graft.Fs.stagedFor("q190", dir)
    val artDir = base.resolve("seqpatterns")
    minedSequences(spark, dir, "old17", old, probe, math.max(1L, nOld))
      .write.parquet(artDir.toString)
    // the delta arrives as a stream: one file per user-parity half, so
    // every added user's whole history lives in exactly one batch
    val in = base.resolve("in").toString
    added.where(expr("user_id div 17") % 2 === 0).coalesce(1)
      .write.parquet(in)
    added.where(expr("user_id div 17") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(in)
    // additive fold => per-batch-id replay guard (the q188 commit
    // idiom, shared scaffold); cumulative-keys guard count is durable
    // `_cum_` state in the artifact dir (restart-safe, replay-aware)
    graft.streaming.ArtifactStream.foldAvailableNow(
        spark, base, artDir, in) { (batch, sibling) =>
      graft.streaming.ArtifactStream.counterFold(
          spark, artDir, sibling, distinctUsers(batch)) { (artifact, cum) =>
        sp.fold(artifact, batch,
          "user_id", "tsu", "event_id", "event_type", minCountUni, cum)
      }
    }
    spark.read.parquet(artDir.toString)
      .where(col("support") >= minCountUni)
  }

  /**
   * q: FUP AUTO-RE-SNAPSHOT for the SEQUENCE artifact — q199's
   * headroom-triggered rebuild on the ordered half, completing the
   * symmetry of the two lifecycle matrices: the stream watches its
   * durable `_cum_` distinct-added-users counter against the declared
   * headroom budget `H` (the artifact's probe threshold sits `H` below
   * the serving threshold; key-disjoint folds stay provably complete
   * while cumulative added keys <= H), and when a batch pushes
   * consumption past 60% of `H` the fold is REPLACED by a re-mine of
   * the current corpus (old snapshot ∪ id-keyed ingest record, this
   * batch included) at the restored probe threshold — expressed as the
   * exact rational `probe/nCurrentUsers` so the miner's integer-ceil
   * lands on `probe` precisely — with the cum counter reset and a
   * durable `_snap_` counter bumped, all committed by the same atomic
   * swap. Later key-disjoint batches fold against the fresh snapshot
   * with full headroom. Final state == the union re-mine; the oracle is
   * q121's statement verbatim.
   *
   * Scale shape mirrors q199: per-batch work is delta-sized between
   * triggers; the re-mine is one corpus pass per consumed-headroom
   * epoch, scheduled by the stream itself instead of by the FUP
   * require failing in someone's pager — and each trigger RE-BASES
   * (the union corpus promotes to the next epoch's base, absorbed
   * ingest dirs are swept at the next batch), so the ingest record
   * and the re-mine input stay epoch-sized over an unbounded stream
   * ([[graft.streaming.ArtifactStream.epochStep]]).
   */
  def sequentialPatternAutoResnapshot(
      spark: SparkSession, dir: String): DataFrame = {
    val sp = graft.fpm.SequentialPatterns
    val ev = seqEvents(spark, dir).where(col("event_type").isNotNull)
    val old = ev.where(col("user_id") % 17 =!= 0)
    val added = ev.where(col("user_id") % 17 === 0)
    val (nAdded, nOld, _) =
      splitUserCounts(ev, col("user_id") % 17 === 0)
    val minCountUni = ((nOld + nAdded) * 4L + 4L) / 5L
    val headroom = math.max(1L, nAdded)
    val probe = math.max(1L, minCountUni - headroom)
    val base = graft.Fs.stagedFor("q200", dir)
    val artDir = base.resolve("seqpatterns")
    minedSequences(spark, dir, "old17", old, probe,
        math.max(1L, nOld))
      .write.parquet(artDir.toString)
    // four key-disjoint quarter batches: each added user's WHOLE
    // history lives in exactly one file (the q190 routing contract)
    val in = base.resolve("in").toString
    (0L to 3L).foreach { qd =>
      added.where(expr("user_id div 17") % 4 === qd).coalesce(1)
        .write.mode("append").parquet(in)
    }
    graft.streaming.ArtifactStream.foldAvailableNowWithId(
        spark, base, artDir, in) { (batch, id, sibling) =>
      graft.streaming.ArtifactStream.epochStep(spark,
        seqFamily(minCountUni, probe), old, base, artDir, sibling,
        batch, id, headroom)
    }
    spark.read.parquet(artDir.toString)
      .where(col("support") >= minCountUni)
  }

  private def distinctUsers(batch: DataFrame): Long =
    batch.select(col("user_id")).distinct().count()

  /** The key-disjoint sequence family of
    * [[graft.streaming.ArtifactStream.epochStep]]: a batch charges its
    * distinct new users, folds by [[graft.fpm.SequentialPatterns.fold]],
    * and the promoted corpus re-mines at the exact rational
    * `probe/nCurrentUsers`, so the miner's integer ceil lands on `probe`
    * precisely. */
  private[graft] def seqFamily(
      minCountUni: Long, probe: Long): graft.streaming.ArtifactStream.Family =
    graft.streaming.ArtifactStream.Family(
      deltaSize = distinctUsers,
      fold = (artifact, batch, _, cum) => graft.fpm.SequentialPatterns.fold(
        artifact, batch, "user_id", "tsu", "event_id", "event_type",
        minCountUni, cum),
      remine = corpus => graft.fpm.SequentialPatterns.frequentSequences(
        corpus, "user_id", "tsu", "event_id", "event_type",
        minSupportNum = probe,
        minSupportDen = math.max(1L, distinctUsers(corpus)), maxLen = 3))

  /** The touched-key family: [[seqFamily]] with the
    * [[graft.fpm.SequentialPatterns.foldTouched]] fold — the batch's
    * keys' OLD containment terms come from the current epoch's corpus
    * base (post-trigger batches are key-disjoint from absorbed ones by
    * the routing contract, but reading the epoch base keeps the
    * semantics right regardless), their NEW terms from that history ∪
    * this batch's delta. The only family that reads the epoch base. */
  private[graft] def seqTouchFamily(
      minCountUni: Long, probe: Long): graft.streaming.ArtifactStream.Family =
    seqFamily(minCountUni, probe).copy(
      fold = (artifact, batch, epochBase, cum) => {
        val oldTouched = epochBase().join(
          batch.select(col("user_id")).distinct(), Seq("user_id"),
          "left_semi")
        graft.fpm.SequentialPatterns.foldTouched(artifact, oldTouched,
          oldTouched.unionByName(batch), "user_id", "tsu", "event_id",
          "event_type", minCountUni, cum)
      })

  /**
   * q: TOUCHED-KEY AUTO-RE-SNAPSHOT — the third FUP bound family gets
   * its recovery path, completing the trigger's coverage (q199 bounds
   * |added| for key-disjoint adds, deletions are free, and q192/q196's
   * |touchedKeys| bound had a fail-loudly `require` but no demonstrated
   * self-recovery until this row): same-key-EXTENDING micro-batches
   * (q196's CDC shape, each touched user's whole delta in exactly one
   * batch) maintain the artifact via the un-thresholded
   * [[graft.fpm.SequentialPatterns.foldTouched]], the stream watches
   * its durable `_cum_` distinct-touched-keys counter against the
   * declared headroom budget `H` (artifact mined at `minCount_union -
   * H`), and past 60% of `H` the fold is REPLACED by a re-mine of the
   * current corpus — with q199's full RE-BASE protocol: the union
   * corpus (epoch base ∪ this epoch's ingested delta events) promotes
   * to `corpus/e<epoch+1>`, `_cum_` resets, `_snap_`/`_epoch_` bump,
   * all in one atomic swap, and the next batch sweeps the absorbed
   * dirs. Touches never change the key universe, so `minCount_union`
   * is constant and the re-mine threshold is the exact rational
   * `probe/nUsers`. Final state == the union re-mine; the oracle is
   * q121's statement verbatim (q192/q196's oracle).
   *
   * Scale shape: per batch, two touched-keys-sized containment terms +
   * one artifact-sized join; the re-mine is one corpus pass per
   * consumed-headroom epoch, scheduled by the stream itself; the
   * ingest record holds delta EVENTS (epoch-scoped, id-keyed,
   * overwrite-idempotent) and stays epoch-bounded under the re-base.
   */
  def sequentialPatternTouchAutoResnapshot(
      spark: SparkSession, dir: String): DataFrame = {
    val ev = seqEvents(spark, dir).where(col("event_type").isNotNull)
    val isDelta = col("user_id") % 13 === 0 && col("event_id") % 5 === 0
    val old = ev.where(!isDelta)
    val delta = ev.where(isDelta)
    val (nTouched, nOldUsers, nUsers) = splitUserCounts(ev, isDelta)
    val minCountUni = (nUsers * 4L + 4L) / 5L
    val headroom = math.max(1L, nTouched)
    val probe = math.max(1L, minCountUni - headroom)
    val base = graft.Fs.stagedFor("q203", dir)
    val artDir = base.resolve("seqpatterns")
    minedSequences(spark, dir, "oldtouch", old, probe,
        math.max(1L, nOldUsers))
      .write.parquet(artDir.toString)
    // four key-disjoint quarter batches of touch churn (each touched
    // user's WHOLE delta in exactly one file — q196's routing
    // contract), so the 60% trigger fires mid-stream: folds land
    // before AND after the re-snapshot
    val in = base.resolve("in").toString
    (0L to 3L).foreach { qd =>
      delta.where(expr("user_id div 13") % 4 === qd).coalesce(1)
        .write.mode("append").parquet(in)
    }
    graft.streaming.ArtifactStream.foldAvailableNowWithId(
        spark, base, artDir, in) { (batch, id, sibling) =>
      graft.streaming.ArtifactStream.epochStep(spark,
        seqTouchFamily(minCountUni, probe), old, base, artDir, sibling,
        batch, id, headroom)
    }
    spark.read.parquet(artDir.toString)
      .where(col("support") >= minCountUni)
  }

  /** q121's statement over any user subset — the erasure oracle
    * re-derives the threshold from the RETAINED users' count, exactly
    * as the Spark side does. `extraPred` ANDs into the event filter. */
  private def sequentialPatternsSqlWhere(extraPred: String): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS i, event_type AS y
      |           FROM events WHERE event_type IS NOT NULL$extraPred),
      |n AS (SELECT count(DISTINCT user_id)::BIGINT AS nu FROM e),
      |m AS (SELECT (nu * 4 + 4) // 5 AS mc FROM n),
      |u1 AS (SELECT DISTINCT user_id, y FROM e),
      |l1 AS (SELECT y AS p1, count(*)::BIGINT AS support FROM u1 GROUP BY 1
      |       HAVING count(*) >= (SELECT mc FROM m)),
      |u2 AS (SELECT DISTINCT a.user_id, a.y AS p1, b.y AS p2
      |       FROM e a JOIN e b ON a.user_id = b.user_id
      |        AND (a.t < b.t OR (a.t = b.t AND a.i < b.i))),
      |l2 AS (SELECT p1, p2, count(*)::BIGINT AS support FROM u2 GROUP BY 1, 2
      |       HAVING count(*) >= (SELECT mc FROM m)),
      |u3 AS (SELECT DISTINCT a.user_id, a.y AS p1, b.y AS p2, c.y AS p3
      |       FROM e a JOIN e b ON a.user_id = b.user_id
      |        AND (a.t < b.t OR (a.t = b.t AND a.i < b.i))
      |       JOIN e c ON b.user_id = c.user_id
      |        AND (b.t < c.t OR (b.t = c.t AND b.i < c.i))),
      |l3 AS (SELECT p1, p2, p3, count(*)::BIGINT AS support FROM u3
      |       GROUP BY 1, 2, 3
      |       HAVING count(*) >= (SELECT mc FROM m))
      |SELECT p1 AS pattern, 1 AS plen, support FROM l1
      |UNION ALL SELECT p1 || '->' || p2, 2, support FROM l2
      |UNION ALL SELECT p1 || '->' || p2 || '->' || p3, 3, support FROM l3""".stripMargin

  /** q195 oracle: q121's statement over the retained users. */
  lazy val SequentialPatternEraseSql: String =
    sequentialPatternsSqlWhere(" AND user_id % 17 <> 0")

  lazy val SequentialPatternsSql: String = sequentialPatternsSqlWhere("")

  /** q: SEQUENTIAL-pattern RULES — the rule surface for the sequence
    * half of the mining family, mirroring q04 over q03: every frequent
    * sequence of length >= 2 yields the rule `prefix -> last`, whose
    * antecedent is itself frequent (anti-monotonicity), so confidence
    * is one equi-join back onto the q121 pattern table and lift one
    * more against the length-1 supports; the user count attaches by a
    * literal-key hash join (1 row). "Users who did view -> click
    * purchase next with confidence c, lift l" — the actionable form of
    * q121's raw support table. Pinned IEEE: one division for
    * confidence, division-then-division for lift. */
  def sequentialRules(spark: SparkSession, dir: String): DataFrame = {
    val nUsers = Tables.load(spark, dir, "events")
      .where(col("event_type").isNotNull)
      .agg(count_distinct(col("user_id")).as("n_users"))
    sequenceRulesFrom(sequentialPatterns(spark, dir), nUsers)
  }

  /** Core of q186 over any (pattern, plen, support) frequent-sequence
    * table: both joins are pattern-table-sized (output-bounded, so
    * broadcastable at any corpus scale); `nUsers` is ONE long of
    * driver metadata attached as a literal (the q146 1-row-collect
    * convention — a literal-key join constant-folds into a BNL, which
    * the plan sweep rightly rejects). EAGER: the 1-row `nUsers` read
    * runs at call time (q146 convention), so a missing events table
    * fails at build, not first action. `n_users` accepts any numeric
    * type (cast to long); an EMPTY `nUsers` frame yields an empty rule
    * table — the old inner-join semantics, not 0-denominator lifts. */
  def sequenceRulesFrom(pat: DataFrame, nUsers: DataFrame): DataFrame = {
    val parts = split(col("pattern"), "->")
    val withParts = pat.where(col("plen") >= 2)
      .select(col("pattern"), col("plen"), col("support"),
        array_join(slice(parts, lit(1), (col("plen") - 1).cast("int")), "->")
          .as("antecedent"),
        element_at(parts, -1).as("consequent"))
    val prefixSup = pat.select(col("pattern").as("antecedent"),
      col("support").as("ant_support"))
    val consSup = pat.where(col("plen") === 1)
      .select(col("pattern").as("consequent"),
        col("support").as("cons_support"))
    val nuOpt: Option[Long] = nUsers.select(col("n_users").cast("long"))
      .collect().headOption.flatMap(r => Option(r.get(0)))
      .map(_.asInstanceOf[Long])
    val rules = withParts
      .join(prefixSup, Seq("antecedent"))
      .join(consSup, Seq("consequent"))
      .withColumn("n_users", lit(nuOpt.getOrElse(0L)))
      .select(col("antecedent"), col("consequent"),
        col("support").as("seq_support"), col("ant_support"),
        col("cons_support"),
        (col("support").cast("double") / col("ant_support"))
          .as("confidence"),
        ((col("support").cast("double") / col("ant_support")) /
          (col("cons_support").cast("double") / col("n_users").cast("double")))
          .as("lift"))
    if (nuOpt.isDefined) rules else rules.where(lit(false))
  }

  /**
   * q: NEXT-EVENT PREDICTION from the sequence rules — q05's transform
   * stage on the ordered half, the recommendation surface the rule
   * table exists FOR: for every user, fire each q186 rule whose
   * antecedent pattern is contained in the user's event sequence
   * (greedy subsequence matching, [[graft.fpm.SequentialPatterns
   * .containsPattern]]) and whose consequent the user has NOT yet
   * done; emit the fired consequents best-lift-first (ties by
   * consequent asc), first-occurrence-deduplicated per consequent —
   * exactly q05's rule-probe semantics with "basket ∋ item" replaced
   * by "sequence ⊇ pattern". "Users who viewed then clicked but never
   * purchased: recommend purchase with lift l."
   *
   * Determinism: lifts are bit-identical IEEE on both engines (q186's
   * hash-green chain), the rule order (lift desc, consequent asc) is a
   * total order on the deduped set, and first-occurrence dedup keeps
   * each consequent's max-lift firing — so the oracle's
   * max-lift-per-consequent + ordered string_agg states the same
   * string.
   *
   * Scale shape: ONE shuffle builds the per-user sequences (the
   * projected-database assumption); the rule table is output-bounded
   * metadata shipped as a plan literal in fire order; per-row work is
   * `|rules| x |seq|` greedy folds + one dedup fold — no join, no
   * second corpus pass. The declared row derives its rules from the
   * memoized q121 mine (the artifact-store convention).
   */
  def sequentialPredict(spark: SparkSession, dir: String): DataFrame =
    predictUsingPatterns(spark, dir, sequentialPatterns(spark, dir))

  /**
   * q: NEXT-EVENT PREDICTION FROM THE REFRESHED ARTIFACT — q198's
   * transform-stability statement on the ordered half, making the two
   * lifecycle matrices fully symmetric: the q189-refreshed pattern
   * artifact (bit-equal to the union re-mine by the FUP bound) feeds
   * the q186 rule algebra, and the resulting rules drive q201's
   * per-user recommendation pass. Because refresh == re-mine, the rule
   * chain is deterministic IEEE, and the predictor is invariant under
   * permutations of an equal rule set, predict(refresh-derived rules)
   * == predict(mine-derived rules) byte for byte — the oracle is
   * q201's statement verbatim. A production pipeline recommends from
   * the maintained artifact with zero mine cost per serving refresh.
   */
  def sequentialPredictFromArtifact(
      spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    // ONE evaluation of the refresh plan (the q191 bounded-collect
    // idiom: the pattern artifact is support-bounded metadata)
    val pat = sequentialPatternRefreshIn(spark, dir, "q202")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq.toDF("pattern", "plen", "support")
    predictUsingPatterns(spark, dir, pat)
  }

  /** q201's chain over any (pattern, plen, support) table: derive the
    * rules, collect them in FIRE ORDER (lift desc, consequent asc —
    * the q05 broadcast-rules convention; output-bounded), build the
    * per-user sequences, probe. */
  private def predictUsingPatterns(
      spark: SparkSession, dir: String, pat: DataFrame): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val nUsers = Tables.load(spark, dir, "events")
      .where(col("event_type").isNotNull)
      .agg(count_distinct(col("user_id")).as("n_users"))
    val rules: Seq[(Seq[String], String, Double)] =
      sequenceRulesFrom(pat, nUsers)
        .select(col("antecedent"), col("consequent"), col("lift"))
        .as[(String, String, Double)].collect().toSeq
        .map { case (a, c, l) => (a.split("->").toSeq, c, l) }
        .sortBy { case (_, c, l) => (-l, c) }
    val seqs = seqEvents(spark, dir).where(col("event_type").isNotNull)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("tsu").as("t"),
        col("event_id").as("i"), col("event_type").as("y")))).as("s"))
      .select(col("user_id"), expr("transform(s, x -> x.y)").as("seq"))
    sequencePredictFrom(seqs, rules)
  }

  /** Core of q201 over any `(user_id, seq)` frame and FIRE-ORDERED
    * rules (lift desc, consequent asc — the caller sorts): fire each
    * rule whose antecedent is greedily contained and whose consequent
    * is absent, then a first-occurrence dedup fold per consequent.
    *
    * The containment probe SPECIALIZES per rule at expression-build
    * time (rule antecedents are known Scala values): length 1 is one
    * `array_contains`, length 2 is `array_position` (the greedy first
    * occurrence) + `array_contains` over the suffix — early-exiting
    * native array scans instead of the generic per-element struct
    * fold, which made the first cut of this row the suite's slowest
    * (7.4 s -> the fold walked every rule across every user's WHOLE
    * sequence with no early exit). Longer antecedents (none are
    * produced under the plen<=3 mining cap, but the core stays
    * general) fall back to the greedy fold. Still zero UDFs and zero
    * joins: the rule table is the plan. */
  private[graft] def sequencePredictFrom(
      seqs: DataFrame,
      rules: Seq[(Seq[String], String, Double)]): DataFrame = {
    val sp = graft.fpm.SequentialPatterns
    if (rules.isEmpty)
      seqs.select(col("user_id"), lit("").as("prediction"))
    else {
      val picks: Seq[Column] = rules.map { case (a, c, _) =>
        val contained =
          if (a.length == 1) array_contains(col("seq"), a.head)
          else if (a.length == 2) {
            val p = array_position(col("seq"), a.head)
            p > 0 && array_contains(
              slice(col("seq"), (p + 1).cast("int"), size(col("seq"))),
              a(1))
          } else
            sp.containsPattern(col("seq"), array(a.map(lit): _*))
        when(contained && !array_contains(col("seq"), lit(c)), lit(c))
          .otherwise(lit(null).cast("string"))
      }
      // fired consequents in fire order, then the first-occurrence
      // dedup fold — codegen'd HOFs, no UDF
      val fired = filter(array(picks: _*), x => x.isNotNull)
      val picked = aggregate(fired,
        array().cast("array<string>"),
        (acc, x) => when(array_contains(acc, x), acc)
          .otherwise(concat(acc, array(x))))
      seqs.select(col("user_id"),
        array_join(picked, ", ").as("prediction"))
    }
  }

  /** q201's oracle: the q186 rule CTEs + per-user containment firing
    * (EXISTS-ordered-position joins == greedy subsequence containment)
    * + max-lift-per-consequent dedup + ordered string_agg. */
  val SequentialPredictSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS i, event_type AS y
      |           FROM events WHERE event_type IS NOT NULL),
      |n AS (SELECT count(DISTINCT user_id)::BIGINT AS nu FROM e),
      |m AS (SELECT (nu * 4 + 4) // 5 AS mc FROM n),
      |u1 AS (SELECT DISTINCT user_id, y FROM e),
      |l1 AS (SELECT y AS p1, count(*)::BIGINT AS support FROM u1 GROUP BY 1
      |       HAVING count(*) >= (SELECT mc FROM m)),
      |u2 AS (SELECT DISTINCT a.user_id, a.y AS p1, b.y AS p2
      |       FROM e a JOIN e b ON a.user_id = b.user_id
      |        AND (a.t < b.t OR (a.t = b.t AND a.i < b.i))),
      |l2 AS (SELECT p1, p2, count(*)::BIGINT AS support FROM u2 GROUP BY 1, 2
      |       HAVING count(*) >= (SELECT mc FROM m)),
      |u3 AS (SELECT DISTINCT a.user_id, a.y AS p1, b.y AS p2, c.y AS p3
      |       FROM e a JOIN e b ON a.user_id = b.user_id
      |        AND (a.t < b.t OR (a.t = b.t AND a.i < b.i))
      |       JOIN e c ON b.user_id = c.user_id
      |        AND (b.t < c.t OR (b.t = c.t AND b.i < c.i))),
      |l3 AS (SELECT p1, p2, p3, count(*)::BIGINT AS support FROM u3
      |       GROUP BY 1, 2, 3
      |       HAVING count(*) >= (SELECT mc FROM m)),
      |r AS (
      |  SELECT l2.p1 AS a1, NULL AS a2, l2.p2 AS consequent,
      |         l2.support AS seq_support, a.support AS ant_support,
      |         c.support AS cons_support
      |  FROM l2 JOIN l1 a ON l2.p1 = a.p1 JOIN l1 c ON l2.p2 = c.p1
      |  UNION ALL
      |  SELECT l3.p1, l3.p2, l3.p3, l3.support, a.support, c.support
      |  FROM l3 JOIN l2 a ON l3.p1 = a.p1 AND l3.p2 = a.p2
      |          JOIN l1 c ON l3.p3 = c.p1),
      |rl AS (SELECT a1, a2, consequent,
      |              (seq_support::DOUBLE / ant_support)
      |                / (cons_support::DOUBLE / (SELECT nu FROM n)::DOUBLE) AS lift
      |       FROM r),
      |users AS (SELECT DISTINCT user_id FROM e),
      |fired AS (
      |  SELECT u.user_id, rl.consequent, rl.lift
      |  FROM users u, rl
      |  WHERE rl.a2 IS NULL
      |    AND EXISTS (SELECT 1 FROM e WHERE e.user_id = u.user_id AND e.y = rl.a1)
      |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.user_id = u.user_id AND e.y = rl.consequent)
      |  UNION ALL
      |  SELECT u.user_id, rl.consequent, rl.lift
      |  FROM users u, rl
      |  WHERE rl.a2 IS NOT NULL
      |    AND EXISTS (SELECT 1 FROM e a JOIN e b ON a.user_id = b.user_id
      |                  AND (a.t < b.t OR (a.t = b.t AND a.i < b.i))
      |                WHERE a.user_id = u.user_id AND a.y = rl.a1 AND b.y = rl.a2)
      |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.user_id = u.user_id AND e.y = rl.consequent)),
      |best AS (SELECT user_id, consequent, max(lift) AS lift
      |         FROM fired GROUP BY 1, 2),
      |agg AS (SELECT user_id,
      |               string_agg(consequent, ', ' ORDER BY lift DESC, consequent) AS p
      |        FROM best GROUP BY user_id)
      |SELECT u.user_id, coalesce(agg.p, '') AS prediction
      |FROM users u LEFT JOIN agg ON u.user_id = agg.user_id""".stripMargin

  /** The q121 CTE chain extended with the rule joins — antecedent and
    * consequent decompose relationally from l2/l3, which equals the
    * Spark side's string split because pattern strings embed the
    * '->'-joined components exactly. */
  val SequentialRulesSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id AS i, event_type AS y
      |           FROM events WHERE event_type IS NOT NULL),
      |n AS (SELECT count(DISTINCT user_id)::BIGINT AS nu FROM e),
      |m AS (SELECT (nu * 4 + 4) // 5 AS mc FROM n),
      |u1 AS (SELECT DISTINCT user_id, y FROM e),
      |l1 AS (SELECT y AS p1, count(*)::BIGINT AS support FROM u1 GROUP BY 1
      |       HAVING count(*) >= (SELECT mc FROM m)),
      |u2 AS (SELECT DISTINCT a.user_id, a.y AS p1, b.y AS p2
      |       FROM e a JOIN e b ON a.user_id = b.user_id
      |        AND (a.t < b.t OR (a.t = b.t AND a.i < b.i))),
      |l2 AS (SELECT p1, p2, count(*)::BIGINT AS support FROM u2 GROUP BY 1, 2
      |       HAVING count(*) >= (SELECT mc FROM m)),
      |u3 AS (SELECT DISTINCT a.user_id, a.y AS p1, b.y AS p2, c.y AS p3
      |       FROM e a JOIN e b ON a.user_id = b.user_id
      |        AND (a.t < b.t OR (a.t = b.t AND a.i < b.i))
      |       JOIN e c ON b.user_id = c.user_id
      |        AND (b.t < c.t OR (b.t = c.t AND b.i < c.i))),
      |l3 AS (SELECT p1, p2, p3, count(*)::BIGINT AS support FROM u3
      |       GROUP BY 1, 2, 3
      |       HAVING count(*) >= (SELECT mc FROM m)),
      |r AS (
      |  SELECT l2.p1 AS antecedent, l2.p2 AS consequent,
      |         l2.support AS seq_support, a.support AS ant_support,
      |         c.support AS cons_support
      |  FROM l2 JOIN l1 a ON l2.p1 = a.p1 JOIN l1 c ON l2.p2 = c.p1
      |  UNION ALL
      |  SELECT l3.p1 || '->' || l3.p2, l3.p3,
      |         l3.support, a.support, c.support
      |  FROM l3 JOIN l2 a ON l3.p1 = a.p1 AND l3.p2 = a.p2
      |          JOIN l1 c ON l3.p3 = c.p1)
      |SELECT antecedent, consequent, seq_support, ant_support, cons_support,
      |       seq_support::DOUBLE / ant_support AS confidence,
      |       (seq_support::DOUBLE / ant_support)
      |         / (cons_support::DOUBLE / (SELECT nu FROM n)::DOUBLE) AS lift
      |FROM r""".stripMargin

  /**
   * SCD2 dimension history build (slowly-changing-dimension type 2 —
   * Kimball's history-preserving variant of q57's latest-state
   * compaction): per key, CHANGE detection first (an event opens a new
   * version only when its state differs from the previous event's),
   * then validity-interval assembly — `[valid_from, valid_to)` with the
   * open current version carrying a null `valid_to`.
   *
   * Scale shape: two window passes over the SAME (key) partitioning and
   * (time, id) ordering — Catalyst plans ONE exchange + one sort and
   * reuses them for both windows, so the whole history build is a
   * single shuffle of the event log. Deterministic: ordering is the
   * strictly-unique (time, eventId) pair.
   */
  def scd2History(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      stateCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val changes = events
      .withColumn("__prev", lag(col(stateCol), 1).over(w))
      .where(col("__prev").isNull || col(stateCol) =!= col("__prev"))
      .drop("__prev")
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(stateCol).as("state"),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** q: the user's event-type state history as an SCD2 table. */
  def userStateHistory(spark: SparkSession, dir: String): DataFrame =
    scd2History(
      Tables.load(spark, dir, "events")
        .select(col("user_id"), expr("ts div 1000L").as("tsu"),
          col("event_id"), col("event_type")),
      "user_id", "tsu", "event_id", "event_type")

  /**
   * q122's SCD2 build computed by an EXECUTED STREAMING QUERY (the q84
   * pattern): [[graft.streaming.EventStreams.scd2Stream]] under
   * `AvailableNow` into a parquet sink, read back. Only versions CLOSED
   * by a state-changing event flow through the sink (the open version
   * lives in state when the bounded run ends), so the oracle is q122's
   * window algebra restricted to `valid_to IS NOT NULL`.
   */
  def userStateHistoryStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q126", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.scd2Stream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    java.nio.file.Files.createDirectories(out)
    spark.read
      .schema("user_id BIGINT, state STRING, valid_from BIGINT, " +
        "valid_to BIGINT")
      .parquet(out.toString)
  }

  val UserStateHistoryClosedSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id AS i,
      |                  event_type AS y
      |           FROM events),
      |c AS (SELECT user_id, tsu, i, y,
      |             lag(y) OVER (PARTITION BY user_id ORDER BY tsu, i) AS prev
      |      FROM e),
      |ch AS (SELECT user_id, tsu, i, y FROM c
      |       WHERE prev IS NULL OR y <> prev),
      |v AS (SELECT user_id, y AS state, tsu AS valid_from,
      |        lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, i)
      |          AS valid_to
      |      FROM ch)
      |SELECT user_id, state, valid_from, valid_to FROM v
      |WHERE valid_to IS NOT NULL""".stripMargin

  /**
   * Item-item CO-ENGAGEMENT similarity — the collaborative-filtering
   * data-prep primitive ("users who touched item a also touched b"):
   * distinct (user, item) pairs from the event log's `props.k`, item
   * pairs by a user-keyed self-join, Jaccard over the items' user sets,
   * floored at `minCoUsers` co-occurrences.
   *
   * Scale shape: ONE LINEAR PIPELINE, no self-join, no repeated
   * subtree — the corpus reduces to DISTINCT (user, item) in one
   * partial-aggregated pass, per-item user counts attach by a window
   * over that reduced table, each user's (item, count) set collects
   * into ONE sorted array (bounded by their distinct-item count — the
   * item vocabulary, not their event count: the CF boundedness
   * assumption, and the q13 `maxShingleDF` fan-out discipline), and
   * ordered pairs generate IN-SCAN by nested array transforms before
   * the final pair-keyed aggregation. Four exchanges over the
   * engagement matrix, zero joins (a naive formulation joins ui against
   * itself plus two size joins and recomputes the distinct four times —
   * measured 4x slower). Jaccard is a ratio of exact counts —
   * cross-engine bit-reproducible.
   */
  def coEngagement(
      events: DataFrame, userCol: String, itemCol: String,
      minCoUsers: Long = 5L): DataFrame = {
    val ui = events.select(col(userCol).as("u"), col(itemCol).as("it"))
      .where(col("it").isNotNull).distinct()
    // Per-item user counts as a plain two-phase aggregate, attached to
    // the PAIR-AGGREGATED output (item_a/item_b equi-joins, no hint —
    // AQE broadcasts the count table when it fits, sort-merge otherwise).
    // The previous shape window-partitioned the full (u, it) set by item
    // (an extra exchange + sort preserving every row) only to carry n
    // through the pair explosion, doubling every exploded row's width for
    // a value the final co_users-filtered pairs could look up.
    val sz = ui.groupBy(col("it")).agg(count(lit(1)).as("n"))
    val ua = ui.groupBy(col("u"))
      .agg(sort_array(collect_list(col("it"))).as("items"))
    // Ordered-pair enumeration via two codegen'd Generates (posexplode +
    // slice + explode) — the nested transform(...) lambdas this replaces
    // are interpreted HOFs (CodegenFallback), the q98-gate pathology.
    // slice is 1-based: start i+2 = the element after position i, length
    // clamped at 0 for the last element (slice throws on negatives).
    ua.select(col("items"), posexplode(col("items")).as(Seq("i", "item_a")))
      .select(col("item_a"),
        explode(slice(col("items"), col("i") + lit(2),
          greatest(size(col("items")) - col("i") - lit(1), lit(0))))
          .as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("co_users"))
      .where(col("co_users") >= minCoUsers)
      .join(sz.select(col("it").as("item_a"), col("n").as("users_a")), "item_a")
      .join(sz.select(col("it").as("item_b"), col("n").as("users_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("co_users"),
        col("users_a"), col("users_b"),
        (col("co_users").cast("double") /
          (col("users_a") + col("users_b") - col("co_users")).cast("double"))
          .as("jaccard"))
  }

  /** q: related items from the event log (props.k as the item id). */
  def itemCoEngagement(spark: SparkSession, dir: String): DataFrame =
    coEngagement(
      Tables.load(spark, dir, "events")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item")),
      "user_id", "item", minCoUsers = 5L)

  val ItemCoEngagementSql: String =
    """WITH ui AS (SELECT DISTINCT user_id AS u,
      |                   json_extract_string(props, '$.k')::BIGINT AS it
      |            FROM events
      |            WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |sz AS (SELECT it, count(*)::BIGINT AS n FROM ui GROUP BY 1),
      |p AS (SELECT a.it AS item_a, b.it AS item_b, count(*)::BIGINT AS co_users
      |      FROM ui a JOIN ui b ON a.u = b.u AND a.it < b.it
      |      GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT p.item_a, p.item_b, p.co_users,
      |  sa.n AS users_a, sb.n AS users_b,
      |  p.co_users::DOUBLE / (sa.n + sb.n - p.co_users)::DOUBLE AS jaccard
      |FROM p JOIN sz sa ON p.item_a = sa.it
      |       JOIN sz sb ON p.item_b = sb.it""".stripMargin

  /** q115's conversions computed by an EXECUTED STREAMING QUERY (the
    * q84 pattern): [[graft.streaming.EventStreams.funnelStream]] under
    * availableNow into a parquet sink, read back — the oracle is the
    * batch funnel restricted to COMPLETED (stage 3) users. */
  def eventFunnelStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q131", dir)
    val out = base.resolve("out")
    graft.streaming.StreamRun.withStatePartitions(spark, 8) {
      val q = graft.streaming.EventStreams.funnelStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    java.nio.file.Files.createDirectories(out)
    spark.read
      .schema("user_id BIGINT, view_ts BIGINT, click_ts BIGINT, " +
        "purchase_ts BIGINT")
      .parquet(out.toString)
  }

  val EventFunnelCompletedSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events),
      |v AS (SELECT user_id, min(tsu) AS view_ts FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(tsu) AS click_ts
      |      FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND tsu > view_ts GROUP BY 1),
      |p AS (SELECT e.user_id, min(tsu) AS purchase_ts
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND tsu > click_ts GROUP BY 1)
      |SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts
      |FROM v JOIN c USING (user_id) JOIN p USING (user_id)""".stripMargin

  /**
   * Per-COLUMN data-profiler card — the relational-table counterpart of
   * q77's one-row corpus datasheet: for each profiled column its row
   * count, null count, EXACT distinct count, and canonical-rendering
   * bounds. Columns profile under a caller-chosen canonical STRING
   * rendering (zero-padded integers so lexicographic bounds equal
   * numeric ones; ISO dates likewise) — the cross-engine-stable form.
   *
   * Scale shape: the table unpivots IN-SCAN (k struct rows per input
   * row, one generate, no join), then reduces in TWO stacked
   * partial-aggregated groupBys: first to the per-column VALUE
   * vocabulary (this one shuffle is what exact distinct costs — the
   * sketch-based alternative is q120), then to the per-column card.
   * Everything after the first aggregation is vocabulary-sized.
   */
  def profileColumns(
      df: DataFrame, columns: Seq[(String, Column)]): DataFrame = {
    require(columns.nonEmpty, "profile at least one column")
    val stacked = df.select(explode(array(columns.map { case (n, c) =>
        struct(lit(n).as("column_name"), c.cast("string").as("val"))
      }: _*)).as("cv"))
      .select(col("cv.column_name").as("column_name"), col("cv.val").as("val"))
    stacked.groupBy(col("column_name"), col("val"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("column_name"))
      .agg(sum(col("cnt")).as("n_rows"),
        coalesce(sum(when(col("val").isNull, col("cnt"))), lit(0L))
          .as("n_null"),
        count(when(col("val").isNotNull, lit(1))).as("n_distinct"),
        min(col("val")).as("min_val"), max(col("val")).as("max_val"))
  }

  /** q: the orders table profiled over five columns in canonical
    * renderings (zero-padded keys, ISO order date). */
  def ordersProfile(spark: SparkSession, dir: String): DataFrame =
    profileColumns(Tables.load(spark, dir, "orders"), Seq(
      "o_orderkey" -> lpad(col("o_orderkey").cast("string"), 12, "0"),
      "o_custkey" -> lpad(col("o_custkey").cast("string"), 12, "0"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_orderpriority" -> col("o_orderpriority"),
      "o_orderdate" -> date_format(col("o_orderdate"), "yyyy-MM-dd")))

  val OrdersProfileSql: String =
    """WITH s AS (
      |  SELECT 'o_orderkey' AS column_name,
      |         lpad(o_orderkey::VARCHAR, 12, '0') AS val FROM orders
      |  UNION ALL SELECT 'o_custkey', lpad(o_custkey::VARCHAR, 12, '0')
      |  FROM orders
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
      |  UNION ALL SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d')
      |  FROM orders),
      |v AS (SELECT column_name, val, count(*)::BIGINT AS cnt
      |      FROM s GROUP BY 1, 2)
      |SELECT column_name, sum(cnt)::BIGINT AS n_rows,
      |  coalesce(sum(CASE WHEN val IS NULL THEN cnt END), 0)::BIGINT AS n_null,
      |  count(CASE WHEN val IS NOT NULL THEN 1 END)::BIGINT AS n_distinct,
      |  min(val) AS min_val, max(val) AS max_val
      |FROM v GROUP BY 1""".stripMargin

  /**
   * INCREMENTAL refresh of a JOIN-aggregate materialized view — the
   * q116 maintenance story extended across a join: the revenue-per-
   * nation view (orders x customer rollup) refreshes by joining ONLY
   * the newly-arrived orders to the (broadcast) dimension and merging
   * their contributions into the stored view with one grouped sum —
   * delta-bounded work, never a fact-table rescan. Revenue sums carry
   * as exact DECIMAL(18,4) until the final double cast (the q92
   * discipline), so the merged view equals a direct recompute bit for
   * bit — exactly what the declared row's oracle states by recomputing
   * the view over the full fact table.
   *
   * The base view is rebuilt here to keep the row self-contained; a
   * production refresh reads it from storage, leaving the data-sized
   * work at O(delta).
   */
  def incrementalJoinAggRefresh(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .where(col("o_custkey").isNotNull)
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    def contrib(o: DataFrame) =
      o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"), lit(1L).as("n"),
          col("o_totalprice").cast("decimal(18,4)").as("rev"))
    val baseView = contrib(orders.where(col("o_orderkey") % 10 =!= 0))
      .groupBy(col("nation"))
      .agg(sum(col("n")).as("n"), sum(col("rev")).as("rev"))
    baseView
      .unionByName(contrib(orders.where(col("o_orderkey") % 10 === 0))
        .select(col("nation"), col("n"), col("rev").cast("decimal(28,4)")))
      .groupBy(col("nation"))
      .agg(sum(col("n")).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  val IncrementalJoinAggSql: String =
    """WITH j AS (SELECT cu.c_nationkey AS nation,
      |                  o.o_totalprice::DECIMAL(18,4) AS rev
      |           FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
      |           WHERE o.o_custkey IS NOT NULL)
      |SELECT nation, count(*)::BIGINT AS n_orders,
      |       sum(rev)::DOUBLE AS revenue
      |FROM j GROUP BY 1""".stripMargin

  /**
   * Declarative data-QUALITY check suite — the expectation-style gate a
   * warehouse runs per ingest, as one declared table: each check emits
   * `(check_name, n_rows, n_violations, passed)`. Check classes: null
   * constraints, value ranges, accepted sets, and REFERENTIAL integrity
   * (orphan children via left-anti joins).
   *
   * Scale shape: predicate checks are conditional aggregates inside ONE
   * scan per table (no per-check scan); the orphan checks are key-equi
   * left-anti joins — the customer side broadcasts when small, the
   * lineitem-orders side is the standard shuffled anti join. One-row
   * results assemble by unionAll (the q123 discipline — no cartesian).
   */
  def qualityCheckSuite(spark: SparkSession, dir: String): DataFrame =
    qualityChecks(Tables.load(spark, dir, "orders"),
      Tables.load(spark, dir, "lineitem"),
      Tables.load(spark, dir, "customer"))

  def qualityChecks(
      orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame): DataFrame = {
    // zero-rows-on-empty convention (EmptyCorpusSpec): an empty table
    // has no checks to report, not a row of zeros
    def checkRow(name: String, agg: DataFrame): DataFrame =
      agg.select(lit(name).as("check_name"), col("n_rows"),
        col("n_violations"),
        (col("n_violations") === 0L).as("passed"))
        .where(col("n_rows") > 0L)
    val predicateChecks = orders.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("v_null_custkey"),
        sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0.0,
          1L).otherwise(0L)).as("v_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L)).as("v_status"))
    val liChecks = lineitem.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull || col("l_quantity") < 1.0 ||
          col("l_quantity") > 50.0, 1L).otherwise(0L)).as("v_qty"))
    def slice(src: DataFrame, v: String) =
      src.select(col("n_rows"), coalesce(col(v), lit(0L)).as("n_violations"))
    // Orphan checks as LEFT join + conditional aggregate (not anti join
    // + separate row count): one pass, and the single-row assembly
    // stays cartesian-free.
    val ordersOrphanRow = orders
      .join(broadcast(customer.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
          .as("v_orphan"))
    val liOrphanRow = lineitem
      .join(orders.select(col("o_orderkey").as("__ok")),
        col("l_orderkey") === col("__ok"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__ok").isNull, 1L).otherwise(0L)).as("v_orphan"))
    checkRow("orders.custkey_not_null", slice(predicateChecks, "v_null_custkey"))
      .unionAll(checkRow("orders.totalprice_positive",
        slice(predicateChecks, "v_price")))
      .unionAll(checkRow("orders.status_in_set",
        slice(predicateChecks, "v_status")))
      .unionAll(checkRow("lineitem.quantity_in_range",
        slice(liChecks, "v_qty")))
      .unionAll(checkRow("orders.fk_customer",
        slice(ordersOrphanRow, "v_orphan")))
      .unionAll(checkRow("lineitem.fk_orders",
        slice(liOrphanRow, "v_orphan")))
  }

  val QualityCheckSuiteSql: String =
    """WITH o AS (SELECT count(*)::BIGINT AS n_rows,
      |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_null,
      |    sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0
      |             THEN 1 ELSE 0 END)::BIGINT AS v_price,
      |    sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
      |             THEN 1 ELSE 0 END)::BIGINT AS v_status
      |  FROM orders),
      |l AS (SELECT count(*)::BIGINT AS n_rows,
      |    sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
      |             OR l_quantity > 50.0 THEN 1 ELSE 0 END)::BIGINT AS v_qty
      |  FROM lineitem),
      |ofk AS (SELECT count(*)::BIGINT AS n_rows,
      |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v
      |  FROM orders o2 LEFT JOIN customer c ON o2.o_custkey = c.c_custkey),
      |lfk AS (SELECT count(*)::BIGINT AS n_rows,
      |    sum(CASE WHEN o3.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v
      |  FROM lineitem li LEFT JOIN orders o3 ON li.l_orderkey = o3.o_orderkey)
      |SELECT 'orders.custkey_not_null' AS check_name, n_rows,
      |       coalesce(v_null, 0) AS n_violations,
      |       coalesce(v_null, 0) = 0 AS passed FROM o WHERE n_rows > 0
      |UNION ALL SELECT 'orders.totalprice_positive', n_rows,
      |       coalesce(v_price, 0), coalesce(v_price, 0) = 0 FROM o
      |WHERE n_rows > 0
      |UNION ALL SELECT 'orders.status_in_set', n_rows,
      |       coalesce(v_status, 0), coalesce(v_status, 0) = 0 FROM o
      |WHERE n_rows > 0
      |UNION ALL SELECT 'lineitem.quantity_in_range', n_rows,
      |       coalesce(v_qty, 0), coalesce(v_qty, 0) = 0 FROM l
      |WHERE n_rows > 0
      |UNION ALL SELECT 'orders.fk_customer', n_rows,
      |       coalesce(v, 0), coalesce(v, 0) = 0 FROM ofk WHERE n_rows > 0
      |UNION ALL SELECT 'lineitem.fk_orders', n_rows,
      |       coalesce(v, 0), coalesce(v, 0) = 0 FROM lfk WHERE n_rows > 0""".stripMargin

  /**
   * Per-group OLS TREND fit — "is this event type's volume growing?"
   * as data: ordinary least squares of hourly counts against the hour
   * index, per event type. The moment sums (n, Σx, Σy, Σxy, Σx²) are
   * EXACT integers carried as DECIMAL(38,0) (order-free, overflow-safe
   * at any scale), and the closed-form slope/intercept are a pinned
   * handful of IEEE double ops on those exact sums — bit-reproducible
   * cross-engine with no iterative fitting anywhere.
   *
   * Scale shape: one partial-aggregated groupBy to hourly cells (q26's
   * shape), then one groupBy to the per-type moment sums — the
   * regression itself is a projection of five exact numbers per group.
   */
  def volumeTrend(spark: SparkSession, dir: String): DataFrame =
    volumeTrendFromEvents(Tables.load(spark, dir, "events"))

  def volumeTrendFromEvents(events: DataFrame): DataFrame = {
    val hourly = events
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
    val d = "decimal(20,0)"
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(d).as("n"),
        sum(col("h").cast(d)).as("sx"),
        sum(col("c").cast(d)).as("sy"),
        sum((col("h") * col("c")).cast(d)).as("sxy"),
        sum((col("h") * col("h")).cast(d)).as("sxx"))
      .select(col("event_type"), col("n"), col("sx"), col("sy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"))
      .select(col("event_type"), col("n").cast("long").as("n_hours"),
        col("slope"),
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"))
  }

  /**
   * MULTI-TOUCH linear attribution — the marketing-analytics sibling of
   * q44's last-touch as-of: every view/click within the horizon BEFORE
   * a purchase (inclusive bounds) shares the conversion credit equally
   * (`1 / n_touches`). Built on the q45 interval-join operator
   * (bucketized, never a raw per-user cross product); the per-purchase
   * touch count attaches by one window over the already-joined pairs.
   * Credit is a single IEEE division of exact counts — hash-exact.
   */
  def multiTouchAttribution(
      spark: SparkSession, dir: String,
      horizonUs: Long = 86400000000L): DataFrame =
    multiTouchFromEvents(
      Tables.load(spark, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000L").as("tsu"), col("event_type")),
      horizonUs)

  /** Core over a (user_id, event_id, tsu, event_type) frame. */
  def multiTouchFromEvents(
      events: DataFrame, horizonUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events
    val touches = e.where(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("tsu").as("touch_ts"), col("event_type").as("touch_type"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("tsu").as("purchase_ts"))
      .withColumn("window_start", col("purchase_ts") - horizonUs)
    val joined = graft.operators.IntervalJoin.intervalJoin(
      touches, purchases, Seq("user_id"), col("touch_ts"),
      col("window_start"), col("purchase_ts"), bucketWidth = horizonUs)
    val w = Window.partitionBy(col("purchase_id"))
    joined
      .withColumn("n_touches", count(lit(1)).over(w))
      .select(col("purchase_id"), col("touch_id"), col("touch_type"),
        col("n_touches"),
        (lit(1.0) / col("n_touches").cast("double")).as("credit"))
  }

  val MultiTouchAttributionSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
      |           FROM events),
      |t AS (SELECT user_id, event_id AS touch_id, tsu AS touch_ts,
      |             event_type AS touch_type
      |      FROM e WHERE event_type IN ('view', 'click')),
      |p AS (SELECT user_id, event_id AS purchase_id, tsu AS purchase_ts
      |      FROM e WHERE event_type = 'purchase'),
      |j AS (SELECT p.purchase_id, t.touch_id, t.touch_type
      |      FROM p JOIN t ON p.user_id = t.user_id
      |       AND t.touch_ts BETWEEN p.purchase_ts - 86400000000 AND p.purchase_ts),
      |n AS (SELECT purchase_id, touch_id, touch_type,
      |             count(*) OVER (PARTITION BY purchase_id)::BIGINT AS n_touches
      |      FROM j)
      |SELECT purchase_id, touch_id, touch_type, n_touches,
      |       1.0::DOUBLE / n_touches::DOUBLE AS credit
      |FROM n""".stripMargin

  /**
   * ROBUST volume anomalies — q70's z-score screen re-done with
   * breakdown-resistant statistics: per event type, the hourly count's
   * deviation from the MEDIAN in units of the MAD (median absolute
   * deviation), both EXACT order statistics from the q52 histogram
   * machinery (two histogram-shaped passes, never raw-row buffering).
   * Mean/sigma z-scores mask anomalies when the anomaly itself inflates
   * sigma; median/MAD have a 50% breakdown point. The ratio is one
   * IEEE division of exact integers; a zero MAD (constant series)
   * yields a null ratio and never flags.
   */
  def robustVolumeAnomalies(
      spark: SparkSession, dir: String, flagAt: Double = 5.0): DataFrame =
    robustAnomaliesFromEvents(Tables.load(spark, dir, "events"), flagAt)

  def robustAnomaliesFromEvents(
      events: DataFrame, flagAt: Double = 5.0): DataFrame = {
    val cells = events
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
    val med = graft.pipeline.Curation.groupedQuantiles(cells, "event_type", col("c"),
      Seq("med" -> 0.5))
    val resid = cells.join(broadcast(med), "event_type")
      .withColumn("r", abs(col("c") - col("med")))
    val mad = graft.pipeline.Curation.groupedQuantiles(resid, "event_type", col("r"),
      Seq("mad" -> 0.5))
    resid.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("h"), col("c"), col("med"), col("mad"),
        when(col("mad") > 0L,
          col("r").cast("double") / col("mad").cast("double"))
          .as("dev_ratio"))
      .withColumn("flagged",
        coalesce(col("dev_ratio") > flagAt, lit(false)))
  }

  val RobustVolumeAnomaliesSql: String =
    """WITH cells AS (
      |  SELECT event_type, (epoch_us(ts) // 3600000000) AS h,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |h1 AS (SELECT event_type, c AS v, count(*) AS cnt FROM cells
      |       GROUP BY 1, 2),
      |c1 AS (SELECT event_type, v,
      |         sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cc,
      |         sum(cnt) OVER (PARTITION BY event_type) AS n
      |       FROM h1),
      |med AS (SELECT event_type,
      |          min(CASE WHEN cc >= cast(ceil(0.5 * n) AS BIGINT) THEN v END)
      |            AS med
      |        FROM c1 GROUP BY 1),
      |resid AS (SELECT cells.event_type, cells.h, cells.c, med.med,
      |                 abs(cells.c - med.med)::BIGINT AS r
      |          FROM cells JOIN med ON cells.event_type = med.event_type),
      |h2 AS (SELECT event_type, r AS v, count(*) AS cnt FROM resid
      |       GROUP BY 1, 2),
      |c2 AS (SELECT event_type, v,
      |         sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cc,
      |         sum(cnt) OVER (PARTITION BY event_type) AS n
      |       FROM h2),
      |mad AS (SELECT event_type,
      |          min(CASE WHEN cc >= cast(ceil(0.5 * n) AS BIGINT) THEN v END)
      |            AS mad
      |        FROM c2 GROUP BY 1)
      |SELECT resid.event_type, resid.h, resid.c, resid.med, mad.mad,
      |  CASE WHEN mad.mad > 0
      |       THEN resid.r::DOUBLE / mad.mad::DOUBLE END AS dev_ratio,
      |  coalesce(CASE WHEN mad.mad > 0
      |                THEN resid.r::DOUBLE / mad.mad::DOUBLE END > 5.0,
      |           false) AS flagged
      |FROM resid JOIN mad ON resid.event_type = mad.event_type""".stripMargin

  /**
   * RECENCY-WEIGHTED popularity — exponential half-life scoring of
   * items (`props.k`): an interaction aged d days contributes 2^-d of
   * an interaction today (one-day half-life against the corpus's max
   * event time). The decay weight is an exact SHIFTED INTEGER —
   * `(1 << 40) >> min(d, 63)` — so per-item sums are order-free long
   * arithmetic and the final score is ONE division by 2^40: no libm
   * pow, no float accumulation, bit-reproducible (the engine's
   * fixed-point discipline applied to decay curves).
   *
   * Scale shape: the anchor (max event time) is a one-row aggregate
   * broadcast into the scan; scoring is one partial-aggregated groupBy
   * on the item — the same cost as a plain popularity count.
   */
  def decayedPopularity(spark: SparkSession, dir: String): DataFrame =
    decayedPopularityFromEvents(
      Tables.load(spark, dir, "events")
        .select(expr("ts div 1000L").as("tsu"),
          get_json_object(col("props"), "$.k").cast("long").as("item")))

  def decayedPopularityFromEvents(events: DataFrame): DataFrame = {
    val e = events.where(col("item").isNotNull)
    // One long of metadata: the decay anchor (the q96 maxId discipline —
    // a 1-row cross join would plan as a nested-loop shape the plan
    // sweep rightly rejects)
    val maxTsu = e.agg(coalesce(max(col("tsu")), lit(0L))).head().getLong(0)
    e.withColumn("age_d",
        expr(s"(${maxTsu}L - tsu) div 86400000000L"))
      .withColumn("w",
        expr("shiftright(cast(1099511627776 as bigint), " +
          "cast(least(age_d, 63L) as int))"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("w_sum"))
      .select(col("item"), col("n_events"),
        (col("w_sum").cast("double") / lit(1099511627776.0))
          .as("score"))
  }

  val DecayedPopularitySql: String =
    """WITH e AS (SELECT epoch_us(ts) AS tsu,
      |             json_extract_string(props, '$.k')::BIGINT AS item
      |           FROM events
      |           WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |a AS (SELECT max(tsu) AS max_tsu FROM e),
      |w AS (SELECT item,
      |        (1099511627776::BIGINT >> least((a.max_tsu - e.tsu) // 86400000000,
      |                                        63)::INTEGER) AS wv
      |      FROM e, a)
      |SELECT item, count(*)::BIGINT AS n_events,
      |       sum(wv)::DOUBLE / 1099511627776.0 AS score
      |FROM w GROUP BY 1""".stripMargin

  /**
   * INTER-ARRIVAL gap distribution — the empirical basis for choosing a
   * session gap (q27/q91 use 30 minutes; this row is how a pipeline
   * would justify the number): per-user consecutive event gaps in
   * strict (time, id) order, reduced to exact p50/p90/p99 order
   * statistics via the q52 histogram machinery. One user-keyed window
   * (the q122 exchange) to form gaps, one histogram-shaped quantile
   * pass — no joins, no raw-row quantile buffering.
   */
  def interArrivalGaps(spark: SparkSession, dir: String): DataFrame =
    interArrivalFromEvents(Tables.load(spark, dir, "events"))

  def interArrivalFromEvents(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val gaps = events
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        col("event_id"))
      .withColumn("gap_us", lead(col("tsu"), 1).over(w) - col("tsu"))
      .where(col("gap_us").isNotNull)
      .withColumn("scope", lit("all"))
    val q = graft.pipeline.Curation.groupedQuantiles(gaps, "scope",
      col("gap_us"), Seq("p50_us" -> 0.5, "p90_us" -> 0.9, "p99_us" -> 0.99))
    val n = gaps.groupBy(col("scope")).agg(count(lit(1)).as("n_gaps"))
    // union+max assembly (the q123 discipline): joining two one-row
    // frames on their constant scope key folds to a nested-loop shape
    val nullL = lit(null).cast("long")
    q.select(col("scope"), nullL.as("n_gaps"), col("p50_us"),
        col("p90_us"), col("p99_us"))
      .unionAll(n.select(col("scope"), col("n_gaps"), nullL.as("p50_us"),
        nullL.as("p90_us"), nullL.as("p99_us")))
      .groupBy(col("scope"))
      .agg(max(col("n_gaps")).as("n_gaps"), max(col("p50_us")).as("p50_us"),
        max(col("p90_us")).as("p90_us"), max(col("p99_us")).as("p99_us"))
  }

  /**
   * BUCKETED fact-fact join — the co-located-layout row (see
   * [[graft.operators.Layout.writeBucketed]]): orders and lineitem are
   * written bucketed by their join key into the session catalog, then
   * the revenue-per-orderstatus rollup joins them. Because BOTH scans
   * report the same 8-bucket hash distribution on the key, the
   * sort-merge join plans with ZERO exchanges below it (PlanSpec pins
   * exactly one shuffle in the whole plan — the final groupBy) — the
   * shuffle a fact-fact join normally pays per query was paid once at
   * write. The `merge` hint pins the SMJ shape so the plan contract
   * doesn't depend on size estimates at toy scale. Values are the q06
   * exact-decimal money discipline, so the oracle (a plain join over
   * the raw parquet — layout must never change results) hash-matches.
   */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q153", dir)
    graft.operators.Layout.writeBucketed(
      Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus")),
      "graft_orders_bucketed", base.resolve("orders").toString,
      "o_orderkey", numBuckets = 8)
    graft.operators.Layout.writeBucketed(
      Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
      "graft_lineitem_bucketed", base.resolve("lineitem").toString,
      "l_orderkey", numBuckets = 8)
    spark.table("graft_orders_bucketed").hint("merge")
      .join(spark.table("graft_lineitem_bucketed"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        dec("l_quantity").cast("double").as("sum_qty"),
        dec("l_extendedprice").cast("double").as("revenue"))
  }

  val BucketedJoinSql: String =
    """SELECT o_orderstatus, count(*) AS n_items,
      |  cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  cast(sum(cast(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus""".stripMargin

  /**
   * BUCKETED rollup — the aggregation face of the q153 layout: the
   * per-order item/quantity rollup over the bucketed lineitem groups on
   * the BUCKET KEY, so the hash aggregate runs bucket-local and the
   * whole plan has ZERO exchanges (PlanSpec pins it; q153 pins the join
   * face at one). At 100 TB this is the recurring aggregation a
   * pre-bucketed fact table serves for free — per-key rollups,
   * dedup-by-key, incremental-view groupings — where the unbucketed
   * plan re-shuffles the fact table every time. The `>= 5` floor keeps
   * the declared row order-cardinality-bounded; values are the q06
   * exact-decimal discipline.
   */
  def bucketedRollup(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Fs.stagedFor("q158", dir)
    graft.operators.Layout.writeBucketed(
      Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")),
      "graft_lineitem_rollup_b", base.resolve("lineitem").toString,
      "l_orderkey", numBuckets = 8)
    spark.table("graft_lineitem_rollup_b")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        dec("l_quantity").cast("double").as("sum_qty"))
      .where(col("n_items") >= 5)
  }

  val BucketedRollupSql: String =
    """SELECT l_orderkey, count(*) AS n_items,
      |  cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY l_orderkey
      |HAVING count(*) >= 5""".stripMargin

  /**
   * DATA-DERIVED sessionization — q145's gap distribution put to work:
   * the session timeout is the exact p99 inter-arrival gap (not a
   * hand-picked 30 minutes), and the events then sessionize under that
   * derived timeout in the same job. Emits one row per user —
   * `(user_id, n_sessions, n_events, longest_session_events,
   * derived_timeout_us)` — all integers, with the timeout carried as a
   * column so the declared row pins the derivation AND its consequence.
   *
   * Scale shape: gaps form on one user-keyed window exchange; the
   * timeout reduces to ONE LONG of driver metadata via the histogram
   * quantile (the q144 anchor discipline — a 1-row literal, never a
   * constant-key join that would plan nested-loop); session numbering
   * is a second window pass over the SAME user partitioning, and the
   * two groupBys cluster on user_id so no further exchange follows.
   */
  def derivedSessions(spark: SparkSession, dir: String): DataFrame =
    derivedSessionsFromEvents(Tables.load(spark, dir, "events"))

  def derivedSessionsFromEvents(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val gaps = events
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        col("event_id"))
      .withColumn("gap_us", col("tsu") - lag(col("tsu"), 1).over(w))
    val gapRows = gaps.where(col("gap_us").isNotNull)
      .withColumn("scope", lit("all"))
    // one long of metadata: the exact p99 gap. A corpus with no
    // multi-event user has no gaps, hence NO derivable timeout: emit
    // NULL (matching the oracle's empty-scalar-subquery NULL), never a
    // Long.MaxValue sentinel — every event is its own session either
    // way (first events split on gap IS NULL; non-null gaps cannot
    // exist when the timeout is NULL).
    val timeoutOpt: Option[Long] = graft.pipeline.Curation
      .groupedQuantiles(gapRows, "scope", col("gap_us"),
        Seq("p99_us" -> 0.99))
      .select(col("p99_us")).collect().headOption
      .map(_.getLong(0))
    val timeout = timeoutOpt.map(lit).getOrElse(lit(null).cast("long"))
    gaps
      .withColumn("is_start",
        when(col("gap_us").isNull || col("gap_us") > timeout, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum(col("is_start")).over(w))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(count(lit(1)).as("sess_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("longest_session_events"))
      .withColumn("derived_timeout_us", timeout)
  }

  val DerivedSessionsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
      |g AS (SELECT user_id, tsu, event_id,
      |        tsu - lag(tsu) OVER (PARTITION BY user_id
      |                             ORDER BY tsu, event_id) AS gap
      |      FROM e),
      |h AS (SELECT gap AS v, count(*) AS cnt FROM g
      |      WHERE gap IS NOT NULL GROUP BY 1),
      |c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cc,
      |             sum(cnt) OVER () AS n
      |      FROM h),
      |t AS (SELECT min(CASE WHEN cc >= cast(ceil(0.99 * n) AS BIGINT)
      |                      THEN v END) AS timeout
      |      FROM c),
      |s AS (SELECT user_id, tsu, event_id,
      |        CASE WHEN gap IS NULL OR gap > t.timeout THEN 1 ELSE 0 END
      |          AS is_start
      |      FROM g, t),
      |sn AS (SELECT user_id,
      |         sum(is_start) OVER (PARTITION BY user_id
      |                             ORDER BY tsu, event_id) AS sess_no
      |       FROM s),
      |se AS (SELECT user_id, sess_no, count(*)::BIGINT AS sess_events
      |       FROM sn GROUP BY 1, 2)
      |SELECT user_id, count(*)::BIGINT AS n_sessions,
      |  sum(sess_events)::BIGINT AS n_events,
      |  max(sess_events)::BIGINT AS longest_session_events,
      |  (SELECT timeout FROM t)::BIGINT AS derived_timeout_us
      |FROM se GROUP BY 1""".stripMargin

  val InterArrivalGapsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
      |g AS (SELECT lead(tsu) OVER (PARTITION BY user_id
      |                             ORDER BY tsu, event_id) - tsu AS gap
      |      FROM e),
      |gg AS (SELECT gap FROM g WHERE gap IS NOT NULL),
      |h AS (SELECT gap AS v, count(*) AS cnt FROM gg GROUP BY 1),
      |c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cc,
      |             sum(cnt) OVER () AS n
      |      FROM h)
      |SELECT 'all' AS scope, (SELECT count(*) FROM gg)::BIGINT AS n_gaps,
      |  min(CASE WHEN cc >= cast(ceil(0.5 * n) AS BIGINT) THEN v END) AS p50_us,
      |  min(CASE WHEN cc >= cast(ceil(0.9 * n) AS BIGINT) THEN v END) AS p90_us,
      |  min(CASE WHEN cc >= cast(ceil(0.99 * n) AS BIGINT) THEN v END) AS p99_us
      |FROM c
      |HAVING count(*) > 0""".stripMargin

  val VolumeTrendSql: String =
    """WITH hourly AS (
      |  SELECT event_type, (epoch_us(ts) // 3600000000) AS h,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, count(*)::HUGEINT AS n,
      |        sum(h::HUGEINT) AS sx, sum(c::HUGEINT) AS sy,
      |        sum((h * c)::HUGEINT) AS sxy, sum((h * h)::HUGEINT) AS sxx
      |      FROM hourly GROUP BY 1),
      |sl AS (SELECT event_type, n, sx, sy,
      |         (n * sxy - sx * sy)::DOUBLE
      |           / (n * sxx - sx * sx)::DOUBLE AS slope
      |       FROM m)
      |SELECT event_type, n::BIGINT AS n_hours, slope,
      |  (sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE AS intercept
      |FROM sl""".stripMargin

  val UserStateHistorySql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id AS i,
      |                  event_type AS y
      |           FROM events),
      |c AS (SELECT user_id, tsu, i, y,
      |             lag(y) OVER (PARTITION BY user_id ORDER BY tsu, i) AS prev
      |      FROM e),
      |ch AS (SELECT user_id, tsu, i, y FROM c
      |       WHERE prev IS NULL OR y <> prev)
      |SELECT user_id, y AS state, tsu AS valid_from,
      |  lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, i) AS valid_to,
      |  (lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, i) IS NULL)
      |    AS is_current
      |FROM ch""".stripMargin

  /**
   * KEY-SKEW profile of one join/aggregation key — the diagnosis half
   * of the engine's own skew toolbox (q65 salting, AQE skew-join):
   * per-key counts reduce to `(n_rows, n_keys, max_cnt, top10_cnt)`,
   * from which the row derives the shares a planner acts on and a
   * concrete SALT RECOMMENDATION: `salt_buckets = ceil(max_cnt /
   * (n_rows / P))` — the number of sub-splits that brings the hottest
   * key's largest shard down to the average partition load at
   * parallelism `P`. 1 means "no salting needed".
   *
   * All-integer derivations except the two share divisions (pinned
   * single IEEE steps); the integer ceil is `(a*P + n - 1) div n`, no
   * floats. Scale shape: ONE partial-aggregated shuffle to the per-key
   * count table, PERSISTED and read by exactly two bounded-metadata
   * jobs — the top-10 TakeOrdered (per-partition heaps — the
   * boundary-tie choice cannot change the SUM, so the output is
   * deterministic) and the 1-row global stats agg — then released; the
   * result assembles from those longs driver-side (the q146
   * 1-row-collect convention — a literal-key join constant-folds into
   * a BNL, which the plan sweep rightly rejects). EAGER: both jobs run
   * at call time, per the q146 builder convention. A keyless input
   * yields ZERO rows, not a null-stats row.
   */
  def keySkewProfile(
      df: DataFrame, keyCol: String, label: String,
      parallelism: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cnts = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base =
      try {
        // one long of bounded metadata: the summed top-10 key counts
        val top10Cnt: Option[Long] = cnts.orderBy(col("cnt").desc).limit(10)
          .agg(sum(col("cnt")).as("top10_cnt"))
          .collect().headOption.flatMap(r => Option(r.get(0)))
          .map(_.asInstanceOf[Long])
        // 1 row of driver metadata: the global stats over the same
        // persisted counts (no second scan of the input)
        cnts.agg(
            count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
            max(col("cnt")).as("max_cnt"))
          .collect().headOption
          .filter(r => !r.isNullAt(1))
          .map(r => (label, r.getLong(1), r.getLong(0), r.getLong(2), top10Cnt))
          .toSeq
          .toDF("key_label", "n_rows", "n_keys", "max_cnt", "top10_cnt")
      } finally cnts.unpersist()
    base.select(col("key_label"),
      col("n_rows"), col("n_keys"), col("max_cnt"), col("top10_cnt"),
      (col("max_cnt").cast("double") / col("n_rows").cast("double"))
        .as("max_share"),
      (col("top10_cnt").cast("double") / col("n_rows").cast("double"))
        .as("top10_share"),
      expr(s"(max_cnt * $parallelism + n_rows - 1) div n_rows")
        .cast("long").as("salt_buckets"))
  }

  /** q: the skew report over the warehouse's three hot join/agg keys. */
  def keySkewReport(spark: SparkSession, dir: String): DataFrame =
    keySkewProfile(Tables.load(spark, dir, "events"),
        "user_id", "events.user_id")
      .unionByName(keySkewProfile(Tables.load(spark, dir, "lineitem"),
        "l_partkey", "lineitem.l_partkey"))
      .unionByName(keySkewProfile(Tables.load(spark, dir, "orders"),
        "o_custkey", "orders.o_custkey"))

  private def skewBlockSql(
      table: String, key: String, label: String): String =
    s"""SELECT '$label' AS key_label, s.n_rows, s.n_keys, s.max_cnt, t.top10_cnt,
       |  s.max_cnt::DOUBLE / s.n_rows::DOUBLE AS max_share,
       |  t.top10_cnt::DOUBLE / s.n_rows::DOUBLE AS top10_share,
       |  ((s.max_cnt * 32 + s.n_rows - 1) // s.n_rows)::BIGINT AS salt_buckets
       |FROM (SELECT count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS n_rows,
       |             max(cnt)::BIGINT AS max_cnt
       |      FROM (SELECT $key, count(*) AS cnt FROM $table
       |            WHERE $key IS NOT NULL GROUP BY 1)) s,
       |     (SELECT sum(cnt)::BIGINT AS top10_cnt
       |      FROM (SELECT count(*) AS cnt FROM $table
       |            WHERE $key IS NOT NULL GROUP BY $key
       |            ORDER BY count(*) DESC LIMIT 10)) t
       |WHERE s.n_rows IS NOT NULL""".stripMargin

  val KeySkewReportSql: String =
    Seq(skewBlockSql("events", "user_id", "events.user_id"),
      skewBlockSql("lineitem", "l_partkey", "lineitem.l_partkey"),
      skewBlockSql("orders", "o_custkey", "orders.o_custkey"))
      .mkString("\nUNION ALL\n")
}
