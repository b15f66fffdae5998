package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe (not a test): decomposes q193_itemset_cdc_refresh's warm
  * path — the row anti-scales 32v8 (1.82 s vs 0.84 s isolated bench,
  * same signature in the r16 driver's scaling block). Times each
  * component job at the core count given by SPARK_GRAFT_CPUS.
  * `SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.Q193Probe"` */
object Q193Probe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName("q193-probe")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }

    (1 to 3).foreach { pass =>
      println(s"--- pass $pass (local[$cpus]) ---")
      val b = Tables.orderBrandBaskets(spark, d)
      val old = b.where(col("l_orderkey") % 211 =!= 0)
      val added = b.where(col("l_orderkey") % 211 === 0)
      val removed = old.where(col("l_orderkey") % 199 === 0)
      var counts: (Long, Long, Long) = null
      time("splitBasketCounts") { counts = FpmQueries.splitBasketCounts(b) }
      val (nOld, nAdded, nRemoved) = counts
      val minCountNew = math.max(1L,
        math.ceil(FpmQueries.MinSupport * (nOld - nRemoved + nAdded)).toLong)
      val probe = math.max(1L, minCountNew - nAdded)
      var mined: DataFrame = null
      time("minedItemsets (memo)") {
        mined = FpmQueries.minedItemsets(spark, d, "old211", old, probe)
      }
      val staged = graft.Fs.stagedFor("q193probe", d)
      val artPath = staged.resolve("itemsets").toString
      time("artifact write") {
        mined.write.mode("overwrite").parquet(artPath)
      }
      var stored: DataFrame = null
      time("artifact read+plan") { stored = spark.read.parquet(artPath) }
      time("refreshCdc (fold+collects)") {
        graft.fpm.ItemsetRefresh.refreshCdc(
          stored, added, removed, "items", minCountNew, nAdded)
          .write.format("noop").mode("overwrite").save()
      }
      // --- refreshCdc internals, inlined
      var art: Seq[(String, Long)] = null
      time("  artifact collect") {
        art = stored.select(col("itemset"), col("freq"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      }
      val candidateItems = art.collect { case (i, _) if !i.contains(",") => i }
      def signed(df: DataFrame, s: Int): DataFrame =
        df.select(col("items").as("__items")).withColumn("__sign", lit(s.toLong))
      val tagged = signed(added, 1).unionByName(signed(removed, -1))
      time("  tagged union count") { tagged.count(); () }
      val f = tagged.select(
        filter(col("__items"), x => x.isInCollection(candidateItems)).as("fi"),
        col("__sign"))
      val singles = f.select(explode(col("fi")).as("itemset"), col("__sign"))
      val pairBase = f.select(explode(col("fi")).as("i1"), col("fi"), col("__sign"))
        .select(col("i1"),
          explode(filter(col("fi"), x => x > col("i1"))).as("i2"),
          col("fi"), col("__sign"))
      val pairs = pairBase.select(
        concat_ws(",", col("i1"), col("i2")).as("itemset"), col("__sign"))
      val triples = pairBase
        .select(col("i1"), col("i2"),
          explode(filter(col("fi"), x => x > col("i2"))).as("i3"), col("__sign"))
        .select(concat_ws(",", col("i1"), col("i2"), col("i3")).as("itemset"),
          col("__sign"))
      val enum0 = singles.unionByName(pairs).unionByName(triples)
        .groupBy(col("itemset")).agg(sum(col("__sign")).as("freq_delta"))
      time("  3-branch enum collect") { enum0.collect(); () }
      time("  3-branch enum collect 2") { enum0.collect(); () }
      // --- the shipped one-chain signed plan, same inputs
      val enum1 = graft.fpm.ItemsetRefresh
        .signedCounts(Seq(added -> 1, removed -> -1), "items", candidateItems)
      time("  one-chain enum collect") { enum1.collect(); () }
      time("  one-chain enum collect 2") { enum1.collect(); () }
      if (pass == 1) {
        val eq = enum0.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
          enum1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        println(s"[probe] old enum == new enum: $eq")
        sys.env.get("Q193_PLAN_OUT").foreach { p =>
          def dump(df: DataFrame, suffix: String): Unit =
            java.nio.file.Files.write(
              java.nio.file.Paths.get(p + suffix),
              df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
                .getBytes("UTF-8"))
          dump(enum0, "_before.txt")
          dump(enum1, "_after.txt")
        }
      }
      time("q193 full") {
        FpmQueries.itemsetCdcRefresh(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
