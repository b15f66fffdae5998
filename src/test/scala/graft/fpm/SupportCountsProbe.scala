package graft.fpm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe (not a test): times containment-count variants on the sf0.1
  * artifact-shaped workload — the round-17 adjudication of the round-16
  * specialization (VERDICT r16 item 1). Run with
  * `sbt "Test/runMain graft.fpm.SupportCountsProbe"`. */
object SupportCountsProbe {

  /** Candidate variant: greedy match end, generic over a pattern
    * COLUMN, as a fold over the PATTERN (<= maxLen steps, each an
    * early-exiting native array_position over the suffix) instead of
    * over the sequence — constant-size expression tree regardless of
    * pattern count or length. */
  def matchEndPat(seq: Column, pat: Column): Column = {
    val st = aggregate(pat, lit(0L), (prev, item) => {
      val rel = array_position(
        slice(seq, (greatest(prev, lit(0L)) + 1L).cast("int"), size(seq)),
        item)
      when(prev >= 0 && rel > 0, prev + rel).otherwise(lit(-1L))
    })
    when(st > 0, st).otherwise(lit(0L))
  }

  def supportCountsTransform(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      typeCol: String, patterns: Seq[Seq[String]]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val seqs = events.where(col(typeCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("t"),
        col(idCol).as("i"), col(typeCol).as("y")))).as("s"))
      .select(expr("transform(s, x -> x.y)").as("seq"))
    val patLit = array(patterns.map(p => array(p.map(lit): _*)): _*)
    val matched = filter(
      transform(patLit, (p, i) =>
        when(matchEndPat(col("seq"), p) > 0, i).otherwise(lit(-1))),
      x => x >= 0)
    val counts = seqs.select(explode(matched).as("j"))
      .groupBy(col("j")).agg(count(lit(1)).as("support"))
    val names = patterns.zipWithIndex.map { case (p, i) =>
      (i, p.mkString("->"))
    }.toDF("j", "pattern")
    counts.join(broadcast(names), Seq("j"))
      .select(col("pattern"), col("support"))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName("supportcounts-probe")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        col("event_id"), col("event_type"))
      .where(col("event_type").isNotNull)

    // artifact-shaped candidate list: the full q121 mine at the probe
    // threshold (the lifecycle rows' stored pattern set, ~155 entries)
    val pats = SequentialPatterns.frequentSequences(
        ev, "user_id", "tsu", "event_id", "event_type", 3L, 5L, 3)
      .select("pattern").collect()
      .map(_.getString(0).split("->").toSeq).toSeq
    println(s"[probe] ${pats.length} candidate patterns")

    def time(tag: String)(f: => DataFrame): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = f.collect().map(r => r.getLong(1)).sum
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $tag%-12s pass$i $dt%7.3f s  (sum=$n)")
      }
    }

    time("signed") {
      SequentialPatterns.signedSupport(
        Seq(ev -> 1), "user_id", "tsu", "event_id", "event_type", pats)
    }
    time("transform") {
      supportCountsTransform(
        ev, "user_id", "tsu", "event_id", "event_type", pats)
    }
    spark.stop()
  }
}
