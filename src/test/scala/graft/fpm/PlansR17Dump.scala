package graft.fpm

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Dev tool: writes the round-17 before/after plan evidence for the
  * sequence-lifecycle containment-count adjudication into `plans/r17/`.
  * The BEFORE shape is reconstructed from [[SequentialPatterns.matchEndLit]]
  * (still shipped — it is the mine's specialized arm) exactly as the
  * round-16 specialized containment counts built it; the AFTER shapes
  * are the shipped [[SequentialPatterns.signedSupport]] fold arm over
  * one side and over foldTouched's two signed sides.
  * Run: `sbt "Test/runMain graft.fpm.PlansR17Dump"`. */
object PlansR17Dump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName("plans-r17-dump")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = Paths.get("plans/r17")
    Files.createDirectories(out)

    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        col("event_id"), col("event_type"))
      .where(col("event_type").isNotNull)
    // the q196/q203 per-batch shape: delta-sized touched-key inputs
    val isDelta = col("user_id") % 13 === 0 && col("event_id") % 5 === 0
    val touched = ev.where(isDelta).select(col("user_id")).distinct()
    val oldTouched = ev.where(!isDelta)
      .join(touched, Seq("user_id"), "left_semi")
    val newTouched = ev.join(touched, Seq("user_id"), "left_semi")
    val pats = SequentialPatterns.frequentSequences(
        ev, "user_id", "tsu", "event_id", "event_type", 3L, 5L, 3)
      .select("pattern").collect()
      .map(_.getString(0).split("->").toSeq).toSeq
    println(s"[dump] ${pats.length} artifact-shaped candidate patterns")

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      Files.write(out.resolve(name),
        df.queryExecution.explainString(FormattedMode)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[dump] wrote plans/r17/$name")
    }

    // BEFORE (round 16): ONE aggregate of |patterns| matchEndLit
    // conditional counts — the plan the per-batch folds analyzed and
    // codegen'd twice per micro-batch
    val seqs = ev.where(isDelta)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("tsu").as("t"),
        col("event_id").as("i"), col("event_type").as("y")))).as("s"))
      .select(expr("transform(s, x -> x.y)").as("seq"))
    val aggs = pats.zipWithIndex.map { case (p, i) =>
      count(when(SequentialPatterns.matchEndLit(col("seq"), p) > 0, 1))
        .as(s"c$i")
    }
    dump("supportcounts_specialized_before.txt",
      seqs.agg(aggs.head, aggs.tail: _*))

    // AFTER: the fold arm (constant-size tree, lazy)
    dump("supportcounts_fold_after.txt",
      SequentialPatterns.signedSupport(Seq(ev.where(isDelta) -> 1),
        "user_id", "tsu", "event_id", "event_type", pats))

    // AFTER: foldTouched's old (-1) and new (+1) sides in one job
    dump("foldtouched_paircounts_after.txt",
      SequentialPatterns.signedSupport(Seq(oldTouched -> -1, newTouched -> 1),
        "user_id", "tsu", "event_id", "event_type", pats))

    spark.stop()
  }
}
