package graft.fpm

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The shared FUP fold: every family fold over a stored artifact runs
  * one artifact collect plus one correction pass, and lands on the
  * hand-computed counts. */
class FupSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("fup-spec")
    .getOrCreate()

  /** Distinct SQL executions among the Spark jobs `body` starts in this
    * thread's job group — AQE splits one action into several jobs, but
    * they share one `spark.sql.execution.id`. */
  private def sqlExecutionsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "fup-one-pass"
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          ids.add(Option(e.properties.getProperty("spark.sql.execution.id"))
            .getOrElse(s"job ${e.jobId}"))
    }
    // LiveListenerBus is private[spark] to Scala but public in bytecode
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      body
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    ids.size
  }

  /** The fold's result, collected inside the measured block: a local
    * frame, so reading it adds no execution. */
  private def onePass[T](read: DataFrame => Array[T])(fold: => DataFrame): Array[T] = {
    var out: Array[T] = null
    val executions = sqlExecutionsOf { out = read(fold) }
    // at least one: a listener that saw nothing proves nothing
    assert(executions >= 1 && executions <= 2,
      s"$executions SQL executions: expected the artifact collect plus one correction pass")
    out
  }

  test("each of the five folds over a parquet artifact runs at most two SQL executions") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-fup-one-pass")
    try {
      val itemsets = base.resolve("itemsets").toString
      Seq(("a", 3L), ("b", 2L), ("a,b", 2L)).toDF("itemset", "freq")
        .coalesce(1).write.parquet(itemsets)
      val sequences = base.resolve("sequences").toString
      Seq(("v", 1, 3L), ("c", 1, 2L), ("v->c", 2, 2L))
        .toDF("pattern", "plen", "support").coalesce(1).write.parquet(sequences)
      // the parquet reads (and their schema jobs) stay outside the count
      val storedI = spark.read.parquet(itemsets)
      val storedS = spark.read.parquet(sequences)
      val added = Seq(Seq("a", "b"), Seq("b")).toDF("items")
      val removed = Seq(Seq("a")).toDF("items")
      def readI(df: DataFrame) = df.as[(String, Long)].collect()
      def readS(df: DataFrame) = df.as[(String, Int, Long)].collect()

      assert(onePass(readI)(ItemsetRefresh.fold(storedI, added, "items", 100L, 2L)).toMap ==
        Map("a" -> 4L, "b" -> 4L, "a,b" -> 3L))
      assert(onePass(readI)(
        ItemsetRefresh.foldSigned(storedI, added, removed, "items", 100L, 2L)).toMap ==
        Map("a" -> 3L, "b" -> 4L, "a,b" -> 3L))

      // user 7 is new ("v","c"); user 1 extends its old "c" to "c","v","c"
      val delta = Seq((7L, 1L, 70L, "v"), (7L, 2L, 71L, "c")).toDF("u", "t", "i", "y")
      val oldTouched = Seq((1L, 1L, 10L, "c")).toDF("u", "t", "i", "y")
      val newTouched = oldTouched.union(
        Seq((1L, 2L, 11L, "v"), (1L, 3L, 12L, "c")).toDF("u", "t", "i", "y"))
      def bySeq(rows: Array[(String, Int, Long)]) =
        rows.map { case (p, l, s) => p -> (l, s) }.toMap
      assert(bySeq(onePass(readS)(SequentialPatterns.fold(
          storedS, delta, "u", "t", "i", "y", 100L, 1L))) ==
        Map("v" -> (1, 4L), "c" -> (1, 3L), "v->c" -> (2, 3L)))
      assert(bySeq(onePass(readS)(SequentialPatterns.foldTouched(
          storedS, oldTouched, newTouched, "u", "t", "i", "y", 100L, 1L))) ==
        Map("v" -> (1, 4L), "c" -> (1, 2L), "v->c" -> (2, 3L)))
      assert(bySeq(onePass(readS)(SequentialPatterns.eraseFold(
          storedS, delta, "u", "t", "i", "y"))) ==
        Map("v" -> (1, 2L), "c" -> (1, 1L), "v->c" -> (2, 1L)))
    } finally graft.Fs.deleteRecursively(base)
  }
}
