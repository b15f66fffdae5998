package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/**
 * Closed-loop benchmark runner: one client thread runs one job at a time
 * against a `local[4]` session for `--seconds`, checks every job's output
 * and prints the end-to-end metrics (`--trace 0`) or the per-layer ones
 * (`--trace 1`) as the last stdout line, one JSON object.
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 */
object Main {

  /** Sustained host probe sized for 4 cores (~0.6 s on an idle 4-core
    * host); timed before and after the run, never divided out. */
  val CalibRows = 5000000L
  val SetupRepeats = 5
  /** Warm-up after the cold first job: at least this long and this many jobs. */
  val WarmupSeconds = 12.0
  val WarmupJobs = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    graft.Fs.deleteRecursively(work)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val r = new Run(spark, workload, seed, seconds, trace, work).go()
      r.report.foreach(println)
      println(r.json)
    } finally spark.stop()
  }
}

final case class Result(report: Seq[String], json: String)

final class Run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path) {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private val started = System.nanoTime()
  /** Progress on stderr, so a slow or stuck run shows where it is. */
  private def log(msg: String): Unit =
    System.err.println(f"perfbench +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  val tracer = new Tracer(spark)
  val problems = mutable.ArrayBuffer.empty[String]

  def go(): Result = {
    // set-up: seed + 1 once (untimed; it also takes the cold-JVM cost),
    // then the run's seed several times (timed). The digests must agree
    // within a seed and differ across seeds, so a generator that drifts
    // or ignores its seed shows up.
    val other = work.resolve("input-other")
    wl.setup(spark, seed + 1, other)
    val dirs = (0 until Main.SetupRepeats).map(i => work.resolve(s"input-$i"))
    val setupTimes = dirs.map(d => timed(wl.setup(spark, seed, d))._2)
    log(s"set-up x${dirs.size}: ${setupTimes.map(t => f"$t%.3f").mkString(" ")} s")
    val otherDigest = wl.inspect(spark, seed + 1, other).digest
    val inputs = dirs.map(d => wl.inspect(spark, seed, d))
    if (inputs.map(_.digest).distinct.size != 1)
      problems += s"generator: seed $seed gave different inputs: ${inputs.map(_.digest).mkString(", ")}"
    if (otherDigest == inputs.head.digest)
      problems += s"generator: seeds $seed and ${seed + 1} gave the same inputs"
    (dirs.tail :+ other).foreach(graft.Fs.deleteRecursively)
    log("self-test done")
    wl.reference(spark, seed, dirs.head)
    log("reference done")
    // host probe, before the warm-up so that the code it loads does not
    // deoptimize the warmed job; its first pass compiles its plan, so
    // time the second one
    graft.Bench.calibrateSustainedRows(spark, Main.CalibRows)
    val calibStart = graft.Bench.calibrateSustainedRows(spark, Main.CalibRows)
    log(f"calibration $calibStart%.3f s")

    // warm-up: jobs until the JIT has settled, checked but not timed;
    // the first one's outputs are the fingerprints later jobs must match.
    // The heap is read here: each warm-up job ends with full collections,
    // so every one after the cold first starts from a clean heap, and the
    // timed jobs run back to back, carrying each other's GC debt.
    HeapWatch.install()
    var failed = 0
    var attempted = 0
    var first: Option[JobOut] = None
    val heaps = mutable.ArrayBuffer.empty[JobOut]
    var w0 = 0L
    while (attempted <= Main.WarmupJobs || (System.nanoTime() - w0) / 1e9 < Main.WarmupSeconds) {
      val o = runJob(-attempted - 1, traced = false, readHeap = true)
      if (o.isEmpty) failed += 1
      if (attempted == 0) { first = o; w0 = System.nanoTime() } else heaps ++= o
      attempted += 1
      log(s"warm-up job ${o.map(o => f"${o.seconds}%.3f s heap peak ${o.heapPeakMb}%.1f retained ${o.retainedMb.get}%.1f MB")
        .getOrElse("FAILED")}")
    }
    val jobs = mutable.ArrayBuffer.empty[(JobOut, Boolean)]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var i = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      // traced runs alternate traced and untraced jobs: the p50 gap
      // between the two halves is the tracing overhead
      val traced = trace && i % 2 == 1
      attempted += 1
      runJob(i, traced, readHeap = false) match {
        case Some(o) =>
          log(f"job $i ${o.seconds}%.3f s traced=$traced")
          jobs += ((o, traced))
          if (traced) layerRows += layers(i, o)
        case None => failed += 1
      }
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val calibEnd = graft.Bench.calibrateSustainedRows(spark, Main.CalibRows)

    val untraced = jobs.filter(!_._2).map(_._1).toSeq
    val untracedTimes = untraced.map(_.seconds)
    val tracedTimes = jobs.filter(_._2).map(_._1.seconds).toSeq
    val all = jobs.map(_._1.seconds).toSeq
    // rows over the summed job seconds: the checks between jobs are not
    // the engine's time
    val endToEnd = Seq(
      "job_s_p50" -> (median(untracedTimes), "s"),
      "job_s_p90" -> (quantile(untracedTimes, 0.9), "s"),
      "txn_per_s" -> (untraced.map(_.rows).sum / untracedTimes.sum, "1/s"),
      "heap_retained_mb" -> (median(heaps.flatMap(_.retainedMb).toSeq), "MB"),
      "setup_s" -> (median(setupTimes), "s"))
    val overhead = median(tracedTimes) - median(untracedTimes)
    val perLayer: Seq[(String, Double)] =
      if (!trace) Nil
      else Report.PerLayer.map(k => k -> median(layerRows.map(_.getOrElse(k, 0.0)).toSeq)) ++
        Seq("jvm.heap_peak_mb" -> median(heaps.map(_.heapPeakMb).toSeq), "trace.overhead_s" -> overhead)
    val shape = inputs.head.shape ++ first.map(_.counts).getOrElse(Map.empty)
      .filter { case (k, _) => Report.ShapeKeys.contains(k) }

    val traceFile = if (trace) Some(writeTrace(calibStart, calibEnd, overhead)) else None
    val report = Seq(
      f"perfbench workload=${wl.name} seed=$seed jobs=${all.size} (after warm-up jobs, untimed) " +
        f"untraced=${untracedTimes.size} traced=${tracedTimes.size} wall_s=$wall%.3f",
      "perfbench end_to_end " + endToEnd.map { case (k, (v, u)) => f"$k=$v%.4f $u" }.mkString(", ") +
        f", failed_frac=${failed.toDouble / attempted}%.4f (samples: ${untracedTimes.size} jobs)",
      "perfbench shape " + shape.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${Report.num(v)}" }.mkString(" "),
      f"perfbench host calib_start_s=$calibStart%.3f calib_end_s=$calibEnd%.3f (Bench.calibrateSustainedRows, ${Main.CalibRows} rows; not divided out)") ++
      traceFile.map(f => f"perfbench trace file=$f overhead_s=$overhead%.4f " +
        s"(p50 traced ${Report.num(median(tracedTimes))} s vs untraced ${Report.num(median(untracedTimes))} s)").toSeq ++
      (if (trace) Seq("perfbench self_s " + selfTimes().map { case (k, v) => s"$k=${Report.num(v)}" }.mkString(" ")) else Nil) ++
      problems.take(20).map("perfbench FAILED " + _)

    val metrics =
      if (trace) perLayer.map { case (k, v) => k -> (v, Report.unitOf(k)) }
      else endToEnd
    val correct = problems.isEmpty && failed == 0
    val json = "{\"correct\": " + correct + ", \"attempted\": " + attempted + ", \"failed\": " + failed +
      ", \"metrics\": {" + metrics.map { case (k, (v, u)) =>
        "\"" + k + "\": {\"value\": " + Report.num(v) + ", \"unit\": \"" + u + "\"}"
      }.mkString(", ") + "}}"
    Result(report, json)
  }

  /** One job; None when it threw or a check failed. */
  private def runJob(i: Int, traced: Boolean, readHeap: Boolean): Option[JobOut] = {
    tracer.enable(traced)
    tracer.beginJob(i)
    HeapWatch.reset()
    try {
      val out = wl.job(spark, work.resolve("input-0"), tracer, readHeap)
      if (traced) tracer.drain()
      if (out.problems.nonEmpty) {
        problems ++= out.problems.map(p => s"job $i: $p")
        None
      } else Some(out)
    } catch {
      case e: Exception =>
        problems += s"job $i: ${e.getClass.getName}: ${e.getMessage}".take(2000)
        None
    } finally tracer.enable(false)
  }

  private def layers(i: Int, out: JobOut): Map[String, Double] =
    Report.layers(tracer, i) ++ out.counts

  /** Per span name: self time summed over traced jobs / traced jobs. */
  private def selfTimes(): Seq[(String, Double)] = {
    val sp = tracer.spans.toSeq
    val jobsTraced = sp.map(_.job).distinct.size.max(1)
    val childDur = sp.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    sp.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> ss.map(s => s.dur - childDur.getOrElse(s.id, 0.0)).sum / jobsTraced
    }
  }

  private def writeTrace(calibStart: Double, calibEnd: Double, overhead: Double): Path = {
    val f = work.getParent.resolve(s"trace-${wl.name}-seed$seed.json")
    Files.write(f, Report.traceJson(tracer, wl.name, seed, calibStart, calibEnd, overhead, selfTimes())
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f
  }
}
