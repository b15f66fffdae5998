package perfbench

/** Per-layer metric names, units, and their derivation from a trace. */
object Report {

  val PerLayer: Seq[String] = Seq(
    "sources.scan_task_s",
    "tables.baskets_s",
    "fpgrowth.fit_s", "fpgrowth.l1_s",
    "fpgrowth.condtx_shuffle_bytes", "fpgrowth.condtx_records",
    "fpgrowth.mine_s", "fpgrowth.mine_task_s_max", "fpgrowth.mine_task_s_mean", "fpgrowth.mine_balance",
    "fpgrowth.mine_tasks", "fpgrowth.mine_stages",
    "fpgrowth.itemsets",
    "rules.rules_s", "rules.count",
    "predictor.predict_s", "predictor.rows", "predictor.hit_frac",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "stream.batches", "stream.add_batch_s", "stream.wal_commit_s", "stream.commit_offsets_s",
    "stream.query_planning_s",
    "lifecycle.snapshot_s", "lifecycle.stage_delta_s", "lifecycle.stream_fold_s", "lifecycle.read_s",
    "trace.unattributed_s")

  val ShapeKeys = Set("frequent_items", "fpgrowth.itemsets", "rules.count")

  def unitOf(k: String): String =
    if (k.endsWith("_s") || k.contains("_s_")) "s"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac") || k.endsWith("balance")) "ratio"
    else "count"

  /** A number as JSON: finite, all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Union length (ms) of the intervals, each clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /**
   * The fit's phases, from the order of its Spark jobs and their stages'
   * shuffle metrics. `FPGrowth.fit` runs: the input pass (`input.count()`,
   * which scans and caches the input), the L1 count, the conditional-
   * transaction map stage (writes one record per (group, prefix)), then
   * the mining stage (`freqItemsets.count()`: reads that shuffle and
   * builds and mines one FP-tree per group), then bookkeeping.
   */
  def layers(t: Tracer, job: Int): Map[String, Double] = {
    val sp = t.spans.filter(_.job == job).toSeq
    val root = sp.find(_.name == "job").get
    val byName = sp.groupBy(_.name)
    def dur(n: String) = byName.getOrElse(n, Nil).map(_.dur).sum
    val ids = sp.map(_.id).toSet
    val js = t.jobs.values.filter(j => ids(j.span)).toSeq.sortBy(_.id)
    val stageIds = js.flatMap(_.stages).toSet
    val ts = t.tasks.filter(x => stageIds(x.stage)).toSeq
    val tasksOf = ts.groupBy(_.stage)
    def done(j: JobRec) = j.stages.filter(t.stages.contains)
    def reads(s: Int) = tasksOf.getOrElse(s, Nil).exists(_.shuffleReadRecords > 0)
    def writes(s: Int) = tasksOf.getOrElse(s, Nil).exists(_.shuffleWriteRecords > 0)
    def wall(js: Seq[JobRec]) = if (js.isEmpty) 0.0 else (js.map(_.end).max - js.map(_.start).min) / 1000.0

    val fitIds = byName.getOrElse("fpgrowth.fit", Nil).map(_.id).toSet
    val fitJobs = js.filter(j => fitIds(j.span))
    val mineIdx = fitJobs.indexWhere(j => done(j).exists(s =>
      t.stages(s).name.startsWith("count at FPGrowth") && reads(s)))
    val mineStages = if (mineIdx < 0) Nil else done(fitJobs(mineIdx)).filter(reads)
    val condIdx = if (mineIdx < 0) -1 else fitJobs.lastIndexWhere(j => done(j).exists(writes), mineIdx - 1)
    val condTasks = if (condIdx < 0) Nil else done(fitJobs(condIdx)).filter(writes).flatMap(tasksOf(_))
    val inputJob = fitJobs.headOption.toSeq
    val l1Jobs = if (condIdx < 0) Nil else fitJobs.slice(1, condIdx)
    val mineTasks = mineStages.flatMap(tasksOf(_)).map(_.runMs / 1000.0)
    val mineMean = if (mineTasks.isEmpty) 0.0 else mineTasks.sum / mineTasks.size
    val mineWall = mineStages.map(s => (t.stages(s).completed - t.stages(s).submitted) / 1000.0).sum

    val streamRows = t.batches.filter(_._1 == job).toSeq
    def phase(k: String) = streamRows.map(_._3.getOrElse(k, 0L)).sum / 1000.0

    Map(
      "sources.scan_task_s" -> inputJob.flatMap(done).flatMap(tasksOf.getOrElse(_, Nil)).map(_.runMs).sum / 1000.0,
      "tables.baskets_s" -> dur("tables.baskets"),
      "fpgrowth.fit_s" -> dur("fpgrowth.fit"),
      "fpgrowth.l1_s" -> wall(l1Jobs),
      "fpgrowth.condtx_shuffle_bytes" -> condTasks.map(_.shuffleWriteBytes).sum.toDouble,
      "fpgrowth.condtx_records" -> condTasks.map(_.shuffleWriteRecords).sum.toDouble,
      "fpgrowth.mine_s" -> mineWall,
      "fpgrowth.mine_task_s_max" -> (if (mineTasks.isEmpty) 0.0 else mineTasks.max),
      "fpgrowth.mine_task_s_mean" -> mineMean,
      "fpgrowth.mine_balance" -> (if (mineMean > 0) mineTasks.max / mineMean else 0.0),
      "fpgrowth.mine_tasks" -> mineTasks.size.toDouble,
      "fpgrowth.mine_stages" -> mineStages.size.toDouble,
      "rules.rules_s" -> dur("rules.rules"),
      "predictor.predict_s" -> dur("predictor.predict"),
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(done(_).size).sum.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.driver_gap_s" -> (root.dur - covered(js.map(j => (j.start.toDouble, j.end.toDouble)),
        root.start, root.end) / 1000.0),
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1000.0,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "stream.batches" -> streamRows.size.toDouble,
      "stream.add_batch_s" -> phase("addBatch"),
      "stream.wal_commit_s" -> phase("walCommit"),
      "stream.commit_offsets_s" -> phase("commitOffsets"),
      "stream.query_planning_s" -> phase("queryPlanning"),
      "trace.unattributed_s" -> (root.dur - sp.filter(_.parent == root.id).map(_.dur).sum)
    ) ++ sp.filter(_.name.startsWith("lifecycle.")).groupBy(_.name).map { case (n, ss) => (n + "_s") -> ss.map(_.dur).sum }
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def traceJson(t: Tracer, workload: String, seed: Long, calibStart: Double, calibEnd: Double,
      overhead: Double, self: Seq[(String, Double)]): String = {
    val jobOfSpan = t.spans.map(s => s.id -> s.job).toMap
    val spans = t.spans.map { s =>
      val sparkJobs = t.jobs.values.filter(_.span == s.id).map(_.id)
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "job": ${s.job}, "parent": ${s.parent}, """ +
        s""""start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}, "spark_jobs": [${sparkJobs.mkString(", ")}]}"""
    }
    val jobs = t.jobs.values.map { j =>
      s"""{"id": ${j.id}, "span": ${j.span}, "job": ${jobOfSpan.getOrElse(j.span, -1)}, """ +
        s""""start_ms": ${j.start}, "end_ms": ${j.end}, "stages": [${j.stages.mkString(", ")}]}"""
    }
    val tasksPerStage = t.tasks.groupBy(_.stage)
    val stages = t.stages.values.map { s =>
      val tk = tasksPerStage.getOrElse(s.id, Nil)
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "submitted_ms": ${s.submitted}, "completed_ms": ${s.completed}, """ +
        s""""tasks": ${tk.size}, "task_run_ms": [${tk.map(_.runMs).mkString(", ")}], """ +
        s""""shuffle_write_bytes": ${tk.map(_.shuffleWriteBytes).sum}, "shuffle_read_records": ${tk.map(_.shuffleReadRecords).sum}}"""
    }
    val batches = t.batches.map { case (j, id, d) =>
      s"""{"job": $j, "batch": $id, "duration_ms": {${d.toSeq.sortBy(_._1).map { case (k, v) => q(k) + ": " + v }.mkString(", ")}}}"""
    }
    s"""{"workload": ${q(workload)}, "seed": $seed, "calib_start_s": ${num(calibStart)}, "calib_end_s": ${num(calibEnd)},
       |"trace_overhead_s": ${num(overhead)},
       |"self_s": {${self.map { case (k, v) => q(k) + ": " + num(v) }.mkString(", ")}},
       |"spans": [
       |${spans.mkString(",\n")}],
       |"spark_jobs": [
       |${jobs.mkString(",\n")}],
       |"stages": [
       |${stages.mkString(",\n")}],
       |"stream_batches": [
       |${batches.mkString(",\n")}]}
       |""".stripMargin
  }
}
