package graft.fpm

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{explode, spark_partition_id}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end FP-Growth differential tests: the textbook fixture, MLlib
 * (`org.apache.spark.ml.fpm.FPGrowth`) as an independent oracle, and the
 * PFP/EPFP invariants (partitioning must not change results).
 */
class FPGrowthSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("fpgrowth-spec")
    .getOrCreate()

  private def trainDF = {
    import spark.implicits._
    Seq(
      Seq("I1", "I2", "I5"),
      Seq("I2", "I4"),
      Seq("I2", "I3"),
      Seq("I1", "I3"),
      Seq("I4", "I2", "I5", "I1")).toDF("items")
  }

  private def itemsetsOf(m: FPGrowthModel): Map[Set[String], Long] = {
    import spark.implicits._
    m.freqItemsets.as[(Seq[String], Long)].collect()
      .map { case (i, f) => i.toSet -> f }.toMap
  }

  test("textbook fixture at minSupport=0.4") {
    val model = new FPGrowth().setMinSupport(0.4).setNumPartitions(3).fit(trainDF)
    val expected = Map(
      Set("I2") -> 4L, Set("I1") -> 3L, Set("I3") -> 2L, Set("I4") -> 2L,
      Set("I5") -> 2L, Set("I1", "I2") -> 2L, Set("I1", "I5") -> 2L,
      Set("I2", "I5") -> 2L, Set("I2", "I4") -> 2L, Set("I1", "I2", "I5") -> 2L)
    assert(itemsetsOf(model) == expected)
  }

  test("matches MLlib FPGrowth on random baskets, balanced and hashed") {
    import spark.implicits._
    val rng = new scala.util.Random(123)
    val items = (0 until 12).map(i => s"it$i")
    val txns = Seq.fill(300)(
      rng.shuffle(items).take(1 + rng.nextInt(6)))
    val df = txns.toDF("items")
    val mllib = new org.apache.spark.ml.fpm.FPGrowth()
      .setMinSupport(0.05).setItemsCol("items").fit(df)
    val expected = mllib.freqItemsets
      .as[(Seq[String], Long)].collect().map { case (i, f) => i.toSet -> f }.toMap
    // 4 and 32 are counts where a hash of the group id collides groups
    try {
      for (aqe <- Seq(true, false); balanced <- Seq(true, false);
           parts <- Seq(1, 3, 4, 7, 32)) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val got = itemsetsOf(new FPGrowth()
          .setMinSupport(0.05).setBalanced(balanced).setNumPartitions(parts).fit(df))
        assert(got == expected, s"aqe=$aqe balanced=$balanced parts=$parts")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // the caller persisted the fit's own input plan: the fit reads that
    // cache and leaves it in place
    val callerCached = df.select($"items").where($"items".isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assert(itemsetsOf(new FPGrowth().setMinSupport(0.05).fit(df)) == expected)
      assert(callerCached.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally callerCached.unpersist()
  }

  test("balanced groups: every non-empty group is mined in its own task") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val items = (0 until 60).map(i => f"g$i%02d")
    val df = Seq.fill(600)(rng.shuffle(items).take(2 + rng.nextInt(8))).toDF("items")
    for (parts <- Seq(4, 32)) {
      val model = new FPGrowth().setMinSupport(0.01).setNumPartitions(parts).fit(df)
      val rows = model.freqItemsets
        .select($"items", $"freq", spark_partition_id().as("task"))
        .as[(Seq[String], Long, Int)].collect()
      // rank order = (freq desc, item asc) over the frequent singletons;
      // an itemset belongs to the group of its last-ranked item
      val rankOf = rows.filter(_._1.size == 1).map(r => (r._1.head, r._2))
        .sortBy { case (it, f) => (-f, it) }.map(_._1).zipWithIndex.toMap
      val groupOf = ItemGroups.balanced(parts, rankOf.size)
      val tasksOfGroup = rows.groupBy(r => groupOf(r._1.map(rankOf).max))
        .map { case (g, rs) => g -> rs.map(_._3).distinct.toSeq }
      assert(tasksOfGroup.size == parts, s"parts=$parts: ${tasksOfGroup.size} groups mined")
      assert(tasksOfGroup.values.forall(_.length == 1), s"parts=$parts: a group split")
      assert(tasksOfGroup.values.map(_.head).toSet.size == parts,
        s"parts=$parts: groups share a task: $tasksOfGroup")
    }
  }

  test("association rules match MLlib (confidence + support) and compute lift") {
    import spark.implicits._
    val model = new FPGrowth().setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val got = model.associationRules
      .select($"antecedent", $"consequent", $"confidence", $"support")
      .as[(Seq[String], Seq[String], Double, Double)].collect()
      .map { case (a, c, conf, sup) => (a.toSet, c.toSet) -> (conf, sup) }.toMap

    val mllib = new org.apache.spark.ml.fpm.FPGrowth()
      .setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val expected = mllib.associationRules
      .select($"antecedent", $"consequent", $"confidence", $"support")
      .as[(Seq[String], Seq[String], Double, Double)].collect()
      .map { case (a, c, conf, sup) => (a.toSet, c.toSet) -> (conf, sup) }.toMap
    assert(got == expected)

    // lift = confidence / support(consequent); spot-check {I1,I5} => I2ish pairs
    val lifts = model.associationRules
      .select($"antecedent", $"consequent", $"lift")
      .as[(Seq[String], Seq[String], Double)].collect()
    lifts.foreach { case (_, cons, lift) =>
      val sup = model.itemSupport(cons.head)
      assert(lift > 0 && math.abs(lift % 1.0) >= 0.0) // finite
      assert(sup > 0)
    }
  }

  test("transform predicts lift-ordered consequents, null-safe") {
    import spark.implicits._
    val model = new FPGrowth().setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val probe = Seq(
      Some(Seq("I1")), Some(Seq("I2")), Some(Seq("I3")),
      Some(Seq("I4")), Some(Seq("I5", "I2", "I3")), None
    ).toDF("items")
    val out = model.transform(probe).as[(Option[Seq[String]], Option[String])].collect()
    out.foreach {
      case (None, pred) => assert(pred.isEmpty) // null in -> null out
      case (Some(items), Some(pred)) =>
        val predicted = pred.split(", ").filter(_.nonEmpty)
        assert(predicted.distinct.length == predicted.length)
        predicted.foreach(p => assert(!items.contains(p)))
      case other => fail(s"unexpected $other")
    }
    // transform(SparkSession): predicts over distinct antecedents
    assert(model.transform(spark).count() > 0)
  }

  test("save/load round-trips itemsets, rules, and predictions") {
    import spark.implicits._
    val model = new FPGrowth().setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val dir = java.nio.file.Files.createTempDirectory("fpm-model").toString
    model.save(dir)
    val loaded = FPGrowthModel.load(spark, dir)
    assert(itemsetsOf(loaded) == itemsetsOf(model))
    assert(loaded.numTransactions == model.numTransactions)
    assert(loaded.itemSupport == model.itemSupport)
    val origRules = model.associationRules
      .select($"antecedent", $"consequent", $"confidence")
      .as[(Seq[String], Seq[String], Double)].collect()
      .map { case (a, c, conf) => (a.toSet, c.toSet, conf) }.toSet
    val loadedRules = loaded.associationRules
      .select($"antecedent", $"consequent", $"confidence")
      .as[(Seq[String], Seq[String], Double)].collect()
      .map { case (a, c, conf) => (a.toSet, c.toSet, conf) }.toSet
    assert(loadedRules == origRules)
    val probe = Seq(Seq("I1"), Seq("I5", "I2", "I3")).toDF("items")
    assert(loaded.transform(probe).collect().map(_.toString).toSeq ==
      model.transform(probe).collect().map(_.toString).toSeq)
  }

  test("item ranks follow Spark's string order: orderBy(freq desc, item asc)") {
    import spark.implicits._
    // equal-support items on both sides of the UTF-16 / UTF-8 order
    // boundary: String.compareTo puts the surrogate pairs first
    val straddle = Seq("\uE000", "\uFFFD", "\uD800\uDC00", "\uD83D\uDE00")
    assert(straddle.sorted != straddle)
    val df = (Seq.fill(3)(straddle :+ "a") ++ Seq.fill(2)(Seq("a")) :+ straddle).toDF("items")
    val expected = df.select(explode($"items").as("item")).groupBy($"item").count()
      .orderBy($"count".desc, $"item".asc).as[(String, Long)].collect().map(_._1).toSeq
    assert(expected == "a" +: straddle)
    // an itemset lists its items in ascending rank
    val model = new FPGrowth().setMinSupport(0.5).fit(df)
    val widest = model.freqItemsets.as[(Seq[String], Long)].collect().map(_._1).maxBy(_.length)
    assert(widest == expected)
  }

  test("rules are derived once per model: a rule read or a transform runs at most one job") {
    import spark.implicits._
    val model = new FPGrowth().setMinSupport(0.4).setMinConfidence(0.6).fit(trainDF)
    val probe = Seq(Seq("I1"), Seq("I5", "I2", "I3")).toDF("items")
    val sc = spark.sparkContext
    val group = "rules-derived-once"
    // jobs of this thread's group only: other suites may share the context
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    // LiveListenerBus is private[spark] to Scala but public in bytecode
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    def jobsOf(body: => Unit): Int = {
      jobs.set(0)
      body
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      jobs.get
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val rules = model.associationRules
      assert(jobsOf(rules.collect()) <= 1)
      assert(jobsOf(model.transform(probe).write.format("noop").mode("overwrite").save()) <= 1)
      assert(jobsOf(model.associationRules.collect()) == 0)
      assert(!rules.queryExecution.executedPlan.toString.contains("Broadcast"),
        rules.queryExecution.executedPlan)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a fit runs at most five jobs, and its one mining stage reads the shuffle") {
    val sc = spark.sparkContext
    val group = "fit-job-shape"
    // jobs of this thread's group only: other suites may share the context
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fitStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          e.stageIds.foreach(fitStages.add(_))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.put(i.stageId, (i.name, i.taskMetrics.shuffleReadMetrics.recordsRead))
      }
    }
    // LiveListenerBus is private[spark] to Scala but public in bytecode
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      new FPGrowth().setMinSupport(0.4).fit(trainDF)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get <= 5, s"${jobs.get} fit jobs")
    val mining = fitStages.toArray.map(_.asInstanceOf[Int]).flatMap(id => Option(stages.get(id)))
      .filter(_._1.startsWith("count at FPGrowth"))
    assert(mining.length == 1, mining.toSeq)
    assert(mining.head._2 > 0, "the mining stage reads no shuffle")
  }

  test("duplicate items in a transaction are rejected") {
    import spark.implicits._
    // Other suites' memoized tables share this session's cache, so count
    // its entries instead of clearing it. numCachedEntries is private[sql]
    // to Scala but public in bytecode.
    val cache = spark.sharedState.cacheManager
    def cachedEntries: Int =
      cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val cachedBefore = cachedEntries
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val bad = Seq(Seq("a", "a", "b")).toDF("items")
    val ex = intercept[Exception] {
      new FPGrowth().setMinSupport(0.1).fit(bad).freqItemsets.count()
    }
    assert(ex.getMessage != null)
    // the failed fit releases what it cached: its input and the itemsets
    assert(bad.select($"items").where($"items".isNotNull).storageLevel == StorageLevel.NONE)
    assert(cachedEntries == cachedBefore)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore)
  }
}
