package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.fpm.{FPGrowth, FPGrowthModel}

/** What one job hands back: its wall seconds, input rows processed,
  * every failed output check, its heap readings (see [[Checks.heap]])
  * and counts. */
final case class JobOut(seconds: Double, rows: Long, problems: Seq[String],
    heapPeakMb: Double, retainedMb: Option[Double], counts: Map[String, Double])

/** Inputs written by a set-up: a digest of their content and their shape. */
final case class Inputs(digest: String, shape: Map[String, Double])

trait Workload {
  def name: String
  /** Writes the inputs for `seed` under `dir`. Timed as `setup_s`. */
  def setup(spark: SparkSession, seed: Long, dir: Path): Unit
  /** Content digest and shape of the inputs written for `seed` under
    * `dir` (untimed). */
  def inspect(spark: SparkSession, seed: Long, dir: Path): Inputs
  /** Computes the reference answers for the inputs under `dir` (untimed). */
  def reference(spark: SparkSession, seed: Long, dir: Path): Unit
  /** One closed-loop job over the inputs under `dir`; with `readHeap`
    * its retained heap is read after the timed part, model still live. */
  def job(spark: SparkSession, dir: Path, t: Tracer, readHeap: Boolean): JobOut
}

object Workload {
  def apply(name: String): Workload = name match {
    case "quest_mine" => new QuestMine
    case "artifact_stream" => new StreamRefresh
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Shared pieces: the reference answer, the output checks, the
  * prediction fingerprint and the heap readings. */
object Checks {
  type Itemsets = Set[(String, Long)]
  type Rules = Set[(String, String, Double, Double)]

  def itemsets(df: DataFrame): Itemsets =
    df.select(array_join(array_sort(col("items")), " "), col("freq")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  def rules(rows: Array[Row]): Rules =
    rows.map(r => (r.getAs[Seq[String]]("antecedent").sorted.mkString(" "),
      r.getAs[Seq[String]]("consequent").head,
      r.getAs[Double]("confidence"), r.getAs[Double]("lift"))).toSet

  /** The reference answer: Eclat's itemsets over `txns` (item ids named
    * by `name`) and the rules derived from them. */
  def reference(txns: Array[Array[Int]], nItems: Int, name: Int => String,
      minSupport: Double, minConfidence: Double): (Itemsets, Rules) = {
    val minCount = math.ceil(minSupport * txns.length).toInt
    val itemsets = Eclat.mine(txns, nItems, minCount)
      .map { case (ids, c) => (ids.map(name).sorted.mkString(" "), c.toLong) }.toSet
    (itemsets, rulesOf(itemsets, txns.length, minConfidence))
  }

  /** Single-consequent rules from itemsets, with MLlib's formulas:
    * confidence = freq(X u y) / freq(X), lift = confidence / (freq(y) / n). */
  def rulesOf(itemsets: Itemsets, n: Long, minConfidence: Double): Rules = {
    val freq = itemsets.toMap
    itemsets.iterator.flatMap { case (key, fu) =>
      val items = key.split(' ')
      if (items.length < 2) Iterator.empty
      else items.iterator.flatMap { c =>
        val conf = fu.toDouble / freq(items.filter(_ != c).mkString(" "))
        if (conf >= minConfidence) Some((items.filter(_ != c).mkString(" "), c, conf, conf / (freq(c).toDouble / n)))
        else None
      }
    }.toSet
  }

  def diff[T](what: String, got: Set[T], want: Set[T]): Seq[String] =
    if (got == want) Nil
    else Seq(s"$what: ${got.size} rows vs ${want.size} expected; " +
      s"${(got -- want).size} unexpected, ${(want -- got).size} missing, e.g. " +
      ((got -- want).take(2) ++ (want -- got).take(2)).mkString("; "))

  /** `transform` to the noop sink, observing an order-free fingerprint
    * of (items, prediction), the row count and the rows with a
    * non-empty prediction in the same pass. */
  def predict(model: FPGrowthModel, data: DataFrame): (String, Long, Long) = {
    val obs = Observation("prediction")
    model.transform(data)
      .observe(obs,
        sum(xxhash64(array_join(col("items"), " "), col("prediction")).bitwiseAND(0xFFFFFFFFL)).as("fp"),
        count(lit(1)).as("rows"),
        count(when(col("prediction") =!= "", lit(1))).as("hits"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("fp").toString, m("rows").asInstanceOf[Long], m("hits").asInstanceOf[Long])
  }

  def sha256(bytes: Array[Byte]*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bytes.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  /** The job's heap in MiB, read at its end with its model still live:
    * the most heap any collection during it left in use, and with
    * `readHeap`, full collections now, which count in that peak and
    * give the old generation they leave (the retained heap). */
  def heap(readHeap: Boolean): (Double, Option[Double]) = {
    val peak = HeapWatch.peakMb
    if (!readHeap) (peak, None)
    else {
      // the second collection also frees what the context cleaner
      // released after the first one (the job's dropped broadcasts)
      System.gc()
      Thread.sleep(50)
      System.gc()
      val mb = 1048576.0
      val inUse = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
      val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured")).map(_.getUsage.getUsed).sum / mb
      (math.max(peak, inUse), Some(old))
    }
  }
}

/** Heap (heap pools only) in use after each garbage collection, from the
  * JVM's GC notifications; `reset` starts a new window. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import com.sun.management.GarbageCollectionNotificationInfo
  private var peak = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            var used = 0L
            info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
              if (heapPools(pool)) used += u.getUsed
            }
            synchronized { peak = math.max(peak, used) }
          }, null, null)
      case _ =>
    }
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = synchronized { peak / 1048576.0 }
}

/**
 * Quest T10I4-shaped baskets mined end to end through the text connector:
 * `graft-transactions` scan -> `FPGrowth.fit` -> `associationRules` ->
 * `transform` of a held-out batch. Mining dominates.
 */
final class QuestMine extends Workload {
  val name = "quest_mine"
  val nTrain = 60000
  val nHeld = 2000
  val minSupport = 0.002
  val minConfidence = 0.95
  val files = 4

  private var refItemsets: Checks.Itemsets = Set.empty
  private var refRules: Checks.Rules = Set.empty
  private var firstFingerprint: String = null

  private def write(dir: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(dir)
    // split at line ends into `files` parts so the scan has one task per core
    var from = 0
    for (i <- 0 until files) {
      var to = if (i == files - 1) bytes.length else math.max(from, bytes.length * (i + 1) / files)
      while (to < bytes.length && to > 0 && bytes(to - 1) != '\n') to += 1
      Files.write(dir.resolve(f"part-$i%05d.txt"), java.util.Arrays.copyOfRange(bytes, from, to))
      from = to
    }
  }

  def setup(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val gen = new QuestGen(seed)
    val (train, items, distinct) = QuestGen.text(gen, nTrain)
    val (held, _, _) = QuestGen.text(gen, nHeld)
    write(dir.resolve("train"), train)
    write(dir.resolve("held"), held)
    Files.write(dir.resolve("shape"), s"$items $distinct".getBytes)
  }

  private def bytesOf(dir: Path): Array[Byte] = {
    val s = Files.list(dir)
    try s.sorted().toArray.map(p => Files.readAllBytes(p.asInstanceOf[Path])).flatten
    finally s.close()
  }

  def inspect(spark: SparkSession, seed: Long, dir: Path): Inputs = {
    val Array(items, distinct) = new String(Files.readAllBytes(dir.resolve("shape"))).split(" ").map(_.toDouble)
    Inputs(Checks.sha256(bytesOf(dir.resolve("train")), bytesOf(dir.resolve("held"))),
      Map("transactions" -> nTrain.toDouble, "mean_length" -> items / nTrain, "distinct_items" -> distinct))
  }

  def reference(spark: SparkSession, seed: Long, dir: Path): Unit = {
    // plain line parsing, not the connector: the reference shares no
    // code with the path under test
    val lines = new String(bytesOf(dir.resolve("train")), java.nio.charset.StandardCharsets.UTF_8).split('\n')
    val (i, r) = Checks.reference(lines.map(_.split(' ').map(_.stripPrefix("i").toInt)), QuestGen.NItems,
      QuestGen.itemName, minSupport, minConfidence)
    refItemsets = i; refRules = r
  }

  def job(spark: SparkSession, dir: Path, t: Tracer, readHeap: Boolean): JobOut = {
    val read = spark.read.format("graft-transactions")
    val ((model, rules, (fp, rows, hits)), secs) = t.timedJob {
      val train = t.span("sources.load") { read.load(dir.resolve("train").toString) }
      val model = t.span("fpgrowth.fit") {
        new FPGrowth().setItemsCol("items").setMinSupport(minSupport)
          .setMinConfidence(minConfidence).setNumPartitions(4).fit(train)
      }
      val rules = t.span("rules.rules") { model.associationRules.collect() }
      val held = t.span("sources.load") { read.load(dir.resolve("held").toString) }
      (model, rules, t.span("predictor.predict") { Checks.predict(model, held) })
    }
    val (peak, retained) = Checks.heap(readHeap)
    val got = Checks.itemsets(model.freqItemsets)
    model.freqItemsets.unpersist()
    if (firstFingerprint == null) firstFingerprint = fp
    val problems =
      Checks.diff("itemsets", got, refItemsets) ++
      Checks.diff("rules", Checks.rules(rules), refRules) ++
      (if (fp != firstFingerprint) Seq(s"prediction fingerprint $fp != first job's $firstFingerprint") else Nil) ++
      (if (rows != nHeld) Seq(s"predicted $rows rows, expected $nHeld") else Nil)
    JobOut(secs, nTrain + nHeld, problems, peak, retained, Map(
      "fpgrowth.itemsets" -> got.size.toDouble, "rules.count" -> rules.length.toDouble,
      "frequent_items" -> model.itemSupport.size.toDouble,
      "predictor.rows" -> rows.toDouble, "predictor.hit_frac" -> hits.toDouble / math.max(1L, rows)))
  }
}

/** Writes the order/part tables of a [[BrandGen]] as parquet under `dir`. */
object BrandTables {
  def write(spark: SparkSession, gen: BrandGen, dir: Path): Unit = {
    import spark.implicits._
    spark.range(gen.nOrders).as[Long]
      .flatMap(o => gen.linesOf(o).map(p => (o, p)))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
    spark.range(gen.nParts).as[Long]
      .map(p => (p, gen.brandOf(p)))
      .toDF("p_partkey", "p_brand")
      .coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("part.parquet").toString)
  }

  /** The order -> brand baskets straight from the generator, without
    * the relational build under test; brand `Brand#k` is item k - 1. */
  def baskets(gen: BrandGen): Array[Array[Int]] =
    (0 until gen.nOrders).iterator.map(o => gen.basketOf(o).map(_.stripPrefix("Brand#").toInt - 1))
      .filter(_.nonEmpty).toArray

  def brandName(item: Int): String = "Brand#" + (item + 1)

  /** SHA-256 over the data files' bytes, in file-name order (part index
    * first), and the lineitem row count from the generator. */
  def inspect(gen: BrandGen, dir: Path): Inputs = {
    val files = Seq("lineitem.parquet", "part.parquet").flatMap { t =>
      val s = Files.list(dir.resolve(t))
      try s.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      finally s.close()
    }
    val lines = (0L until gen.nOrders).map(gen.linesOf(_).length.toLong).sum
    Inputs(Checks.sha256(files.map(Files.readAllBytes): _*), Map("lineitems" -> lines.toDouble))
  }
}

/**
 * The itemset-artifact lifecycle on small order -> brand baskets, composed
 * from the engine's public lifecycle pieces the way its streamed-refresh
 * rows are, with every path inside the run's work dir: mine the old
 * snapshot at the FUP probe threshold and write it as the artifact
 * (`Fs.staged`), stage the delta as micro-batch files, fold them in
 * through `streaming.ArtifactStream` (`ItemsetRefresh.fold`, marker-
 * guarded swap per batch), then read the artifact back at the union
 * threshold. Many small jobs, commits and swaps over tiny inputs:
 * driver and orchestration time dominate.
 */
final class StreamRefresh extends Workload {
  val name = "artifact_stream"
  val nOrders = 10000
  val nParts = 2000
  val minSupport = 0.01
  val batches = 2

  private var lineitems = 0L
  private var refItemsets: Checks.Itemsets = Set.empty
  private var firstFingerprint: String = null

  def setup(spark: SparkSession, seed: Long, dir: Path): Unit =
    BrandTables.write(spark, BrandGen(seed, nOrders, nParts), dir)

  def inspect(spark: SparkSession, seed: Long, dir: Path): Inputs = {
    val in = BrandTables.inspect(BrandGen(seed, nOrders, nParts), dir)
    lineitems = in.shape("lineitems").toLong
    in
  }

  def reference(spark: SparkSession, seed: Long, dir: Path): Unit = {
    // the refreshed artifact must equal a from-scratch mine of the union
    refItemsets = Checks.reference(BrandTables.baskets(BrandGen(seed, nOrders, nParts)), BrandGen.Brands,
      BrandTables.brandName, minSupport, 1.0)._1
  }

  def job(spark: SparkSession, dir: Path, t: Tracer, readHeap: Boolean): JobOut = {
    import graft.Fs
    Tables.clearCaches()
    val (rows, secs) = t.timedJob {
      val b = t.span("tables.baskets") {
        val b = Tables.orderBrandBaskets(spark, dir.toString)
        b.count()
        b
      }
      val isAdded = col("l_orderkey") % 211 === 0
      val split = b.agg(count(when(!isAdded, lit(1))), count(when(isAdded, lit(1)))).head()
      val (nOld, nAdded) = (split.getLong(0), split.getLong(1))
      val minCountUni = math.max(1L, math.ceil(minSupport * (nOld + nAdded)).toLong)
      val probe = math.max(1L, minCountUni - nAdded)
      val base = Fs.staged(dir.resolveSibling("lifecycle"))
      val artDir = base.resolve("itemsets")
      val in = base.resolve("in").toString
      t.span("lifecycle.snapshot") {
        val m = t.span("fpgrowth.fit") {
          new FPGrowth().setMinCount(probe).setNumPartitions(4).fit(b.where(!isAdded))
        }
        m.freqItemsets.select(array_join(array_sort(col("items")), ",").as("itemset"), col("freq"))
          .write.parquet(artDir.toString)
        m.freqItemsets.unpersist()
      }
      t.span("lifecycle.stage_delta") {
        for (k <- 0 until batches)
          b.where(isAdded && (col("l_orderkey") / 211).cast("long") % batches === k)
            .coalesce(1).write.mode("append").parquet(in)
      }
      t.span("lifecycle.stream_fold") {
        graft.streaming.ArtifactStream.foldAvailableNow(spark, base, artDir, in) { (batch, sibling) =>
          val cum = Fs.readCounter(artDir, "cum") + batch.count()
          graft.fpm.ItemsetRefresh.fold(spark.read.parquet(artDir.toString), batch, "items", minCountUni, cum)
            .coalesce(1).write.parquet(sibling.toString)
          Fs.writeCounter(sibling, "cum", cum)
        }
      }
      t.span("lifecycle.read") {
        spark.read.parquet(artDir.toString).where(col("freq") >= minCountUni).collect()
      }
    }
    val (peak, retained) = Checks.heap(readHeap)
    Tables.clearCaches()
    val got = rows.map(r => (r.getString(0).split(',').sorted.mkString(" "), r.getLong(1))).toSet
    val fp = Checks.sha256(got.toSeq.sorted.mkString("\n").getBytes)
    if (firstFingerprint == null) firstFingerprint = fp
    val problems = Checks.diff("refreshed itemsets", got, refItemsets) ++
      (if (fp != firstFingerprint) Seq(s"artifact fingerprint $fp != first job's $firstFingerprint") else Nil)
    JobOut(secs, lineitems, problems, peak, retained, Map("fpgrowth.itemsets" -> got.size.toDouble))
  }
}
