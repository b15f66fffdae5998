package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.Fs

/**
 * Shared scaffold for the marker-guarded artifact streams (q154 /
 * q188 / q190 / q194 / q196 / q197 / q199 / q200 / q203): a
 * file-source AvailableNow stream over `in`, one file per micro-batch,
 * every batch committed through [[graft.Fs.appliedMarkerSwap]] so a
 * fold whose merge is not replay-idempotent (additive, signed, or
 * subtractive) applies exactly once per batch id. The per-family fold
 * writes the complete replacement artifact into the sibling dir it is
 * handed; the swap publishes fold + markers in one atomic rename.
 *
 * Extracted after the sixth hand-copied variant of this scaffold:
 * the guards live in ONE place now, so a fix to the commit protocol
 * reaches every stream (the cumulative-guard durability fix that
 * motivated the extraction had to touch four call sites). The FUP
 * lifecycle on top of it lives here too, for the same reason:
 * [[counterFold]] is the durable-counter fold of every FUP stream and
 * [[epochStep]] the one headroom-watch/re-base step of every
 * auto-re-snapshot row, each family plugging in only its
 * [[Family]] functions.
 *
 * Cumulative FUP guards: [[counterFold]] persists the count with
 * [[graft.Fs.writeCounter]] inside the sibling and re-reads it with
 * [[graft.Fs.readCounter]] from the artifact — never a driver-side
 * variable, which resets on restart and misses replay-skipped
 * batches.
 *
 * PRECONDITION: `in` must already exist and hold at least one parquet
 * file when this is called — the schema is probed eagerly (a file
 * stream needs a declared schema before the first trigger), so a
 * not-yet-populated input dir is a caller bug, surfaced here as a
 * clear require instead of a bare AnalysisException from inside the
 * schema probe. Callers that stage their own input (every declared
 * row) write the files first; a production caller pointing at a live
 * landing dir must create it (with a seed file or an explicit schema
 * handshake) before wiring the stream.
 */
object ArtifactStream {

  def foldAvailableNow(
      spark: SparkSession, base: Path, artDir: Path, in: String)(
      fold: (DataFrame, Path) => Unit): Unit =
    foldAvailableNowWithId(spark, base, artDir, in) {
      (batch, _, sibling) => fold(batch, sibling)
    }

  /** [[foldAvailableNow]] with the micro-batch id exposed to the fold —
    * for folds that keep per-batch durable side state keyed by id (the
    * [[epochStep]] ingest record: an id-keyed write is idempotent under
    * redelivery-after-crash, where the same id re-runs the closure). */
  def foldAvailableNowWithId(
      spark: SparkSession, base: Path, artDir: Path, in: String)(
      fold: (DataFrame, Long, Path) => Unit): Unit = {
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(in)),
      s"ArtifactStream input dir must pre-exist with at least one " +
        s"parquet file (the schema is probed eagerly): $in")
    val schema = spark.read.parquet(in).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Fs.appliedMarkerSwap(base, artDir, id) { sibling =>
          fold(batch, id, sibling)
        }
        ()
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The durable-counter fold: `cum` is the `_cum_` count committed in
    * `artDir` plus this batch's `delta` (the family's delta size);
    * `fold(artifact, cum)` is written into `sibling` as one file and
    * `cum` commits beside it, so the caller's swap publishes both. */
  def counterFold(
      spark: SparkSession, artDir: Path, sibling: Path, delta: Long)(
      fold: (DataFrame, Long) => DataFrame): Unit =
    foldOrRebase(spark, artDir, sibling, delta)(_ => None)(fold)

  /** [[counterFold]], unless `rebase(cum)` yields a re-mined artifact:
    * that is written instead and `_cum_` restarts at zero (the
    * snapshot holds every batch so far, this one included). Returns
    * whether it re-based. */
  private def foldOrRebase(
      spark: SparkSession, artDir: Path, sibling: Path, delta: Long)(
      rebase: Long => Option[DataFrame])(
      fold: (DataFrame, Long) => DataFrame): Boolean = {
    val cum = Fs.readCounter(artDir, "cum") + delta
    val snapshot = rebase(cum)
    snapshot.getOrElse(fold(spark.read.parquet(artDir.toString), cum))
      .coalesce(1).write.parquet(sibling.toString)
    Fs.writeCounter(sibling, "cum", if (snapshot.isDefined) 0L else cum)
    snapshot.isDefined
  }

  /** One lifecycle family's plug-in for [[epochStep]]. The FUP
    * maintenance algebra needs only a support counter, so the families
    * differ in these three functions and nothing else:
    *  - `deltaSize(batch)`: the batch's charge against the headroom
    *    (rows for itemsets, distinct keys for the sequence families);
    *  - `fold(artifact, batch, epochBase, cum)`: the un-thresholded
    *    fold at cumulative charge `cum`; `epochBase()` reads the
    *    current epoch's corpus base, on demand, so a family that never
    *    calls it pays no listing for it;
    *  - `remine(corpus)`: the artifact mined from the promoted corpus
    *    at the restored probe threshold. */
  final case class Family(
      deltaSize: DataFrame => Long,
      fold: (DataFrame, DataFrame, () => DataFrame, Long) => DataFrame,
      remine: DataFrame => DataFrame)

  /** One auto-re-snapshot micro-batch (q199 / q200 / q203) — the
    * headroom-watch branch: durable epoch-scoped, id-keyed ingest
    * record under `base/ingested` (idempotent under
    * redelivery-after-crash: the same id overwrites its own dir), then
    * either the family's fold through [[counterFold]] or, once the
    * cumulative charge reaches 60% of `headroom`, the restoring
    * re-mine over the CURRENT EPOCH's corpus base ∪ its ingest record
    * (which subsumes this batch's fold and resets the cumulative
    * budget). Every piece of state — artifact, `_cum_`, `_snap_`, and
    * the `_epoch_` counter that keys the re-base — commits through the
    * caller's one atomic swap, so a crash anywhere leaves either the
    * old artifact or the complete new snapshot. The trigger is checked
    * BEFORE any fold, so a single batch that overshoots 100% of the
    * headroom re-mines too; the fold's FUP require stays the backstop
    * for callers composing folds directly.
    *
    * RE-BASE AT SNAPSHOT TIME: the trigger first PROMOTES the union
    * corpus to `base/corpus/e<epoch+1>` (re-run-safe: a crash before
    * the swap leaves residue the redelivered batch overwrites), mines
    * the promoted copy, and commits `_epoch_+1` with the swap — after
    * which the absorbed `ingested/e<epoch>` dirs and the old base are
    * unreferenced and the NEXT batch's lazy
    * [[graft.Fs.sweepBelowEpoch]] reclaims them. A year-long stream's
    * re-mine input and dir listing stay EPOCH-sized (bounded by the
    * headroom budget), not lifetime-sized — mirroring the `_applied_`
    * marker compaction. Epoch 0's base is the caller's `old` frame
    * (the warehouse's existing partitions); epoch n>=1 reads the
    * promoted parquet base. At warehouse scale the promotion is a
    * partition-manifest update (the new snapshot's corpus = base
    * partitions + absorbed ingest partitions), not a data copy — here
    * the copy IS the manifest, same asymptotics as the re-mine's own
    * corpus-sized pass it rides along with. */
  def epochStep(
      spark: SparkSession, family: Family, old: DataFrame, base: Path,
      artDir: Path, sibling: Path, batch: DataFrame, id: Long,
      headroom: Long): Unit = {
    val ingested = base.resolve("ingested")
    val corpus = base.resolve("corpus")
    val epoch = Fs.readCounter(artDir, "epoch")
    // lazy sweep of epochs a committed re-base absorbed — pure cleanup
    Seq(ingested, corpus).foreach(Fs.sweepBelowEpoch(_, epoch))
    batch.coalesce(1).write.mode("overwrite")
      .parquet(ingested.resolve(s"e$epoch").resolve(s"b$id").toString)
    def epochBase(): DataFrame =
      if (epoch == 0L) old
      else spark.read.parquet(corpus.resolve(s"e$epoch").toString)
    val rebased = foldOrRebase(
        spark, artDir, sibling, family.deltaSize(batch)) { cum =>
      if (5L * cum < 3L * headroom) None
      else {
        val promoted = corpus.resolve(s"e${epoch + 1L}")
        Fs.deleteRecursively(promoted) // pre-swap crash residue
        // the epoch's ingest record: the b<id> dirs this step wrote, read
        // as explicit paths (a glob path makes Spark probe it as a
        // literal sink-metadata dir and log a FileNotFoundException)
        val batches = Fs.numbered(ingested.resolve(s"e$epoch"), "b").map(_._2.toString)
        epochBase().unionByName(spark.read.parquet(batches: _*))
          .write.parquet(promoted.toString)
        Some(family.remine(spark.read.parquet(promoted.toString)))
      }
    } { (artifact, cum) => family.fold(artifact, batch, epochBase, cum) }
    val bump = if (rebased) 1L else 0L
    Fs.writeCounter(sibling, "snap", Fs.readCounter(artDir, "snap") + bump)
    Fs.writeCounter(sibling, "epoch", epoch + bump)
  }
}
