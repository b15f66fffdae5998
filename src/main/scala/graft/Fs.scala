package graft

import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.attribute.BasicFileAttributes

/** Local-filesystem helpers for the queries that stage per-invocation
  * fixture/artifact directories (q64, q78, q81, the IVF index). */
object Fs {

  // Per-corpus artifact/sink dirs (the q84/q90 lazy-artifact pattern)
  // must outlive their invocation, so each is truncated at the START of
  // the next one — this registry lets Caches.clearAll sweep the residue
  // of a finished corpus in one place instead of leaking it until the
  // next run over the same corpus.
  private val stagedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Truncate and register a per-corpus staging dir: deletes whatever a
    * previous invocation left (exact re-runs), then records the path so
    * [[sweepStaged]] can reclaim it once the corpus is done. */
  def staged(dir: Path): Path = {
    deleteRecursively(dir)
    stagedDirs.add(dir)
    dir
  }

  /** [[staged]] under the one naming rule for a query's per-corpus
    * staging dir: `/tmp/graft-<tag>-<corpus dir>`, with every character
    * of the corpus dir outside `[A-Za-z0-9.]` mapped to `_`. */
  def stagedFor(tag: String, corpusDir: String): Path =
    staged(java.nio.file.Paths.get(
      "/tmp", s"graft-$tag-" + corpusDir.replaceAll("[^A-Za-z0-9.]", "_")))

  /** Delete every dir registered via [[staged]] since the last sweep —
    * called from [[Caches.clearAll]]; always safe (the next invocation
    * re-stages from scratch). */
  def sweepStaged(): Unit = {
    stagedDirs.forEach(deleteRecursively(_))
    stagedDirs.clear()
  }

  /** How many `_applied_<id>` markers a swap carries forward. Only the
    * MAXIMUM marker is load-bearing (see [[appliedMarkerSwap]]); the
    * rest are diagnostic breadcrumbs for inspecting recent commits. */
  val MarkerRetention = 16

  /** Marker/counter names must carry a purely numeric suffix — a stray
    * file that merely shares the underscore prefix (partial-write
    * residue, a foreign temp file) must degrade to "ignored", not crash
    * the stream with NumberFormatException mid-commit. */
  private def numericSuffix(name: String, prefix: String): Option[Long] = {
    val s = name.stripPrefix(prefix)
    if (name.startsWith(prefix) && s.nonEmpty && s.forall(_.isDigit))
      Some(s.toLong)
    else None
  }

  /** Largest applied batch id recorded in `artDir`, or -1 when none. */
  private def maxAppliedId(artDir: Path): Long =
    if (!Files.exists(artDir)) -1L
    else {
      val stream = Files.list(artDir)
      try stream
        .map[Option[Long]](p =>
          numericSuffix(p.getFileName.toString, "_applied_"))
        .filter(_.isDefined)
        .mapToLong(_.get)
        .max.orElse(-1L)
      finally stream.close()
    }

  /** Read the durable stream counter `_<name>_<value>` from `dir`
    * (0 when absent). The FUP cumulative-delta guards persist their
    * count THIS way — inside the artifact dir, committed atomically
    * with the fold by the same swap rename — because a driver-side
    * counter misses two realities of the at-least-once contract: it
    * resets on restart, and it never sees batches the replay guard
    * skips (whose contribution the artifact already carries). Reading
    * the artifact's own counter is correct in both cases. The max is
    * taken defensively; a clean swap leaves exactly one counter file
    * (writers don't carry old ones forward). */
  def readCounter(dir: Path, name: String): Long =
    if (!Files.exists(dir)) 0L
    else {
      val stream = Files.list(dir)
      try stream
        .map[Option[Long]](p =>
          numericSuffix(p.getFileName.toString, s"_${name}_"))
        .filter(_.isDefined)
        .mapToLong(_.get)
        .max.orElse(0L)
      finally stream.close()
    }

  /** Write the durable stream counter `_<name>_<value>` into a sibling
    * dir about to be swapped in (see [[readCounter]]). Underscore-
    * prefixed, so parquet readers ignore it like `_SUCCESS`. */
  def writeCounter(dir: Path, name: String, value: Long): Unit =
    Files.createFile(dir.resolve(s"_${name}_$value"))

  /** Read the durable keyed record `_<name>` (one `key value` pair of
    * decimal longs per line) from `dir`; empty when absent. The
    * erase-once guard persists the already-erased key universe THIS
    * way — inside the artifact dir, committed atomically with each
    * fold by the same swap rename — so "each key is erased once across
    * batches" is a CHECKED invariant (a key redelivered in a LATER
    * batch is skipped) instead of a routing obligation the queue is
    * merely trusted to meet. The value is the batch id that last
    * carried the key, which is what lets the record stay BOUNDED: keys
    * older than the queue's declared redelivery horizon are compacted
    * away ([[graft.fpm.SequentialPatterns.compactEraseRecord]]), so
    * the record's size tracks the keys erased within the horizon, not
    * the stream's lifetime. A malformed line fails loudly (we wrote
    * this file ourselves — unlike the stray-FILE tolerance of
    * [[readCounter]], silently dropping a key here would let a
    * redelivered erasure double-subtract). In a 10^9-keys-per-horizon
    * regime store a Bloom filter per horizon window under the same
    * commit discipline as a prefilter — a Bloom negative ("definitely
    * never erased") admits the subtraction directly, and the rare
    * positive confirms against an exact key-pruned store before
    * skipping, because skipping a NOT-actually-erased key is the
    * unsafe direction (the deletion would silently not happen). */
  def readKeyMap(dir: Path, name: String): Map[Long, Long] = {
    val f = dir.resolve(s"_$name")
    if (!Files.exists(f)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.iterator
        .filter(_.nonEmpty).map { line =>
          line.split(" ") match {
            case Array(k, v) => k.toLong -> v.toLong
            case _ => sys.error(
              s"malformed keyed-record line in ${f}: '$line'")
          }
        }.toMap
    }
  }

  /** Write the durable keyed record `_<name>` into a sibling about to
    * be swapped in (see [[readKeyMap]]; key-sorted for a stable
    * on-disk form). */
  def writeKeyMap(dir: Path, name: String, keys: Map[Long, Long]): Unit = {
    import scala.jdk.CollectionConverters._
    Files.write(dir.resolve(s"_$name"),
      keys.toSeq.sortBy(_._1).map { case (k, v) => s"$k $v" }.asJava)
  }

  /** Delete the `e<k>` subdirs of `dir` for every k below `epoch` —
    * the lazy sweep of epoch-scoped side dirs (ingest record, promoted
    * corpus base) absorbed by a committed re-base: the auto-re-snapshot
    * rows key those dirs by the durable `_epoch_` counter that commits
    * with each swap, so once the swap publishes epoch k+1 every
    * `e<j<=k>` dir is unreferenced garbage and deleting it at ANY later
    * point is pure cleanup — crash-safe by construction (a reader
    * always consults the committed counter first). Non-`e<digits>`
    * entries are left alone. */
  def sweepBelowEpoch(dir: Path, epoch: Long): Unit =
    numbered(dir, "e").collect { case (k, p) if k < epoch => p }
      .foreach(deleteRecursively)

  /** The `<prefix><digits>` entries of `dir` with their numbers (none
    * when `dir` is absent); other entries are left out. */
  def numbered(dir: Path, prefix: String): Seq[(Long, Path)] =
    if (!Files.exists(dir)) Nil
    else {
      val stream = Files.list(dir)
      try {
        val b = Seq.newBuilder[(Long, Path)]
        stream.forEach(p =>
          numericSuffix(p.getFileName.toString, prefix).foreach(k => b += ((k, p))))
        b.result()
      } finally stream.close()
    }

  /** Repair crash residue before a swap decision. Case analysis over
    * every kill point of [[appliedMarkerSwap]] (write → markers →
    * retire(artDir→retired) → publish(sibling→artDir) → sweep):
    *  - killed during write: partial sibling, artDir intact — the
    *    caller re-runs the batch; the stale sibling is deleted before
    *    the rewrite (in [[appliedMarkerSwap]], not here);
    *  - killed between retire and publish: artDir MISSING but a
    *    COMPLETE sibling (its own `_applied_` marker present — the
    *    marker is written only after `write` returns) exists — ROLL
    *    FORWARD by publishing it now;
    *  - killed between publish and sweep: retired dir residue beside
    *    a live artDir — swept here.
    * Both moves are same-filesystem renames, so no intermediate state
    * beyond these exists. */
  private def repairSwapResidue(base: Path, artDir: Path): Unit = {
    val prefix = s"${artDir.getFileName}-next-"
    if (!Files.exists(artDir)) {
      val stream = Files.list(base)
      val complete = try {
        val b = Seq.newBuilder[Path]
        stream.filter(p => p.getFileName.toString.startsWith(prefix))
          .filter(p => maxAppliedId(p) >= 0)
          .forEach(p => b += p)
        b.result()
      } finally stream.close()
      if (complete.nonEmpty)
        Files.move(complete.maxBy(maxAppliedId), artDir, ATOMIC_MOVE)
    }
    if (Files.exists(artDir)) { // retired residue is now safe to sweep
      val stream = Files.list(base)
      val retired = try {
        val b = Seq.newBuilder[Path]
        stream.filter(p => p.getFileName.toString
            .startsWith(s"${artDir.getFileName}-retired-"))
          .forEach(p => b += p)
        b.result()
      } finally stream.close()
      retired.foreach(deleteRecursively)
    }
  }

  /**
   * Applied-marker read-merge-swap commit for ADDITIVE foreachBatch
   * artifact folds (q154/q188/q190/q194/q196/q197/q199/q200/q203 —
   * every stream whose merge is NOT replay-idempotent: additive,
   * signed, or subtractive folds alike): unlike the max-merge sketch
   * streams (HLL/KMV, replay-idempotent by algebra), re-folding a
   * redelivered batch double-counts, so each batch id commits exactly
   * once. A batch id AT OR BELOW the largest applied marker is a
   * replay and `write` is skipped (returns false) — Structured
   * Streaming batch ids are strictly increasing per query, so
   * monotonicity makes the maximum marker alone a complete replay
   * record. That is also what keeps the marker set BOUNDED: each swap
   * carries only the newest [[MarkerRetention]] markers into the
   * sibling (compaction; without it a long-lived stream accumulates
   * one marker per batch forever and every swap re-copies all of
   * them — O(batches²) file ops over the stream's life). Otherwise
   * `write(sibling)` materializes the folded artifact into a sibling
   * dir, retained markers are carried over (underscore-prefixed,
   * invisible to parquet readers), this batch's marker is added, and
   * sibling atomically renames over `artDir` — marker and fold commit
   * in ONE rename.
   *
   * DURABILITY SCOPE: the crash-anywhere case analysis (in
   * [[repairSwapResidue]]) covers
   * PROCESS crashes (kill -9, OOM, driver loss) — the protocol never
   * fsyncs file contents or the parent directory, so under POWER LOSS
   * / OS crash a rename may be durable while a sibling member's
   * contents (a counter, the `_erased` key record, even parquet
   * footers) are not, and "either old artifact or complete new one"
   * does not hold. That matches the deployment model: these artifacts
   * live on object stores / replicated filesystems whose own commit
   * semantics (or a re-run from the stream checkpoint) cover machine
   * loss. A caller needing single-disk power-loss durability must
   * fsync each sibling file and the parent dir before the publish
   * rename.
   */
  def appliedMarkerSwap(base: Path, artDir: Path, id: Long)(
      write: Path => Unit): Boolean = {
    repairSwapResidue(base, artDir)
    if (id <= maxAppliedId(artDir)) false
    else {
      val sibling = base.resolve(s"${artDir.getFileName}-next-$id")
      // residue of a write attempt killed mid-flight would block the
      // rewrite (parquet refuses an existing path)
      deleteRecursively(sibling)
      write(sibling)
      if (Files.exists(artDir)) { // bootstrap batch: nothing to carry
        val stream = Files.list(artDir)
        try stream
          .filter(p =>
            numericSuffix(p.getFileName.toString, "_applied_").isDefined)
          .sorted(java.util.Comparator.comparingLong[Path](
            p => -p.getFileName.toString.stripPrefix("_applied_").toLong))
          .limit(MarkerRetention - 1L)
          .forEach(p => Files.copy(p, sibling.resolve(p.getFileName.toString)))
        finally stream.close()
      }
      Files.createFile(sibling.resolve(s"_applied_$id"))
      // the replacement is COMPLETE (sibling) before anything is
      // destroyed: retire the old state first, then one atomic rename
      // publishes fold+markers together. A crash between the two moves
      // leaves the complete sibling beside the retired dir — never a
      // deleted-only window — and repairSwapResidue rolls it forward
      // at the next call. ATOMIC_MOVE is REQUESTED, not assumed: on a
      // filesystem where rename would fall back to copy+delete the
      // move fails loudly (AtomicMoveNotSupportedException) instead of
      // silently reopening the non-atomic window the protocol exists
      // to close.
      val retired = base.resolve(s"${artDir.getFileName}-retired-$id")
      if (Files.exists(artDir)) Files.move(artDir, retired, ATOMIC_MOVE)
      Files.move(sibling, artDir, ATOMIC_MOVE)
      deleteRecursively(retired)
      true
    }
  }

  /** Best-effort recursive delete via walkFileTree — no directory-stream
    * handle to leak (`Files.walk` returns a Stream that must be closed),
    * and deletion order is inherently children-first. Missing entries
    * (concurrent sweeps) are ignored. */
  def deleteRecursively(dir: Path): Unit = {
    if (!Files.exists(dir)) return
    Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, attrs: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      // a file listed by the walk but gone by the visit (concurrent
      // sweep) must not abort the cleanup — the default rethrows
      override def visitFileFailed(f: Path, exc: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, exc: java.io.IOException): FileVisitResult = {
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
  }
}
