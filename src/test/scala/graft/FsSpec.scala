package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The applied-marker read-merge-swap commit: bootstrap, replay skip,
  * marker carry across swaps, and the complete-before-destroy ordering
  * (q154/q188/q190's additive-fold guard). */
class FsSpec extends AnyFunSuite {

  private def freshBase() = {
    val p = Files.createTempDirectory("graft-fs-spec")
    p
  }

  test("bootstrap batch creates the artifact with its own marker") {
    val base = freshBase()
    val art = base.resolve("art")
    val applied = Fs.appliedMarkerSwap(base, art, 0L) { sib =>
      Files.createDirectories(sib)
      Files.writeString(sib.resolve("data"), "v0")
    }
    assert(applied)
    assert(Files.readString(art.resolve("data")) == "v0")
    assert(Files.exists(art.resolve("_applied_0")))
    Fs.deleteRecursively(base)
  }

  test("a replayed batch id is skipped and the artifact is untouched") {
    val base = freshBase()
    val art = base.resolve("art")
    Fs.appliedMarkerSwap(base, art, 0L) { sib =>
      Files.createDirectories(sib)
      Files.writeString(sib.resolve("data"), "v0")
    }
    var ran = false
    val applied = Fs.appliedMarkerSwap(base, art, 0L) { _ => ran = true }
    assert(!applied && !ran, "redelivered batch must not re-fold")
    assert(Files.readString(art.resolve("data")) == "v0")
    Fs.deleteRecursively(base)
  }

  test("marker set stays bounded and compacted-away ids still dedupe (monotonicity)") {
    val base = freshBase()
    val art = base.resolve("art")
    val n = Fs.MarkerRetention + 8
    (0L until n.toLong).foreach { id =>
      Fs.appliedMarkerSwap(base, art, id) { sib =>
        Files.createDirectories(sib)
        Files.writeString(sib.resolve("data"), s"v$id")
      }
    }
    assert(Files.readString(art.resolve("data")) == s"v${n - 1}")
    val stream = Files.list(art)
    val markers = try {
      val b = Seq.newBuilder[Long]
      stream.filter(p => p.getFileName.toString.startsWith("_applied_"))
        .forEach(p => b += p.getFileName.toString
          .stripPrefix("_applied_").toLong)
      b.result()
    } finally stream.close()
    assert(markers.size == Fs.MarkerRetention,
      s"retention must bound the marker set: ${markers.sorted}")
    assert(markers.max == n - 1L)
    // ids older than the retained window are STILL replay-skipped:
    // batch ids are monotone, so the max marker is a complete record
    (0L until n.toLong).foreach { id =>
      assert(!Fs.appliedMarkerSwap(base, art, id) { _ => fail(s"refold $id") },
        s"compacted id $id must still dedupe")
    }
    Fs.deleteRecursively(base)
  }

  test("a write attempt killed mid-flight does not block the retry (stale sibling cleared)") {
    val base = freshBase()
    val art = base.resolve("art")
    Fs.appliedMarkerSwap(base, art, 0L) { sib =>
      Files.createDirectories(sib)
      Files.writeString(sib.resolve("data"), "v0")
    }
    // simulate batch 1 dying DURING write: partial sibling, no marker
    var first = true
    intercept[RuntimeException] {
      Fs.appliedMarkerSwap(base, art, 1L) { sib =>
        Files.createDirectories(sib)
        Files.writeString(sib.resolve("data"), "partial")
        throw new RuntimeException("killed mid-write")
      }
    }
    assert(Files.readString(art.resolve("data")) == "v0", "artifact untouched")
    // the retry must not trip over the residue (parquet writers refuse
    // an existing path — the swap clears it before re-writing)
    val applied = Fs.appliedMarkerSwap(base, art, 1L) { sib =>
      assert(!Files.exists(sib), "stale sibling must be cleared first")
      Files.createDirectories(sib)
      Files.writeString(sib.resolve("data"), "v1")
    }
    assert(applied && Files.readString(art.resolve("data")) == "v1")
    Fs.deleteRecursively(base)
  }

  test("a crash between retire and publish rolls forward at the next call") {
    val base = freshBase()
    val art = base.resolve("art")
    Fs.appliedMarkerSwap(base, art, 0L) { sib =>
      Files.createDirectories(sib)
      Files.writeString(sib.resolve("data"), "v0")
    }
    // hand-build the kill point: batch 1's sibling is COMPLETE (data +
    // carried markers + own marker) and artDir is already retired
    val sib = base.resolve("art-next-1")
    Files.createDirectories(sib)
    Files.writeString(sib.resolve("data"), "v1")
    Files.copy(art.resolve("_applied_0"), sib.resolve("_applied_0"))
    Files.createFile(sib.resolve("_applied_1"))
    Files.move(art, base.resolve("art-retired-1"))
    // next call (any id) repairs: publishes the sibling, sweeps retired,
    // and then treats batch 1 as already applied
    var ran = false
    val applied = Fs.appliedMarkerSwap(base, art, 1L) { _ => ran = true }
    assert(!applied && !ran, "rolled-forward batch must not re-fold")
    assert(Files.readString(art.resolve("data")) == "v1")
    assert(!Files.exists(base.resolve("art-retired-1")), "retired residue swept")
    assert(!Files.exists(base.resolve("art-next-1")), "sibling was published, not copied")
    Fs.deleteRecursively(base)
  }

  test("markers accumulate across swaps so EVERY prior batch stays deduplicated") {
    val base = freshBase()
    val art = base.resolve("art")
    (0L to 2L).foreach { id =>
      Fs.appliedMarkerSwap(base, art, id) { sib =>
        Files.createDirectories(sib)
        Files.writeString(sib.resolve("data"), s"v$id")
      }
    }
    assert(Files.readString(art.resolve("data")) == "v2")
    (0L to 2L).foreach { id =>
      assert(Files.exists(art.resolve(s"_applied_$id")), s"marker $id carried")
      assert(!Fs.appliedMarkerSwap(base, art, id) { _ => fail(s"refold $id") })
    }
    // no retired/sibling residue after clean commits
    val stream = Files.list(base)
    val names = try {
      val b = Seq.newBuilder[String]
      stream.forEach(p => b += p.getFileName.toString)
      b.result()
    } finally stream.close()
    assert(names == Seq("art"), names.toString)
    Fs.deleteRecursively(base)
  }

  test("junk underscore files are ignored, not NumberFormatException aborts") {
    // the r15 advisory: a stray file sharing the marker/counter prefix
    // (partial-write residue, a foreign temp file) must degrade to
    // "ignored" — before the numeric-suffix filter it crashed the
    // stream mid-commit.
    val base = freshBase()
    val art = base.resolve("art")
    Fs.appliedMarkerSwap(base, art, 3L) { sib =>
      Files.createDirectories(sib)
      Files.writeString(sib.resolve("data"), "v3")
      Fs.writeCounter(sib, "cum", 7L)
    }
    Files.createFile(art.resolve("_applied_junk.tmp"))
    Files.createFile(art.resolve("_cum_0.partial"))
    assert(Fs.readCounter(art, "cum") == 7L)
    assert(!Fs.appliedMarkerSwap(art.getParent, art, 3L) { _ => fail("refold") },
      "replay detection must survive junk marker files")
    assert(Fs.appliedMarkerSwap(base, art, 4L) { sib =>
      Files.createDirectories(sib)
      Files.writeString(sib.resolve("data"), "v4")
    }, "a new batch must still commit beside junk files")
    assert(Files.readString(art.resolve("data")) == "v4")
    Fs.deleteRecursively(base)
  }

  test("keyed record: round trip, absent default, commit-with-swap") {
    val base = freshBase()
    val art = base.resolve("art")
    assert(Fs.readKeyMap(art, "erased").isEmpty, "absent dir reads empty")
    Fs.appliedMarkerSwap(base, art, 0L) { sib =>
      Files.createDirectories(sib)
      Fs.writeKeyMap(sib, "erased", Map(42L -> 0L, 7L -> 0L))
    }
    assert(Fs.readKeyMap(art, "erased") == Map(7L -> 0L, 42L -> 0L))
    // the record is REPLACED by each swap, not carried like markers:
    // writers re-emit the full compacted map
    Fs.appliedMarkerSwap(base, art, 1L) { sib =>
      Files.createDirectories(sib)
      Fs.writeKeyMap(sib, "erased", Map(7L -> 0L, 42L -> 0L, 99L -> 1L))
    }
    assert(Fs.readKeyMap(art, "erased") ==
      Map(7L -> 0L, 42L -> 0L, 99L -> 1L))
    Fs.deleteRecursively(base)
  }

  test("sweepBelowEpoch: stale e<k> dirs go, current/future epochs and foreign entries stay") {
    val base = freshBase()
    val dir = base.resolve("ingested")
    Seq("e0", "e1", "e2", "e10").foreach { e =>
      Files.createDirectories(dir.resolve(e).resolve("b0"))
    }
    // foreign entries that merely look epoch-adjacent must survive:
    // no digits, non-numeric suffix, and an unrelated name
    Files.createDirectories(dir.resolve("e"))
    Files.createDirectories(dir.resolve("extra"))
    Files.writeString(dir.resolve("e1x"), "junk")
    Fs.sweepBelowEpoch(dir, 2L)
    assert(!Files.exists(dir.resolve("e0")))
    assert(!Files.exists(dir.resolve("e1")))
    assert(Files.exists(dir.resolve("e2").resolve("b0")))
    assert(Files.exists(dir.resolve("e10")), "e10 is ABOVE epoch 2 (numeric, not lexicographic)")
    assert(Files.exists(dir.resolve("e")))
    assert(Files.exists(dir.resolve("extra")))
    assert(Files.exists(dir.resolve("e1x")))
    // absent dir is a no-op, not a crash (first batch of a stream)
    Fs.sweepBelowEpoch(base.resolve("never-created"), 5L)
    Fs.deleteRecursively(base)
  }

  test("keyed record: a malformed line fails loudly, never drops keys") {
    val base = freshBase()
    val art = base.resolve("art")
    Files.createDirectories(art)
    // self-written content (unlike stray marker FILES) — silently
    // ignoring a bad line would let a redelivered erasure re-subtract
    Files.writeString(art.resolve("_erased"), "7 0\ngarbage\n")
    intercept[RuntimeException](Fs.readKeyMap(art, "erased"))
    Fs.deleteRecursively(base)
  }

  test("stagedFor: /tmp/graft-<tag>-<corpus dir with non [A-Za-z0-9.] mapped to _>, truncated") {
    val dir = Fs.stagedFor("fsspec", "/root/testdata/sf0.01")
    assert(dir == Paths.get("/tmp/graft-fsspec-_root_testdata_sf0.01"))
    Files.createDirectories(dir.resolve("old"))
    assert(Fs.stagedFor("fsspec", "/root/testdata/sf0.01") == dir)
    assert(!Files.exists(dir), "a re-stage must truncate what the last invocation left")
  }
}
