package graft.fpm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GSP sequential patterns: hand fixture, repeated-symbol and
  * non-contiguous containment, brute-force differential (prune
  * losslessness), tie order, empty input. */
class SequentialPatternsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("seqpatterns-spec")
    .getOrCreate()

  private def mine(
      rows: Seq[(Long, Long, Long, String)], num: Long, den: Long,
      maxLen: Int = 3): Map[String, (Int, Long)] = {
    import spark.implicits._
    SequentialPatterns.frequentSequences(
        rows.toDF("u", "t", "i", "y"), "u", "t", "i", "y", num, den, maxLen)
      .as[(String, Int, Long)].collect()
      .map { case (p, l, s) => p -> (l, s) }.toMap
  }

  /** Driver-side brute force: enumerate every pattern over the alphabet
    * up to maxLen, count containment per user sequence, threshold. */
  private def bruteForce(
      rows: Seq[(Long, Long, Long, String)], num: Long, den: Long,
      maxLen: Int): Map[String, (Int, Long)] = {
    val seqs = rows.groupBy(_._1).map { case (_, rs) =>
      rs.sortBy(r => (r._2, r._3)).map(_._4)
    }.toSeq
    val minCount = (seqs.size * num + den - 1) / den
    val alphabet = rows.map(_._4).distinct.sorted
    def contains(s: Seq[String], p: Seq[String]): Boolean = {
      var m = 0
      for (x <- s if m < p.length) if (x == p(m)) m += 1
      m == p.length
    }
    def patterns(k: Int): Seq[List[String]] =
      if (k == 0) Seq(Nil)
      else for (p <- patterns(k - 1); c <- alphabet) yield c :: p
    (1 to maxLen).flatMap { k =>
      patterns(k).map(_.reverse).map { p =>
        p -> seqs.count(contains(_, p)).toLong
      }.filter(_._2 >= minCount)
        .map { case (p, s) => p.mkString("->") -> (k, s) }
    }.toMap
  }

  test("hand fixture: frequent 1- and 2-patterns at 50% support") {
    val rows = Seq(
      // u1: a b c   u2: a c b   u3: b a   u4: a b
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "c"),
      (2L, 1L, 4L, "a"), (2L, 2L, 5L, "c"), (2L, 3L, 6L, "b"),
      (3L, 1L, 7L, "b"), (3L, 2L, 8L, "a"),
      (4L, 1L, 9L, "a"), (4L, 2L, 10L, "b"))
    val got = mine(rows, 1L, 2L)
    assert(got == Map(
      "a" -> (1, 4L), "b" -> (1, 4L), "c" -> (1, 2L),
      "a->b" -> (2, 3L), "a->c" -> (2, 2L)))
  }

  test("repeated symbols and non-contiguous matches count") {
    val rows = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "x"), (1L, 3L, 3L, "a"),
      (2L, 1L, 4L, "a"), (2L, 2L, 5L, "a"))
    val got = mine(rows, 1L, 1L) // 100% support
    assert(got("a->a") == (2, 2L), "a _ a and a a both contain a->a")
    assert(!got.contains("x"), "x appears for only one of two users")
  }

  test("matches the driver-side brute force on random logs") {
    val rnd = new scala.util.Random(13)
    val types = Seq("v", "c", "p", "e")
    val rows = for {
      u <- 1L to 40L
      k <- 1 to (2 + rnd.nextInt(10))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    for ((num, den) <- Seq((1L, 4L), (1L, 2L), (4L, 5L))) {
      assert(mine(rows, num, den) == bruteForce(rows, num, den, 3),
        s"support $num/$den diverged from brute force")
    }
  }

  test("matchEndLit == greedyMatchEnd on random sequences (specialization contract)") {
    // the literal-pattern native chain must return the IDENTICAL
    // 1-based greedy completion index as the generic fold — including
    // repeated symbols, prefix-only partial matches, and the empty
    // sequence — because extendLayer picks an arm by
    // pattern-list size alone, never by data
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val types = Seq("v", "c", "p", "e")
    val seqs = (1 to 300).map(_ =>
      Seq.fill(rnd.nextInt(12))(types(rnd.nextInt(types.size)))) :+
      Seq.empty[String]
    val pats = (1 to 25).map(_ =>
      Seq.fill(1 + rnd.nextInt(4))(types(rnd.nextInt(types.size))))
    val df = seqs.toDF("seq")
    pats.foreach { p =>
      val patCol = array(p.map(lit): _*)
      val diverged = df.where(
        SequentialPatterns.matchEndLit(col("seq"), p) =!=
          SequentialPatterns.testGreedyMatchEnd(col("seq"), patCol))
        .count()
      assert(diverged == 0L, s"pattern $p diverged on $diverged sequences")
    }
  }

  test("depth beyond the oracle cap: maxLen=4 matches brute force") {
    // the declared rows cap at plen<=3 (oracle arity); the miner itself
    // is depth-generic — pin the level-4 projection against the same
    // exhaustive enumeration
    val rnd = new scala.util.Random(17)
    val types = Seq("v", "c", "p")
    val rows = for {
      u <- 1L to 30L
      k <- 1 to (9 + rnd.nextInt(5))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val got = mine(rows, 1L, 2L, maxLen = 4)
    assert(got == bruteForce(rows, 1L, 2L, 4))
    assert(got.exists(_._2._1 == 4), "fixture must surface a 4-pattern")
  }

  test("a 120-type fully-frequent alphabet mines without candidate blow-up") {
    // the round-14 boundary test: every one of 120 types is frequent
    // (each appears in every sequence), so round-13's GSP would build a
    // 120x120 = 14,400-entry level-2 candidate literal from |F1|^2;
    // the PrefixSpan projection ships only the 120 frequent prefixes
    // and counts observed extensions. Sequences are rotations of the
    // type list, so containment is deterministic and a driver-side
    // observed-pair count gives the exact expected table.
    val types = (0 until 120).map(i => f"t$i%03d")
    val users = 0 until 10
    val rows = for {
      u <- users; k <- 0 until 120
    } yield (u.toLong, k.toLong, u.toLong * 1000 + k,
      types((k + u) % 120))
    val got = mine(rows, 1L, 1L, maxLen = 2)
    // expected: brute-force over observed ordered pairs only
    val seqs = users.map(u => (0 until 120).map(k => types((k + u) % 120)))
    val singles = types.map(t => t -> (1, 10L))
    val pairCnt = new scala.collection.mutable.HashMap[String, Long]()
    for (s <- seqs) {
      val seen = new scala.collection.mutable.HashSet[String]()
      for (i <- s.indices; j <- (i + 1) until s.length)
        seen.add(s"${s(i)}->${s(j)}")
      seen.foreach(p => pairCnt(p) = pairCnt.getOrElse(p, 0L) + 1)
    }
    val pairs = pairCnt.filter(_._2 >= 10L).map { case (p, c) => p -> (2, c) }
    assert(got == (singles ++ pairs).toMap)
    assert(got.count(_._2._1 == 2) > 0, "some pair must survive all rotations")
  }

  test("key-disjoint refresh == full re-mine on random logs (q189 contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val types = Seq("v", "c", "p", "e", "s")
    val rows = for {
      u <- 1L to 60L
      k <- 1 to (2 + rnd.nextInt(8))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val (oldRows, addedRows) = rows.partition(_._1 % 7 != 0)
    val nOld = oldRows.map(_._1).distinct.size.toLong
    val nAdded = addedRows.map(_._1).distinct.size.toLong
    // union threshold at 50% support; probe at the FUP-reduced bound
    val minCountUni = ((nOld + nAdded) * 1 + 1) / 2
    assert(nAdded > 0 && nAdded < minCountUni)
    val probe = math.max(1L, minCountUni - nAdded)
    val stored = SequentialPatterns.frequentSequences(
      oldRows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
      minSupportNum = probe, minSupportDen = nOld, maxLen = 3)
    val refreshed = SequentialPatterns.refresh(
        stored, addedRows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minCountUni, nAdded)
      .as[(String, Int, Long)].collect().toSet
    val full = SequentialPatterns.frequentSequences(
        rows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minSupportNum = minCountUni, minSupportDen = nOld + nAdded,
        maxLen = 3)
      .as[(String, Int, Long)].collect().toSet
    assert(refreshed.nonEmpty)
    assert(refreshed == full, "key-disjoint delta refresh must equal the union re-mine")
  }

  test("touched-keys recount refresh == full re-mine when the delta EXTENDS existing keys (q192 contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val types = Seq("v", "c", "p", "e", "s")
    val rows = for {
      u <- 1L to 60L
      k <- 1 to (3 + rnd.nextInt(8))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    // withhold a SUFFIX of every 6th user's history: the delta extends
    // existing keys, the exact case the key-disjoint refresh refuses
    val isDelta = (r: (Long, Long, Long, String)) =>
      r._1 % 6 == 0 && r._2 > 2
    val oldRows = rows.filterNot(isDelta)
    val deltaRows = rows.filter(isDelta)
    val touched = deltaRows.map(_._1).distinct
    assert(touched.nonEmpty, "fixture must touch some keys")
    assert(touched.forall(u => oldRows.exists(_._1 == u)),
      "every touched key must already exist in the old snapshot")
    val nUsers = rows.map(_._1).distinct.size.toLong
    val nTouched = touched.size.toLong
    val minCountUni = (nUsers * 1 + 1) / 2
    assert(nTouched < minCountUni)
    val probe = math.max(1L, minCountUni - nTouched)
    val nOld = oldRows.map(_._1).distinct.size.toLong
    val stored = SequentialPatterns.frequentSequences(
      oldRows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
      minSupportNum = probe, minSupportDen = nOld, maxLen = 3)
    val oldTouched = oldRows.filter(r => touched.contains(r._1))
    val newTouched = rows.filter(r => touched.contains(r._1))
    val refreshed = SequentialPatterns.refreshTouched(
        stored, oldTouched.toDF("u", "t", "i", "y"),
        newTouched.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minCountUni, nTouched)
      .as[(String, Int, Long)].collect().toSet
    val full = SequentialPatterns.frequentSequences(
        rows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minSupportNum = minCountUni, minSupportDen = nUsers, maxLen = 3)
      .as[(String, Int, Long)].collect().toSet
    assert(refreshed.nonEmpty)
    assert(refreshed == full,
      "touched-keys recount must equal the union re-mine")
  }

  test("touched-keys refresh subsumes the disjoint case (all-new keys)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val types = Seq("v", "c", "p")
    val rows = for {
      u <- 1L to 40L
      k <- 1 to (2 + rnd.nextInt(6))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val (oldRows, addedRows) = rows.partition(_._1 % 9 != 0)
    val nOld = oldRows.map(_._1).distinct.size.toLong
    val nAdded = addedRows.map(_._1).distinct.size.toLong
    val minCountUni = ((nOld + nAdded) * 1 + 1) / 2
    val probe = math.max(1L, minCountUni - nAdded)
    val stored = SequentialPatterns.frequentSequences(
        oldRows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minSupportNum = probe, minSupportDen = nOld, maxLen = 3)
      .cache()
    // oldTouched is EMPTY for brand-new keys; newTouched = the delta
    val empty = Seq.empty[(Long, Long, Long, String)]
      .toDF("u", "t", "i", "y")
    val viaTouched = SequentialPatterns.refreshTouched(
        stored, empty, addedRows.toDF("u", "t", "i", "y"),
        "u", "t", "i", "y", minCountUni, nAdded)
      .as[(String, Int, Long)].collect().toSet
    val viaDisjoint = SequentialPatterns.refresh(
        stored, addedRows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minCountUni, nAdded)
      .as[(String, Int, Long)].collect().toSet
    stored.unpersist()
    assert(viaTouched == viaDisjoint,
      "disjoint-delta refresh must be the zero-old-terms special case")
  }

  test("a touched-key set at or above minCount_union is refused (re-mine trigger)") {
    import spark.implicits._
    val stored = Seq(("a", 1, 5L)).toDF("pattern", "plen", "support")
    val t = Seq((9L, 1L, 1L, "a")).toDF("u", "t", "i", "y")
    val e = intercept[IllegalArgumentException] {
      SequentialPatterns.refreshTouched(stored, t, t, "u", "t", "i", "y",
        minCountUnion = 3L, nTouchedKeys = 3L)
    }
    assert(e.getMessage.contains("re-mine"))
  }

  test("key-erasure refresh == re-mine of the retained users at the shrunken threshold (q195 contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val types = Seq("v", "c", "p", "e", "s")
    val rows = for {
      u <- 1L to 55L
      k <- 1 to (2 + rnd.nextInt(8))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val erased = rows.filter(_._1 % 5 == 0)
    val kept = rows.filterNot(_._1 % 5 == 0)
    val nAll = rows.map(_._1).distinct.size.toLong
    val nKept = kept.map(_._1).distinct.size.toLong
    assert(nKept < nAll, "fixture must erase some users")
    // threshold re-derives from the RETAINED count (it SHRINKS)
    val minCountNew = (nKept * 1 + 1) / 2
    // artifact mined over the FULL old corpus at the post-erasure bound
    val stored = SequentialPatterns.frequentSequences(
      rows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
      minSupportNum = minCountNew, minSupportDen = nAll, maxLen = 3)
    val got = SequentialPatterns.erase(
        stored, erased.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minCountNew)
      .as[(String, Int, Long)].collect().toSet
    val full = SequentialPatterns.frequentSequences(
        kept.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minSupportNum = minCountNew, minSupportDen = nKept, maxLen = 3)
      .as[(String, Int, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got == full, "erasure must equal the retained-users re-mine")
  }

  test("fold is associative over key-disjoint batches (q190 contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val types = Seq("v", "c", "p", "e")
    val rows = for {
      u <- 1L to 50L
      k <- 1 to (2 + rnd.nextInt(6))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val (oldRows, addedRows) = rows.partition(_._1 % 5 != 0)
    val (b1, b2) = addedRows.partition(_._1 % 2 == 0) // user-disjoint halves
    val nOld = oldRows.map(_._1).distinct.size.toLong
    val nAdded = addedRows.map(_._1).distinct.size.toLong
    val n1 = b1.map(_._1).distinct.size.toLong
    val minCountUni = ((nOld + nAdded) * 1 + 1) / 2
    assert(nAdded < minCountUni)
    val probe = math.max(1L, minCountUni - nAdded)
    val stored = SequentialPatterns.frequentSequences(
        oldRows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minSupportNum = probe, minSupportDen = nOld, maxLen = 3)
      .cache()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Int, Long)].collect().map(r => r._1 -> r).toMap
    val twoBatches = asMap(SequentialPatterns.fold(
      SequentialPatterns.fold(stored, b1.toDF("u", "t", "i", "y"),
        "u", "t", "i", "y", minCountUni, n1),
      b2.toDF("u", "t", "i", "y"), "u", "t", "i", "y", minCountUni, nAdded))
    val oneBatch = asMap(SequentialPatterns.fold(
      stored, addedRows.toDF("u", "t", "i", "y"),
      "u", "t", "i", "y", minCountUni, nAdded))
    val refreshed = asMap(SequentialPatterns.refresh(
      stored, addedRows.toDF("u", "t", "i", "y"),
      "u", "t", "i", "y", minCountUni, nAdded))
    stored.unpersist()
    assert(twoBatches == oneBatch)
    assert(twoBatches.filter(_._2._3 >= minCountUni) == refreshed)
  }

  test("foldTouched is associative over key-disjoint touched batches (q196 contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val types = Seq("v", "c", "p", "e")
    val rows = for {
      u <- 1L to 50L
      k <- 1 to (3 + rnd.nextInt(6))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val isDelta = (r: (Long, Long, Long, String)) => r._1 % 6 == 0 && r._2 > 2
    val oldRows = rows.filterNot(isDelta)
    val touched = rows.filter(isDelta).map(_._1).distinct
    // touched users are all multiples of 6: alternate them by % 12
    val (t1, t2) = touched.partition(_ % 12 == 0)
    assert(t1.nonEmpty && t2.nonEmpty)
    val nUsers = rows.map(_._1).distinct.size.toLong
    val nTouched = touched.size.toLong
    val minCountUni = (nUsers * 1 + 1) / 2
    val probe = math.max(1L, minCountUni - nTouched)
    val nOld = oldRows.map(_._1).distinct.size.toLong
    val stored = SequentialPatterns.frequentSequences(
        oldRows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minSupportNum = probe, minSupportDen = nOld, maxLen = 3)
      .cache()
    def oldOf(ks: Seq[Long]) = oldRows.filter(r => ks.contains(r._1))
      .toDF("u", "t", "i", "y")
    def newOf(ks: Seq[Long]) = rows.filter(r => ks.contains(r._1))
      .toDF("u", "t", "i", "y")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Int, Long)].collect().map(r => r._1 -> r).toMap
    val twoBatches = asMap(SequentialPatterns.foldTouched(
      SequentialPatterns.foldTouched(stored, oldOf(t1), newOf(t1),
        "u", "t", "i", "y", minCountUni, t1.size.toLong),
      oldOf(t2), newOf(t2), "u", "t", "i", "y", minCountUni, nTouched))
    val oneBatch = asMap(SequentialPatterns.foldTouched(
      stored, oldOf(touched), newOf(touched),
      "u", "t", "i", "y", minCountUni, nTouched))
    val refreshed = asMap(SequentialPatterns.refreshTouched(
      stored, oldOf(touched), newOf(touched),
      "u", "t", "i", "y", minCountUni, nTouched))
    stored.unpersist()
    assert(twoBatches == oneBatch)
    assert(twoBatches.filter(_._2._3 >= minCountUni) == refreshed)
  }

  test("eraseFold is associative over key-disjoint erasure batches (q197 contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val types = Seq("v", "c", "p", "e")
    val rows = for {
      u <- 1L to 45L
      k <- 1 to (2 + rnd.nextInt(7))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val gone = rows.map(_._1).distinct.filter(_ % 4 == 0)
    val (g1, g2) = gone.partition(_ % 8 == 0)
    assert(g1.nonEmpty && g2.nonEmpty)
    val nAll = rows.map(_._1).distinct.size.toLong
    val nKept = nAll - gone.size.toLong
    val minCountNew = (nKept * 1 + 1) / 2
    val stored = SequentialPatterns.frequentSequences(
        rows.toDF("u", "t", "i", "y"), "u", "t", "i", "y",
        minSupportNum = minCountNew, minSupportDen = nAll, maxLen = 3)
      .cache()
    def evOf(ks: Seq[Long]) = rows.filter(r => ks.contains(r._1))
      .toDF("u", "t", "i", "y")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Int, Long)].collect().map(r => r._1 -> r).toMap
    val twoBatches = asMap(SequentialPatterns.eraseFold(
      SequentialPatterns.eraseFold(stored, evOf(g1), "u", "t", "i", "y"),
      evOf(g2), "u", "t", "i", "y"))
    val oneBatch = asMap(SequentialPatterns.eraseFold(
      stored, evOf(gone), "u", "t", "i", "y"))
    val erased = asMap(SequentialPatterns.erase(
      stored, evOf(gone), "u", "t", "i", "y", minCountNew))
    stored.unpersist()
    assert(twoBatches == oneBatch)
    assert(twoBatches.filter(_._2._3 >= minCountNew) == erased)
  }

  test("eraseBatchOnce: a key redelivered in a LATER batch is skipped (durable erase-once record)") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val types = Seq("v", "c", "p")
    val rows = for {
      u <- 1L to 30L
      k <- 1 to (2 + rnd.nextInt(5))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val ev = rows.toDF("u", "t", "i", "y")
    val stored0 = SequentialPatterns.frequentSequences(ev, "u", "t", "i", "y",
      minSupportNum = 1L, minSupportDen = 3L, maxLen = 2).cache()
    val base = java.nio.file.Files.createTempDirectory("eraseonce")
    val artDir = base.resolve("art")
    stored0.coalesce(1).write.parquet(artDir.toString)
    def runBatch(id: Long, keys: Set[Long]): Unit = {
      graft.Fs.appliedMarkerSwap(base, artDir, id) { sibling =>
        SequentialPatterns.eraseBatchOnce(
          spark.read.parquet(artDir.toString), ev, "u", "t", "i", "y",
          artDir, sibling, keys, id)
      }
      ()
    }
    runBatch(0L, Set(4L, 8L))
    // key 8 redelivered under a DIFFERENT batch id — the `_applied_`
    // replay marker cannot catch this; only the `_erased` record can
    runBatch(1L, Set(12L, 8L))
    val got = spark.read.parquet(artDir.toString)
      .as[(String, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    val want = SequentialPatterns.eraseFold(stored0,
        ev.where($"u".isin(4L, 8L, 12L)), "u", "t", "i", "y")
      .as[(String, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    stored0.unpersist()
    assert(got == want, "duplicate request double-subtracted")
    // the redelivered key's stamp REFRESHES to the batch that last
    // carried it (full new horizon — the safe direction)
    assert(graft.Fs.readKeyMap(artDir, "erased") ==
      Map(4L -> 0L, 8L -> 1L, 12L -> 1L))
    graft.Fs.deleteRecursively(base)
  }

  test("compactEraseRecord: bounded under churn, refresh-on-redelivery, horizon drop") {
    val sp = SequentialPatterns
    // churn fixture: 60 batches, each erasing 3 fresh keys, horizon 5 —
    // the record must stay window-sized, never lifetime-sized
    var rec = Map.empty[Long, Long]
    (0L until 60L).foreach { id =>
      val fresh = Set(id * 10 + 1, id * 10 + 2, id * 10 + 3)
      rec = sp.compactEraseRecord(rec, fresh, id, horizon = 5L)
      assert(rec.size <= 3 * 6,
        s"record grew past the horizon window at batch $id: ${rec.size}")
      // every key within the horizon is still present (dedup works)
      assert(fresh.subsetOf(rec.keySet))
    }
    // at batch 59 with horizon 5, exactly batches 54-59 survive
    assert(rec.keySet == (54L to 59L).flatMap(id =>
      Set(id * 10 + 1, id * 10 + 2, id * 10 + 3)).toSet)
    // refresh-on-redelivery: a key re-requested later gets the LATER
    // stamp, extending its dedup window
    val r2 = sp.compactEraseRecord(Map(7L -> 0L), Set(7L), 3L, horizon = 5L)
    assert(r2 == Map(7L -> 3L))
    // beyond the horizon the key leaves the exact set — the documented
    // price: the queue's max redelivery lag must stay under the horizon
    val r3 = sp.compactEraseRecord(Map(7L -> 0L), Set.empty, 6L, horizon = 5L)
    assert(r3.isEmpty)
  }

  test("the erase-once record survives a crash-restart (marker skip and set skip compose)") {
    // the composite at-least-once window: foreachBatch committed batch
    // 0's swap (artifact + _erased record), then the process died
    // BEFORE the checkpoint commit. On restart batch 0 is redelivered
    // under the SAME id (marker skip — artifact and record unharmed),
    // and batch 1 carries a CROSS-batch duplicate of batch 0's key
    // (set skip — the durable _erased record, re-read from the
    // restarted artifact, must drop it). Both guards must survive the
    // restart because both live in the artifact dir, not driver memory.
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val types = Seq("v", "c", "p")
    val rows = for {
      u <- 1L to 24L
      k <- 1 to (2 + rnd.nextInt(4))
    } yield (u, k.toLong, u * 100 + k, types(rnd.nextInt(types.size)))
    val ev = rows.toDF("u", "t", "i", "y")
    val stored0 = SequentialPatterns.frequentSequences(ev, "u", "t", "i", "y",
      minSupportNum = 1L, minSupportDen = 3L, maxLen = 2).cache()
    val base = java.nio.file.Files.createTempDirectory("graft-erase-recovery")
    val art = base.resolve("art")
    stored0.coalesce(1).write.parquet(art.toString)
    val in = base.resolve("in").toString
    Seq(4L).toDF("u").coalesce(1).write.parquet(in)
    Seq(8L, 4L).toDF("u").coalesce(1).write.mode("append").parquet(in)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val schema = spark.read.parquet(in).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.Fs.appliedMarkerSwap(base, art, id) { sib =>
            val req = batch.select($"u").collect()
              .map(_.getLong(0)).toSet
            SequentialPatterns.eraseBatchOnce(
              spark.read.parquet(art.toString), ev, "u", "t", "i", "y",
              art, sib, req, id)
          }
          if (id == 0L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after commit")
          ()
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(crashed.get, "the injected crash must have fired")
    run() // restart: batch 0 marker-skipped; batch 1 erases 8, set-skips 4
    val got = spark.read.parquet(art.toString)
      .as[(String, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    val want = SequentialPatterns.eraseFold(stored0,
        ev.where($"u".isin(4L, 8L)), "u", "t", "i", "y")
      .as[(String, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    stored0.unpersist()
    assert(got == want,
      s"crash + redelivery must erase each key exactly once: $got vs $want")
    assert(graft.Fs.readKeyMap(art, "erased").keySet == Set(4L, 8L))
    graft.Fs.deleteRecursively(base)
  }

  test("auto re-snapshot (q200): trigger fires mid-stream, folds continue after, final == union re-mine") {
    import spark.implicits._
    // sf0.01: 9 added users across quarters (3,2,2,2) — fold, fold,
    // SNAP at b2 (cum 7 >= 60% of 9), fold at b3 => final cum 2 > 0
    // (sf0.001 is degenerate here: 1 added user, no post-snap fold)
    val dir = "/root/testdata/sf0.01"
    val got = graft.RelQueries.sequentialPatternAutoResnapshot(spark, dir)
      .as[(String, Int, Long)].collect().toSet
    val want = graft.RelQueries.sequentialPatterns(spark, dir)
      .as[(String, Int, Long)].collect().toSet
    assert(got.nonEmpty && got == want,
      "folds + auto re-snapshot + folds must land exactly on the union re-mine")
    val artDir = java.nio.file.Paths.get("/tmp",
      "graft-q200-" + dir.replaceAll("[^A-Za-z0-9.]", "_"), "seqpatterns")
    assert(graft.Fs.readCounter(artDir, "snap") >= 1L,
      "the 60%-headroom trigger never fired")
    assert(graft.Fs.readCounter(artDir, "cum") > 0L,
      "no fold landed AFTER the re-snapshot")
    // the trigger RE-BASED (q199's protocol, sequence side): promoted
    // corpus present, absorbed epoch-0 ingest dirs swept at the next
    // batch — epoch-bounded record (VERDICT r15 #4)
    val epoch = graft.Fs.readCounter(artDir, "epoch")
    assert(epoch == graft.Fs.readCounter(artDir, "snap"))
    val streamBase = artDir.getParent
    assert(java.nio.file.Files.exists(
      streamBase.resolve("corpus").resolve(s"e$epoch")))
    assert(!java.nio.file.Files.exists(
      streamBase.resolve("ingested").resolve("e0")),
      "absorbed epoch-0 ingest dirs must be swept after the trigger")
  }

  test("two-epoch sequence auto re-snapshot: the second trigger re-mines FROM the promoted corpus") {
    // the sequence twin of ItemsetRefreshSpec's two-epoch test: epoch
    // >= 1's re-mine must read corpus/e<n>, not the caller's `old`
    // frame. User 1 carries (v,c,p)^3 so the probe mine's candidate
    // set holds EVERY pattern up to maxLen 3 — the un-thresholded
    // artifact is then exactly comparable to a minCount-1 re-mine.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-seq-two-epoch")
    val art = base.resolve("art")
    val ingested = base.resolve("ingested")
    val cyc = Seq("v", "c", "p")
    val oldRows =
      (0 until 9).map(k => (1L, k.toLong + 1, 100L + k, cyc(k % 3))) ++
        Seq((2L, 1L, 201L, "v"), (2L, 2L, 202L, "p"),
          (3L, 1L, 301L, "c"), (3L, 2L, 302L, "c"))
    val old = oldRows.toDF("user_id", "tsu", "event_id", "event_type")
    SequentialPatterns.frequentSequences(old, "user_id", "tsu",
        "event_id", "event_type", 1L, 3L, 3)
      .coalesce(1).write.parquet(art.toString)
    // five single-new-user batches at headroom 2: fold, SNAP(e1),
    // fold, SNAP(e2), fold — the e2 re-mine reads corpus/e1, and the
    // trailing fold's sweep reclaims epoch 1's absorbed dirs
    val batches = Seq(
      Seq((10L, 1L, 1001L, "v"), (10L, 2L, 1002L, "c")),
      Seq((11L, 1L, 1101L, "p"), (11L, 2L, 1102L, "p")),
      Seq((12L, 1L, 1201L, "c"), (12L, 2L, 1202L, "v")),
      Seq((13L, 1L, 1301L, "v"), (13L, 2L, 1302L, "p"), (13L, 3L, 1303L, "v")),
      Seq((14L, 1L, 1401L, "c")))
    batches.zipWithIndex.foreach { case (rows, id) =>
      graft.Fs.appliedMarkerSwap(base, art, id.toLong) { sib =>
        graft.streaming.ArtifactStream.epochStep(spark,
          graft.RelQueries.seqFamily(minCountUni = 100L, probe = 1L),
          old, base, art, sib,
          rows.toDF("user_id", "tsu", "event_id", "event_type"),
          id.toLong, headroom = 2L)
      }
    }
    val got = spark.read.parquet(art.toString)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val union = (oldRows ++ batches.flatten)
      .toDF("user_id", "tsu", "event_id", "event_type")
    val want = SequentialPatterns.frequentSequences(union, "user_id",
        "tsu", "event_id", "event_type", 1L, 8L, 3)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want,
      s"second-epoch re-mine lost epoch 0's absorbed ingest")
    assert(graft.Fs.readCounter(art, "snap") == 2L, "two triggers fired")
    assert(graft.Fs.readCounter(art, "epoch") == 2L)
    assert(!java.nio.file.Files.exists(ingested.resolve("e0")))
    assert(!java.nio.file.Files.exists(ingested.resolve("e1")))
    assert(!java.nio.file.Files.exists(base.resolve("corpus").resolve("e1")))
    assert(java.nio.file.Files.exists(base.resolve("corpus").resolve("e2")))
    assert(java.nio.file.Files.exists(ingested.resolve("e2").resolve("b4")))
    graft.Fs.deleteRecursively(base)
  }

  test("q200 snap state (cum reset + epoch re-base) survives a crash-restart") {
    // the q199 crash pin on the KEY-DISJOINT sequence branch: the snap
    // batch's swap committed (re-mined artifact + _cum_0 + _snap_1 +
    // _epoch_1 + promoted corpus), then the process died before the
    // checkpoint commit. On restart the snap batch is redelivered under
    // the SAME id and must be marker-skipped; the next new-user batch
    // must fold with cum restarting from the durable zero.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-seq-snap-recovery")
    val art = base.resolve("art")
    val ingested = base.resolve("ingested")
    val cyc = Seq("v", "c", "p")
    val oldRows =
      (0 until 9).map(k => (1L, k.toLong + 1, 100L + k, cyc(k % 3))) ++
        Seq((2L, 1L, 201L, "v"), (2L, 2L, 202L, "p"),
          (3L, 1L, 301L, "c"), (3L, 2L, 302L, "c"))
    val old = oldRows.toDF("user_id", "tsu", "event_id", "event_type")
    SequentialPatterns.frequentSequences(old, "user_id", "tsu",
        "event_id", "event_type", 1L, 3L, 3)
      .coalesce(1).write.parquet(art.toString)
    // one new user per batch at headroom 2: user 10 (fold, cum 1),
    // user 11 (SNAP at cum 2 + crash), user 12 (fold after restart)
    val deltas = Seq(
      Seq((10L, 1L, 1001L, "v"), (10L, 2L, 1002L, "c")),
      Seq((11L, 1L, 1101L, "p"), (11L, 2L, 1102L, "p")),
      Seq((12L, 1L, 1201L, "c"), (12L, 2L, 1202L, "v")))
    val in = base.resolve("in").toString
    deltas.zipWithIndex.foreach { case (rows, i) =>
      val mode = if (i == 0) "overwrite" else "append"
      rows.toDF("user_id", "tsu", "event_id", "event_type")
        .coalesce(1).write.mode(mode).parquet(in)
    }
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val schema = spark.read.parquet(in).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.Fs.appliedMarkerSwap(base, art, id) { sib =>
            graft.streaming.ArtifactStream.epochStep(spark,
              graft.RelQueries.seqFamily(minCountUni = 100L, probe = 1L),
              old, base, art, sib, batch, id, headroom = 2L)
          }
          if (id == 1L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after snap commit")
          ()
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(crashed.get, "the injected crash must have fired")
    assert(graft.Fs.readCounter(art, "snap") == 1L, "snap committed pre-crash")
    run() // restart: batch 1 marker-skipped, batch 2 folds
    val got = spark.read.parquet(art.toString)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val union = (oldRows ++ deltas.flatten)
      .toDF("user_id", "tsu", "event_id", "event_type")
    val want = SequentialPatterns.frequentSequences(union, "user_id",
        "tsu", "event_id", "event_type", 1L, 6L, 3)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want,
      "crash + redelivery must land exactly on the union re-mine")
    assert(graft.Fs.readCounter(art, "snap") == 1L,
      "the redelivered snap batch must be marker-skipped, not re-mined")
    assert(graft.Fs.readCounter(art, "cum") == 1L,
      "cum restarts from the durable zero, counting only the post-snap user")
    assert(graft.Fs.readCounter(art, "epoch") == 1L)
    assert(java.nio.file.Files.exists(
      base.resolve("corpus").resolve("e1")))
    assert(!java.nio.file.Files.exists(ingested.resolve("e0")),
      "the post-restart batch sweeps the absorbed epoch-0 dirs")
    graft.Fs.deleteRecursively(base)
  }

  test("a single batch overshooting the whole headroom re-mines instead of require-failing") {
    // the documented backstop: the 60% trigger is checked BEFORE any
    // fold, so a batch so large it jumps past 100% of the headroom in
    // one step routes to the re-mine branch — the fold's FUP require
    // (which would refuse it) is never consulted on that path
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-overshoot")
    val art = base.resolve("art")
    val cyc = Seq("v", "c", "p")
    val oldRows =
      (0 until 9).map(k => (1L, k.toLong + 1, 100L + k, cyc(k % 3))) ++
        Seq((2L, 1L, 201L, "v"))
    val old = oldRows.toDF("user_id", "tsu", "event_id", "event_type")
    SequentialPatterns.frequentSequences(old, "user_id", "tsu",
        "event_id", "event_type", 1L, 2L, 3)
      .coalesce(1).write.parquet(art.toString)
    // headroom 2, ONE batch of 5 new users: cum 5 >= headroom — a fold
    // would violate the candidate bound; the trigger must re-mine
    val giant = (10L to 14L).flatMap(u =>
      Seq((u, 1L, u * 100 + 1, "v"), (u, 2L, u * 100 + 2, "c")))
    graft.Fs.appliedMarkerSwap(base, art, 0L) { sib =>
      graft.streaming.ArtifactStream.epochStep(spark,
        graft.RelQueries.seqFamily(minCountUni = 3L, probe = 1L),
        old, base, art, sib,
        giant.toDF("user_id", "tsu", "event_id", "event_type"),
        0L, headroom = 2L)
    }
    val got = spark.read.parquet(art.toString)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val want = SequentialPatterns.frequentSequences(
        (oldRows ++ giant).toDF("user_id", "tsu", "event_id", "event_type"),
        "user_id", "tsu", "event_id", "event_type", 1L, 7L, 3)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want, "overshoot batch must land on the union re-mine")
    assert(graft.Fs.readCounter(art, "snap") == 1L)
    assert(graft.Fs.readCounter(art, "epoch") == 1L)
    assert(graft.Fs.readCounter(art, "cum") == 0L,
      "the overshoot batch is absorbed by the snapshot, not counted as a fold")
    graft.Fs.deleteRecursively(base)
  }

  test("q203 snap state (cum reset + epoch re-base) survives a crash-restart") {
    // the q199 crash pin on the TOUCHED-KEY branch: the snap batch's
    // swap committed (re-mined artifact + _cum_0 + _snap_1 + _epoch_1
    // + promoted corpus), then the process died before the checkpoint
    // commit. On restart the snap batch is redelivered under the SAME
    // id and must be marker-skipped; the next TOUCH batch must
    // foldTouched against the promoted epoch-1 base.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-touch-snap-recovery")
    val art = base.resolve("art")
    val ingested = base.resolve("ingested")
    val cyc = Seq("v", "c", "p")
    val oldRows =
      (0 until 9).map(k => (1L, k.toLong + 1, 100L + k, cyc(k % 3))) ++
        Seq((2L, 1L, 201L, "v"), (3L, 1L, 301L, "c"),
          (4L, 1L, 401L, "p"), (5L, 1L, 501L, "v"))
    val oldDf = oldRows.toDF("user_id", "tsu", "event_id", "event_type")
    SequentialPatterns.frequentSequences(oldDf, "user_id", "tsu",
        "event_id", "event_type", 1L, 5L, 3)
      .coalesce(1).write.parquet(art.toString)
    // touch batches EXTEND existing keys, whole delta per key per
    // batch: user 2 (fold, cum 1), user 4 (SNAP at cum 2 + crash),
    // user 5 (fold after restart)
    val deltas = Seq(
      Seq((2L, 2L, 202L, "c")),
      Seq((4L, 2L, 402L, "v"), (4L, 3L, 403L, "c")),
      Seq((5L, 2L, 502L, "p")))
    val in = base.resolve("in").toString
    deltas.zipWithIndex.foreach { case (rows, i) =>
      val mode = if (i == 0) "overwrite" else "append"
      rows.toDF("user_id", "tsu", "event_id", "event_type")
        .coalesce(1).write.mode(mode).parquet(in)
    }
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val schema = spark.read.parquet(in).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.Fs.appliedMarkerSwap(base, art, id) { sib =>
            graft.streaming.ArtifactStream.epochStep(spark,
              graft.RelQueries.seqTouchFamily(minCountUni = 100L, probe = 1L),
              oldDf, base, art, sib, batch, id, headroom = 2L)
          }
          if (id == 1L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after snap commit")
          ()
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(crashed.get, "the injected crash must have fired")
    assert(graft.Fs.readCounter(art, "snap") == 1L, "snap committed pre-crash")
    run() // restart: batch 1 marker-skipped, batch 2 touch-folds
    val got = spark.read.parquet(art.toString)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val union = (oldRows ++ deltas.flatten)
      .toDF("user_id", "tsu", "event_id", "event_type")
    val want = SequentialPatterns.frequentSequences(union, "user_id",
        "tsu", "event_id", "event_type", 1L, 5L, 3)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want,
      "crash + redelivery must land exactly on the union re-mine")
    assert(graft.Fs.readCounter(art, "snap") == 1L,
      "the redelivered snap batch must be marker-skipped, not re-mined")
    assert(graft.Fs.readCounter(art, "cum") == 1L,
      "cum restarts from the durable zero, counting only the post-snap touch")
    assert(graft.Fs.readCounter(art, "epoch") == 1L)
    assert(java.nio.file.Files.exists(
      base.resolve("corpus").resolve("e1")))
    assert(!java.nio.file.Files.exists(ingested.resolve("e0")),
      "the post-restart batch sweeps the absorbed epoch-0 dirs")
    graft.Fs.deleteRecursively(base)
  }

  test("two-epoch touched-key auto re-snapshot: the second trigger re-mines FROM the promoted corpus") {
    // the touched-key twin of the two-epoch tests: epoch >= 1's re-mine
    // must read corpus/e<n>, and the touch fold between the triggers
    // must take its OLD terms from that promoted base — the final
    // artifact can only equal the exact union counts if epoch 0's
    // ingested deltas were carried forward.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-touch-two-epoch")
    val art = base.resolve("art")
    val ingested = base.resolve("ingested")
    val cyc = Seq("v", "c", "p")
    val oldRows =
      (0 until 9).map(k => (1L, k.toLong + 1, 100L + k, cyc(k % 3))) ++
        Seq((2L, 1L, 201L, "v"), (3L, 1L, 301L, "c"), (4L, 1L, 401L, "p"),
          (5L, 1L, 501L, "v"), (6L, 1L, 601L, "c"))
    val old = oldRows.toDF("user_id", "tsu", "event_id", "event_type")
    SequentialPatterns.frequentSequences(old, "user_id", "tsu",
        "event_id", "event_type", 1L, 6L, 3)
      .coalesce(1).write.parquet(art.toString)
    // five single-key touch batches at headroom 2: fold, SNAP(e1),
    // fold, SNAP(e2), fold — the e2 re-mine reads corpus/e1, and the
    // trailing fold's sweep reclaims epoch 1's absorbed dirs
    val batches = Seq(
      Seq((2L, 2L, 202L, "c")),
      Seq((3L, 2L, 302L, "p"), (3L, 3L, 303L, "v")),
      Seq((4L, 2L, 402L, "p")),
      Seq((5L, 2L, 502L, "c"), (5L, 3L, 503L, "p")),
      Seq((6L, 2L, 602L, "v")))
    batches.zipWithIndex.foreach { case (rows, id) =>
      graft.Fs.appliedMarkerSwap(base, art, id.toLong) { sib =>
        graft.streaming.ArtifactStream.epochStep(spark,
          graft.RelQueries.seqTouchFamily(minCountUni = 100L, probe = 1L),
          old, base, art, sib,
          rows.toDF("user_id", "tsu", "event_id", "event_type"),
          id.toLong, headroom = 2L)
      }
    }
    val got = spark.read.parquet(art.toString)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val union = (oldRows ++ batches.flatten)
      .toDF("user_id", "tsu", "event_id", "event_type")
    val want = SequentialPatterns.frequentSequences(union, "user_id",
        "tsu", "event_id", "event_type", 1L, 6L, 3)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want,
      s"second-epoch touch re-mine lost epoch 0's absorbed ingest")
    assert(graft.Fs.readCounter(art, "snap") == 2L, "two triggers fired")
    assert(graft.Fs.readCounter(art, "epoch") == 2L)
    assert(graft.Fs.readCounter(art, "cum") == 1L,
      "the trailing touch fold landed after the second trigger")
    assert(!java.nio.file.Files.exists(ingested.resolve("e0")))
    assert(!java.nio.file.Files.exists(ingested.resolve("e1")))
    assert(!java.nio.file.Files.exists(base.resolve("corpus").resolve("e1")))
    assert(java.nio.file.Files.exists(base.resolve("corpus").resolve("e2")))
    assert(java.nio.file.Files.exists(ingested.resolve("e2").resolve("b4")))
    graft.Fs.deleteRecursively(base)
  }

  test("a touch batch overshooting the whole headroom re-mines instead of require-failing") {
    // the overshoot backstop on the TOUCHED-KEY family: one batch
    // touching 3 keys at headroom 2 (and minCount 3, so foldTouched's
    // require would refuse it) must route to the union re-mine
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-touch-overshoot")
    val art = base.resolve("art")
    val cyc = Seq("v", "c", "p")
    val oldRows =
      (0 until 9).map(k => (1L, k.toLong + 1, 100L + k, cyc(k % 3))) ++
        Seq((2L, 1L, 201L, "v"), (3L, 1L, 301L, "c"), (4L, 1L, 401L, "p"))
    val old = oldRows.toDF("user_id", "tsu", "event_id", "event_type")
    SequentialPatterns.frequentSequences(old, "user_id", "tsu",
        "event_id", "event_type", 1L, 4L, 3)
      .coalesce(1).write.parquet(art.toString)
    val giant = Seq((2L, 2L, 202L, "c"), (3L, 2L, 302L, "p"),
      (3L, 3L, 303L, "v"), (4L, 2L, 402L, "v"))
    graft.Fs.appliedMarkerSwap(base, art, 0L) { sib =>
      graft.streaming.ArtifactStream.epochStep(spark,
        graft.RelQueries.seqTouchFamily(minCountUni = 3L, probe = 1L),
        old, base, art, sib,
        giant.toDF("user_id", "tsu", "event_id", "event_type"),
        0L, headroom = 2L)
    }
    val got = spark.read.parquet(art.toString)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val want = SequentialPatterns.frequentSequences(
        (oldRows ++ giant).toDF("user_id", "tsu", "event_id", "event_type"),
        "user_id", "tsu", "event_id", "event_type", 1L, 4L, 3)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want, "overshoot touch batch must land on the union re-mine")
    assert(graft.Fs.readCounter(art, "snap") == 1L)
    assert(graft.Fs.readCounter(art, "epoch") == 1L)
    assert(graft.Fs.readCounter(art, "cum") == 0L,
      "the overshoot batch is absorbed by the snapshot, not counted as a fold")
    graft.Fs.deleteRecursively(base)
  }

  test("touched-key auto re-snapshot (q203): trigger fires mid-stream, touch folds continue after, final == union re-mine") {
    import spark.implicits._
    // sf0.01 (sf0.001's touch delta is degenerate, like q200): the
    // touched users arrive in four key-disjoint quarters, so the 60%
    // trigger fires mid-stream — foldTouched corrections land before
    // AND after the re-snapshot
    val dir = "/root/testdata/sf0.01"
    val got = graft.RelQueries
      .sequentialPatternTouchAutoResnapshot(spark, dir)
      .as[(String, Int, Long)].collect().toSet
    val want = graft.RelQueries.sequentialPatterns(spark, dir)
      .as[(String, Int, Long)].collect().toSet
    assert(got.nonEmpty && got == want,
      "touch folds + auto re-snapshot + touch folds must land exactly " +
        "on the union re-mine")
    val artDir = java.nio.file.Paths.get("/tmp",
      "graft-q203-" + dir.replaceAll("[^A-Za-z0-9.]", "_"), "seqpatterns")
    assert(graft.Fs.readCounter(artDir, "snap") >= 1L,
      "the 60%-headroom trigger never fired")
    assert(graft.Fs.readCounter(artDir, "cum") > 0L,
      "no touch fold landed AFTER the re-snapshot")
    val epoch = graft.Fs.readCounter(artDir, "epoch")
    assert(epoch == graft.Fs.readCounter(artDir, "snap"))
    val streamBase = artDir.getParent
    assert(java.nio.file.Files.exists(
      streamBase.resolve("corpus").resolve(s"e$epoch")))
    assert(!java.nio.file.Files.exists(
      streamBase.resolve("ingested").resolve("e0")),
      "absorbed epoch-0 ingest dirs must be swept after the trigger")
  }

  test("a delta of keys at or above minCount_union is refused (re-mine trigger)") {
    import spark.implicits._
    val stored = Seq(("a", 1, 5L)).toDF("pattern", "plen", "support")
    val delta = Seq((9L, 1L, 1L, "a")).toDF("u", "t", "i", "y")
    val e = intercept[IllegalArgumentException] {
      SequentialPatterns.refresh(stored, delta, "u", "t", "i", "y",
        minCountUnion = 3L, nAddedKeys = 3L)
    }
    assert(e.getMessage.contains("re-mine"))
  }

  test("equal timestamps order by event id") {
    // both events at t=1: id order makes the sequence (a, b), so a->b
    // is contained and b->a is not
    val rows = Seq((1L, 1L, 1L, "a"), (1L, 1L, 2L, "b"))
    val got = mine(rows, 1L, 1L)
    assert(got.contains("a->b") && !got.contains("b->a"))
  }

  test("empty input yields an empty frame, not a crash") {
    assert(mine(Nil, 4L, 5L).isEmpty)
  }
}
