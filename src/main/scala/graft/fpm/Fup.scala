package graft.fpm

import org.apache.spark.sql.{DataFrame, Row}

/**
 * The FUP/FUP2 maintenance step both pattern families share (Cheung et
 * al. 1996, "Maintenance of Discovered Association Rules in Large
 * Databases"; 1997, "A General Incremental Technique for Maintaining
 * Discovered Association Rules"): a stored artifact of `(key, count)`
 * candidates is brought up to date by EXACT signed correction counts
 * over the changed data only — `count_new = count_stored + Σ sign ×
 * count(side)` — never by re-mining and never by rescanning the old
 * corpus. Each family supplies the two things the algebra needs: a
 * support counter over its own unit (transactions, or keys' event
 * sequences) and a containment test; what makes its counts additive is
 * the family's own contract (see its scaladoc).
 *
 * THE CANDIDATE BOUND. An artifact mined at the reduced probe threshold
 * `minCount_union − charged` contains every pattern that can be
 * frequent afterwards, where `charged` is the cumulative number of
 * units that can RAISE a count (added transactions, new keys, touched
 * keys): a pattern absent from the artifact had `count_old <
 * minCount_union − charged`, and the change adds at most `charged`.
 * The bound holds only while `charged < minCount_union` — a larger
 * change is not an increment (patterns frequent in the change alone
 * could appear without ever being candidates), and the caller must
 * re-mine ([[requireBound]]). Re-snapshot well before that point: the
 * probe threshold, and with it the artifact size, degrades as `charged`
 * grows.
 *
 * DELETIONS ARE FREE. A removal only lowers counts, so a pattern
 * frequent afterwards had `count_old >= count_new >= minCount_new` and
 * is already a candidate of any artifact mined at or below
 * `minCount_new`: removed transactions and erased keys carry no bound
 * term. (With net deletions `minCount_new` itself shrinks; the caller
 * prices that into the probe.)
 *
 * Folds are un-thresholded: the candidate set stays intact, so folding
 * batches is associative (`fold(fold(A, d1), d2) == fold(A, d1 ++ d2)`)
 * and the threshold applies once, at read. Thresholding mid-stream
 * would drop probe-only candidates that later batches still need.
 */
private[fpm] object Fup {

  /** The full-re-mine trigger: `charged` cumulative raising units
    * against `minCountUnion` (a 0-unit change adds nothing and is sound
    * at any threshold, including the degenerate `minCountUnion = 0`). */
  def requireBound(charged: Long, minCountUnion: Long, unit: String): Unit =
    require(charged == 0 || charged < minCountUnion,
      s"cumulative $unit of $charged >= minCount_union $minCountUnion: " +
        "the candidate bound no longer holds — re-mine from scratch " +
        "(see graft.fpm.Fup)")

  /**
   * One FUP fold: collect the support-bounded artifact ONCE (the
   * histogram/codebook collect discipline), hand its keys to the
   * family's `corrections` — which runs the family's one distributed
   * correction pass and returns `key -> Σ sign × count` — and add them
   * to the stored counts. Every other column passes through unchanged.
   * The result is a local frame with `stored`'s columns and types; the
   * merge is exact integer addition on candidate-sized rows.
   */
  def fold(stored: DataFrame, keyCol: String, countCol: String)(
      corrections: Seq[String] => Map[String, Long]): DataFrame = {
    val k = stored.schema.fieldIndex(keyCol)
    val c = stored.schema.fieldIndex(countCol)
    val art = stored.collect().toSeq
    val corr = corrections(art.map(_.getString(k)))
    val folded = art.map { r =>
      Row.fromSeq(r.toSeq.updated(c,
        r.getLong(c) + corr.getOrElse(r.getString(k), 0L)))
    }
    stored.sparkSession.createDataFrame(
      java.util.Arrays.asList(folded: _*), stored.schema)
  }
}
