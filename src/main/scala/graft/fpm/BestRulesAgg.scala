package graft.fpm

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Aggregation buffer: best lift per consequent-vocab slot, NaN = the
  * consequent never fired for this group. Fixed-size primitive array —
  * bounded by the rule table's consequent vocabulary, NOT by how many
  * rules fire. */
final class BestLiftBuffer(val lifts: Array[Double])

/**
 * `best_rules_prediction(cons, lift)`: the prediction-assembly aggregate
 * of [[Predictor.predictRelational]] — per group, the distinct fired
 * consequents ordered by (best lift desc, consequent asc), joined with
 * ", ". Replaces the `collect_list(struct) → sort_array →
 * array_distinct → array_join` formulation, which allocated one struct
 * row PER FIRED (row, rule) PAIR and shuffled all of them (the q05b
 * probe fires ~20 distinct consequents across ~hundreds of rules per
 * basket — ~10M+ struct allocations and a struct-list shuffle per run,
 * the suite's dominant GC source, BENCH_NOTES round 10).
 *
 * Here update is ALLOCATION-FREE — one vocab-index lookup plus a
 * primitive max into the fixed buffer — and the partial aggregate
 * actually COMBINES: the shuffle carries one `|vocab|`-double buffer per
 * group instead of every fired pair (collect_list partials concatenate,
 * so they reduce nothing). The consequent vocabulary is bounded driver
 * metadata (it rides inside the expression, serialized with the plan),
 * pre-sorted in UTF8 binary order so the eval tie-break is
 * identical to the sort_array formulation this replaces (spec-pinned
 * byte-equal to the UDF path).
 */
case class BestRulesAgg(
    consExpr: Expression,
    liftExpr: Expression,
    conses: Array[String],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BestLiftBuffer] {

  override def children: Seq[Expression] = Seq(consExpr, liftExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  // Vocab in UTF8 BINARY order (the tie order of the sort_array
  // formulation); the index map is keyed by UTF8String so update-side
  // lookups never re-encode, built once per executor on deserialization.
  @transient private lazy val sortedUtf8: Array[UTF8String] = {
    // a null in the vocab (a rule row with an empty consequent array)
    // could fire nothing anyway — drop it rather than NPE the sort,
    // matching the formulation this replaced (which skipped null
    // consequents at aggregation time)
    val arr = conses.filter(_ != null).map(UTF8String.fromString)
    java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    arr
  }
  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](sortedUtf8.length * 2)
    sortedUtf8.zipWithIndex.foreach { case (u, i) => m.put(u, Integer.valueOf(i)) }
    m
  }

  override def createAggregationBuffer(): BestLiftBuffer =
    new BestLiftBuffer(Array.fill(sortedUtf8.length)(Double.NaN))

  override def update(buffer: BestLiftBuffer, input: InternalRow): BestLiftBuffer = {
    val c = consExpr.eval(input)
    if (c != null) {
      val i = index.get(c.asInstanceOf[UTF8String])
      if (i != null) {
        val l = liftExpr.eval(input)
        if (l != null) {
          val lift = l.asInstanceOf[Double]
          val idx = i.intValue()
          val cur = buffer.lifts(idx)
          if (cur.isNaN || lift > cur) buffer.lifts(idx) = lift
        }
      }
    }
    buffer
  }

  override def merge(buffer: BestLiftBuffer, other: BestLiftBuffer): BestLiftBuffer = {
    var i = 0
    while (i < buffer.lifts.length) {
      val o = other.lifts(i)
      if (!o.isNaN && (buffer.lifts(i).isNaN || o > buffer.lifts(i)))
        buffer.lifts(i) = o
      i += 1
    }
    buffer
  }

  override def eval(buffer: BestLiftBuffer): Any = {
    // fired slots ordered by (lift desc, vocab index asc) — index order
    // IS consequent-binary order, so ties match sort_array's
    val fired = buffer.lifts.indices.filter(i => !buffer.lifts(i).isNaN)
    if (fired.isEmpty) return UTF8String.EMPTY_UTF8
    val ordered = fired.sortBy(i => (-buffer.lifts(i), i))
    val sb = new java.lang.StringBuilder
    ordered.foreach { i =>
      if (sb.length > 0) sb.append(", ")
      sb.append(sortedUtf8(i).toString)
    }
    UTF8String.fromString(sb.toString)
  }

  /** Wire format: the fixed-size lift array (NaN = unfired). */
  override def serialize(buffer: BestLiftBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.lifts.length * 8)
    buffer.lifts.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BestLiftBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    new BestLiftBuffer(Array.fill(bytes.length / 8)(bb.getDouble()))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BestRulesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BestRulesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BestRulesAgg =
    copy(consExpr = newChildren(0), liftExpr = newChildren(1))
  override def prettyName: String = "best_rules_prediction"
}

object BestRulesAgg {

  /** Column form: the ", "-joined prediction string per group. */
  def best_rules_prediction(
      cons: Column, lift: Column, conses: Array[String]): Column =
    GraftShims.toColumn(
      BestRulesAgg(
        GraftShims.toExpression(cons), GraftShims.toExpression(lift),
        conses).toAggregateExpression())
}
