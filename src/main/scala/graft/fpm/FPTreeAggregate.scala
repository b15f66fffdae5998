package graft.fpm

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Aggregation buffer: one FP-tree plus the group id it belongs to. */
final class FPTreeBuffer(var tree: FPTree, var gid: Int)

/**
 * FP-Growth mining as a Catalyst `TypedImperativeAggregate` — the
 * SURVEY.md §4 stretch goal. `fp_patterns(gid, ranks)` aggregates the
 * conditional transactions of a mining group into an FP-tree and emits the
 * group's owned frequent patterns:
 *
 *   condTxns.groupBy($"gid").agg(fp_patterns($"gid", $"ranks", ...))
 *
 * Unlike the per-group `mapPartitions` path, this gets Catalyst's partial
 * aggregation: map-side partial FP-trees are built per partition and
 * shuffled as compact serialized path-multisets (the MLlib
 * `aggregateByKey` shape), which wins when transactions share prefixes
 * densely — the shuffle then carries merged paths, not raw transactions.
 *
 * `minCount` and the rank->group table ride inside the expression
 * (broadcast with the serialized plan); the group id rides in the buffer
 * so `eval` can apply the exactly-once owner gate.
 */
case class FPPatternsAgg(
    gidExpr: Expression,
    txnExpr: Expression,
    minCount: Long,
    groupOf: Array[Int],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FPTreeBuffer] {

  override def children: Seq[Expression] = Seq(gidExpr, txnExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ranks", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("freq", LongType, nullable = false))))

  override def createAggregationBuffer(): FPTreeBuffer =
    new FPTreeBuffer(new FPTree, -1)

  override def update(buffer: FPTreeBuffer, input: InternalRow): FPTreeBuffer = {
    val gid = gidExpr.eval(input)
    val txn = txnExpr.eval(input)
    if (gid != null && txn != null) {
      buffer.gid = gid.asInstanceOf[Int]
      buffer.tree.add(txn.asInstanceOf[ArrayData].toIntArray())
    }
    buffer
  }

  override def merge(buffer: FPTreeBuffer, other: FPTreeBuffer): FPTreeBuffer = {
    if (other.gid >= 0) buffer.gid = other.gid
    buffer.tree.merge(other.tree)
    buffer
  }

  override def eval(buffer: FPTreeBuffer): Any = {
    val gid = buffer.gid
    val rows = buffer.tree
      .extract(minCount, r => groupOf(r) == gid)
      .map { case (ranks, freq) =>
        InternalRow(new GenericArrayData(ranks), freq)
      }.toArray[Any]
    new GenericArrayData(rows)
  }

  /** Path-multiset wire format: [gid][nPaths]{[len][ranks...][count]}. */
  override def serialize(buffer: FPTreeBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.gid)
    val paths = buffer.tree.paths.toArray
    out.writeInt(paths.length)
    paths.foreach { case (ranks, count) =>
      out.writeInt(ranks.length)
      ranks.foreach(out.writeInt)
      out.writeLong(count)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): FPTreeBuffer = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val gid = in.readInt()
    val tree = new FPTree
    val nPaths = in.readInt()
    var i = 0
    while (i < nPaths) {
      val len = in.readInt()
      val ranks = new Array[Int](len)
      var j = 0
      while (j < len) { ranks(j) = in.readInt(); j += 1 }
      tree.add(ranks, in.readLong())
      i += 1
    }
    new FPTreeBuffer(tree, gid)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FPPatternsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FPPatternsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FPPatternsAgg =
    copy(gidExpr = newChildren(0), txnExpr = newChildren(1))
  override def prettyName: String = "fp_patterns"
}

object FPTreeAggregate {

  /** Column form: array<struct<ranks:array<int>, freq:long>> per group. */
  def fp_patterns(
      gid: Column, txn: Column, minCount: Long, groupOf: Array[Int]): Column =
    GraftShims.toColumn(
      FPPatternsAgg(
        GraftShims.toExpression(gid), GraftShims.toExpression(txn),
        minCount, groupOf).toAggregateExpression())
}
