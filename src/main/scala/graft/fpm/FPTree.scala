package graft.fpm

import scala.collection.mutable

/**
 * Array-packed FP-tree over dense Int item ranks (rank 0 = most frequent
 * item). Semantically equivalent to the reference's FP-tree
 * (`/root/reference/src/main/java/fdu/cst/bigdata/pfp/FPTree.scala:11-98`)
 * but a different architecture: nodes live in growable parallel arrays
 * (`itemOf`/`parentOf`/`countOf`) addressed by index, children are resolved
 * through a single LongMap keyed by (parentIdx << 32 | item), and the
 * header table maps each item to the indices of its nodes. No per-node
 * objects, no parent pointers in an object graph — cache-friendly and
 * cheap to build, which matters because one tree is built per mining
 * group inside a single task.
 *
 * Transactions MUST be added with items in ascending rank order (the
 * caller sorts once, in [[FPGrowth.condTransactions]]).
 */
final class FPTree extends Serializable {

  private var capacity = 64
  private var itemOf = new Array[Int](capacity)
  private var parentOf = new Array[Int](capacity)
  private var countOf = new Array[Long](capacity)
  private var size = 1 // index 0 is the root

  /** (parentIdx << 32 | item) -> child node index. */
  private val childIndex = mutable.LongMap.empty[Int]

  /** item -> indices of all nodes carrying that item. */
  private val nodesOf = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]

  /** item -> total count across all its nodes. */
  private val supportOf = mutable.LongMap.empty[Long]

  itemOf(0) = -1; parentOf(0) = -1; countOf(0) = 0L

  @inline private def key(parent: Int, item: Int): Long =
    (parent.toLong << 32) | (item.toLong & 0xffffffffL)

  private def grow(): Unit = {
    capacity *= 2
    itemOf = java.util.Arrays.copyOf(itemOf, capacity)
    parentOf = java.util.Arrays.copyOf(parentOf, capacity)
    countOf = java.util.Arrays.copyOf(countOf, capacity)
  }

  def nodeCount: Int = size - 1
  def isEmpty: Boolean = size == 1
  def itemSupport(item: Int): Long = supportOf.getOrElse(item.toLong, 0L)
  def items: Iterator[Int] = supportOf.keysIterator.map(_.toInt)

  /** Add one transaction (ascending-rank item array) with weight `count`. */
  def add(txn: Array[Int], count: Long = 1L): this.type = {
    var curr = 0
    var i = 0
    while (i < txn.length) {
      val item = txn(i)
      supportOf(item.toLong) = supportOf.getOrElse(item.toLong, 0L) + count
      val k = key(curr, item)
      val next = childIndex.getOrElse(k, -1)
      if (next >= 0) {
        countOf(next) += count
        curr = next
      } else {
        if (size == capacity) grow()
        val idx = size
        size += 1
        itemOf(idx) = item
        parentOf(idx) = curr
        countOf(idx) = count
        childIndex(k) = idx
        nodesOf.getOrElseUpdate(item.toLong, mutable.ArrayBuffer.empty[Int]) += idx
        curr = idx
      }
      i += 1
    }
    this
  }

  /**
   * Mine all frequent patterns with support >= minCount.
   *
   * `validateSuffix(item)` gates TOP-LEVEL suffixes only: a pattern is
   * emitted iff its largest-rank (least frequent) item passes. In the PFP
   * setting the gate is "this group owns the item", which makes the global
   * pattern set an exact disjoint union across groups — the same
   * exactly-once ownership rule as the reference
   * (`pfp/FPGrowthCore.scala:107-108`, `pfp/FPTree.scala:85-88`).
   *
   * Patterns are emitted as ascending-rank arrays.
   */
  def extract(
      minCount: Long,
      validateSuffix: Int => Boolean = _ => true): Iterator[(Array[Int], Long)] = {
    val out = mutable.ArrayBuffer.empty[(Array[Int], Long)]
    supportOf.foreachEntry { (itemL, support) =>
      val item = itemL.toInt
      if (support >= minCount && validateSuffix(item)) {
        mineSuffix(item, support, Array(item), minCount, out)
      }
    }
    out.iterator
  }

  /** Emit (suffix, support), then recursively mine suffix's conditional tree. */
  private def mineSuffix(
      item: Int,
      support: Long,
      pattern: Array[Int],
      minCount: Long,
      out: mutable.ArrayBuffer[(Array[Int], Long)]): Unit = {
    out += ((pattern, support))
    val cond = conditionalTree(item, minCount)
    if (cond != null) {
      cond.supportOf.foreachEntry { (subL, subSupport) =>
        val sub = subL.toInt
        if (subSupport >= minCount) {
          // sub has lower rank than every pattern item: prepend keeps order.
          val next = new Array[Int](pattern.length + 1)
          next(0) = sub
          System.arraycopy(pattern, 0, next, 1, pattern.length)
          cond.mineSuffix(sub, subSupport, next, minCount, out)
        }
      }
    }
  }

  /**
   * Conditional tree for `item`: prefix paths above each of its nodes,
   * weighted by the node count, pruned to items frequent within the base.
   * Returns null when the base is empty (item only occurs at depth 1).
   */
  private def conditionalTree(item: Int, minCount: Long): FPTree = {
    val nodes = nodesOf.getOrElse(item.toLong, null)
    if (nodes == null) return null
    // First pass: conditional support of each prefix item.
    val baseSupport = mutable.LongMap.empty[Long]
    nodes.foreach { idx =>
      val c = countOf(idx)
      var cur = parentOf(idx)
      while (cur != 0) {
        val it = itemOf(cur).toLong
        baseSupport(it) = baseSupport.getOrElse(it, 0L) + c
        cur = parentOf(cur)
      }
    }
    if (baseSupport.isEmpty) return null
    val tree = new FPTree
    val buf = mutable.ArrayBuffer.empty[Int]
    nodes.foreach { idx =>
      val c = countOf(idx)
      buf.clear()
      var cur = parentOf(idx)
      while (cur != 0) {
        val it = itemOf(cur)
        if (baseSupport(it.toLong) >= minCount) buf += it
        cur = parentOf(cur)
      }
      if (buf.nonEmpty) {
        // buf is in descending rank order (walked leaf -> root); reverse.
        val arr = new Array[Int](buf.length)
        var j = 0
        while (j < buf.length) { arr(j) = buf(buf.length - 1 - j); j += 1 }
        tree.add(arr, c)
      }
    }
    if (tree.isEmpty) null else tree
  }
}
