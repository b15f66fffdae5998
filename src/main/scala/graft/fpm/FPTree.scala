package graft.fpm

import scala.collection.mutable

/**
 * Array-packed FP-tree over dense Int item ids. Semantically equivalent to
 * the reference's FP-tree
 * (`/root/reference/src/main/java/fdu/cst/bigdata/pfp/FPTree.scala:11-98`)
 * but a different architecture: the tree is primitive arrays addressed by
 * index, so building and mining it allocate no boxed values and no
 * per-node objects. One tree is built per mining group inside a single
 * task, and that task's time is what the group balance spreads.
 *
 * Layout:
 *  - nodes: parallel arrays `itemOf`/`parentOf`/`countOf`, index 0 the root;
 *  - header table: `supportOf(item)` and a node-link chain per item,
 *    `headOf(item)` then `nextSame(node)` (0 ends the chain; the root is
 *    never in one) — the classic FP-tree header;
 *  - child index: (parent << 32 | item) -> node in an open-addressing table
 *    (`childKey: long[]`, `childNode: int[]`, linear probing, node 0 =
 *    empty slot), sized at twice the node capacity and rebuilt from the
 *    node arrays when they grow.
 * The earlier tree kept these three maps in Scala's mutable long-keyed
 * hash maps, which box their values: every support increment and node
 * insert allocated, and the mining stage spent most of its GC time on
 * them.
 *
 * Conditional trees are bounded by their own base, not by the frequent-item
 * list: a conditional tree numbers the items frequent in its prefix base
 * 0 until k in ascending id order (so ascending order, the insertion
 * contract, is kept) and `labels` maps each local id back to its global
 * rank. The base is counted, and the prefix paths collected, in one
 * [[FPTree.Scratch]] per `extract` call, sized by the top-level tree and
 * reset through a touched list; a conditional tree allocates only arrays
 * of length k or sized by its own nodes.
 *
 * Transactions MUST be added with items in ascending rank order (the
 * caller sorts once, in [[FPGrowth.condTransactions]]).
 */
final class FPTree private (
    private var numItems: Int,
    private val labels: Array[Int],
    private var capacity: Int) extends Serializable {

  /** An empty tree over global ranks (rank 0 = most frequent item). */
  def this() = this(0, null, 64)

  private var itemOf = new Array[Int](capacity)
  private var parentOf = new Array[Int](capacity)
  private var countOf = new Array[Long](capacity)
  private var nextSame = new Array[Int](capacity)
  private var size = 1 // index 0 is the root

  private var supportOf = new Array[Long](math.max(numItems, 8))
  private var headOf = new Array[Int](math.max(numItems, 8))

  private var childKey = new Array[Long](2 * capacity)
  private var childNode = new Array[Int](2 * capacity)
  private var shift = 64 - Integer.numberOfTrailingZeros(2 * capacity)

  itemOf(0) = -1; parentOf(0) = -1

  @inline private def key(parent: Int, item: Int): Long =
    (parent.toLong << 32) | (item.toLong & 0xffffffffL)

  /** Fibonacci hashing: the top bits of key * 2^64/phi pick the slot. */
  @inline private def slotOf(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> shift).toInt

  /** The global rank of item id `item`. */
  @inline private def rank(item: Int): Int = if (labels == null) item else labels(item)

  private def grow(): Unit = {
    capacity *= 2
    itemOf = java.util.Arrays.copyOf(itemOf, capacity)
    parentOf = java.util.Arrays.copyOf(parentOf, capacity)
    countOf = java.util.Arrays.copyOf(countOf, capacity)
    nextSame = java.util.Arrays.copyOf(nextSame, capacity)
    childKey = new Array[Long](2 * capacity)
    childNode = new Array[Int](2 * capacity)
    shift -= 1
    val mask = childNode.length - 1
    var n = 1
    while (n < size) {
      val k = key(parentOf(n), itemOf(n))
      var s = slotOf(k)
      while (childNode(s) != 0) s = (s + 1) & mask
      childKey(s) = k
      childNode(s) = n
      n += 1
    }
  }

  private def growItems(item: Int): Unit = {
    val n = math.max(item + 1, 2 * supportOf.length)
    supportOf = java.util.Arrays.copyOf(supportOf, n)
    headOf = java.util.Arrays.copyOf(headOf, n)
  }

  /** Add one transaction (ascending-rank item array) with weight `count`. */
  def add(txn: Array[Int], count: Long = 1L): this.type = {
    require(count >= 1L, s"count must be >= 1 but got $count")
    insert(txn, 0, txn.length, count)
    this
  }

  /** Insert the path `path(from until until)` (ascending ids) with weight `count`. */
  private def insert(path: Array[Int], from: Int, until: Int, count: Long): Unit = {
    var curr = 0
    var i = from
    while (i < until) {
      val item = path(i)
      if (item >= supportOf.length) growItems(item)
      if (item >= numItems) numItems = item + 1
      supportOf(item) += count
      if (size == capacity) grow()
      val mask = childNode.length - 1
      val k = key(curr, item)
      var s = slotOf(k)
      while (childNode(s) != 0 && childKey(s) != k) s = (s + 1) & mask
      val next = childNode(s)
      if (next != 0) {
        countOf(next) += count
        curr = next
      } else {
        val idx = size
        size += 1
        itemOf(idx) = item
        parentOf(idx) = curr
        countOf(idx) = count
        nextSame(idx) = headOf(item)
        headOf(item) = idx
        childKey(s) = k
        childNode(s) = idx
        curr = idx
      }
      i += 1
    }
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
    val scratch = new FPTree.Scratch(numItems)
    var item = 0
    while (item < numItems) {
      val support = supportOf(item)
      if (support > 0L && support >= minCount && validateSuffix(rank(item))) {
        mineSuffix(item, Array(rank(item)), minCount, scratch, out)
      }
      item += 1
    }
    out.iterator
  }

  /** Emit (pattern, support of `item`), then mine `item`'s conditional tree;
    * `pattern` holds the global ranks, `item` first. */
  private def mineSuffix(
      item: Int,
      pattern: Array[Int],
      minCount: Long,
      scratch: FPTree.Scratch,
      out: mutable.ArrayBuffer[(Array[Int], Long)]): Unit = {
    out += ((pattern, supportOf(item)))
    val cond = conditionalTree(item, minCount, scratch)
    if (cond != null) {
      var sub = 0
      while (sub < cond.numItems) {
        // sub has lower rank than every pattern item: prepend keeps order.
        val next = new Array[Int](pattern.length + 1)
        next(0) = cond.labels(sub)
        System.arraycopy(pattern, 0, next, 1, pattern.length)
        cond.mineSuffix(sub, next, minCount, scratch, out)
        sub += 1
      }
    }
  }

  /**
   * Conditional tree for `item`: prefix paths above each of its nodes,
   * weighted by the node count, pruned to items frequent within the base
   * and renumbered to local ids. Returns null when no item is frequent in
   * the base (this includes an item that occurs only at depth 1).
   */
  private def conditionalTree(item: Int, minCount: Long, scratch: FPTree.Scratch): FPTree = {
    import scratch.{base, touched, localOf, path}
    // First pass: conditional support of each prefix item.
    var numTouched = 0
    var node = headOf(item)
    while (node != 0) {
      val c = countOf(node)
      var cur = parentOf(node)
      while (cur != 0) {
        val it = itemOf(cur)
        if (base(it) == 0L) { touched(numTouched) = it; numTouched += 1 }
        base(it) += c
        cur = parentOf(cur)
      }
      node = nextSame(node)
    }
    var numFreq = 0
    var i = 0
    while (i < numTouched) {
      if (base(touched(i)) >= minCount) numFreq += 1
      i += 1
    }
    val labels = new Array[Int](numFreq)
    numFreq = 0
    i = 0
    while (i < numTouched) {
      val it = touched(i)
      if (base(it) >= minCount) { labels(numFreq) = it; numFreq += 1 }
      localOf(it) = -1
      base(it) = 0L
      i += 1
    }
    if (numFreq == 0) return null
    // Local ids in ascending id order keep the insertion contract.
    java.util.Arrays.sort(labels)
    i = 0
    while (i < numFreq) {
      localOf(labels(i)) = i
      labels(i) = rank(labels(i))
      i += 1
    }
    // Second pass: insert each pruned prefix path. Walking leaf -> root
    // meets descending ids, so the path fills `path` from its end.
    val tree = new FPTree(numFreq, labels, 16)
    node = headOf(item)
    while (node != 0) {
      var from = path.length
      var cur = parentOf(node)
      while (cur != 0) {
        val local = localOf(itemOf(cur))
        if (local >= 0) { from -= 1; path(from) = local }
        cur = parentOf(cur)
      }
      if (from < path.length) tree.insert(path, from, path.length, countOf(node))
      node = nextSame(node)
    }
    tree
  }
}

object FPTree {

  /**
   * Work arrays for one `extract`, indexed by item id and shared by every
   * conditional tree it builds: ids of a conditional tree are below its
   * parent's, so the top-level tree's item count bounds them all. `base`
   * is all zero between uses (reset through `touched`); `localOf` is
   * written for every touched item before it is read.
   */
  private final class Scratch(numItems: Int) {
    val base = new Array[Long](numItems)
    val touched = new Array[Int](numItems)
    val localOf = new Array[Int](numItems)
    val path = new Array[Int](numItems)
  }
}
