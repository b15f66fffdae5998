package graft.fpm

/**
 * Item-rank -> mining-group assignment strategies.
 *
 * PFP shards the itemset-generation shuffle by item group; the reference
 * offers a plain hash assignment (`pfp/FPGrowthCore.scala:56`) and the
 * project's contribution, a load-balanced assignment
 * (`/root/reference/src/main/java/fdu/cst/bigdata/epfp/BalancedPartitioner.scala:14-45`):
 * rank r is assigned an estimated mining cost ~ log(r), because the
 * conditional tree of a low-frequency (high-rank) item draws prefixes from
 * all r higher-frequency items.
 *
 * We reproduce both as a precomputed rank->group array — in DataFrame land
 * there is no user `Partitioner`; [[FPGrowth]] shuffles with the group id
 * as the partition id (`repartitionById`), so the group count is the
 * mining task count and group g is mined by task g. A hash shuffle on the
 * id would undo the packing: Murmur3 collides groups onto shared
 * partitions and leaves others empty.
 */
object ItemGroups {

  /** HashPartitioner-equivalent for non-negative Int ranks: rank % groups. */
  def hashed(numGroups: Int, numItems: Int): Array[Int] =
    Array.tabulate(numItems)(r => r % numGroups)

  /**
   * Longest-processing-time (LPT) greedy packing: visit ranks by weight
   * descending (weight(r) = log(r + 2), monotone in r) and place each in
   * the currently lightest group. Classic LPT gives a 4/3-approximation of
   * the optimal makespan — i.e., no straggler group.
   */
  def balanced(numGroups: Int, numItems: Int): Array[Int] = {
    val groupOf = new Array[Int](numItems)
    if (numItems == 0) return groupOf
    // Min-heap of (load, group); weights descend as rank descends, so visit
    // ranks from numItems-1 down to 0.
    val heap = new java.util.PriorityQueue[(Double, Int)](
      math.max(1, numGroups),
      (a: (Double, Int), b: (Double, Int)) => {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else Integer.compare(a._2, b._2)
      })
    var g = 0
    while (g < numGroups) { heap.add((0.0, g)); g += 1 }
    var r = numItems - 1
    while (r >= 0) {
      val (load, grp) = heap.poll()
      groupOf(r) = grp
      heap.add((load + math.log(r + 2.0), grp))
      r -= 1
    }
    groupOf
  }

  /** Max/mean load ratio under weight(r) = log(r + 2); 1.0 = perfect. */
  def loadImbalance(groupOf: Array[Int], numGroups: Int): Double = {
    if (groupOf.isEmpty || numGroups == 0) return 1.0
    val loads = new Array[Double](numGroups)
    var r = 0
    while (r < groupOf.length) { loads(groupOf(r)) += math.log(r + 2.0); r += 1 }
    val mean = loads.sum / numGroups
    if (mean == 0.0) 1.0 else loads.max / mean
  }
}
