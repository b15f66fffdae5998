package graft.fpm

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** `items, freq` — mirrors `pfp/FPGrowthCore.scala:153-154`. */
case class FreqItemset[Item](items: Array[Item], freq: Long)

/**
 * X => y rule with the reference's fields
 * (`pfp/AssociationRules.scala:98-126`).
 */
case class Rule[Item](
    antecedent: Array[Item],
    consequent: Array[Item],
    freqUnion: Double,
    freqAntecedent: Double,
    freqConsequent: Option[Double]) {
  require(antecedent.toSet.intersect(consequent.toSet).isEmpty,
    "antecedent and consequent must be disjoint")
  def confidence: Double = freqUnion / freqAntecedent
  def lift: Option[Double] = freqConsequent.map(confidence / _)
}

/**
 * Generic-Item RDD compatibility layer mirroring the reference core API
 * (`pfp/FPGrowthCore.scala:24-63`:
 * `FPGrowthCore().setMinSupport(..).setNumPartitions(..).run(RDD[Array[Item]])`).
 *
 * The DataFrame path ([[FPGrowth]]) is the engine; this shim exists so a
 * user of the reference's programmatic core can switch without rewriting
 * call sites, including non-String item types. Only the L1 pass is its
 * own; it mines through the engine's kernel ([[FPGrowth.condTransactions]],
 * [[FPGrowth.mineGroups]]) over balanced (EPFP) groups, one group per
 * task. A transaction with duplicate items fails the mining job.
 */
class FPGrowthCore[Item: ClassTag] private (
    private var minSupport: Double,
    private var numPartitions: Int) extends Serializable {

  def this() = this(0.3, -1)

  def setMinSupport(v: Double): this.type = {
    require(v >= 0.0 && v <= 1.0); minSupport = v; this
  }
  def setNumPartitions(v: Int): this.type = { numPartitions = v; this }

  /** (frequent itemsets, item -> support fraction, #transactions). */
  def run(data: RDD[Array[Item]]): (RDD[FreqItemset[Item]], Map[Item, Double], Long) = {
    val sc = data.sparkContext
    val count = data.count()
    val minCount = math.max(1L, math.ceil(minSupport * count).toLong)
    val numParts = if (numPartitions > 0) numPartitions else data.partitions.length

    val freqItems: Array[(Item, Long)] = data
      .flatMap(_.iterator.map(i => (i, 1L)))
      .reduceByKey(new HashPartitioner(numParts), _ + _)
      .filter(_._2 >= minCount)
      .collect()
      .sortBy(-_._2)

    val itemSupport = freqItems.iterator
      .map { case (i, c) => i -> c.toDouble / count }.toMap
    val rankOf = new java.util.HashMap[Item, Integer]
    freqItems.iterator.zipWithIndex.foreach { case ((item, _), r) => rankOf.put(item, r) }
    val bcRank = sc.broadcast(rankOf)
    val bcGroup = sc.broadcast(ItemGroups.balanced(numParts, freqItems.length))
    val bcItems = sc.broadcast(freqItems.map(_._1))

    // Group ids are 0 until numParts and HashPartitioner maps such an Int
    // to itself, so group g is mined by partition g.
    val itemsets = data
      .mapPartitions { it =>
        FPGrowth.condTransactions[Array[Item], Item](it, _.length, _(_), bcRank.value, bcGroup.value)
      }
      .partitionBy(new HashPartitioner(numParts))
      .mapPartitions { it =>
        val dict = bcItems.value
        FPGrowth.mineGroups(it, bcGroup.value, minCount)
          .map { case (ranks, f) => FreqItemset(ranks.map(dict), f) }
      }
    (itemsets, itemSupport, count)
  }
}

/**
 * Rule runner mirroring `PMAssociationRules().setMinConfidence
 * .run(freqItemsets, itemSupport)` (`pfp/AssociationRules.scala:21-82`):
 * explode each itemset into (antecedent, single consequent) candidates and
 * join back on the antecedent (as a canonical Seq key) for its frequency.
 */
class PMAssociationRules private (private var minConfidence: Double)
    extends Serializable {

  def this() = this(0.8)

  def setMinConfidence(v: Double): this.type = {
    require(v >= 0.0 && v <= 1.0); minConfidence = v; this
  }

  def run[Item: ClassTag](
      freqItemsets: RDD[FreqItemset[Item]],
      itemSupport: Map[Item, Double]): RDD[Rule[Item]] = {
    val sc = freqItemsets.sparkContext
    val bcSupport = sc.broadcast(itemSupport)
    val candidates = freqItemsets.flatMap { fi =>
      fi.items.iterator.map { cons =>
        val ant = fi.items.filterNot(_ == cons)
        (ant.toSeq, (cons, fi.freq))
      }.filter(_._1.nonEmpty)
    }
    val keyed = freqItemsets.map(fi => (fi.items.toSeq, fi.freq))
    val mc = minConfidence
    candidates
      .join(keyed)
      .map { case (ant, ((cons, freqUnion), freqAnt)) =>
        Rule(ant.toArray, Array(cons), freqUnion.toDouble, freqAnt.toDouble,
          bcSupport.value.get(cons))
      }
      .filter(_.confidence >= mc)
  }
}
