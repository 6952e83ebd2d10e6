package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.util.hashing.byteswap32

import org.apache.spark.RangePartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.util.random.SamplingUtils

/** Bridge to the `private[spark]` sampling behind `RangePartitioner`,
  * with the seed in the caller's hands. `repartitionByRange` seeds its
  * reservoir sample with the RDD's id, so its boundaries, and the file
  * layout a sorted write leaves, depend on how many RDDs the session
  * made before. [[bounds]] takes the same per-partition reservoir
  * sample and the same weighted boundaries, seeded by `seed` and the
  * input partition index only. Same access-package pattern as
  * [[ListenerBridge]]. */
object RangeBridge {

  /** Up to `partitions - 1` ascending boundaries splitting `keys` into
    * near-equal ranges: `RangePartitioner`'s boundaries, from a sample
    * of `pointsPerPartition` keys per output partition (capped at a
    * million, oversampled 3x per input partition as Spark does). An
    * input partition that fits its reservoir is taken whole, so a
    * small input gets exact quantiles. */
  def bounds[K: Ordering: ClassTag](keys: RDD[K], partitions: Int,
                                    pointsPerPartition: Int,
                                    seed: Int): Array[K] =
    if (partitions <= 1 || keys.partitions.isEmpty) Array.empty[K]
    else {
      val sampleSize = math.min(pointsPerPartition.toDouble * partitions, 1e6)
      val perInput = math.ceil(3.0 * sampleSize / keys.partitions.length).toInt
      val sketched = keys.mapPartitionsWithIndex { (idx, it) =>
        val (sample, n) = SamplingUtils.reservoirSampleAndCount(it, perInput,
          byteswap32(idx ^ seed).toLong)
        Iterator((n, sample))
      }.collect()
      val candidates = ArrayBuffer.empty[(K, Float)]
      sketched.foreach { case (n, sample) =>
        val weight = (n.toDouble / math.max(sample.length, 1)).toFloat
        sample.foreach(k => candidates += ((k, weight)))
      }
      RangePartitioner.determineBounds(candidates, partitions)
    }
}
