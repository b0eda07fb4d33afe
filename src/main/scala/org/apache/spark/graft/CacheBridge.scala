package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** `SparkContext.getPreferredLocs` is `private[spark]`; a search task
  * that reads a persisted block prefers the executors caching it. Same
  * bridge pattern as [[ListenerBridge]].
  */
object CacheBridge {

  /** The executors caching `rdd`'s first partition, as preferred
    * locations; empty while it is not cached.
    */
  def cachedAt(rdd: RDD[_]): Seq[String] =
    rdd.sparkContext.getPreferredLocs(rdd, 0).map(_.toString)
}
