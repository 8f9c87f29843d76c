package org.apache.spark.graftshim

import org.apache.spark.rdd.RDD

/** Drops a persisted RDD's blocks and its `getPersistentRDDs` entry.
  * `RDD.unpersist` does the same but warns, for every locally checkpointed
  * RDD, that its truncated lineage cannot be recomputed; a caller done
  * with the frame wants exactly that, so the warning would only be noise
  * on every store op. `unpersistRDD` is `private[spark]`, hence this shim
  * (same pattern as ListenerShim). */
object RddShim {
  def drop(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
