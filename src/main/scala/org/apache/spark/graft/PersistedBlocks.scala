package org.apache.spark.graft

import org.apache.spark.rdd.LocalRDDCheckpointData
import org.apache.spark.sql.SparkSession

/** Drops the blocks a finished query left behind, for the mains that run
  * one query after another (`graft.Bench`, `graft.Verify`,
  * `graft.PlanReport`): the intermediates operators `localCheckpoint` are
  * garbage once the action ran and would otherwise squeeze the memory
  * pool. `RDD.unpersist` logs a WARN for every locally checkpointed RDD
  * ("its lineage has been truncated ...") — expected, and enough of them
  * to bury a run's real warnings. `SparkContext.unpersistRDD`, the call
  * behind it, drops the same blocks silently but is `private[spark]`;
  * this same-package object (the [[ListenerDrain]] escape hatch) reaches
  * it.
  */
object PersistedBlocks {
  /** Drop every persisted RDD's blocks (locally checkpointed ones without
    * the truncated-lineage warning) and clear the SQL cache. */
  def dropAll(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach { rdd =>
      if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
        sc.unpersistRDD(rdd.id, blocking = false)
      else rdd.unpersist(blocking = false)
    }
    spark.catalog.clearCache()
  }
}
