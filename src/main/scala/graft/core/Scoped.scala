package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Explicit release of materialized intermediates.
  *
  * `Dataset.unpersist()` only releases CacheManager entries. The blocks
  * of a `localCheckpoint()`ed Dataset belong to the RDD behind its
  * `LogicalRDD` leaf, which [[free]] unpersists as well. Iterative loops
  * use it to drop the previous round's checkpoint once its successor is
  * materialized. A query's final checkpoints need no call: Spark's
  * ContextCleaner unpersists each checkpoint RDD once no plan references
  * it, and runners that share a session drop all storage between queries.
  */
object Scoped {

  /** Blocking, so removal is complete on return. A non-blocking unpersist
    * whose RDD handle is then dropped races the ContextCleaner's duplicate
    * RemoveRdd, which logs "Asked to remove block rdd_N_M" per block. */
  private val Blocking = true

  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd }

  /** Release `df`'s storage now: the checkpoint RDDs behind its plan and
    * its CacheManager entry. Safe to call twice. */
  def free(df: DataFrame): Unit = {
    checkpointRdds(df)
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(Blocking))
    df.unpersist(Blocking)
  }

  /** The RDD ids a caller clearing all storage must leave to another
    * releaser: always none, since nothing releases asynchronously. */
  def releaseAllArmed(spark: SparkSession): Set[Int] = Set.empty
}
