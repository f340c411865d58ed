package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Per-(session, sf-dir, name) memoization of expensive shared
  * intermediates (MinHash signatures, LSH codes) — the operator-layer
  * analogue of [[graft.etl.Warehouse]]: several registered queries fan out
  * from the same intermediate, and recomputing a shingle explosion per
  * query is the batch-job equivalent of a cache miss on every call. The
  * persisted plan spills to disk rather than OOMing, and the
  * [[graft.AppCache]] key is scoped to the application so tests and
  * verify runs never cross-talk. */
object Memo {

  private val cache = graft.AppCache.namespace[(String, String), DataFrame](
    "memo", release = releaseFrame)

  /** Frees a memoized frame's blocks: the frame's own persist AND every
    * localCheckpoint'd leaf it reads (e.g.
    * [[graft.operators.Dedup.connectedComponents]]' final-round labels).
    * `DataFrame.unpersist` is a no-op for checkpoints (they never register
    * with the CacheManager) — their blocks belong to the materialized RDD
    * inside the LogicalRDD leaf, so unpersist THAT. */
  private[graft] def releaseFrame(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  def apply(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    // rebind: the memo is app-scoped, the frame session-bound — a sibling
    // session (bench warm-up workers) gets the plan re-rooted onto its own
    // session; the app-shared cache manager still serves the persisted
    // blocks via canonicalized-plan match (SessionShim.rebind doc).
    org.apache.spark.sql.graft.SessionShim.rebind(spark,
      cache(spark, (dir, name))(build.persist(StorageLevel.MEMORY_AND_DISK)))
}
