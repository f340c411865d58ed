package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-rebinding for frames that cross session boundaries.
  *
  * The library memoizes expensive shared lineages per APPLICATION
  * ([[graft.AppCache]] namespaces such as [[graft.etl.Warehouse]] and
  * [[graft.functions.Memo]]): any session of the
  * app gets the same DataFrame back, and the shared block-manager cache
  * makes that correct and cheap. But a `DataFrame` is bound to the session
  * that ANALYZED it — `createOrReplaceTempView` registers in the frame's
  * own session catalog, not the caller's — so a caller on a sibling
  * session (the bench's conf-isolated warm-up workers) would register the
  * view where its own `sql(...)` cannot see it. [[rebind]] re-roots the
  * frame's logical plan onto the caller's session; the cache manager is
  * application-shared and matches by canonicalized plan, so a rebound
  * frame still reads the memoized InMemoryRelation instead of recomputing.
  * A rebound [[leaf]] shares the same RDD: the leaf is its whole plan, so
  * the caller's session reads the same persisted blocks, with no cache
  * lookup at all.
  */
object SessionShim {
  /** Re-roots on the ANALYZED plan, not the raw logical one: rebinding
    * the pre-analysis plan re-resolved sql()-rooted trees and unresolved
    * expressions (e.g. expr("vec_dot(...)")) against the CALLER's
    * catalog/FunctionRegistry — where session-local registrations made
    * inside the builder's memoized block may be absent (r18 ADVICE:
    * AnalysisException or wrong temp-view resolution depending on
    * warm-up ordering). Re-analysis of an already-resolved plan is
    * idempotent, and cache matching is by canonicalized plan, so the
    * persisted stages are still hit. */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** A one-node frame over `df`'s executed rows: a `LogicalRDD` over
    * `df.queryExecution.toRdd`, carrying `df`'s output partitioning, its
    * ordering and its optimized plan's statistics (for a persisted,
    * materialized frame: the cached relation's real size), so planners
    * size joins on it exactly as on `df`. Nothing of `df`'s lineage is in
    * the leaf's plan, so no query over it re-plans, re-canonicalizes or
    * re-prints that lineage. The rows are not copied: for a persisted
    * `df` the RDD reads its cached blocks, and a lost block recomputes
    * through the RDD's lineage. */
  def leaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
