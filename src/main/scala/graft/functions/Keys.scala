package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Scale-safe surrogate-key assignment (SURVEY §2.7 K1; reference SERIAL
  * columns, `schema/warehouse_schema.sql:3,10,19,36`).
  *
  * Semantics: `withRank(df, out, keys)` ≡ `ROW_NUMBER() OVER (ORDER BY keys)`
  * — a dense, deterministic, 1-based global rank by the natural-key order —
  * but computed WITHOUT a single-partition global window (which at 10^7+ dim
  * rows is a one-task global sort, the r1 scale-killer):
  *
  *   1. `repartitionByRange(keys)` — range-partition so partition i holds
  *      strictly smaller keys than partition i+1 (equal keys co-locate).
  *   2. per-partition `row_number()` over `Window.partitionBy(pid)` — every
  *      partition sorts locally in parallel; no global exchange.
  *   3. cumulative partition offsets — per-partition counts are
  *      partition METADATA (one long per partition, like AQE stats), so the
  *      driver-side cumulative sum is O(#partitions), not O(rows); the same
  *      trick RDD `zipWithIndex` uses.
  *
  * Rank = local row_number + offset of all earlier partitions. Deterministic
  * regardless of where the sampled range boundaries fall, because the final
  * value is the global key order position, not the partition id.
  */
object Keys {

  /** Persisted range-partitioned intermediates, tracked per application so
    * long-lived sessions have a release path ([[graft.AppCache.evictAll]]).
    * The persist itself is CORRECTNESS-load-bearing, not an optimization:
    * a fresh evaluation of `repartitionByRange` re-samples boundaries under
    * a new RDD id, so recomputed partition ids could disagree with the
    * already collected offsets and silently corrupt ranks. Hence the
    * namespace is UNBOUNDED (it must never clear on a bound), and an evict
    * is safe only once every consumer of the ranked output is durably
    * materialized (written to a sink, or its own cache fully built). */
  private val tracked = graft.AppCache.namespace[DataFrame, DataFrame](
    "keys.ranked", release = _.unpersist(blocking = false))

  def withRank(df: DataFrame, out: String, keys: Seq[String]): DataFrame = {
    val keyCols: Seq[Column] = keys.map(col)
    val parted = df
      .repartitionByRange(keyCols: _*)
      .withColumn("_pid", spark_partition_id())
      // persist so the pid seen by the counts job and the main job agree
      .persist(StorageLevel.MEMORY_AND_DISK)
    tracked.put(df.sparkSession, parted, parted)
    val counts: Array[(Int, Long)] = parted
      .groupBy("_pid").agg(count(lit(1)).as("_n"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    val offsets = counts
      .scanLeft((0, 0L, 0L)) { case ((_, _, cum), (pid, n)) => (pid, cum, cum + n) }
      .tail.map { case (pid, off, _) => (pid, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = offsets.toSeq.toDF("_pid", "_offset")
    val w = Window.partitionBy("_pid").orderBy(keyCols: _*)
    parted
      .join(broadcast(offsetDf), Seq("_pid"))
      .withColumn(out, (row_number().over(w).cast(LongType) + col("_offset")))
      .drop("_pid", "_offset")
  }
}
