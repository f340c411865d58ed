package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture table readers (see TESTDATA.md / FIXTURES.md §2).
  *
  * Plain parquet scans: Catalyst pushes filters and prunes columns into the
  * scan automatically, so downstream operators should *not* cache or
  * materialize here — every query gets a scan tailored to exactly the
  * columns/rows it touches (`.explain` shows `PushedFilters`/`ReadSchema`).
  * At 100 TB the same code runs unchanged: parquet footer pruning +
  * partition pruning do the heavy lifting; nothing in this layer is
  * driver-bound.
  */
object Tables {
  /** Reads with the table's schema, inferred once per path: parquet
    * schema inference runs a Spark job, which every read paid again
    * (two in `q_region_sales`, one per raw table in the staging build). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemas(spark, path)(spark.read.parquet(path).schema)).parquet(path)
  }

  private val schemas = AppCache.namespace[String, org.apache.spark.sql.types.StructType](
    "tables.schemas")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  /** `events.ts` has shipped in two physical spellings across fixture
    * generations, normalized here to session-zoned TimestampType either
    * way (the oracle's `make_timestamp(epoch_ns(ts) // 1000)` is the
    * same normalization: a ns→us truncation on the old fixture, an
    * identity on the new):
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it,
    *    so read raw long nanos (legacy conf) and truncate to micros with
    *    integer division (`div`, not `/` — float division would round
    *    through a 53-bit mantissa and corrupt ~1.7e18-scale nanos);
    *  - parquet timestamp[us] (naive): arrives as TIMESTAMP_NTZ; the
    *    cast interprets the wall-clock value in the session zone (UTC
    *    everywhere in this library), matching DuckDB's naive read. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Spread a scan whose FILE LAYOUT under-parallelizes the session before
    * CPU-heavy per-row work (opt guide §2.5, "input skew: one huge
    * unsplittable file → repartition immediately after the read"): the sf
    * fixture tables are one single-row-group parquet file each, so every
    * base scan plans exactly ONE task and per-row work above it (PNG
    * encode/decode, shingle explosion, hashing) runs on 1 of N cores.
    * Deterministic hash repartition on `key` (never round-robin: retried
    * tasks must reproduce the same placement — SPARK-38388 class).
    * A NO-OP whenever the lineage already has at least the session's
    * default parallelism — the 100 TB case, where many files give the scan
    * natural parallelism and an extra exchange would be pure cost. The
    * shuffle this adds at fixture scale moves only the narrow projected
    * input of the operator that asked for it. */
  /** `probe` (default: `df` itself) is the frame whose partitioning is
    * INSPECTED; it must be exchange-free (scans/unions/projections only).
    * Probing `df.rdd` under AQE finalizes the adaptive plan, which EXECUTES
    * every exchange below it at composition time and then again in the
    * real query (no exchange reuse across QueryExecutions) — so a caller
    * composing above a join passes the join's scan-side input as the
    * probe instead (a broadcast semi-join preserves the probed side's
    * partitioning). On an exchange-free plan the probe is pure planning:
    * AQE has no query stage to run. */
  def spreadToCores(df: DataFrame, key: Column,
      probe: DataFrame = null): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val p = Option(probe).getOrElse(df)
    // memoize the probe per (app, canonical plan): even on an
    // exchange-free plan, `.rdd` builds a full QueryExecution — ~150 ms
    // of driver planning (measured r19, SQL-tab "rdd at Tables.scala")
    // paid on EVERY composition of every spread consumer. The answer is
    // stable within an application (fixture datasets are immutable), so
    // one probe per distinct probed plan suffices.
    val parts = probes(df.sparkSession, p.semanticHash())(p.rdd.getNumPartitions)
    if (parts < target) df.repartition(target, key) else df
  }

  private val probes = AppCache.namespace[Int, Int]("tables.spread_probes")
}
