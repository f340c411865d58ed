package graft.etl

import graft.functions.Keys
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema build (reference `dags/dag3_transform_warehouse.py`):
  * three dimensions + the fact, re-expressed as DataFrame lineages.
  *
  * Surrogate keys: the reference uses SERIAL (load-order-dependent); we make
  * them deterministic — equal to `ROW_NUMBER() OVER (ORDER BY natural key)`
  * so joins and oracle comparisons are stable (SURVEY §7.4 K1) — via
  * [[graft.functions.Keys.withRank]], which range-partitions and ranks per
  * partition plus cumulative offsets instead of a single-partition global
  * window (the r1 scale-killer at 10^7+ dim rows). A truly fact-sized key
  * column would use `monotonically_increasing_id()` — uniqueness without any
  * sort — which is why `sale_key` is not emitted at all (nothing reads it,
  * reference `schema/warehouse_schema.sql:36`).
  *
  * Scale notes (100 TB): dims are orders-of-magnitude smaller than the fact
  * -> all three fact-build joins are `broadcast()` hash joins, zero shuffle
  * of the fact side (reference gets the same effect from PG hash joins,
  * SURVEY §3 EP3). The fact write partitions by (year, month), replicating
  * the reference's monthly RANGE partitioning
  * (`schema/warehouse_schema.sql:52-95`) so time-windowed reads prune.
  */
object Transform {

  /** dim_product: one row per stock_code, MAX(description) picks the
    * canonical description (A4, reference `dags/dag3_transform_warehouse.py:41-49`). */
  def dimProduct(cleaned: DataFrame): DataFrame =
    Keys.withRank(
      cleaned.groupBy("stock_code").agg(max("description").as("description")),
      "product_key", Seq("stock_code"))
      .select("product_key", "stock_code", "description")

  /** dim_customer: MAX(country) per customer + the UNKNOWN sentinel row for
    * null customers (reference `dags/dag3_transform_warehouse.py:63-77`). */
  def dimCustomer(cleaned: DataFrame): DataFrame = {
    val spark = cleaned.sparkSession
    val known = cleaned.filter(col("customer_id").isNotNull)
      .groupBy("customer_id").agg(max("country").as("country"))
    val sentinel = spark.range(1)
      .select(lit("UNKNOWN").as("customer_id"), lit("UNKNOWN").as("country"))
    Keys.withRank(known.unionByName(sentinel), "customer_key", Seq("customer_id"))
      .select("customer_key", "customer_id", "country")
  }

  /** dim_date: distinct calendar days with derived attributes (A5/E3-E5,
    * reference `dags/dag3_transform_warehouse.py:91-103`). day_of_week is
    * Postgres-convention 0=Sunday..6=Saturday -> `dayofweek(d) - 1`
    * (Spark is 1=Sunday; SURVEY §7.4 DOW trap). */
  def dimDate(cleaned: DataFrame): DataFrame =
    Keys.withRank(
      cleaned.select(to_date(col("invoice_date")).as("date")).distinct(),
      "date_key", Seq("date"))
      .select(
        col("date_key"), col("date"),
        year(col("date")).as("year"),
        month(col("date")).as("month"),
        dayofmonth(col("date")).as("day"),
        quarter(col("date")).as("quarter"),
        (dayofweek(col("date")) - 1).as("day_of_week"))

  /** fact_sales: swap natural keys for surrogate keys via three broadcast
    * inner joins (J1-J3), derive total_amount = quantity * unit_price (E1)
    * kept in exact DECIMAL (reference `dags/dag3_transform_warehouse.py:112-143`). */
  def factSales(cleaned: DataFrame, dimP: DataFrame, dimC: DataFrame, dimD: DataFrame): DataFrame = {
    // The dims derive from `cleaned` itself — rename their natural-key
    // columns so Catalyst's self-join ambiguity check stays happy.
    val p = dimP.select(col("product_key"), col("stock_code").as("dim_stock_code"))
    val c = dimC.select(col("customer_key"), col("customer_id").as("dim_customer_id"))
    val d = dimD.select(col("date_key"), col("date").as("dim_date"))
    cleaned
      .join(broadcast(p), col("stock_code") === col("dim_stock_code"))
      .join(broadcast(c), coalesce(col("customer_id"), lit("UNKNOWN")) === col("dim_customer_id"))
      .join(broadcast(d), to_date(col("invoice_date")) === col("dim_date"))
      .select(
        col("invoice_no"), col("product_key"), col("customer_key"), col("date_key"),
        col("invoice_date"), col("quantity"), col("unit_price"),
        (col("quantity") * col("unit_price")).cast(DecimalType(12, 2)).as("total_amount"))
  }

  /** Convenience: cleaned staging -> fact in one call (cached lineage). */
  def factSales(spark: SparkSession, dir: String): DataFrame =
    Warehouse(spark, dir).fact

  /** K2 — incremental upsert, `ON CONFLICT ... DO UPDATE` semantics
    * (reference `dags/dag3_transform_warehouse.py:47-48,75-76`): incoming
    * rows win on key collision, existing rows survive otherwise. One
    * left-anti hash join + union; at scale both sides hash-partition on
    * the key, no driver involvement. The full-refresh pipeline doesn't
    * need it (recompute = same end state); this is the incremental-load
    * path. */
  def upsertDoUpdate(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    incoming.unionByName(existing.join(incoming, Seq(key), "left_anti"))

  /** K3 — `ON CONFLICT DO NOTHING` semantics (reference
    * `dags/dag3_transform_warehouse.py:66,102`): existing rows win,
    * incoming only fills new keys. */
  def upsertDoNothing(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    existing.unionByName(incoming.join(existing, Seq(key), "left_anti"))

  /** Full-refresh warehouse write (S4 batched sink + S6 truncate-and-reload
    * via SaveMode.Overwrite): fact partitioned by (year, month) to replicate
    * the reference's monthly RANGE partitions (`schema/warehouse_schema.sql:52-95`)
    * — readers with year/month predicates prune partitions; row-group
    * min/max on invoice_date skips within partitions.
    *
    * Enforces the reference's hard row-count gate (Q1,
    * `dags/dag2_clean_validate.py:132-136`) before any write: a cleaning
    * pass that drops below the reference's retention ratio aborts the load
    * instead of silently publishing a truncated warehouse. */
  def writeWarehouse(spark: SparkSession, dir: String, outDir: String): Unit = {
    val wh = Warehouse(spark, dir)
    val rawCount = wh.staging.count()
    val cleanedCount = wh.cleaned.count()
    require(Clean.rowCountGate(rawCount, cleanedCount),
      s"quality gate failed: cleaned $cleanedCount of $rawCount rows " +
        f"(${100.0 * cleanedCount / rawCount}%.1f%% < 73.8%% retention floor)")
    // r19 (opt guide §6): output file count must derive from BYTES, not
    // from the input's task count. The fact arrives hash/range-partitioned
    // from the clean lineage, so a bare partitionBy(year, month) writes up
    // to (tasks × months) files — 32 cores × ~80 months ≈ 2.5k tiny files
    // at sf0.1, and the count GROWS with core count (the r18 driver's
    // anti-scaling write family). REBALANCE on the partition columns is
    // the scale-adaptive spelling: AQE sizes the shuffle output by
    // advisoryPartitionSizeInBytes — one ~target-sized file per (year,
    // month) here, split into byte-sized chunks when a month outgrows the
    // advisory at 100 TB.
    wh.dimProduct.hint("rebalance")
      .write.mode("overwrite").parquet(s"$outDir/dim_product")
    wh.dimCustomer.hint("rebalance")
      .write.mode("overwrite").parquet(s"$outDir/dim_customer")
    wh.dimDate.hint("rebalance")
      .write.mode("overwrite").parquet(s"$outDir/dim_date")
    wh.fact
      .withColumn("year", year(col("invoice_date")))
      .withColumn("month", month(col("invoice_date")))
      .hint("rebalance", "year", "month")
      .write.mode("overwrite").partitionBy("year", "month")
      .parquet(s"$outDir/fact_sales")
  }

  private val roundtripDirs =
    graft.AppCache.namespace[String, String]("transform.roundtrip_dirs")

  /** The S4/S6 write path as an oracle-checked query: run the full
    * [[writeWarehouse]] (Overwrite + (year, month) partitioning), read
    * `fact_sales` back from disk, and project the original fact columns.
    * Hash-checked against the SAME oracle SQL as `fact_sales`, proving
    * the partitioned parquet roundtrip preserves content bit-for-bit —
    * the write happens once per (session, sf-dir); later calls only
    * re-read. */
  def factRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDirs(spark, dir) {
      val d = graft.ext.Dfs.scratchDir(spark, "graft_wh_roundtrip")
      writeWarehouse(spark, dir, d)
      d
    }
    spark.read.parquet(s"$out/fact_sales")
      .select("invoice_no", "product_key", "customer_key", "date_key",
        "invoice_date", "quantity", "unit_price", "total_amount")
  }
}
