package graft.etl

import java.time.{Duration, Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Master-pipeline orchestration (reference `dags/dag_master_pipeline.py:63-98`
  * — O1 sequential stage chain) plus the run/stage/quality metadata the
  * reference keeps in Postgres ops tables (O5,
  * `scripts/metadata_tracker.py:36-135`, `schema/metadata_schema.sql:1-34`,
  * `dags/dag2_clean_validate.py:139-174`).
  *
  * One driver `main` replaces Airflow: ingest → clean (hard Q1 gate) →
  * transform/write → verify, all against a single SparkSession; Airflow's
  * process/DB boundary crossings collapse into driver→executor dispatch.
  * Stage row counts (K8) come from the cached [[Warehouse]] lineage — an
  * action per stage over persisted data, not a lineage rebuild. Metadata
  * lands as parquet appends (small single-row DataFrames — the 100 TB cost
  * is nil) and the last-10-runs view (K6/K4,
  * `schema/metadata_schema.sql:23-34`) is registered in the session catalog
  * and probed via `spark.catalog.tableExists` (S8).
  */
object Pipeline {

  /** Runnable entry point: `sbt "runMain graft.etl.Pipeline <sfDir> [outDir]"`
    * — the single-driver replacement for the reference's Airflow
    * master DAG. Exits non-zero on a FAILED verification score. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_warehouse").toString
    val spark = graft.BenchHarness.session(defaultCpus = "4")
    val status = run(spark, dir, out)
    println(s"""{"pipeline_status":"$status","warehouse":"$out"}""")
    spark.stop()
    if (status == "FAILED") sys.exit(1)
  }

  /** E10: `strftime('%Y%m%d_%H%M')`-style run id
    * (reference `dags/dag2_clean_validate.py:163`). */
  def runId(now: Instant = Instant.now()): String =
    DateTimeFormatter.ofPattern("yyyyMMdd_HHmm").withZone(ZoneOffset.UTC).format(now)

  /** The reference's verification checks (`scripts/verify_ingestion.py`)
    * as one deterministic (check_name, passed) DataFrame — Q2 null-profile,
    * Q3 consistency, Q4 freshness, plus staging/value/dedup rules.
    * Memoized per (session, dir): the q_checks query, [[runSummary]], and
    * [[run]] all consume it, and each rebuild costs six full-scan
    * aggregates over the cached warehouse. */
  def checks(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Memo(spark, dir, "pipeline_checks")(checksBuild(spark, dir))

  private def checksBuild(spark: SparkSession, dir: String): DataFrame = {
    val wh = Warehouse(spark, dir)
    def one(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("check_name"), col("passed"))
    val stagingRows = wh.staging.agg((count(lit(1)) > 0).as("passed"))
    val postCleanNulls = wh.cleaned.agg(
      (sum(when(Staging.criticalCols.map(col(_).isNull).reduce(_ || _), 1).otherwise(0)) === 0)
        .as("passed"))
    val valueRules = wh.cleaned.agg(
      (sum(when(col("quantity") === 0 || col("unit_price") <= 0, 1).otherwise(0)) === 0)
        .as("passed"))
    val dedupEffective = wh.cleaned
      .groupBy(col("invoice_no"), col("stock_code"), col("quantity"),
        col("invoice_date"), col("unit_price"),
        coalesce(col("customer_id"), lit("")).as("ck"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg((count(lit(1)) === 0).as("passed"))
    val consistency5 = Quality.consistency(spark, dir).select(col("within_5pct").as("passed"))
    val freshSync = Quality.freshness(spark, dir).select(col("in_sync").as("passed"))
    one("1_staging_rows", stagingRows)
      .unionByName(one("2_post_clean_nulls", postCleanNulls))
      .unionByName(one("3_value_rules", valueRules))
      .unionByName(one("4_dedup_effective", dedupEffective))
      .unionByName(one("5_consistency_5pct", consistency5))
      .unionByName(one("6_freshness_sync", freshSync))
      .orderBy("check_name")
  }

  /** Q5: scored summary with the reference's 70% partial-credit exit rule
    * (`scripts/verify_ingestion.py:379-401`). */
  def runSummary(spark: SparkSession, dir: String): DataFrame =
    checks(spark, dir).agg(
      count(lit(1)).as("n_checks"),
      sum(when(col("passed"), 1L).otherwise(0L)).as("n_passed"))
      .select(
        col("n_checks"), col("n_passed"),
        expr("n_passed * 100 div n_checks").as("pct_passed"),
        when(col("n_passed") === col("n_checks"), "SUCCESS")
          .when(expr("n_passed * 100 div n_checks") >= 70, "PARTIAL")
          .otherwise("FAILED").as("status"))

  /** O1: the full run. Writes the warehouse (gated, [[Transform.writeWarehouse]])
    * and appends pipeline_runs / stage_metrics / data_quality_log parquet
    * under `outDir/meta`, then (re)registers the `recent_pipeline_runs`
    * top-k view. Returns the run's final status.
    *
    * Failure contract (reference `metadata_tracker.py` records failed runs
    * too): a throwing stage or gate is recorded as a FAILED stage_metrics
    * row and a FAILED pipeline_runs row BEFORE the exception propagates —
    * an ops table that only ever contains successes can't answer "what
    * broke last night". */
  def run(spark: SparkSession, dir: String, outDir: String): String = {
    import spark.implicits._
    val id = runId()
    val t0 = Instant.now()
    // lazy: the warehouse lineage first materializes INSIDE stage 1, so a
    // broken input dir is recorded as a FAILED 1_ingest stage row (the
    // failure contract below) instead of escaping before any bookkeeping
    lazy val wh = Warehouse(spark, dir)

    var stages = List.empty[(String, String, Long, Long, Double, String)]
    def stage[A](name: String, rowsIn: => Long, rowsOut: => Long)(body: => A): A = {
      val s0 = Instant.now()
      def secs = Duration.between(s0, Instant.now()).toMillis / 1000.0
      try {
        val r = body
        stages ::= ((id, name, rowsIn, rowsOut, secs, "SUCCESS"))
        r
      } catch {
        case e: Throwable =>
          stages ::= ((id, name, -1L, -1L, secs, "FAILED"))
          throw e
      }
    }

    def writeMeta(status: String, records: Long,
        checkRows: Array[org.apache.spark.sql.Row]): Unit = {
      // O5 metadata appends (reference metadata_tracker.py / dq log)
      if (checkRows.nonEmpty)
        checkRows.map(r => (id, r.getString(0),
            if (r.getBoolean(1)) "PASS" else "FAIL"))
          .toSeq.toDF("run_id", "check_name", "status")
          .write.mode("append").parquet(s"$outDir/meta/data_quality_log")
      stages.reverse
        .toDF("run_id", "stage", "rows_in", "rows_out", "duration_sec", "status")
        .write.mode("append").parquet(s"$outDir/meta/stage_metrics")
      Seq((id, "master_pipeline", t0.toString, Instant.now().toString,
          Duration.between(t0, Instant.now()).toMillis / 60000.0, status, records))
        .toDF("run_id", "dag_id", "start_ts", "end_ts", "duration_minutes", "status", "records_processed")
        .write.mode("append").parquet(s"$outDir/meta/pipeline_runs")
    }

    try {
      val rawCount = stage("1_ingest", wh.staging.count(), wh.staging.count()) {
        wh.staging.count()
      }
      val cleanedCount = stage("2_clean", rawCount, wh.cleaned.count()) {
        val n = wh.cleaned.count()
        require(Clean.rowCountGate(rawCount, n),
          s"Q1 gate: cleaned $n of $rawCount below 73.8% retention")
        n
      }
      stage("3_transform", cleanedCount, wh.fact.count()) {
        Transform.writeWarehouse(spark, dir, outDir)
      }
      val checkRows = stage("4_verify", cleanedCount, 6L) {
        checks(spark, dir).collect()
      }

      val summary = runSummary(spark, dir).head()
      val status = summary.getAs[String]("status")
      writeMeta(status, cleanedCount, checkRows)

      // K6/K4: last-10-runs view; S8: catalog existence probe
      spark.read.parquet(s"$outDir/meta/pipeline_runs")
        .orderBy(desc("start_ts")).limit(10)
        .createOrReplaceTempView("recent_pipeline_runs")
      require(spark.catalog.tableExists("recent_pipeline_runs"),
        "S8 catalog probe: recent_pipeline_runs missing")
      status
    } catch {
      case e: Throwable =>
        try writeMeta("FAILED", -1L, Array.empty)
        catch { case meta: Throwable => e.addSuppressed(meta) }
        throw e
    }
  }
}
