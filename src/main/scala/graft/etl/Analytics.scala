package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warehouse analytics pack — the OLAP query shapes a user of the
  * reference's star schema (reference `schema/warehouse_schema.sql`,
  * `scripts/verify_ingestion.py`'s reporting tail) runs day to day, each
  * expressed Spark-first and each hash-checked against a DuckDB oracle:
  *
  *  - [[salesRollup]]: ROLLUP subtotals (year, quarter, grand total) — one
  *    pass, Catalyst expands grouping sets without re-scanning.
  *  - [[runningRevenue]]: running total + 3-month moving average over the
  *    monthly series — the window runs over GROUPED months (dozens of
  *    rows), never the fact table, so the global window is free.
  *  - [[priceQuantiles]]: exact quantiles from the price HISTOGRAM
  *    (group -> cumulative counts -> threshold pick). The classic
  *    scale-safe exact-quantile shape: the sort touches distinct prices,
  *    not rows, and the pick is pure integer arithmetic both engines
  *    replay exactly (no engine interpolation semantics involved).
  *  - [[fkOrphans]]: referential-integrity audit via three LEFT ANTI
  *    joins (broadcast dims — no fact shuffle), the D2-style report for
  *    key integrity instead of duplicates.
  *  - [[topProductPerCountry]]: per-group top-k by revenue — rank window
  *    inside country partitions; deterministic tiebreak on product_key.
  *  - [[quarterPivot]]: country x quarter revenue matrix via Spark's
  *    `pivot` with a FIXED value list (1-4) — pivoting on an unbounded
  *    key set would need a driver-side distinct collect; quarters are the
  *    bounded pivot a production report uses. Oracle replays it as
  *    conditional aggregation (the portable form of PIVOT).
  *
  * Money stays DECIMAL through every aggregate, DOUBLE only at the output
  * boundary (SURVEY §7.4); float divisions (moving average) happen on
  * already-rounded DOUBLEs with literal divisors, IEEE-identical in DuckDB.
  */
object Analytics {

  private def money(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(18, 2)).cast(DoubleType)

  /** ROLLUP(year, quarter): per-quarter rows, per-year subtotals, grand
    * total — NULL group keys mark subtotal levels exactly like SQL. */
  def salesRollup(spark: SparkSession, dir: String): DataFrame = {
    val wh = Warehouse(spark, dir)
    // alias the dim columns: fact's lineage already contains dim_date, so
    // un-aliased year/quarter would be ambiguous (same fix as the fact
    // build itself, Transform.factSales)
    val d = wh.dimDate.select(col("date_key").as("d_key"),
      col("year").as("d_year"), col("quarter").as("d_quarter"))
    wh.fact.join(broadcast(d), col("date_key") === col("d_key"))
      .rollup(col("d_year").as("year"), col("d_quarter").as("quarter"))
      .agg(count(lit(1)).as("n_sales"), money(sum(col("total_amount"))).as("revenue"))
      .orderBy(col("year").asc_nulls_first, col("quarter").asc_nulls_first)
  }

  def salesRollupOracleSql: String =
    s"""${Oracle.warehouseCte} SELECT d.year, d.quarter, COUNT(*) AS n_sales,
       | CAST(CAST(SUM(f.total_amount) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
       | FROM fact_sales f JOIN dim_date d ON f.date_key = d.date_key
       | GROUP BY ROLLUP (d.year, d.quarter)
       | ORDER BY year NULLS FIRST, quarter NULLS FIRST""".stripMargin

  /** Monthly revenue with running total and 3-month moving average. The
    * window is over the grouped monthly series; sums stay DECIMAL inside
    * the frames, the average divides two DOUBLEs (frame sum / frame
    * count) — both deterministic. */
  def runningRevenue(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Warehouse(spark, dir).fact
      .groupBy(year(col("invoice_date")).as("year"), month(col("invoice_date")).as("month"))
      .agg(sum(col("total_amount")).as("rev_dec"))
    // constant partition key = deliberate single-partition window: the
    // input is the grouped monthly series (dozens of rows), and running
    // totals must cross year boundaries
    val w = Window.partitionBy(lit(0)).orderBy("year", "month")
    val w3 = w.rowsBetween(-2, Window.currentRow)
    monthly
      .select(
        col("year"), col("month"), money(col("rev_dec")).as("revenue"),
        money(sum(col("rev_dec")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .as("running_revenue"),
        (money(sum(col("rev_dec")).over(w3)) /
          count(lit(1)).over(w3).cast(DoubleType)).as("moving_avg_3m"))
      .orderBy("year", "month")
  }

  def runningRevenueOracleSql: String =
    s"""${Oracle.warehouseCte},
       | monthly AS (
       |   SELECT CAST(EXTRACT(year FROM invoice_date) AS INTEGER) AS year,
       |     CAST(EXTRACT(month FROM invoice_date) AS INTEGER) AS month,
       |     SUM(total_amount) AS rev_dec
       |   FROM fact_sales GROUP BY 1, 2)
       | SELECT year, month,
       |   CAST(CAST(rev_dec AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
       |   CAST(CAST(SUM(rev_dec) OVER (ORDER BY year, month
       |     ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS DOUBLE) AS running_revenue,
       |   CAST(CAST(SUM(rev_dec) OVER (ORDER BY year, month
       |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE)
       |     / CAST(COUNT(*) OVER (ORDER BY year, month
       |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_avg_3m
       | FROM monthly ORDER BY year, month""".stripMargin

  /** Exact price quantiles from the histogram: distinct prices sorted
    * (small), cumulative row counts, pick the first price whose cumulative
    * count reaches ceil(q * n). Integer thresholds — no interpolation. */
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val wh = Warehouse(spark, dir)
    val hist = wh.cleaned.groupBy("unit_price").agg(count(lit(1)).as("cnt"))
    // deliberate single-partition window: distinct prices, not rows
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(lit(0)).orderBy("unit_price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = wh.cleaned.agg(count(lit(1)).as("n"))
    cum.crossJoin(broadcast(n))
      .agg(
        money(min(when(col("cum") * 4 >= col("n"), col("unit_price")))).as("p25"),
        money(min(when(col("cum") * 2 >= col("n"), col("unit_price")))).as("p50"),
        money(min(when(col("cum") * 4 >= col("n") * 3, col("unit_price")))).as("p75"))
  }

  /** [[priceQuantiles]] PER GROUP: the same exact-histogram pick inside
    * country partitions. The windows run over (country, distinct price)
    * — a grouped domain, so no single-partition stage exists at any
    * scale; per-country totals join back on the same country
    * partitioning. */
  def countryPriceQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val wh = Warehouse(spark, dir)
    val hist = wh.cleaned.groupBy("country", "unit_price").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy("country").orderBy("unit_price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = wh.cleaned.groupBy("country").agg(count(lit(1)).as("n"))
    cum.join(totals, Seq("country"))
      .groupBy("country")
      .agg(
        money(min(when(col("cum") * 4 >= col("n"), col("unit_price")))).as("p25"),
        money(min(when(col("cum") * 2 >= col("n"), col("unit_price")))).as("p50"),
        money(min(when(col("cum") * 4 >= col("n") * 3, col("unit_price")))).as("p75"))
      .orderBy("country")
  }

  def countryPriceQuantilesOracleSql: String =
    s"""${Oracle.cleanedCte},
       | cum AS (
       |   SELECT country, unit_price, SUM(cnt) OVER (PARTITION BY country
       |     ORDER BY unit_price ROWS UNBOUNDED PRECEDING) AS cum
       |   FROM (SELECT country, unit_price, COUNT(*) AS cnt FROM cleaned GROUP BY 1, 2)),
       | tot AS (SELECT country, COUNT(*) AS n FROM cleaned GROUP BY country)
       | SELECT country,
       |   CAST(MIN(CASE WHEN cum * 4 >= n THEN unit_price END) AS DOUBLE) AS p25,
       |   CAST(MIN(CASE WHEN cum * 2 >= n THEN unit_price END) AS DOUBLE) AS p50,
       |   CAST(MIN(CASE WHEN cum * 4 >= n * 3 THEN unit_price END) AS DOUBLE) AS p75
       | FROM cum JOIN tot USING (country)
       | GROUP BY country ORDER BY country""".stripMargin

  def priceQuantilesOracleSql: String =
    s"""${Oracle.cleanedCte},
       | cum AS (
       |   SELECT unit_price, SUM(cnt) OVER (ORDER BY unit_price
       |     ROWS UNBOUNDED PRECEDING) AS cum
       |   FROM (SELECT unit_price, COUNT(*) AS cnt FROM cleaned GROUP BY 1)),
       | tot AS (SELECT COUNT(*) AS n FROM cleaned)
       | SELECT
       |   CAST(MIN(CASE WHEN cum * 4 >= n THEN unit_price END) AS DOUBLE) AS p25,
       |   CAST(MIN(CASE WHEN cum * 2 >= n THEN unit_price END) AS DOUBLE) AS p50,
       |   CAST(MIN(CASE WHEN cum * 4 >= n * 3 THEN unit_price END) AS DOUBLE) AS p75
       | FROM cum, tot""".stripMargin

  /** CUBE(country, year): all four grouping combinations (cells, per-
    * country totals, per-year totals, grand total) — completes the
    * grouping-sets family next to [[salesRollup]]. Two-phase shape:
    * pre-aggregate the fact to (country, year) CELLS with a plain
    * groupBy (the only heavy shuffle), then cube over the tiny cell
    * grid — Expand multiplies hundreds of cells instead of every fact
    * row, which is how a 100 TB cube should run anyway. The grouping()
    * flags disambiguate subtotal NULLs from (impossible here) data
    * NULLs, the convention both engines share.
    *
    * `failAmbiguousSelfJoin` is scope-disabled during construction:
    * fact and dims share one cached lineage, and DetectAmbiguousSelfJoin
    * false-positives on any rollup/cube above such a join even when
    * every attribute name is unique (the Expand copies re-trigger the
    * dataset-id heuristic); the plan itself is unambiguous — all
    * grouping columns are freshly aliased. */
  def salesCube(spark: SparkSession, dir: String): DataFrame = {
    val wh = Warehouse(spark, dir)
    val flag = "spark.sql.analyzer.failAmbiguousSelfJoin"
    val old = spark.conf.get(flag)
    spark.conf.set(flag, "false")
    try {
      val c = wh.dimCustomer.select(col("customer_key").as("c_key"),
        col("country").as("c_country"))
      val d = wh.dimDate.select(col("date_key").as("d_key"), col("year").as("d_year"))
      val cells = wh.fact
        .join(broadcast(c), col("customer_key") === col("c_key"))
        .join(broadcast(d), col("date_key") === col("d_key"))
        .groupBy("c_country", "d_year")
        .agg(count(lit(1)).as("cell_n"), sum(col("total_amount")).as("cell_rev"))
      cells
        .cube("c_country", "d_year")
        .agg(
          sum(col("cell_n")).as("n_sales"),
          money(sum(col("cell_rev"))).as("revenue"),
          grouping(col("c_country")).cast(IntegerType).as("g_country"),
          grouping(col("d_year")).cast(IntegerType).as("g_year"))
        .withColumnRenamed("c_country", "country")
        .withColumnRenamed("d_year", "year")
        .orderBy(col("g_country"), col("g_year"),
          col("country").asc_nulls_first, col("year").asc_nulls_first)
    } finally spark.conf.set(flag, old)
  }

  def salesCubeOracleSql: String =
    s"""${Oracle.warehouseCte} SELECT c.country, d.year, COUNT(*) AS n_sales,
       | CAST(CAST(SUM(f.total_amount) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
       | CAST(GROUPING(c.country) AS INTEGER) AS g_country,
       | CAST(GROUPING(d.year) AS INTEGER) AS g_year
       | FROM fact_sales f
       | JOIN dim_customer c ON f.customer_key = c.customer_key
       | JOIN dim_date d ON f.date_key = d.date_key
       | GROUP BY CUBE (c.country, d.year)
       | ORDER BY g_country, g_year, country NULLS FIRST, year NULLS FIRST""".stripMargin

  /** Day-over-day revenue deltas: lag over the GROUPED daily series
    * (hundreds of rows — the deliberate tiny global window, same shape as
    * [[runningRevenue]]); the delta subtracts in exact DECIMAL before the
    * output-boundary DOUBLE cast. First day's previous/delta are NULL. */
  def dailyDelta(spark: SparkSession, dir: String): DataFrame = {
    val daily = Warehouse(spark, dir).fact
      .groupBy(to_date(col("invoice_date")).as("day"))
      .agg(sum(col("total_amount")).as("rev_dec"))
    val w = Window.partitionBy(lit(0)).orderBy("day")
    daily
      .select(
        col("day"),
        money(col("rev_dec")).as("revenue"),
        money(lag(col("rev_dec"), 1).over(w)).as("prev_revenue"),
        money(col("rev_dec") - lag(col("rev_dec"), 1).over(w)).as("delta"))
      .orderBy("day")
  }

  def dailyDeltaOracleSql: String =
    s"""${Oracle.warehouseCte},
       | daily AS (
       |   SELECT CAST(invoice_date AS DATE) AS day, SUM(total_amount) AS rev_dec
       |   FROM fact_sales GROUP BY 1)
       | SELECT day,
       |   CAST(CAST(rev_dec AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
       |   CAST(CAST(LAG(rev_dec, 1) OVER (ORDER BY day) AS DECIMAL(18,2)) AS DOUBLE)
       |     AS prev_revenue,
       |   CAST(CAST(rev_dec - LAG(rev_dec, 1) OVER (ORDER BY day) AS DECIMAL(18,2)) AS DOUBLE)
       |     AS delta
       | FROM daily ORDER BY day""".stripMargin

  /** Referential-integrity audit: fact keys with no dimension row, per
    * dim. Constructively zero here (the dims derive from the same cleaned
    * lineage) — the point is the operator: three broadcast LEFT ANTI
    * probes, no fact shuffle, one scan each. The probes' orphans are
    * tagged, unioned and counted in ONE aggregate: three separately
    * aggregated probes ran three shuffle stages whose (empty) results AQE
    * re-planned in whichever order they finished, so a repeat run could
    * generate differently numbered code and recompile it. */
  def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    val wh = Warehouse(spark, dir)
    val probes = Seq(wh.dimProduct -> "product_key",
      wh.dimCustomer -> "customer_key", wh.dimDate -> "date_key")
    val orphans = probes.zipWithIndex.map { case ((dim, key), i) =>
      wh.fact.join(broadcast(dim.select(key)), Seq(key), "left_anti")
        .select(lit(i).as("dim"))
    }.reduce(_ unionByName _)
    def of(i: Int) = count(when(col("dim") === i, 1))
    orphans.agg(of(0).as("orphan_products"), of(1).as("orphan_customers"),
      of(2).as("orphan_dates"))
  }

  def fkOrphansOracleSql: String =
    s"""${Oracle.warehouseCte} SELECT
       | (SELECT COUNT(*) FROM fact_sales f
       |   WHERE NOT EXISTS (SELECT 1 FROM dim_product d WHERE d.product_key = f.product_key))
       |   AS orphan_products,
       | (SELECT COUNT(*) FROM fact_sales f
       |   WHERE NOT EXISTS (SELECT 1 FROM dim_customer d WHERE d.customer_key = f.customer_key))
       |   AS orphan_customers,
       | (SELECT COUNT(*) FROM fact_sales f
       |   WHERE NOT EXISTS (SELECT 1 FROM dim_date d WHERE d.date_key = f.date_key))
       |   AS orphan_dates""".stripMargin

  /** Top 3 products by revenue inside every country — the per-group top-k
    * window (rank inside country partitions; revenue-DESC with product_key
    * tiebreak keeps ranks deterministic under ties). */
  def topProductPerCountry(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val wh = Warehouse(spark, dir)
    val byCp = wh.fact
      .join(broadcast(wh.dimCustomer.select("customer_key", "country")), Seq("customer_key"))
      .groupBy("country", "product_key")
      .agg(sum(col("total_amount")).as("rev_dec"))
    val w = Window.partitionBy("country")
      .orderBy(col("rev_dec").desc, col("product_key").asc)
    byCp.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("country"), col("rank"), col("product_key"), money(col("rev_dec")).as("revenue"))
      .orderBy("country", "rank")
  }

  def topProductPerCountryOracleSql(k: Int = 3): String =
    s"""${Oracle.warehouseCte},
       | bycp AS (
       |   SELECT c.country, f.product_key, SUM(f.total_amount) AS rev_dec
       |   FROM fact_sales f JOIN dim_customer c ON f.customer_key = c.customer_key
       |   GROUP BY 1, 2)
       | SELECT country, rank, product_key,
       |   CAST(CAST(rev_dec AS DECIMAL(18,2)) AS DOUBLE) AS revenue
       | FROM (SELECT *, CAST(row_number() OVER (PARTITION BY country
       |     ORDER BY rev_dec DESC, product_key) AS INTEGER) AS rank FROM bycp)
       | WHERE rank <= $k ORDER BY country, rank""".stripMargin

  /** Country x quarter revenue matrix: Spark `pivot` over the FIXED
    * quarter domain (1-4). */
  def quarterPivot(spark: SparkSession, dir: String): DataFrame = {
    val wh = Warehouse(spark, dir)
    wh.fact
      .join(broadcast(wh.dimCustomer.select("customer_key", "country")), Seq("customer_key"))
      .join(broadcast(wh.dimDate.select("date_key", "quarter")), Seq("date_key"))
      .groupBy("country")
      .pivot("quarter", Seq(1, 2, 3, 4))
      .agg(money(sum(col("total_amount"))))
      .withColumnsRenamed(Map("1" -> "q1", "2" -> "q2", "3" -> "q3", "4" -> "q4"))
      // a (country, quarter) with no sales never reaches the aggregate, so
      // the cell is NULL — fill 0 to match the oracle's COALESCE
      .na.fill(0.0, Seq("q1", "q2", "q3", "q4"))
      .orderBy("country")
  }

  /** UNPIVOT (melt): the inverse of [[quarterPivot]] — wide quarter
    * columns back to (country, quarter, revenue) long form, keeping the
    * filled zero cells. Spark's native `unpivot`; the oracle replays it
    * as the portable UNION ALL form. */
  def quarterUnpivot(spark: SparkSession, dir: String): DataFrame =
    quarterPivot(spark, dir)
      .unpivot(
        Array(col("country")),
        Array(col("q1"), col("q2"), col("q3"), col("q4")),
        "quarter", "revenue")
      .orderBy("country", "quarter")

  def quarterUnpivotOracleSql: String = {
    val arms = (1 to 4).map(q =>
      s"SELECT country, 'q$q' AS quarter, q$q AS revenue FROM piv").mkString(" UNION ALL ")
    s"""${Oracle.warehouseCte}, piv AS ($pivotSelect)
       | SELECT country, quarter, revenue FROM ($arms)
       | ORDER BY country, quarter""".stripMargin
  }

  /** The pivot SELECT without its CTE prefix, shared by both oracles. */
  private def pivotSelect: String = {
    val qs = (1 to 4).map(q =>
      s"""CAST(CAST(COALESCE(SUM(CASE WHEN d.quarter = $q THEN f.total_amount END), 0)
         | AS DECIMAL(18,2)) AS DOUBLE) AS q$q""".stripMargin).mkString(", ")
    s"""SELECT c.country, $qs
       | FROM fact_sales f
       | JOIN dim_customer c ON f.customer_key = c.customer_key
       | JOIN dim_date d ON f.date_key = d.date_key
       | GROUP BY c.country""".stripMargin
  }

  def quarterPivotOracleSql: String =
    s"${Oracle.warehouseCte} $pivotSelect ORDER BY country"
}
