package graft.etl

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{FormattedMode, LogicalRDD}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** A warm BI query redoes no one-time work. Spark formats every
  * execution's plan for the SQL listener, UI or not, so a query plan that
  * embeds the ETL lineage re-prints it on every run; and a generated-class
  * cache smaller than the queries' working set recompiles on every round.
  * The warehouse hands out leaves over its persisted stages, and the
  * session recipe sizes the class cache to hold the working set. */
class WarehouseLeafSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private val biQueries = Seq("q_monthly_sales", "q_top_products",
    "q_country_sales", "q_region_sales", "q_sales_cube", "q_sales_rollup",
    "q_running_revenue", "q_top_per_country", "q_quarter_pivot",
    "q_fk_orphans", "q_checks", "q_analyze_stats")

  private def reachesPersisted(rdd: RDD[_]): Boolean =
    rdd.getStorageLevel != StorageLevel.NONE ||
      rdd.dependencies.exists(d => reachesPersisted(d.rdd))

  test("every warehouse frame is a one-node plan over its persisted stage") {
    val wh = Warehouse(spark, sf)
    Seq("staging" -> wh.staging, "cleaned" -> wh.cleaned,
      "dim_product" -> wh.dimProduct, "dim_customer" -> wh.dimCustomer,
      "dim_date" -> wh.dimDate, "fact" -> wh.fact).foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      assert(plan.collect { case n => n }.size === 1,
        s"$name carries a lineage:\n$plan")
      plan match {
        case leaf: LogicalRDD =>
          assert(reachesPersisted(leaf.rdd), s"$name does not read its cached blocks")
        case other => fail(s"$name is not a leaf over its rows: ${other.nodeName}")
      }
    }
  }

  test("a BI query's formatted plan stays small") {
    val df = SparkEntry.queries("q_monthly_sales")(spark, sf)
    df.collect()
    val formatted = df.queryExecution.explainString(FormattedMode)
    assert(formatted.length < 64 * 1024,
      s"q_monthly_sales' formatted plan is ${formatted.length} chars")
  }

  test("a second round of the 12 BI queries compiles no class") {
    def round(): Unit = biQueries.foreach(n => SparkEntry.queries(n)(spark, sf).collect())
    round()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0)
  }
}
