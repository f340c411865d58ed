package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (sessions cost ~5 s; the
  * [[graft.etl.Warehouse]] cache also makes every spec after the first
  * reuse the built lineage). */
object TestSpark {
  lazy val spark: SparkSession = BenchHarness.onCores("4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_test_wh").toString)
  val sf = "/root/testdata/sf0.001"
}
