package graft

/** Dev tool: dump `.explain("formatted")` for named queries.
  *
  * `runMain graft.Explain q1 q2 ...` prints each plan to stdout between
  * `===== name =====` markers. With SPARK_GRAFT_PLANDIR set, each plan is
  * ALSO written to `$SPARK_GRAFT_PLANDIR/<name><SPARK_GRAFT_PLANSUFFIX>.txt`
  * — the committed plan-evidence files the optimization rounds require.
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS override the data dir and core
  * count (defaults sf0.001 / 4). `all` expands to every declared query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = BenchHarness.session(defaultCpus = "4")
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val outDir = sys.env.get("SPARK_GRAFT_PLANDIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANSUFFIX", "")
    val names =
      if (args.contains("all")) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    for (name <- names) {
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, d)
      // QueryExecution's formatted string, same text explain() prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(txt)
      outDir.foreach { o =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(o, s"$name$suffix.txt"),
          txt.getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
