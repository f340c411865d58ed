package graft

import java.nio.file.{Files, Paths}

/** Dev-only batch profiler for the optimization rounds (not part of any
  * gate): for each named registered query, runs one cold + two warm
  * noop-sink passes (guide §1.4 — times the computation, not the sink),
  * prints the seconds, and writes the `explain("formatted")` plan to
  * `<outDir>/<name>_<suffix>.txt` so plan claims are checkable offline.
  * Run:
  * `sbt "Test/runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, qlist) = args.take(4)
    // Bench's session recipe, so timings and plans are the ones the
    // bench would see
    val spark = BenchHarness.session()
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (qlist == "all") SparkEntry.queries.keys.toSeq.sorted
      else qlist.split(",").toSeq
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def pass(tag: String): Double = {
        val t0 = System.nanoTime()
        try {
          spark.sparkContext.setJobDescription(s"plandump:$name:$tag")
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } finally spark.sparkContext.setJobDescription(null)
        (System.nanoTime() - t0) / 1e9
      }
      try {
        val cold = pass("cold")
        val w1 = pass("warm1")
        val w2 = pass("warm2")
        println(f"[plandump] $name%-28s cold=$cold%7.2f warm=$w1%7.2f / $w2%7.2f s")
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
