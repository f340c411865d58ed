package graft

/** Dev micro-benchmark: isolate fixed per-exchange / per-task costs
  * (opt guide §1 — measure before blaming the plan). */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val conf = for (kv <- sys.env.get("SPARK_GRAFT_CONF").toSeq; pair <- kv.split(";");
         Array(k, v) <- Option(pair.split("=", 2))) yield k -> v
    val spark = BenchHarness.onCores(cpus, conf: _*)
    spark.sparkContext.setLogLevel("ERROR")
    def t(name: String, reps: Int = 5)(body: => Unit): Unit = {
      body // warm
      val times = (1 to reps).map { _ =>
        val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
      }
      println(f"[micro] $name%-44s ${times.min}%6.3f min  ${times.sum / reps}%6.3f avg")
    }
    import spark.implicits._
    val df = spark.range(100000).toDF("id")
    t("noop count (no shuffle)") { df.count() }
    t("1 exchange: repartition(32).count") { df.repartition(32, $"id").count() }
    t("1 exchange: groupBy(id%1000).count") {
      df.groupBy(($"id" % 1000).as("k")).count().count() }
    t("2 exchanges: repart+groupBy") {
      df.repartition(32, $"id").groupBy(($"id" % 1000).as("k")).count().count() }
    t("1 exchange, 4 maps: coalesce(4).repart") {
      df.coalesce(4).repartition(32, $"id").count() }
    spark.stop()
  }
}
