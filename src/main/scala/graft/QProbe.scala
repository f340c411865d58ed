package graft

/** Dev measurement main (opt guide §1): for each named query, prints
  * compose time, first-run time (fills memos/fixtures), and three
  * steady-state runs — each run a fresh composition + collect(), the
  * action the bench and Verify run (a count() would plan a different,
  * column-pruned query) — then runs one warm composition and dumps its
  * FINAL adaptive plan (as executed: materialized stages, reused
  * exchanges, coalesced sorts) to SPARK_GRAFT_PLANDIR when set. */
object QProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val holdSec = sys.env.get("SPARK_GRAFT_UIHOLD").map(_.toInt)
    val spark = BenchHarness.onCores(cpus, "spark.ui.enabled" -> holdSec.isDefined.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.get("SPARK_GRAFT_PLANDIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANSUFFIX", "")
    for (name <- args) {
      val t0 = System.nanoTime()
      val df0 = SparkEntry.queries(name)(spark, d)
      val t1 = System.nanoTime()
      df0.collect()
      val t2 = System.nanoTime()
      val times = (1 to 3).map { _ =>
        val s = System.nanoTime()
        SparkEntry.queries(name)(spark, d).collect()
        (System.nanoTime() - s) / 1e9
      }
      // stage attribution for one steady run (opt guide §1/§7): per-stage
      // wall, task-time sum, rows and shuffle bytes — which stage to blame
      if (sys.env.contains("SPARK_GRAFT_STAGES")) {
        val stages = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Long, Long, Long, Long)]
        val names = scala.collection.mutable.Map.empty[Int, String]
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            // map each stage to its job's SQL-execution id + callsite so
            // repeated stages can be attributed to the execution that
            // spawned them (eager composition probes vs the main query)
            val exec = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .getOrElse("-")
            val root = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            stages.synchronized {
              js.stageIds.foreach(sid => names(sid) =
                s"job=${js.jobId} exec=$exec ${root.take(60)}")
            }
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val m = i.taskMetrics
            stages.synchronized {
              names(i.stageId) = names.getOrElse(i.stageId, "") +
                " | " + i.name.take(60)
              stages += ((i.stageId,
              i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
              m.executorRunTime, m.inputMetrics.recordsRead,
              m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten)) }
          }
        }
        spark.sparkContext.addSparkListener(listener)
        SparkEntry.queries(name)(spark, d).collect()
        Thread.sleep(500) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        stages.sortBy(-_._2).take(12).foreach { case (id, wall, run, in, sr, sw) =>
          println(f"[qprobe]   stage $id%4d wall ${wall / 1e3}%6.2f s taskSum ${run / 1e3}%7.2f s " +
            f"inRows $in%9d shufInRows $sr%9d shufOutB $sw%10d  ${names.getOrElse(id, "")}")
        }
      }
      println(f"[qprobe] $name%-24s compose ${(t1 - t0) / 1e9}%6.2f  " +
        f"first ${(t2 - t1) / 1e9}%6.2f  steady ${times.map(t => f"$t%5.2f").mkString(" ")}")
      // driver-phase attribution of one steady run: Catalyst tracker phases
      // (analysis/optimization/planning) + wall split around the action
      if (sys.env.contains("SPARK_GRAFT_PHASES")) {
        val s0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, d)
        val s1 = System.nanoTime()
        val qe = df.queryExecution
        qe.assertAnalyzed(); val s2 = System.nanoTime()
        qe.optimizedPlan; val s3 = System.nanoTime()
        qe.executedPlan; val s4 = System.nanoTime()
        df.collect(); val s5 = System.nanoTime()
        val ph = qe.tracker.phases.map { case (k, v) =>
          f"$k=${(v.endTimeMs - v.startTimeMs) / 1e3}%.2f" }.mkString(" ")
        println(f"[qprobe]   phases compose ${(s1 - s0) / 1e9}%5.2f analyze ${(s2 - s1) / 1e9}%5.2f " +
          f"optimize ${(s3 - s2) / 1e9}%5.2f plan ${(s4 - s3) / 1e9}%5.2f exec ${(s5 - s4) / 1e9}%5.2f  [$ph]")
      }
      // one executed warm run: its final adaptive plan and metrics are
      // what the timed pass ran
      val warm = SparkEntry.queries(name)(spark, d)
      warm.collect()
      // per-operator metrics of that run (the SQL-tab view): operator
      // class + its slowest time-ish metrics, largest first
      if (sys.env.contains("SPARK_GRAFT_OPMETRICS")) {
        def walk(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            p +: walk(q.plan)
          case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq(p)
          case _ => p +: p.children.flatMap(walk)
        }
        val ops = walk(warm.queryExecution.executedPlan)
        println(s"[qprobe]  operators walked: ${ops.size}")
        val rows = ops.flatMap { op =>
          op.metrics.map { case (k, m) =>
            (op.getClass.getSimpleName + "#" + op.id, m.name.getOrElse(k), m.value)
          }
        }
        rows.filter(r => r._3 > 500 && !r._2.contains("rows") &&
            !r._2.contains("bytes") && !r._2.contains("size"))
          .sortBy(-_._3).take(20).foreach { case (o, k, v) =>
          println(f"[qprobe]   op $o%-36s $k%-40s $v%12d")
        }
      }
      val txt = warm.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      outDir.foreach { o =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(o, s"$name$suffix.txt"), txt.getBytes("UTF-8"))
      }
    }
    holdSec.foreach { s =>
      println(s"[qprobe] holding UI at ${spark.sparkContext.uiWebUrl.getOrElse("?")} for $s s")
      Thread.sleep(s * 1000L)
    }
    spark.stop()
  }
}
