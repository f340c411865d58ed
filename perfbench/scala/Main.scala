package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload in a fresh JVM and writes its raw measurements:
  *
  * {{{
  * perfbench.Main <in.json> <out.json>
  * }}}
  *
  * `in.json` is written by `perfbench/run.py`: the workload name, the
  * fixture directory, a work directory, the window length, the trace flag
  * and the seed-derived inputs (query order, DML keys). Statistics,
  * output checks against the DuckDB oracle and the printed result are
  * `run.py`'s job; this side only drives the program and records. */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val in = mapper.readTree(new File(args(0)))
    val rec = new Recorder(in.get("trace").asBoolean)
    val spark = graft.BenchHarness.session()
    val ctx = new Ctx(spark, rec, in)
    rec.install(spark)
    in.get("workload").asText match {
      case "bi_queries" => Workloads.biQueries(ctx)
      case "table_dml" => Workloads.tableDml(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    rec.drain()
    ctx.out("spans") = Recorder.jsonSpans(rec)
    ctx.out("jobs") = Recorder.jsonJobs(rec)
    ctx.out("qes") = Recorder.jsonQes(rec)
    mapper.writeValue(new File(args(1)), ctx.out)
    spark.stop()
  }
}

/** What every workload shares: its inputs, the output record, the timer,
  * the timed-window bookkeeping and the failure count. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val in: JsonNode) {
  val out = mutable.LinkedHashMap.empty[String, Any]
  val dir: String = in.get("fixtures").asText
  val work: String = in.get("work").asText
  val seconds: Double = in.get("seconds").asDouble
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private var windowStartNs = 0L
  private var guardBefore: (Int, Set[String]) = (0, Set.empty)
  private var gcBefore = 0L

  def strings(node: JsonNode): Seq[String] = node.elements().asScala.map(_.asText).toSeq

  /** (result, wall seconds). */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One attempted operation: its wall seconds, or None when it threw.
    * A throw counts as a failed operation. */
  def op[A](label: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    try Some(timed(body))
    catch {
      case e: Exception =>
        failed += 1
        if (errors.size < 20) errors += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** Wrong results found after the fact count as failed operations. */
  def fail(n: Long, why: String): Unit = { failed += n; errors += why }

  /** Set-up ends here: wall seconds since the JVM started. */
  def setupDone(): Unit =
    out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def elapsed: Double = (System.nanoTime() - windowStartNs) / 1e9

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Persisted RDDs and the library's scratch directory entries: both
    * grow when a one-time build (a cache fill, a fixture dump) runs. */
  private def guardState(): (Int, Set[String]) = {
    val scratch = Option(new File(graft.ext.Dfs.scratchBase).list()).map(_.toSet)
      .getOrElse(Set.empty)
    (spark.sparkContext.getPersistentRDDs.size, scratch)
  }

  /** Host canary, build guard and GC snapshot, then the window opens. */
  def openWindow(): Unit = {
    import org.apache.spark.sql.functions.col
    val cpus = spark.sparkContext.defaultParallelism
    val (_, canary) = timed {
      spark.sparkContext.parallelize(1 to cpus, cpus).count()
      spark.range(0, 200000, 1, cpus).groupBy((col("id") % 97).as("k")).count().collect()
    }
    out("canary_s") = canary
    guardBefore = guardState()
    gcBefore = gcMs
    out("window_start_us") = rec.nowUs
    windowStartNs = System.nanoTime()
  }

  def closeWindow(ops: Long): Unit = {
    out("window_s") = elapsed
    out("window_end_us") = rec.nowUs
    out("window_ops") = ops
    out("gc_s") = (gcMs - gcBefore) / 1000.0
    val (rddsAfter, scratchAfter) = guardState()
    out("timed_builds") =
      math.max(0, rddsAfter - guardBefore._1) + (scratchAfter -- guardBefore._2).size
    val used = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    out("storage_mb") = used / 1e6
  }

  def finish(): Unit = {
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.toSeq
  }
}
