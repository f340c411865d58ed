package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, timed from the benchmark's side. Times are
  * microseconds on the recorder's clock, which is aligned with the epoch
  * milliseconds Spark stamps on its scheduler events. */
final case class SpanRec(id: Int, name: String, parent: Int, startUs: Long, endUs: Long)

/** Work the scheduler did for one job, tagged with the span whose thread
  * submitted it (-1 when no span was open). */
final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var tasks: Long = 0L
  @volatile var taskMs: Long = 0L
  @volatile var shuffleWriteBytes: Long = 0L
  @volatile var spillBytes: Long = 0L
  @volatile var recordsRead: Long = 0L
}

/** Planning phases and cached-relation scans of one executed query. */
final case class QeRec(phases: Map[String, (Long, Long)], cachedScans: Int)

/** Spans, scheduler jobs and query executions of one benchmark process.
  * With `tracing` off, [[span]] only runs its body and nothing is
  * installed into the session, so an untraced run measures the program
  * alone. */
final class Recorder(val tracing: Boolean) {
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L

  val spans = new ConcurrentLinkedQueue[SpanRec]()
  val jobs = TrieMap.empty[Int, JobRec]
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val stageJob = TrieMap.empty[Int, JobRec]
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  @volatile private var spark: SparkSession = _

  /** The span currently open on this thread (-1 when none). */
  def current: Int = open.get()

  /** Runs `body` as a span named `name`. Jobs the body submits from this
    * thread carry the span id as a local property. `parent` defaults to
    * the span open on this thread; a body running on a pool thread names
    * its parent explicitly. */
  def span[A](name: String, parent: Int = -2)(body: => A): A =
    if (!tracing) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent == -2) open.get() else parent
      val prevOpen = open.get()
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Recorder.SpanProperty)
      open.set(id)
      sc.setLocalProperty(Recorder.SpanProperty, id.toString)
      val t0 = nowUs
      try body
      finally {
        spans.add(SpanRec(id, name, p, t0, nowUs))
        sc.setLocalProperty(Recorder.SpanProperty, prevProp)
        open.set(prevOpen)
      }
    }

  /** Registers the scheduler and query listeners (traced runs only). */
  def install(s: SparkSession): Unit = {
    spark = s
    if (tracing) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val span = Option(e.properties)
            .flatMap(p => Option(p.getProperty(Recorder.SpanProperty)))
            .map(_.toInt).getOrElse(-1)
          val j = new JobRec(e.jobId, span, e.time)
          jobs.put(e.jobId, j)
          e.stageIds.foreach(sid => stageJob.putIfAbsent(sid, j))
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          jobs.get(e.jobId).foreach(_.endMs = e.time)
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val info = e.stageInfo
          stageJob.get(info.stageId).foreach { j =>
            j.synchronized {
              j.tasks += info.numTasks
              Option(info.taskMetrics).foreach { m =>
                j.taskMs += m.executorRunTime
                j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
                j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
                j.recordsRead += m.inputMetrics.recordsRead
              }
            }
          }
        }
      })
      s.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          qes.add(Recorder.describe(qe))
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
          qes.add(Recorder.describe(qe))
      })
    }
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit =
    if (tracing) org.apache.spark.perfbench.ListenerBusShim.drain(spark.sparkContext)
}

object Recorder extends AdaptiveSparkPlanHelper {
  val SpanProperty = "perfbench.span"

  def describe(qe: QueryExecution): QeRec = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val scans = scala.util.Try(collectWithSubqueries(qe.executedPlan) {
      case s: InMemoryTableScanExec => s
    }.size).getOrElse(0)
    QeRec(phases, scans)
  }

  def jsonSpans(r: Recorder): Seq[Map[String, Any]] =
    r.spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_us" -> s.startUs, "end_us" -> s.endUs))

  def jsonJobs(r: Recorder): Seq[Map[String, Any]] =
    r.jobs.values.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs,
      "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
      "records_read" -> j.recordsRead))

  def jsonQes(r: Recorder): Seq[Map[String, Any]] =
    r.qes.asScala.toSeq.map(q => Map(
      "phases" -> q.phases.map { case (k, (a, b)) => k -> Seq(a, b) },
      "cached_scans" -> q.cachedScans))
}
