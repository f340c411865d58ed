package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code starts, read off the listener
  * bus (drained before and after, so no job of the block is missed and
  * none of the code before it is counted). */
object JobLog {

  /** One job: its tags, and the ids of the RDDs its stages read. */
  final case class Job(tags: Set[String], rdds: Set[Int]) {
    /** A broadcast exchange's collect job, tagged with its run id. */
    def isBroadcast: Boolean = tags.exists(_.startsWith("broadcast exchange"))
    def readsWarehouse(spark: SparkSession): Boolean =
      rdds.exists(etl.Warehouse.isLeaf(spark, _))
  }

  /** `f`'s result and the jobs it started. */
  def of[A](spark: SparkSession)(f: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Job(
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .fold(Set.empty[String])(_.split(",").toSet),
          e.stageInfos.flatMap(_.rddInfos.map(_.id)).toSet))
    }
    org.apache.spark.graft.ListenerShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.graft.ListenerShim.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
