package graft

import graft.etl.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What the session extensions change: a warm BI query reuses the
  * dimension broadcasts over the warehouse and sorts its tiny result in
  * one task, each rule declines what it must not touch, and every
  * session plans manifest aggregates alike from its first query. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private val biQueries = Seq(
    "q_monthly_sales", "q_top_products", "q_country_sales", "q_region_sales",
    "q_sales_cube", "q_sales_rollup", "q_running_revenue", "q_top_per_country",
    "q_quarter_pivot", "q_fk_orphans", "q_checks", "q_analyze_stats")

  /** Every node of `df`'s executed plan, through each adaptive boundary. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    def go(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => q +: go(q.plan)
      case n => Seq(n)
    }
    go(df.queryExecution.executedPlan)
  }

  private def isRangeShuffle(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  private def rangeShuffles(df: DataFrame): Int = nodes(df).count(isRangeShuffle)

  test("a warm round of the BI queries: at most 3 jobs a query on average, no Warehouse broadcast, the same rows") {
    val first = biQueries.map(q => q -> SparkEntry.queries(q)(spark, sf).collect().toSeq).toMap
    val second = biQueries.map(q =>
      q -> JobLog.of(spark)(SparkEntry.queries(q)(spark, sf).collect().toSeq))
    second.foreach { case (q, (rows, _)) =>
      assert(rows === first(q), s"$q: the warm round's rows differ from the first round's")
    }
    val jobs = second.map { case (q, (_, js)) => q -> js }
    val summary = jobs.map { case (q, js) =>
      s"$q: ${js.size} jobs, ${js.count(_.isBroadcast)} broadcast"
    }.mkString("\n")
    jobs.foreach { case (q, js) =>
      assert(!js.exists(j => j.isBroadcast && j.readsWarehouse(spark)),
        s"$q rebuilt a Warehouse broadcast:\n$summary")
    }
    // q_region_sales also broadcasts two raw fixture tables, which are
    // not Warehouse leaves, so the bound is on the round's mean
    assert(jobs.map(_._2.size).sum <= 3 * jobs.size, s"over 3 jobs a query:\n$summary")
  }

  test("broadcast reuse: a Warehouse dimension is built once; a createDataFrame(rdd) one every query") {
    val wh = Warehouse(spark, sf)
    val whDim = wh.dimCustomer.select("customer_key", "country")
    val rddDim = spark.createDataFrame(whDim.rdd, whDim.schema)
    def byCountry(dim: DataFrame) =
      wh.fact.join(broadcast(dim), Seq("customer_key")).groupBy("country").count()
    def broadcasts(js: Seq[JobLog.Job]) = js.count(_.isBroadcast)
    def reused(df: DataFrame) = nodes(df).count(_.isInstanceOf[ReusedExchangeExec])

    val expected = byCountry(whDim).collect().toSet
    val (onWh, whJobs) = JobLog.of(spark) {
      val df = byCountry(whDim); assert(df.collect().toSet === expected); df
    }
    assert(broadcasts(whJobs) === 0 && reused(onWh) === 1,
      s"a Warehouse dimension was broadcast again:\n${onWh.queryExecution.executedPlan}")

    byCountry(rddDim).collect()
    val (onRdd, rddJobs) = JobLog.of(spark) {
      val df = byCountry(rddDim); assert(df.collect().toSet === expected); df
    }
    assert(broadcasts(rddJobs) === 1 && reused(onRdd) === 0,
      s"a broadcast over a plain RDD scan was reused:\n${onRdd.queryExecution.executedPlan}")
  }

  test("broadcast reuse holds whole leaves only: a dimension filtered by a literal is built by every query and never held") {
    val wh = Warehouse(spark, sf)
    val countries = wh.dimCustomer.select("country").distinct().collect().map(_.getString(0)).take(3)
    def held = AppCache.sizes(spark)("warehouse.broadcasts")
    val before = held
    countries.foreach { c =>
      val dim = wh.dimCustomer.filter(col("country") === c).select("customer_key", "country")
      def byCountry() = wh.fact.join(broadcast(dim), Seq("customer_key")).groupBy("country").count()
      val expected = byCountry().collect().toSet
      val (rows, jobs) = JobLog.of(spark)(byCountry().collect().toSet)
      assert(rows === expected)
      assert(jobs.count(_.isBroadcast) === 1, s"the dimension filtered on '$c' was not built again")
    }
    assert(held === before, "a filtered dimension's broadcast was held")
  }

  test("sort rule: one task for a tiny input; the range shuffle stays over the threshold, before its input runs, and for repartitionByRange") {
    val tiny = SparkEntry.queries("q_monthly_sales")(spark, sf)
    val initial = tiny.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => fail(s"not adaptive:\n$p")
    }
    assert(initial.find(isRangeShuffle).isDefined,
      s"the rule fired before its input ran:\n$initial")
    val (_, jobs) = JobLog.of(spark)(tiny.collect())
    assert(rangeShuffles(tiny) === 0 && nodes(tiny).exists(_.isInstanceOf[CoalesceExec]),
      s"a tiny presentation sort still range-shuffles:\n${nodes(tiny).mkString("\n")}")
    assert(jobs.size === 2, s"expected the aggregate's shuffle and the result: $jobs")

    // a fresh session of the same application, so the conf stays here
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    val over = SparkEntry.queries("q_monthly_sales")(s, sf)
    assert(over.collect().toSeq === tiny.collect().toSeq)
    assert(rangeShuffles(over) === 1, "an input over the threshold lost its range shuffle")

    val user = Warehouse(spark, sf).fact.groupBy("customer_key").count()
      .repartitionByRange(3, col("customer_key"))
    assert(user.collect().length > 0)
    assert(rangeShuffles(user) === 1, "a user repartitionByRange lost its range shuffle")
    assert(user.rdd.getNumPartitions === 3)
  }

  test("sort rule: the range shuffle stays when a join or an explode between it and its tiny inputs can add rows") {
    // 40 aggregated rows on one key each side: the join emits 40 x 40
    import spark.implicits._
    def tiny(v: String) =
      (0L until 40L).map(i => (i / 100, i)).toDF("k", v).groupBy("k", v).count().drop("count")
    val joined = tiny("v").join(tiny("w"), "k").orderBy("v", "w")
    val exploded = tiny("v").select(col("v"), explode(sequence(lit(1), lit(40))).as("e")).orderBy("v", "e")
    Seq("join" -> joined, "explode" -> exploded).foreach { case (what, df) =>
      assert(df.collect().length === 1600)
      assert(rangeShuffles(df) === 1 && !nodes(df).exists(_.isInstanceOf[CoalesceExec]),
        s"a sort over a $what became one task:\n${nodes(df).mkString("\n")}")
    }
  }

  test("a fresh session plans a manifest COUNT(*) the same before and after the catalog is first touched") {
    val base = java.nio.file.Files.createTempDirectory("graft_ext_count").toString + "/t"
    import spark.implicits._
    ext.Manifests.commitData((1 to 50).map(i => (i.toLong, i % 3)).toDF("k", "g"), base)
    ext.Manifests.analyze(spark, base, Seq("k"))
    // a manifest relation resolved in another session, counted in a
    // fresh one that has touched no manifest source or catalog yet
    val rel = spark.read.format("graft.sources.manifest").load(base)
    val fresh: SparkSession = spark.newSession()
    def collapsed(): Boolean =
      org.apache.spark.sql.graft.SessionShim.rebind(fresh, rel).groupBy().count()
        .queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty
    val before = collapsed()
    ext.CatalogTestSupport.registerFreshCatalog(fresh,
      java.nio.file.Files.createTempDirectory("graft_ext_cat").toString)
    fresh.sql("SHOW NAMESPACES IN graft").collect()
    assert(before === collapsed(), "the plan depends on whether the catalog was touched")
    assert(before, "a proven COUNT(*) did not answer from metadata")
  }
}
