package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

/** The app-scoped cache: every namespace is reached by one evict, builds
  * run once per cold key however many callers race, a failed build never
  * poisons its key, and a bounded namespace clears at its bound. */
class AppCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fresh[V](tag: String, bound: Long = Long.MaxValue,
      weigh: V => Long = null, release: V => Unit = null) =
    AppCache.namespace[String, V](
      s"test.$tag.${java.util.UUID.randomUUID()}", bound, weigh, release)

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `q`'s rows, and the ids of the broadcasts its executed plan reused
    * from earlier queries. */
  private def reusing(s: org.apache.spark.sql.SparkSession, q: String): (Seq[org.apache.spark.sql.Row], Set[Long]) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    val df = SparkEntry.queries(q)(s, TestSpark.sf)
    val rows = df.collect().toSeq
    def ids(p: SparkPlan): Seq[Long] = p.flatMap {
      case a: AdaptiveSparkPlanExec => ids(a.executedPlan)
      case st: QueryStageExec => ids(st.plan)
      case ReusedExchangeExec(_, b: BroadcastExchangeExec) => Seq(b.relationFuture.get().id)
      case _ => Nil
    }
    (rows, ids(df.queryExecution.executedPlan).toSet)
  }

  test("evictAll empties every namespace and releases every persisted frame") {
    // start from a quiescent, empty cache: earlier suites' frames are
    // collected, and their entries are not this test's to count
    AppCache.evictAll(spark)
    val before = persistedIds
    Seq("similarity_topk", "ann_topk", "ivf_topk", "dup_clusters", "cleaned",
      "dim_product", "pq_codes", "skipping_scan", "q_country_sales")
      .foreach(q => SparkEntry.queries(q)(spark, TestSpark.sf).collect())
    // a warm BI query: its dimension broadcast is held on the driver
    val broadcasts = reusing(spark, "q_country_sales")._2
    assert(broadcasts.nonEmpty, "the warm query reused no dimension broadcast")
    assert(broadcasts.subsetOf(org.apache.spark.graft.BlockShim.broadcastIds(spark.sparkContext)))
    // one manifest read of a table carrying DV sidecars, plus the change
    // feed across the delete (the per-sidecar DV entries)
    val wh = java.nio.file.Files.createTempDirectory("graft_appcache_wh").toString
    ext.CatalogTestSupport.registerFreshCatalog(spark, wh)
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, i % 7)).toDF("id", "grp")
      .createOrReplaceTempView("appcache_src")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.appcache")
    spark.sql("CREATE TABLE graft.appcache.t AS SELECT * FROM appcache_src")
    spark.sql("CALL graft.system.delete_mor('appcache.t', 'id % 10 = 3')")
    val base = s"$wh/appcache/t"
    val v = ext.Manifests.latestVersion(spark, base).get
    assert(ext.Manifests.dvFiles(spark, base, v).nonEmpty,
      "fixture must carry DV sidecars")
    assert(spark.sql("SELECT * FROM graft.appcache.t").count() === 180)
    assert(ext.Manifests.changesBetween(spark, base, 0, v).count() === 20)

    val populated = AppCache.sizes(spark).filter(_._2 > 0)
    Seq("warehouse", "warehouse.broadcasts", "tables.schemas", "memo", "keys.ranked",
      "similarity.ivf_centroids", "skipping.fixtures", "manifests.files",
      "manifests.dv_sidecars")
      .foreach(n => assert(populated.contains(n), s"$n was never populated"))
    assert(persistedIds.diff(before).nonEmpty)

    AppCache.evictAll(spark)
    val left = AppCache.sizes(spark).filter(_._2 > 0)
    assert(left.isEmpty, s"entries survive evictAll: $left")
    assert(persistedIds === before,
      s"persisted RDDs survive evictAll: ${persistedIds.diff(before)}")
    val blocks = org.apache.spark.graft.BlockShim.broadcastIds(spark.sparkContext)
    assert(broadcasts.intersect(blocks).isEmpty,
      s"broadcast blocks survive evictAll: ${broadcasts.intersect(blocks)}")
  }

  test("a rebuilt warehouse never reuses a released broadcast, and answers as a session without reuse does") {
    val q = "q_quarter_pivot"
    reusing(spark, q)
    val old = reusing(spark, q)._2
    assert(old.nonEmpty)
    AppCache.evictAll(spark)
    val (rebuiltRows, firstReuse) = reusing(spark, q)
    assert(firstReuse.isEmpty, s"the rebuilt warehouse's first query reused $firstReuse")
    val (warmRows, reused) = reusing(spark, q)
    assert(reused.nonEmpty && reused.intersect(old).isEmpty)
    val plain = spark.newSession()
    plain.conf.set("spark.sql.exchange.reuse", "false")
    plain.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val (expected, none) = reusing(plain, q)
    assert(none.isEmpty)
    assert(rebuiltRows === expected && warmRows === expected)
  }

  test("a dimension broadcast whose build fails leaves no entry and is rebuilt next time") {
    import org.apache.spark.sql.functions.broadcast
    // a shape no other query broadcasts, built in a session whose
    // broadcast size limit fails every build after its collect job
    def byId(s: org.apache.spark.sql.SparkSession) = {
      val wh = etl.Warehouse(s, TestSpark.sf)
      wh.fact.join(broadcast(wh.dimCustomer.select("customer_key", "customer_id")), Seq("customer_key"))
        .groupBy("customer_id").count().collect()
    }
    val capped = spark.newSession()
    capped.conf.set("spark.sql.maxBroadcastTableSize", "1b")
    def entries = AppCache.sizes(spark)("warehouse.broadcasts")
    val before = entries
    (1 to 2).foreach { _ =>
      val (_, jobs) = JobLog.of(spark)(intercept[Exception](byId(capped)))
      assert(jobs.exists(_.isBroadcast), "the failed build was not attempted again")
      assert(entries === before, "a failed broadcast build left an entry")
    }
    val (_, jobs) = JobLog.of(spark)(byId(spark))
    assert(jobs.exists(_.isBroadcast) && entries === before + 1,
      "a build that succeeds after a failed one was not held")
  }

  test("DV reads stay exact while another thread evicts every namespace") {
    val wh = java.nio.file.Files.createTempDirectory("graft_appcache_conc").toString
    ext.CatalogTestSupport.registerFreshCatalog(spark, wh)
    import spark.implicits._
    (1 to 300).map(i => (i.toLong, i % 7)).toDF("id", "grp")
      .createOrReplaceTempView("appcache_conc_src")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.appcache_conc")
    spark.sql("CREATE TABLE graft.appcache_conc.t AS SELECT * FROM appcache_conc_src")
    spark.sql("CALL graft.system.delete_mor('appcache_conc.t', 'id % 10 = 3')")
    val base = s"$wh/appcache_conc/t"
    val live = 270L
    assert(ext.Manifests.readLatest(spark, base).count() === live)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val evictions = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val evictor = Future {
        while (!stop.get()) {
          AppCache.evictAll(spark); evictions.incrementAndGet(); Thread.sleep(2)
        }
      }
      val readers = (1 to 4).map(t => Future {
        (1 to 6).map { i =>
          if ((t + i) % 2 == 0) ext.Manifests.readLatest(spark, base).count()
          else spark.sql("SELECT * FROM graft.appcache_conc.t").count()
        }
      })
      val counts =
        try readers.flatMap(Await.result(_, Duration(120, TimeUnit.SECONDS)))
        finally stop.set(true)
      Await.result(evictor, Duration(60, TimeUnit.SECONDS))
      assert(counts.size === 24 && counts.forall(_ == live), s"counts: $counts")
      assert(evictions.get > 0)
    } finally pool.shutdownNow()
  }

  test("8 threads on one cold key run the build once") {
    val ns = fresh[Int]("single_flight")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        ns(spark, "k") { builds.incrementAndGet(); Thread.sleep(200); 42 }
      })
      start.countDown()
      val got = calls.map(Await.result(_, Duration(60, TimeUnit.SECONDS)))
      assert(got.forall(_ == 42))
      assert(builds.get === 1)
      assert(ns.size(spark) === 1)
    } finally pool.shutdown()
  }

  test("a build that throws is retried on the next call and leaves no entry") {
    val ns = fresh[Int]("failing")
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      ns(spark, "k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(ns.size(spark) === 0)
    assert(ns.peek(spark, "k").isEmpty)
    assert(ns(spark, "k") { builds.incrementAndGet(); 7 } === 7)
    assert(ns(spark, "k") { builds.incrementAndGet(); 8 } === 7)
    assert(builds.get === 2)
  }

  test("a bounded namespace clears at its bound; a weighted one at its summed weight") {
    val ns = fresh[Int]("bounded", bound = 3)
    (1 to 4).foreach(i => ns(spark, s"k$i")(i))
    assert(ns.size(spark) === 4, "at the bound nothing clears")
    ns(spark, "k5")(5)
    assert(ns.size(spark) === 1, "the next miss past the bound clears all")
    assert(ns.peek(spark, "k1").isEmpty && ns.peek(spark, "k5").contains(5))
    ns(spark, "k5")(-1) // hits never clear
    assert(ns.size(spark) === 1)

    val w = fresh[Seq[Int]]("weighted", bound = 10, weigh = _.size.toLong)
    w(spark, "a")(Seq.fill(6)(0))
    w(spark, "b")(Seq.fill(5)(0))
    assert(w.size(spark) === 2)
    w(spark, "c")(Seq(1))
    assert(w.size(spark) === 1 && w.peek(spark, "c").contains(Seq(1)))
  }

  test("evict runs the release hook once per entry, filtered by the key predicate") {
    val released = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ns = fresh[Int]("release", release = v => released.synchronized(released += v))
    (1 to 4).foreach(i => ns(spark, s"k$i")(i))
    ns.evict(spark, _ == "k2")
    assert(released.toSeq === Seq(2) && ns.size(spark) === 3)
    ns.evict(spark)
    assert(released.sorted.toSeq === Seq(1, 2, 3, 4) && ns.size(spark) === 0)
  }
}
