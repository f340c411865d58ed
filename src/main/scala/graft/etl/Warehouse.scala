package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materialized-once warehouse lineage (reference shape: verification runs
  * against the already-loaded Postgres tables, `scripts/verify_ingestion.py:158-245`
  * — it never re-runs the ETL per check).
  *
  * r1 rebuilt the full staging-join + dedup + dims + fact lineage from raw
  * parquet inside EVERY quality query; at 100 TB that is re-running the
  * whole ETL dozens of times per verification pass. This layer builds each
  * stage once per (session, sf-dir), persists it (MEMORY_AND_DISK — spills
  * instead of OOMing when the cleaned table outgrows executor memory),
  * materializes it, and every downstream query reuses the cached stage. On
  * a real cluster the same role is played by the parquet warehouse
  * [[Transform.writeWarehouse]] writes (and [[Pipeline]] runs); for the
  * in-session query surface the cache avoids the write-read cycle while
  * keeping one-pass semantics.
  *
  * Every frame handed out is a LEAF: a one-node plan over its persisted
  * stage's cached rows ([[org.apache.spark.sql.graft.SessionShim.leaf]]),
  * and each next stage is built on the leaves of the ones before it. A
  * persisted frame's plan embeds its whole lineage — the fact's was
  * 4,514 lines, the staging 5-way join once per dim through
  * [[graft.functions.Keys.withRank]]'s persisted intermediates — and Spark
  * formats that plan for the SQL listener on every execution start and
  * every adaptive re-plan, UI or not: a BI query spent about half its
  * driver time printing the ETL. A leaf prints as one `Scan ExistingRDD`
  * line and still carries the stage's partitioning, ordering and cached
  * size, so joins plan as before. The data is the one compressed columnar
  * copy; the leaf reads its blocks, and a lost or released block
  * recomputes through the RDD's lineage (the stage's own plan, down to
  * the dims' still-persisted rank intermediates).
  */
final case class Warehouse(
    staging: DataFrame,
    cleaned: DataFrame,
    dimProduct: DataFrame,
    dimCustomer: DataFrame,
    dimDate: DataFrame,
    fact: DataFrame)

object Warehouse {

  /** One built warehouse: its leaves, the persisted stages behind them,
    * and the leaves' RDD ids. */
  private final case class Built(wh: Warehouse, persisted: Seq[DataFrame], leafRdds: Set[Int])

  /** Keyed by sf-dir: release unpersists the stages (the
    * [[graft.AppCache]] evict precondition applies). */
  private val cache = graft.AppCache.namespace[String, Built](
    "warehouse", release = _.persisted.foreach(_.unpersist(blocking = false)))

  /** Whether `rddId` is the RDD under a leaf of one of this
    * application's built warehouses. */
  def isLeaf(spark: SparkSession, rddId: Int): Boolean =
    cache.values(spark).exists(_.leafRdds(rddId))

  def apply(spark: SparkSession, dir: String): Warehouse = {
    // single-flight: N warm-up workers hitting a cold memo must not each
    // run the whole ETL build
    val wh = cache(spark, dir)(build(spark, dir)).wh
    // The memo is APP-scoped but a DataFrame is bound to the session that
    // analyzed it: hand a sibling session (bench warm-up workers) frames
    // re-rooted onto ITS session, or temp views / SQL-function
    // registrations made by the caller would land on the wrong catalog
    // (SessionShim.rebind; a rebound leaf reads the same RDD).
    def rb(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.SessionShim.rebind(spark, df)
    if (wh.staging.sparkSession eq spark) wh
    else Warehouse(rb(wh.staging), rb(wh.cleaned), rb(wh.dimProduct),
      rb(wh.dimCustomer), rb(wh.dimDate), rb(wh.fact))
  }

  private def build(spark: SparkSession, dir: String): Built = {
    // persist, materialize, and hand on the leaf over the cached rows
    val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    def stage(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      persisted.add(p)
      p.count()
      org.apache.spark.sql.graft.SessionShim.leaf(p)
    }
    // Cache-parallelism guard (opt guide §2, r19): the staging join and
    // the dedup inside `cleaned` each end in an exchange that AQE
    // coalesces by COMPRESSED shuffle bytes — ~2 partitions at fixture
    // scale — and a persisted frame PINS that partitioning for every
    // downstream consumer's first stage (measured r19: q_analyze_stats'
    // Expand ran as ONE 3.1 s task; clean_dedup's partial aggregate as
    // two). Spread the cached stages to core count before persisting so
    // consumers start parallel. Probe = the raw lineitem scan
    // (exchange-free, so the probe is pure planning): when the source is
    // big enough to scan in >= cores splits — the 100 TB case — the
    // caches are already parallel and this is a no-op. Keys are
    // deterministic non-null columns; every consumer is order-insensitive
    // (aggregates, ordered outputs, hash-keyed samples, and Keys.withRank
    // ranks by global key order, not partition layout). `fact` inherits
    // cleaned's partitioning through broadcast-only joins.
    val probe = graft.Tables.lineitem(spark, dir)
    def spread(df: DataFrame, key: String) =
      graft.Tables.spreadToCores(df, org.apache.spark.sql.functions.col(key), probe)
    val staging = stage(spread(Staging.staging(spark, dir), "stock_code"))
    val cleaned = stage(spread(Clean.cleaned(staging), "invoice_no"))
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // The dim builds are EAGER (surrogate-key ranking runs a range-sample
    // job + a partition-counts job each — Keys.withRank), so build the
    // three from a thread pool: their jobs back-fill each other's
    // stragglers (opt guide §2.6 — overlap independent jobs; actions are
    // sequential only because driver code calls them sequentially).
    // blocking{}: on the global fork-join pool each build would pin a
    // worker thread for its jobs' full wall time — with up to 8 bench
    // warm-up workers also entering build paths, a low-core driver can
    // starve the pool (r18 ADVICE). blocking{} lets it grow a
    // compensation thread instead.
    val fP = Future(blocking { stage(Transform.dimProduct(cleaned)) })
    val fC = Future(blocking { stage(Transform.dimCustomer(cleaned)) })
    val fD = Future(blocking { stage(Transform.dimDate(cleaned)) })
    val dimP = Await.result(fP, Duration.Inf)
    val dimC = Await.result(fC, Duration.Inf)
    val dimD = Await.result(fD, Duration.Inf)
    val fact = stage(Transform.factSales(cleaned, dimP, dimC, dimD))
    import scala.jdk.CollectionConverters._
    val stages = persisted.asScala.toSeq
    // each leaf scans its stage's `toRdd` (one RDD per query execution)
    Built(Warehouse(staging, cleaned, dimP, dimC, dimD, fact), stages,
      stages.map(_.queryExecution.toRdd.id).toSet)
  }
}
