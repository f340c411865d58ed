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
  * instead of OOMing when the cleaned table outgrows executor memory), and
  * every downstream query reuses the cached stage. On a real cluster the
  * same role is played by the parquet warehouse [[Transform.writeWarehouse]]
  * writes (and [[Pipeline]] runs); for the in-session query surface the
  * cache avoids the write-read cycle while keeping one-pass semantics.
  */
final case class Warehouse(
    staging: DataFrame,
    cleaned: DataFrame,
    dimProduct: DataFrame,
    dimCustomer: DataFrame,
    dimDate: DataFrame,
    fact: DataFrame)

object Warehouse {

  /** Keyed by sf-dir; released stages are unpersisted (the
    * [[graft.AppCache]] evict precondition applies). */
  private val cache = graft.AppCache.namespace[String, Warehouse]("warehouse",
    release = wh => Seq(wh.fact, wh.dimDate, wh.dimCustomer, wh.dimProduct,
      wh.cleaned, wh.staging).foreach(_.unpersist(blocking = false)))

  def apply(spark: SparkSession, dir: String): Warehouse = {
    // single-flight: N warm-up workers hitting a cold memo must not each
    // run the whole ETL build
    val wh = cache(spark, dir)(build(spark, dir))
    // The memo is APP-scoped but a DataFrame is bound to the session that
    // analyzed it: hand a sibling session (bench warm-up workers) frames
    // re-rooted onto ITS session, or temp views / SQL-function
    // registrations made by the caller would land on the wrong catalog
    // (SessionShim.rebind; the shared cache manager matches the rebound
    // plan by canonicalization, so the persisted stages are still hit).
    def rb(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.SessionShim.rebind(spark, df)
    if (wh.staging.sparkSession eq spark) wh
    else Warehouse(rb(wh.staging), rb(wh.cleaned), rb(wh.dimProduct),
      rb(wh.dimCustomer), rb(wh.dimDate), rb(wh.fact))
  }

  private def build(spark: SparkSession, dir: String): Warehouse = {
    def p(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
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
    val staging = p(spread(Staging.staging(spark, dir), "stock_code"))
    val cleaned = p(spread(Clean.cleaned(staging), "invoice_no"))
    // The dim builds are EAGER (surrogate-key ranking runs a range-sample
    // job + a partition-counts job each — Keys.withRank), and construction
    // used to run them back-to-back: 3 × (2 small jobs + a persist), each
    // leaving most of the cluster idle. Materialize `cleaned` once so the
    // dims never race to fill its cache, then build the three dims from a
    // thread pool so their jobs back-fill each other's stragglers
    // (opt guide §2.6 — overlap independent jobs; actions are sequential
    // only because driver code calls them sequentially).
    cleaned.count()
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // blocking{}: each dim build runs eager Spark actions (Keys.withRank
    // sample + counts). On the global fork-join pool that would pin a
    // worker thread for the job's full wall time — with up to 8 bench
    // warm-up workers also entering build paths, a low-core driver can
    // starve the pool (r18 ADVICE). blocking{} lets it grow a
    // compensation thread instead.
    val fP = Future(blocking { p(Transform.dimProduct(cleaned)) })
    val fC = Future(blocking { p(Transform.dimCustomer(cleaned)) })
    val fD = Future(blocking { p(Transform.dimDate(cleaned)) })
    val dimP = Await.result(fP, Duration.Inf)
    val dimC = Await.result(fC, Duration.Inf)
    val dimD = Await.result(fD, Duration.Inf)
    val fact = p(Transform.factSales(cleaned, dimP, dimC, dimD))
    Warehouse(staging, cleaned, dimP, dimC, dimD, fact)
  }
}
