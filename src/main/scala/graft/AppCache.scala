package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The one process-global cache: every memo in the engine (warehouse
  * stages, operator intermediates, fixture dirs, manifest and sidecar
  * resolutions) is a typed [[Namespace]] declared once at its site.
  *
  *  - Keys are scoped by `applicationId`, so tests and verify runs never
  *    cross-talk and a new application never sees a dead one's entries.
  *  - Builds are single-flight: `TrieMap.getOrElseUpdate` evaluates racing
  *    callers' defaults CONCURRENTLY and keeps one, so an expensive eager
  *    build (persist + count jobs, Lloyd chains) would run N times when N
  *    bench warm-up workers hit a cold key together. The map stores a
  *    lazy HOLDER instead: inserting it is trivial, every caller then
  *    forces the one stored holder, the winner runs the build exactly once
  *    and the losers block on its initialization monitor. There is no
  *    global lock, so a build that reads another namespace (or another
  *    key of its own) cannot deadlock.
  *  - A build that throws leaves no entry behind: the next call retries.
  *  - A bounded namespace clears itself (clear-all) when a miss finds it
  *    over its bound — a cache, not a ledger; entries rebuild on next use.
  *  - An optional release hook runs for every entry that leaves the
  *    namespace (unpersisting the frames a memo pinned).
  *
  * [[evictAll]] is the one release path for long-lived sessions cycling
  * through fixture dirs, or fixtures rewritten in place: everything
  * rebuilds transparently (and deterministically — DeterminismSpec uses
  * it to force rebuilds under different partitioning) on next use.
  *
  * PRECONDITION of every evict: no still-unmaterialized consumer of a
  * PRE-evict DataFrame may run afterwards. Eviction unpersists the
  * range-partitioned rank intermediates of [[functions.Keys]], and a
  * stale ranked lineage that recomputes after its intermediate is
  * unpersisted re-samples partition boundaries under a new RDD id —
  * partition ids can then disagree with the already-collected rank
  * offsets and silently corrupt surrogate keys. Evict only at a
  * quiescent point (outputs written or collected); AFTER evict, obtain
  * fresh frames from the memo — never re-run held references. The
  * evict-then-reuse contract is exercised by TransformSpec. */
object AppCache {

  private final class Cell[V](build: => V) {
    @volatile var ready = false
    lazy val value: V = { val v = build; ready = true; v }
  }

  final class Namespace[K, V] private[AppCache] (bound: Long,
      weigh: Option[V => Long], release: Option[V => Unit]) {

    private val cells = TrieMap.empty[(String, K), Cell[V]]

    /** The cached value for `k`, building it (once, however many callers
      * race) on a miss. */
    def apply(spark: SparkSession, k: K)(build: => V): V = {
      val key = (app(spark), k)
      val cell = cells.getOrElse(key, {
        clearIfOverBound()
        cells.getOrElseUpdate(key, new Cell(build))
      })
      try cell.value
      catch { case e: Throwable => cells.remove(key, cell); throw e }
    }

    /** The value for `k` if one is already built — never builds. */
    def peek(spark: SparkSession, k: K): Option[V] =
      cells.get((app(spark), k)).filter(_.ready).map(_.value)

    /** Store an already-computed value: for sites that must not cache
      * every outcome of their computation (a transient miss stays
      * uncached and is recomputed next time). */
    def put(spark: SparkSession, k: K, v: V): Unit = {
      clearIfOverBound()
      val c = new Cell(v)
      c.value
      cells.put((app(spark), k), c)
    }

    /** Drop this application's entries whose key satisfies `p` (all of
      * them by default), running the release hook on each. */
    def evict(spark: SparkSession, p: K => Boolean = (_: K) => true): Unit = {
      val a = app(spark)
      cells.keys.filter(k => k._1 == a && p(k._2)).foreach(drop)
    }

    /** This application's built values. */
    def values(spark: SparkSession): Iterator[V] = {
      val a = app(spark)
      cells.iterator.collect { case (k, c) if k._1 == a && c.ready => c.value }
    }

    /** This application's entry count. */
    def size(spark: SparkSession): Int = {
      val a = app(spark)
      cells.keys.count(_._1 == a)
    }

    private def drop(key: (String, K)): Unit =
      cells.remove(key).foreach(c =>
        release.foreach(r => scala.util.Try(c.value).foreach(r)))

    private def clearIfOverBound(): Unit =
      if (bound < Long.MaxValue) {
        val w = weigh.fold(cells.size.toLong)(f =>
          cells.valuesIterator.filter(_.ready).map(c => f(c.value)).sum)
        if (w > bound) cells.keys.foreach(drop)
      }
  }

  private val namespaces = TrieMap.empty[String, Namespace[_, _]]

  /** Declare a namespace. `bound` caps the entry count, or the summed
    * `weigh` of the built entries when one is given; `release` runs on
    * every entry that leaves. Names are unique per process. */
  def namespace[K, V](name: String, bound: Long = Long.MaxValue,
      weigh: V => Long = null, release: V => Unit = null): Namespace[K, V] = {
    val ns = new Namespace[K, V](bound, Option(weigh), Option(release))
    require(namespaces.putIfAbsent(name, ns).isEmpty,
      s"cache namespace '$name' declared twice")
    ns
  }

  /** Evict this application's entries from every namespace. */
  def evictAll(spark: SparkSession): Unit =
    namespaces.values.foreach(_.evict(spark, (_: Any) => true))

  /** This application's entry count per declared namespace. */
  private[graft] def sizes(spark: SparkSession): Map[String, Int] =
    namespaces.iterator.map { case (n, ns) => n -> ns.size(spark) }.toMap

  private def app(spark: SparkSession): String =
    spark.sparkContext.applicationId
}
