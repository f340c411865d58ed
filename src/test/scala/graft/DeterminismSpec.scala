package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partitioning-independence — the scale-correctness property behind the
  * engine's deterministic folds: a query's RESULT may not depend on how
  * many shuffle partitions executed it (on a real cluster that number
  * changes with executor count, AQE coalescing, and data volume; a result
  * that drifts with it is a silent wrong answer at scale).
  *
  * Each representative query runs under a deliberately awkward partition
  * count (7) and the suite default (4), with every session-scoped cache
  * evicted between runs (every namespace via `AppCache.evictAll`) so
  * the second run genuinely rebuilds its lineage under the new
  * partitioning rather than reading the first run's persisted frames.
  * Covered shapes: float aggregation order (`similarity_topk`'s left-fold
  * cosine), LSH bucketing + rank (`ann_topk`, rebuilt codes), the
  * iterative k-means build (`ivf_topk` — the two-level ordered centroid
  * fold must yield bit-identical centroids under any partitioning),
  * iterative graph contraction (`dup_clusters`, rebuilt pair graph),
  * window-based keep-first (`cleaned`), and surrogate-key assignment
  * (`dim_product` — the rank-offset path that motivated Keys.scala's
  * design). */
class DeterminismSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf
  private val queries =
    Seq("similarity_topk", "ann_topk", "ivf_topk", "dup_clusters", "cleaned", "dim_product",
      // r7: per-subspace Lloyd folds; zone-map pruning over a layout
      // REBUILT under each partitioning (range boundaries differ — the
      // pruned answer may not)
      "pq_codes", "skipping_scan")

  private def runAll(parts: String): Map[String, Seq[String]] = {
    val confKey = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(confKey)
    spark.conf.set(confKey, parts)
    try {
      // quiescent point: all prior frames are collected; evictAll forces
      // EVERY cache namespace (warehouse, memo, keys, pipeline stages,
      // digest indexes, IVF centroids, ...) to rebuild under the new
      // partitioning
      AppCache.evictAll(spark)
      queries.map { name =>
        name -> SparkEntry.queries(name)(spark, sf).collect()
          .map(_.mkString("|")).toSeq
      }.toMap
    } finally spark.conf.set(confKey, old)
  }

  test("results are identical under 7 vs 4 shuffle partitions (caches evicted between)") {
    val a = runAll("7")
    val b = runAll("4")
    AppCache.evictAll(spark) // leave no odd-partitioned frames for later suites
    queries.foreach { name =>
      assert(a(name) == b(name),
        s"$name drifts with the shuffle partition count: " +
          s"${a(name).size} vs ${b(name).size} rows; first diff: " +
          s"${a(name).zip(b(name)).find(p => p._1 != p._2)}")
    }
  }
}
