package graft

import org.apache.spark.sql.SparkSession

/** The one scaffold every decade-bench main runs on: the session
  * recipe (`local[SPARK_GRAFT_CPUS]`, matching shuffle partitions,
  * UTC, no UI, a generated-code cache that holds the working set and is
  * keyed by code alone, the engine's session extensions —
  * [[GraftExtensions]]), the temp work root, the run-scoped manifest
  * catalog and the wall-clock timer. Every session the project builds —
  * the test suite's, Verify's, Bench's, the pipeline mains', the dev
  * probes' — comes from this recipe, so a harness change (a new
  * required conf, a timer fix) lands HERE once, and no bench can
  * quietly measure a differently-configured session. */
object BenchHarness {

  /** Spark's generated-class cache, `spark.sql.codegen.cache.maxEntries`
    * (Spark's default: 100 LRU entries), sized to hold the working set:
    * one full Verify pass compiles 2,263 distinct classes (the warehouse
    * build and the 12 BI queries about 300), and this is the next power
    * of two above that. At 100, every warm round of the BI queries
    * recompiled about 165 classes. A static conf: it takes effect only
    * when the session is built. */
  val CodegenCacheEntries = 4096

  /** Generated classes named without their whole-stage-codegen stage id
    * (`spark.sql.codegen.useIdInClassName`, on by default), so the class
    * cache above is keyed by the code alone. A warm BI query that reuses
    * a dimension broadcast its first execution built has one stage
    * fewer, and its stages are numbered one lower; with the id in the
    * name every class of those stages missed the cache once more. */
  val CodegenIdInClassName = false

  /** `local[cpus]` session; `defaultCpus` only seeds the env fallback
    * (the streaming relay runs on 4 threads by default, the batch
    * benches on 32). */
  def session(defaultCpus: String = "32"): SparkSession =
    onCores(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus))

  /** The recipe on exactly `cpus` local cores, plus the caller's own
    * session-build confs. */
  def onCores(cpus: String, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", CodegenIdInClassName.toString)
      .withExtensions(new GraftExtensions)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fresh temp work root for one bench run. */
  def workRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** Register the `graft` manifest catalog over `warehouse` —
    * run-scoped, so re-runs never trip over a prior run's pointer
    * files in a shared default warehouse. */
  def manifestCatalog(spark: SparkSession, warehouse: String): Unit = {
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.manifest.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
  }

  /** (result, wall seconds). */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
