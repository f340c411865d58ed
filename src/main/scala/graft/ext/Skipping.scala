package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping via a persisted zone-map index — the other
  * half of the [[Layout]] story: z-order clustering makes each file
  * cover a compact box of the key space, and THIS module turns that
  * into files actually not read. Spark's parquet reader already skips
  * row groups whose footer stats miss the predicate, but it still has
  * to open every file to learn that; at 100 TB / millions of objects
  * the open()+footer round trips ARE the scan cost for a selective
  * query. A zone-map table (per file: min/max/null-count per indexed
  * expression) answers "which files can match?" with one small
  * metadata scan, and the real read plans over only those files —
  * exactly the data-skipping index of Delta/Iceberg, rebuilt on plain
  * parquet.
  *
  * Scale shape: building stats is ONE column-pruned distributed scan
  * (group by `input_file_name()`, min/max agg — no shuffle wider than
  * one row per file); the stats table is ~a row per file (thousands of
  * rows for a 100 TB table — broadcastable metadata, same class as
  * [[Deletes.affectedFiles]]); pruning collects only matching FILE
  * NAMES to the driver, never data. Stats publish atomically through
  * the [[Snapshots]] version protocol, so a stats refresh racing a
  * reader is never observed half-written, and a table rewrite
  * invalidates stats by committing the next version.
  *
  * Correctness contract (what the oracle checks end to end): a range
  * conjunction evaluated over the pruned read must equal the same
  * query over the full table. Pruning drops a file only when EVERY
  * matching row is provably absent: `min > hi` or `max < lo` for some
  * conjunct. Rows where an indexed expression is null fail a range
  * conjunct anyway, so all-null zones (null min/max) are safely
  * droppable — SkippingSpec pins that edge. */
object Skipping {

  /** Per-file zone maps for the named key expressions: one row per
    * data file with `<name>_min`, `<name>_max`, `<name>_nulls`, plus
    * the file's row count. One column-pruned scan, map-side-combined
    * min/max — the exchange carries a row per (file, task).
    *
    * INTEGRAL keys additionally record a per-file `<name>_sum`: the
    * Iceberg-style ingredient that lets an unfiltered (or
    * partition-pure-filtered) `SUM(col)` answer from metadata alone —
    * Σ of per-file sums is exactly the table sum because integer
    * addition is associative (overflow included, mod 2^64). Floating
    * sums are deliberately NOT recorded: FP addition is order-
    * dependent, so a metadata fold could differ from the scan in the
    * last ulp — a metadata answer must be bit-equal or absent. */
  def buildStats(df: DataFrame, keys: Seq[(String, Column)]): DataFrame = {
    val proj = df.select(
      input_file_name().as("file") +: keys.map { case (n, c) => c.as(n) }: _*)
    import org.apache.spark.sql.types._
    def summable(n: String): Boolean = proj.schema(n).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val agged = proj.groupBy("file")
      .agg(
        count(lit(1)).as("n_rows"),
        keys.flatMap { case (n, _) =>
          Seq(
            min(col(n)).as(s"${n}_min"),
            max(col(n)).as(s"${n}_max"),
            sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"${n}_nulls")) ++
            (if (summable(n)) Seq(sum(col(n)).as(s"${n}_sum")) else Seq.empty)
        }: _*)
    // STRING bounds store a truncated prefix with WIDENING semantics
    // (Iceberg's truncate-transform on bounds): a long-text column must
    // not bloat the per-file stats row — at 100 TB the sidecar is read
    // at every plan, and full document-sized min/max would make plan
    // metadata scale with content. `<k>_trunc` records that a file's
    // bounds are widened, so exact metadata answers (MIN/MAX folds)
    // know to refuse while pruning stays valid (wider never prunes a
    // file it shouldn't). One UDF call per FILE — metadata-sized, not a
    // data-path expression.
    // ORDER INVARIANT (the r13 phantom-CDC bug class): string zone
    // bounds are computed by Spark's min/max over UTF8String — i.e.
    // UNSIGNED UTF-8 BYTE order, which diverges from Java String
    // compareTo (UTF-16 code units) on supplementary characters.
    // Every site that compares a value against these bounds MUST use
    // unsigned UTF-8 byte comparison (Manifests.cmpBound,
    // ManifestFileIndex's zone predicates via Spark expressions) —
    // a JVM-order comparison can prove two overlapping zones
    // "disjoint" and silently drop files from a diff or a pruned scan.
    keys.foldLeft(agged) { case (acc, (n, _)) =>
      proj.schema(n).dataType match {
        case StringType =>
          acc
            .withColumn(s"${n}_trunc", coalesce(
              length(col(s"${n}_min")) > stringBoundLen ||
                length(col(s"${n}_max")) > stringBoundLen, lit(false)))
            .withColumn(s"${n}_min", truncLowerUdf(col(s"${n}_min")))
            .withColumn(s"${n}_max", truncUpperUdf(col(s"${n}_max")))
        case _ => acc
      }
    }
  }

  /** Stored string-bound width. 16 chars keeps a stats row bounded
    * while leaving equality/range pruning sharp for human-scale keys
    * (ids, codes, names); document-text keys prune at prefix
    * granularity, which is what their zones can honestly say. */
  val stringBoundLen = 16

  /** Lower bound: the plain prefix — a prefix never exceeds the value
    * in UTF-8 byte order, so it is a valid (wider) lower bound. */
  private[ext] def truncLower(s: String): String =
    if (s == null || s.length <= stringBoundLen) s
    else s.substring(0, cutAt(s))

  /** Truncation point that never splits a surrogate pair (a dangling
    * high surrogate would re-encode as U+FFFD and corrupt byte-order
    * reasoning); dropping the half only shortens the prefix, which
    * stays a valid lower bound. */
  private def cutAt(s: String): Int =
    if (Character.isHighSurrogate(s.charAt(stringBoundLen - 1)))
      stringBoundLen - 1
    else stringBoundLen

  /** Upper bound: the prefix with its RIGHTMOST safely-incrementable
    * char bumped and the tail dropped — strictly above every string
    * sharing the prefix (at the bumped position the candidate's char
    * is smaller, and for valid non-surrogate BMP scalars char order
    * equals UTF-8 byte order, which is how Spark compares strings).
    * Chars whose increment would leave the safe zone (surrogate halves,
    * the 0xFFFD+ tail) are skipped leftward; if nothing in the prefix
    * can be bumped, the FULL exact value is kept — correctness over
    * compactness in the pathological case. */
  private[ext] def truncUpper(s: String): String = {
    if (s == null || s.length <= stringBoundLen) return s
    val p = s.substring(0, cutAt(s)).toCharArray
    var i = p.length - 1
    while (i >= 0) {
      val c = p(i)
      if (c < 0xD7FF || (c >= 0xE000 && c < 0xFFFD)) {
        p(i) = (c + 1).toChar
        return new String(p, 0, i + 1)
      }
      i -= 1
    }
    s
  }

  private val truncLowerUdf = udf(truncLower _)
  private val truncUpperUdf = udf(truncUpper _)

  /** Files whose zones can contain a row satisfying EVERY
    * `lo <= key <= hi` conjunct. A null zone bound means the file has
    * no non-null value for that key — no row there can pass a range
    * conjunct, so the file is pruned (`<=>`-free comparisons drop it
    * naturally: `null >= lo` is null → filter false). */
  def candidateFiles(stats: DataFrame,
      box: Seq[(String, Any, Any)]): Seq[String] = {
    val pred = box.map { case (n, lo, hi) =>
      col(s"${n}_max") >= lit(lo) && col(s"${n}_min") <= lit(hi)
    }.reduce(_ && _)
    stats.filter(pred).select("file").collect().map(_.getString(0)).toSeq
  }

  /** The pruned scan: read ONLY the candidate files, then re-apply the
    * exact predicate (zones admit whole files; the row-level filter
    * still runs — and still pushes down into the parquet scan of the
    * files that are read). Returns an empty frame with the right
    * schema when every file is pruned. */
  def prunedRead(spark: SparkSession, allFilesSample: String,
      files: Seq[String], exact: Column): DataFrame = {
    val base =
      if (files.nonEmpty) spark.read.parquet(files: _*)
      else spark.read.parquet(allFilesSample).limit(0)
    base.filter(exact)
  }

  // ---------------------------------------------------------------
  // Registered demo over the z-clustered lineitem copy
  // ---------------------------------------------------------------

  /** The 2-D box the registered query probes — a quarter of the
    * OBSERVED partkey domain × half of the suppkey domain (the same
    * modular coordinates [[Layout]] z-orders by), so the box is
    * selective at every scale factor instead of swallowing the tiny
    * fixtures whole. Derived from two MAX aggregates (a scan-speed
    * metadata query, same class as the adaptive-bits corpus count) and
    * replayed in the oracle as scalar subqueries. */
  def boxBounds(spark: SparkSession, dir: String): (Long, Long) = {
    val r = Tables.lineitem(spark, dir)
      .agg(max(pmod(col("l_partkey"), lit(65536L))),
        max(pmod(col("l_suppkey"), lit(65536L)))).head
    (r.getLong(0) / 4, r.getLong(1) / 2)
  }

  private val zoneKeys: Seq[(String, Column)] = Seq(
    "pk" -> pmod(col("l_partkey"), lit(65536L)),
    "sk" -> pmod(col("l_suppkey"), lit(65536L)))

  /** Clustered-copy/stats registrations per sf-dir. An evict
    * ([[graft.AppCache.evictAll]]) makes the next call rebuild both under
    * the CURRENT partitioning — DeterminismSpec uses this to prove the
    * pruned answer doesn't depend on how the layout write was
    * parallelized. */
  private val fixtures =
    graft.AppCache.namespace[String, (String, String)]("skipping.fixtures")

  /** Incremental stats maintenance — the zone-map index must not cost
    * a full-table scan per refresh on a table that only APPENDS: stats
    * for the new files union with the retained stats of files still
    * present, and the result publishes as the next Snapshots version.
    * Cost is O(batch + stats-table): the only data scanned is the new
    * files (the old stats rows are a per-file metadata table, not
    * data). Files that disappeared (compacted/deleted) drop out of the
    * index by the same set difference. */
  def refreshStats(spark: SparkSession, dataPath: String, statsBase: String,
      keys: Seq[(String, Column)]): Int = {
    val prev = Snapshots.readLatest(spark, statsBase)
    val present = dataFileNames(spark, dataPath).toSet
    // the stats table's `file` column carries input_file_name() URIs,
    // listings carry Hadoop path strings — compare canonical forms
    // (driver-side: the stats table is per-file metadata, so its file
    // column is bounded the same way candidateFiles' collect is)
    val prevFiles = prev.select("file").collect().map(_.getString(0))
    val known = prevFiles.map(Dfs.canonical).toSet
    val fresh = present.diff(known)
    val keptRaw = prevFiles.filter(f => present.contains(Dfs.canonical(f)))
    val kept = prev.filter(col("file").isin(keptRaw.toSeq: _*))
    val next =
      if (fresh.isEmpty) kept
      else kept.unionByName(buildStats(spark.read.parquet(fresh.toSeq: _*), keys))
    Snapshots.commit(next, statsBase)
  }

  private def dataFileNames(spark: SparkSession, path: String): Seq[String] =
    Dfs.dataFiles(spark, path).map(s => Dfs.canonical(s.getPath.toString))

  /** One-time per (session, sf-dir): write the z-clustered lineitem
    * copy and commit its zone maps as [[Snapshots]] version 0 of the
    * stats table. Returns (clustered dir, stats base). */
  private def clusteredWithStats(spark: SparkSession, dir: String): (String, String) =
    fixtures(spark, dir) {
      val data = Dfs.scratchDir(spark, "graft_skip_data")
      val stats = s"${Dfs.scratchDir(spark, "graft_skip_stats")}/zones"
      Layout.writeClustered(spark, dir, data)
      Snapshots.commit(buildStats(spark.read.parquet(data), zoneKeys), stats)
      (data, stats)
    }

  /** Registered query: a grouped aggregate over the 2-D box predicate,
    * answered from the PRUNED read of the clustered copy. Every row of
    * the answer depends on pruning keeping exactly the right files, so
    * the full-scan DuckDB oracle checks the zone-map logic itself —
    * a file wrongly dropped loses rows, wrongly kept adds none (the
    * exact filter still runs). SkippingSpec separately asserts the
    * pruning is REAL (candidate set strictly smaller than the file
    * set on the clustered layout, and not on the scattered one). */
  def skippingScan(spark: SparkSession, dir: String): DataFrame = {
    val (data, statsBase) = clusteredWithStats(spark, dir)
    val (pkHi, skHi) = boxBounds(spark, dir)
    val stats = Snapshots.readLatest(spark, statsBase)
    val files = candidateFiles(stats,
      Seq(("pk", 0L, pkHi), ("sk", 0L, skHi)))
    val exact = pmod(col("l_partkey"), lit(65536L)) <= pkHi &&
      pmod(col("l_suppkey"), lit(65536L)) <= skHi
    prunedRead(spark, data, files, exact)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag")
  }

  def skippingScanOracleSql: String =
    s"""WITH box AS (
       |  SELECT CAST(MAX(l_partkey % 65536) // 4 AS BIGINT) AS pk_hi,
       |         CAST(MAX(l_suppkey % 65536) // 2 AS BIGINT) AS sk_hi
       |  FROM lineitem)
       |SELECT l_returnflag,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       |  COUNT(DISTINCT l_partkey) AS n_parts
       |FROM lineitem, box
       |WHERE l_partkey % 65536 <= box.pk_hi AND l_suppkey % 65536 <= box.sk_hi
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
}
