package graft.operators

import java.time.Instant

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end training-corpus pipeline — the composition a real user runs:
  * scrub → quality gate → exact dedup → near-dup clustering →
  * decontamination → train split → interleave + pack. The individual
  * operators live in [[Scrub]]/[[TextAnalysis]]/[[Dedup]]/[[Corpus]]; this
  * object chains them with per-stage row metrics, a runnable [[main]]
  * (mirroring [[graft.etl.Pipeline]]'s replacement of the reference's
  * master DAG, `dags/dag_master_pipeline.py:63-98`), and an oracle-checked
  * stage summary ([[runSummary]] — DuckDB replays every stage, including
  * the MinHash clustering, via [[runSummaryOracleSql]]).
  *
  * Pipeline input ([[rawCorpus]]): the fixture corpus with BOTH
  * deterministic injections — PII ([[Scrub.corpusWithPii]] convention)
  * applied FIRST, then planted duplicates copied from the injected text —
  * so every stage is non-vacuous (scrub redacts, dedup collapses,
  * decontaminate flags) and copies remain true duplicates after scrubbing.
  *
  * Scale: each stage is one of the already-audited operator lineages
  * (digest-only shuffles, banded LSH with bucket caps, O(log n) star
  * contraction, broadcast eval side); the chain persists each stage
  * boundary once, so the pipeline is a linear pass over the corpus with
  * no stage recomputation.
  */
object CorpusPipeline {

  /** Fixture docs + PII injection + planted duplicates (in that order;
    * offsets from [[Dedup.plantUnit]]). */
  def rawCorpus(spark: SparkSession, dir: String): DataFrame =
    // ONE pass over the PII-injected corpus: each row explodes into
    // itself plus its planted copies (Dedup.corpusWithDups's shape) —
    // the 3-branch union form re-ran the PII regexp injection per
    // branch and invited LeftSemi-through-Union build-side duplication
    Scrub.corpusWithPii(spark, dir)
      .select(explode(expr(
        s"""concat(
           |  array(struct(CAST(doc_id AS BIGINT) AS doc_id, text)),
           |  slice(array(struct(CAST(doc_id + ${Dedup.plantUnit}L AS BIGINT) AS doc_id, text)),
           |        1, IF(doc_id % 10 = 0, 1, 0)),
           |  slice(array(struct(CAST(doc_id + ${2 * Dedup.plantUnit}L AS BIGINT) AS doc_id,
           |                     concat(text, ' zzz extra trailing pad') AS text)),
           |        1, IF(doc_id % 10 = 5, 1, 0)))""".stripMargin)).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.text").as("text"))

  /** Stage 1: redact PII in place (rows preserved). */
  def scrubStage(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(regexp_replace(col("text"), Scrub.emailPattern, "<EMAIL>"),
        Scrub.phonePattern, "<PHONE>").as("text"))

  /** Stage 2: [[TextAnalysis.qualityScore]]'s gate as a filter (the
    * thresholds and stopword list interpolate from TextAnalysis's single
    * definitions). */
  def qualityStage(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("n_stopwords", expr(
        s"size(filter(split(text, ' '), w -> w IN (${TextAnalysis.stopwordSqlList})))"))
      .withColumn("n_chars", length(col("text")))
      .filter(expr(TextAnalysis.qualityGateSql))
      .select("doc_id", "text")

  /** Stage 3: exact dedup, keep-first by content digest (window min — no
    * self-join, the [[Corpus.cleanCorpus]] shape). */
  def exactDedupStage(docs: DataFrame): DataFrame =
    docs
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "text")

  /** Stage 4: near-dup removal — MinHash pairs over THIS stage's corpus,
    * star-contracted to clusters ([[Dedup.connectedComponents]]), keep
    * only cluster representatives (and untouched docs). */
  def nearDedupStage(docs: DataFrame): DataFrame =
    nearDedupStageFrom(docs, Dedup.minhashSignatures(docs))

  /** [[nearDedupStage]] sharing caller-held signatures — [[build]] computes
    * them once and reuses them for the shed census, so surfacing the
    * telemetry costs one aggregate, not a second shingle explosion. */
  def nearDedupStageFrom(docs: DataFrame, sigs: DataFrame): DataFrame = {
    val members = Dedup.connectedComponents(Dedup.minhashPairsFromSigs(sigs))
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select("doc_id")
    docs.join(members, Seq("doc_id"), "left_anti")
  }

  /** Stage 5: decontamination — drop the eval docs themselves AND every
    * training doc sharing a [[Corpus.contamN]]-gram with them. */
  def decontaminateStage(docs: DataFrame): DataFrame = {
    val evalG = Corpus.ngramDigests(docs.filter(col("doc_id") < Corpus.evalN), Corpus.contamN)
      .select("digest").distinct()
    val flagged = Corpus.ngramDigests(docs.filter(col("doc_id") >= Corpus.evalN), Corpus.contamN)
      .join(broadcast(evalG), Seq("digest"))
      .select("doc_id").distinct()
    docs.filter(col("doc_id") >= Corpus.evalN)
      .join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Stage 6: keep the train split ([[Corpus.trainSplit]]'s bucket < 80).
    * Doc-id hashing is leakage-safe HERE because stage 4 already
    * collapsed every near-dup family to its representative — the
    * cluster-keyed [[Corpus.leakageSafeSplit]] is the tool when a corpus
    * is split WITHOUT near-dedup running first. */
  def trainStage(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.filter(pmod(
      Dedup.fastHash60(spark, concat(lit("split:"), col("doc_id").cast("string"))),
      lit(100L)) < 80)

  /** Stage 7: source-weighted interleave of the surviving train docs
    * (source recovered by inverting the [[Dedup.plantUnit]] copy offsets). */
  def interleaveStage(spark: SparkSession, dir: String, docs: DataFrame): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id").as("orig_id"), col("source"))
    Corpus.interleaveOf(
      docs.withColumn("orig_id", col("doc_id") % Dedup.plantUnit)
        .join(src, "orig_id")
        .select("doc_id", "source"))
  }

  private[graft] case class Built(
    metrics: Seq[(String, Long, Long, Long, Double)],
    train: DataFrame, interleaved: DataFrame, packs: DataFrame,
    allStages: Seq[DataFrame])

  private[graft] val cache = graft.AppCache.namespace[String, Built]("corpus_pipeline",
    release = _.allStages.foreach(graft.functions.Memo.releaseFrame))

  /** Run the chain once per (session, sf-dir): every stage boundary is
    * persisted, counted (the rows_in/rows_out metrics ARE the stage
    * actions), and reused by [[runSummary]], [[run]] and the specs.
    * Stage metrics carry `rows_shed` — the bucket memberships the LSH cap
    * dropped ([[Dedup.lshShedRows]]) — so a run record distinguishes
    * "caps engaged" from "few duplicates" (zero for every stage without a
    * load-shedding guard). */
  private def build(spark: SparkSession, dir: String): Built =
    cache(spark, dir) {
      val metrics = Seq.newBuilder[(String, Long, Long, Long, Double)]
      def staged(name: String, rowsIn: Long, shed: Long = 0L)(
          body: => DataFrame): (DataFrame, Long) = {
        val t0 = System.nanoTime()
        val df = body.persist(StorageLevel.MEMORY_AND_DISK)
        val n = df.count()
        metrics += ((name, rowsIn, n, shed, (System.nanoTime() - t0) / 1e9))
        (df, n)
      }
      // spread the persisted pipeline ROOT (union of single-file scans →
      // 3 partitions at fixture scale): every downstream stage inherits
      // the persisted partitioning, so without this the whole 8-stage
      // chain ran ~3-wide (opt guide §2 input parallelism; no-op at real
      // scale — see Tables.spreadToCores)
      val raw = graft.Tables.spreadToCores(rawCorpus(spark, dir), col("doc_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nRaw = raw.count()
      val (s1, n1) = staged("1_scrub", nRaw)(scrubStage(raw))
      val (s2, n2) = staged("2_quality", n1)(qualityStage(s1))
      val (s3, n3) = staged("3_dedup_exact", n2)(exactDedupStage(s2))
      // signatures computed once: pair generation and the shed census share them
      val sigs4 = Dedup.minhashSignatures(s3).persist(StorageLevel.MEMORY_AND_DISK)
      val shed4 = Dedup.lshShedRows(sigs4)
      val (s4, n4) = staged("4_dedup_near", n3, shed4)(nearDedupStageFrom(s3, sigs4))
      sigs4.unpersist(blocking = false)
      val (s5, n5) = staged("5_decontaminate", n4)(decontaminateStage(s4))
      val (s6, n6) = staged("6_split_train", n5)(trainStage(spark, s5))
      val (inter, _) = staged("7_interleave", n6)(interleaveStage(spark, dir, s6))
      val packs = Corpus.packOf(s6).persist(StorageLevel.MEMORY_AND_DISK)
      val t0 = System.nanoTime()
      val nPacks = packs.select("shard", "pack_id").distinct().count()
      metrics += (("8_pack", n6, nPacks, 0L, (System.nanoTime() - t0) / 1e9))
      raw.unpersist(blocking = false)
      Built(metrics.result(), s6, inter, packs,
        Seq(s1, s2, s3, s4, s5, s6, inter, packs))
    }

  /** Per-stage row metrics as a relation — the oracle-checked surface
    * (`corpus_run_summary`). Durations are deliberately excluded: the
    * summary must hash-match the DuckDB replay. `rows_shed` IS included —
    * the cap census is deterministic, so the oracle replays it — making
    * load-shedding visible in the run record itself. */
  def runSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    build(spark, dir).metrics
      .map { case (stage, in, out, shed, _) => (stage, in, out, shed) }
      .toDF("stage", "rows_in", "rows_out", "rows_shed")
      .orderBy("stage")
  }

  /** DuckDB replay of EVERY stage — including the MinHash/LSH clustering
    * (recursive reachability CTE) — composed from the same oracle
    * builders the standalone operator queries use. */
  def runSummaryOracleSql: String = {
    val stop = TextAnalysis.stopwordSqlList
    val g = Corpus.contamN - 1
    def grams(pred: String) =
      s"""SELECT doc_id, unnest(list_distinct(list_transform(
         |   generate_series(1, greatest(len(tk) - $g, 1)),
         |   i -> md5(array_to_string(list_slice(tk, i, i + $g), ' '))))) AS digest
         | FROM s4tk WHERE $pred""".stripMargin
    val prefix =
      s"""WITH pii AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 1
         |           THEN text || ' contact user' || doc_id || '@example.com now'
         |         WHEN doc_id % 7 = 3
         |           THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         ELSE text END AS text
         |  FROM documents),
         | raw AS (
         |  SELECT doc_id, text FROM pii
         |  UNION ALL
         |  SELECT doc_id + ${Dedup.plantUnit}, text FROM pii WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + ${2 * Dedup.plantUnit}, text || ' zzz extra trailing pad'
         |  FROM pii WHERE doc_id % 10 = 5),
         | s1 AS (SELECT doc_id,
         |   regexp_replace(regexp_replace(text, '${Scrub.emailPattern}', '<EMAIL>', 'g'),
         |     '${Scrub.phonePattern}', '<PHONE>', 'g') AS text FROM raw),
         | s2 AS (SELECT doc_id, text FROM (
         |   SELECT doc_id, text,
         |     CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |     CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stop))) AS INTEGER) AS n_stopwords,
         |     CAST(length(text) AS INTEGER) AS n_chars
         |   FROM s1)
         |   WHERE ${TextAnalysis.qualityGateSql}),
         | s3 AS (SELECT doc_id, text FROM (
         |   SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM s2)
         |   WHERE doc_id = keep_id),
         | corpus AS (SELECT doc_id, text FROM s3)""".stripMargin
    s"""${Dedup.dupClustersCte(prefix).replaceFirst("WITH ", "WITH RECURSIVE ")},
       | shed4 AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n FROM (
       |   SELECT COUNT(*) AS cnt FROM banded GROUP BY band_idx, band_hash
       |   HAVING COUNT(*) > ${Dedup.maxBucketSize})),
       | s4 AS (SELECT s3.doc_id, s3.text FROM s3
       |   LEFT JOIN clusters c ON c.doc_id = s3.doc_id
       |   WHERE c.doc_id IS NULL OR c.cluster_rep = s3.doc_id),
       | s4tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM s4),
       | evg AS (SELECT DISTINCT digest FROM (${grams(s"doc_id < ${Corpus.evalN}")})),
       | flg AS (SELECT DISTINCT doc_id
       |   FROM (${grams(s"doc_id >= ${Corpus.evalN}")}) t JOIN evg USING (digest)),
       | s5 AS (SELECT doc_id, text FROM s4 WHERE doc_id >= ${Corpus.evalN}
       |   AND doc_id NOT IN (SELECT doc_id FROM flg)),
       | s6 AS (SELECT doc_id, text FROM s5
       |   WHERE CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       |     % 100 < 80),
       | s7 AS (SELECT s.doc_id FROM s6 s
       |   JOIN documents d ON d.doc_id = s.doc_id % ${Dedup.plantUnit}),
       | s8 AS (SELECT DISTINCT shard, (cum - n_tokens) // ${Corpus.defaultPackBudget} AS pack_id
       |   FROM (SELECT shard, doc_id, n_tokens,
       |     CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |   FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         doc_id % ${Corpus.defaultShards} AS shard FROM s6)))
       | SELECT stage, rows_in, rows_out, rows_shed FROM (
       |   SELECT '1_scrub' AS stage, (SELECT COUNT(*) FROM raw) AS rows_in,
       |     (SELECT COUNT(*) FROM s1) AS rows_out, CAST(0 AS BIGINT) AS rows_shed
       |   UNION ALL SELECT '2_quality', (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2), 0
       |   UNION ALL SELECT '3_dedup_exact', (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3), 0
       |   UNION ALL SELECT '4_dedup_near', (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4),
       |     (SELECT n FROM shed4)
       |   UNION ALL SELECT '5_decontaminate', (SELECT COUNT(*) FROM s4), (SELECT COUNT(*) FROM s5), 0
       |   UNION ALL SELECT '6_split_train', (SELECT COUNT(*) FROM s5), (SELECT COUNT(*) FROM s6), 0
       |   UNION ALL SELECT '7_interleave', (SELECT COUNT(*) FROM s6), (SELECT COUNT(*) FROM s7), 0
       |   UNION ALL SELECT '8_pack', (SELECT COUNT(*) FROM s6), (SELECT COUNT(*) FROM s8), 0
       | ) ORDER BY stage""".stripMargin
  }

  /** The full run with outputs: train corpus, pack assignments, and the
    * interleaved schedule as parquet, plus run/stage metadata appends
    * (the [[graft.etl.Pipeline]] O5 convention). Returns the status. */
  def run(spark: SparkSession, dir: String, outDir: String): String = {
    import spark.implicits._
    val id = graft.etl.Pipeline.runId()
    val t0 = Instant.now()
    def writeRun(status: String, nTrain: Long): Unit =
      Seq((id, "corpus_pipeline", t0.toString, Instant.now().toString,
          java.time.Duration.between(t0, Instant.now()).toMillis / 60000.0, status, nTrain))
        .toDF("run_id", "dag_id", "start_ts", "end_ts", "duration_minutes", "status",
          "records_processed")
        .write.mode("append").parquet(s"$outDir/meta/corpus_runs")
    try {
      val b = build(spark, dir)
      b.train.write.mode("overwrite").parquet(s"$outDir/corpus_train")
      b.packs.write.mode("overwrite").parquet(s"$outDir/packs")
      b.interleaved.write.mode("overwrite").parquet(s"$outDir/schedule")
      b.metrics.map { case (st, in, out, shed, sec) => (id, st, in, out, shed, sec, "SUCCESS") }
        .toDF("run_id", "stage", "rows_in", "rows_out", "rows_shed", "duration_sec", "status")
        .write.mode("append").parquet(s"$outDir/meta/corpus_stage_metrics")
      val nTrain = b.metrics.find(_._1 == "6_split_train").map(_._3).getOrElse(-1L)
      writeRun("SUCCESS", nTrain)
      "SUCCESS"
    } catch {
      case e: Throwable =>
        try writeRun("FAILED", -1L)
        catch { case meta: Throwable => e.addSuppressed(meta) }
        throw e
    }
  }

  /** Runnable entry point:
    * `sbt "runMain graft.operators.CorpusPipeline <sfDir> [outDir]"`. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val spark = graft.BenchHarness.session(defaultCpus = "4")
    val status = run(spark, dir, out)
    println(s"""{"corpus_status":"$status","out":"$out"}""")
    spark.stop()
    if (status != "SUCCESS") sys.exit(1)
  }
}
