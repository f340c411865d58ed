package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus assembly (SURVEY §7.5): the operators between "raw
  * documents" and "training batches" in an LLM data pipeline, each
  * deterministic and DuckDB-oracle-checked.
  *
  *  - [[trainSplit]]: reproducible train/val/test assignment by content-
  *    independent key hash ([[Dedup.portableHash60]] of the doc id):
  *    80/10/10, stable under corpus growth — a doc's split never changes
  *    when other docs are added, the property random shuffles lack.
  *  - [[packDocuments]]: sequence packing — fill fixed token-budget packs
  *    with documents. Packing is SHARD-LOCAL: the window runs inside
  *    `doc_id % nShards` partitions, so at 100 TB each shard packs
  *    independently (global greedy packing is inherently sequential; the
  *    shard cut is the standard parallel trade and costs at most one
  *    underfull pack per shard).
  *  - [[cleanCorpus]]: the end-to-end filter a pretraining pipeline
  *    composes from this library's operators — quality gate
  *    ([[TextAnalysis.qualityScore]] rules) ∧ exact-dedup keep-first —
  *    in ONE pass over the corpus (the dedup keep-decision is a window
  *    min over the content digest, not a join back against a dedup
  *    table; a language gate chains the same way via
  *    [[TextAnalysis.languageId]]).
  */
object Corpus {

  /** Deterministic split: hash the key, bucket into [0,100). */
  def trainSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      Dedup.fastHash60(spark, concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), bucket.cast("int").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  def trainSplitOracleSql: String =
    """SELECT doc_id, bucket,
      | CASE WHEN bucket < 80 THEN 'train'
      |      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      | FROM (SELECT doc_id,
      |   CAST(CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |     % 100 AS INTEGER) AS bucket
      |   FROM documents)
      | ORDER BY doc_id""".stripMargin

  /** LEAKAGE-SAFE split — [[trainSplit]]'s correctness upgrade for
    * corpora with near-duplicates: hashing each document's own id lets
    * two near-copies land in different splits (a val doc's twin in train
    * = evaluation leakage). Here the split key is the document's
    * duplicate-CLUSTER representative ([[Dedup.dupClusters]]; singletons
    * represent themselves), so an entire near-dup family moves as one
    * unit and no family ever straddles a split boundary (asserted in
    * CorpusSpec against families that doc-id hashing provably splits).
    * Runs over the planted-duplicate corpus so the property is
    * non-vacuous; the oracle replays clustering + assignment in one
    * recursive-CTE chain. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val members = Dedup.dupClusters(spark, dir)
    val grouped = Dedup.corpusWithDups(spark, dir).select("doc_id")
      .join(members, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_rep"), col("doc_id")).as("group_id"))
    val bucket = pmod(
      Dedup.fastHash60(spark, concat(lit("split:"), col("group_id").cast("string"))), lit(100L))
    grouped
      .select(col("doc_id"), col("group_id"), bucket.cast("int").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  def leakageSafeSplitOracleSql(corpusCte: String): String =
    s"""${Dedup.dupClustersCte(corpusCte).replaceFirst("WITH ", "WITH RECURSIVE ")},
       | grouped AS (
       |  SELECT c.doc_id, COALESCE(cl.cluster_rep, c.doc_id) AS group_id
       |  FROM corpus c LEFT JOIN clusters cl ON cl.doc_id = c.doc_id)
       | SELECT doc_id, group_id, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       | FROM (SELECT doc_id, group_id,
       |   CAST(CAST('0x' || substring(md5('split:' || CAST(group_id AS VARCHAR)), 1, 15) AS BIGINT)
       |     % 100 AS INTEGER) AS bucket
       |   FROM grouped)
       | ORDER BY doc_id""".stripMargin

  /** Epoch count for [[epochOrder]]'s registered query. */
  val defaultEpochs = 3

  /** Deterministic per-epoch training order — the data-ORDERING half of
    * a training run: each epoch permutes the corpus by the content-
    * independent key hash of `epoch:<e>:<doc_id>`, so the shuffle is
    * (1) reproducible from the tag alone — a restarted job regenerates
    * the identical order with no stored permutation table; (2)
    * decorrelated across epochs (a different epoch tag is an
    * independent hash draw — no rare-example always-adjacent pathology
    * a single reused order has); (3) never a single-task global sort:
    * positions come from [[graft.functions.Keys.withRank]]'s
    * range-partition + metadata-offset rank over (epoch, hash), and the
    * per-epoch position is `global rank − (epoch−1)·N` because epochs
    * are equal-sized blocks of that order. Output:
    * (epoch, doc_id, position) with position a 1-based permutation of
    * the corpus per epoch. */
  def epochOrder(spark: SparkSession, dir: String,
      epochs: Int = defaultEpochs): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val n = docs.count()
    val es = spark.range(1, epochs + 1L).select(col("id").cast("int").as("epoch"))
    val keyed = docs.crossJoin(broadcast(es))
      .withColumn("ekey", Dedup.fastHash60(spark,
        concat(lit("epoch:"), col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string"))))
    graft.functions.Keys.withRank(keyed, "grank", Seq("epoch", "ekey", "doc_id"))
      .withColumn("position", col("grank") - (col("epoch").cast("long") - 1L) * lit(n))
      .select("epoch", "doc_id", "position")
      .orderBy("epoch", "position")
  }

  def epochOrderOracleSql(epochs: Int = defaultEpochs): String =
    s"""SELECT epoch, doc_id, position FROM (
       |  SELECT epoch, doc_id,
       |    CAST(row_number() OVER (PARTITION BY epoch ORDER BY ekey, doc_id) AS BIGINT)
       |      AS position
       |  FROM (SELECT d.doc_id, e.epoch,
       |      CAST('0x' || substring(md5('epoch:' || CAST(e.epoch AS VARCHAR)
       |        || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS ekey
       |    FROM documents d CROSS JOIN (
       |      SELECT CAST(g AS INTEGER) AS epoch
       |      FROM generate_series(1, $epochs) AS t(g)) e))
       | ORDER BY epoch, position""".stripMargin

  val defaultPackBudget = 512
  val defaultShards = 16

  /** Contiguous-fill packing: within a shard, docs in doc_id order fill
    * packs that are fixed budget-sized WINDOWS of the cumulative token
    * line — a doc belongs to the window its pre-doc cumulative sum falls
    * in, expressed as `(cum - n) div budget`, pure integer arithmetic both
    * engines replay. A pack's token total may exceed the budget only by
    * its last (straddling) doc: pack_tokens - last_doc_tokens < budget
    * always holds (asserted in CorpusSpec). Oversized docs (> budget)
    * straddle a whole window and get a pack of their own. */
  def packDocuments(spark: SparkSession, dir: String,
      budget: Int = defaultPackBudget, nShards: Int = defaultShards): DataFrame =
    packOf(Tables.documents(spark, dir), budget, nShards)

  /** [[packDocuments]] over an ARBITRARY (doc_id, text) corpus — the form
    * pipeline stages compose on. */
  def packOf(corpus: DataFrame,
      budget: Int = defaultPackBudget, nShards: Int = defaultShards): DataFrame = {
    val docs = corpus
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (col("doc_id") % nShards).as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("shard"), col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("pack_id"))
      .orderBy("shard", "doc_id")
  }

  def packDocumentsOracleSql(budget: Int = defaultPackBudget,
      nShards: Int = defaultShards): String =
    s"""SELECT shard, doc_id, n_tokens, (cum - n_tokens) // $budget AS pack_id
       | FROM (
       |   SELECT shard, doc_id, n_tokens,
       |     CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |   FROM (SELECT doc_id,
       |     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |     doc_id % $nShards AS shard FROM documents))
       | ORDER BY shard, doc_id""".stripMargin

  /** Weighted source interleaving — deterministic dataset MIXING (the
    * "sample source s with weight w_s" step of assembling a training
    * mixture) via stride scheduling. Mixing is SHARD-LOCAL, exactly like
    * [[packDocuments]]: within each `doc_id % nShards` shard, doc r of
    * source s gets priority (2r-1)/(2*w_s) and the shard's order sorts by
    * priority — every window partitions on the shard, so at 100 TB each
    * shard mixes independently and a trainer consumes shards concatenated
    * (or round-robin). Exact fairness property (asserted in CorpusSpec,
    * per shard): the first sum_s min(w_s, n_s) positions of a shard
    * contain exactly min(w_s, n_s) docs of each source present in it;
    * per-source document order is preserved. Weights derive
    * deterministically from the source id (1 + idx%3) so the DuckDB
    * oracle replays the whole schedule. */
  def interleaveSources(spark: SparkSession, dir: String,
      nShards: Int = defaultShards): DataFrame =
    interleaveOf(Tables.documents(spark, dir), nShards)

  /** [[interleaveSources]] over an ARBITRARY (doc_id, source) corpus — the
    * form pipeline stages compose on. */
  def interleaveOf(corpus: DataFrame, nShards: Int = defaultShards): DataFrame = {
    val docs = corpus
      .select(col("doc_id"), col("source"), (col("doc_id") % nShards).as("shard"))
      .withColumn("weight", lit(1) + substring(col("source"), 4, 10).cast("int") % 3)
    val r = row_number().over(Window.partitionBy("shard", "source").orderBy("doc_id"))
    val priority = ((lit(2) * col("r") - 1).cast("double") /
      (lit(2) * col("weight")).cast("double"))
    docs
      .withColumn("r", r)
      .withColumn("priority", priority)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard")
          .orderBy(col("priority"), col("source"), col("doc_id"))))
      .select("shard", "pos", "source", "weight", "doc_id")
      .orderBy("shard", "pos")
  }

  def interleaveSourcesOracleSql(nShards: Int = defaultShards): String =
    s"""SELECT shard,
       |   CAST(row_number() OVER (PARTITION BY shard ORDER BY priority, source, doc_id)
       |     AS INTEGER) AS pos,
       |   source, weight, doc_id
       | FROM (
       |   SELECT doc_id, source, shard, weight,
       |     CAST(2 * r - 1 AS DOUBLE) / CAST(2 * weight AS DOUBLE) AS priority
       |   FROM (
       |     SELECT doc_id, source, doc_id % $nShards AS shard,
       |       1 + CAST(substring(source, 4) AS INTEGER) % 3 AS weight,
       |       CAST(row_number() OVER (PARTITION BY doc_id % $nShards, source
       |         ORDER BY doc_id) AS INTEGER) AS r
       |     FROM documents))
       | ORDER BY shard, pos""".stripMargin

  /** Temperature-based source resampling (the multilingual/LLM mixing
    * rule of mBERT/XLM-R and the Pile: upsample underrepresented sources
    * by `(n_max/n_s)^(1-T)`; T=0.5 here, i.e. sqrt): each document is
    * emitted `floor(e_s)` times plus one more with probability
    * `frac(e_s)`, decided by a deterministic per-doc hash fraction — so
    * the largest source stays at exactly 1 epoch and a 100× smaller
    * source repeats ~10×. Contrast [[interleaveOf]] (ORDERS a fixed
    * corpus fairly) and [[stratifiedSample]] (DOWNsamples): this is the
    * UPsampling leg of mixture design.
    *
    * 100 TB shape: per-source counts are a map-side-combined aggregate
    * (3 rows) broadcast back; the epoch expansion is a narrow per-row
    * `explode(sequence(...))` at scan speed — the corpus never shuffles.
    * All replay-critical arithmetic (sqrt of a ratio of exact counts,
    * the 2^-60 hash fraction) is IEEE-identical in DuckDB.
    *
    * The fixture's 20 sources are perfectly balanced (upsampling would be
    * vacuous), so the mixing runs over a deterministic imbalanced
    * REGROUPING — 12 sources pool to 'big', 6 to 'mid', 2 to 'small'
    * (6:3:1) — the [[Dedup.corpusWithDups]] plant pattern, replayed by
    * the oracle. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(substring(col("source"), 4, 10).cast("int") < 12, "big")
          .when(substring(col("source"), 4, 10).cast("int") < 18, "mid")
          .otherwise("small").as("source"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val nMax = counts.groupBy().agg(max(col("n_s")).as("n_max"))
    docs.join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(nMax))
      .withColumn("e", sqrt(col("n_max").cast("double") / col("n_s").cast("double")))
      .withColumn("u",
        (Dedup.fastHash60(spark, concat(lit("tmix:"), col("doc_id").cast("string")))
          .cast("double") / lit(1152921504606846976.0)))
      .withColumn("n_copies",
        (floor(col("e")) + when(col("u") < col("e") - floor(col("e")), 1).otherwise(0))
          .cast("int"))
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1, n_copies)")).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  def temperatureMixOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    CASE WHEN CAST(substring(source, 4) AS INTEGER) < 12 THEN 'big'
      |         WHEN CAST(substring(source, 4) AS INTEGER) < 18 THEN 'mid'
      |         ELSE 'small' END AS source
      |  FROM documents),
      | counts AS (SELECT source, COUNT(*) AS n_s FROM docs GROUP BY source),
      | m AS (SELECT MAX(n_s) AS n_max FROM counts),
      | scored AS (
      |  SELECT d.doc_id, d.source,
      |    sqrt(CAST(n_max AS DOUBLE) / CAST(n_s AS DOUBLE)) AS e,
      |    CAST(CAST('0x' || substring(md5('tmix:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
      |      / 1152921504606846976.0 AS u
      |  FROM docs d JOIN counts USING (source) CROSS JOIN m),
      | copies AS (
      |  SELECT doc_id, source,
      |    CAST(floor(e) + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END AS INTEGER) AS n_copies
      |  FROM scored)
      | SELECT doc_id, source, CAST(g.epoch AS INTEGER) AS epoch
      | FROM copies CROSS JOIN UNNEST(generate_series(1, n_copies)) AS g(epoch)
      | ORDER BY doc_id, epoch""".stripMargin

  /** Eval-set size for [[decontaminate]]: the first `evalN` doc_ids play
    * the benchmark/eval set the training corpus must not contain. */
  val evalN = 50
  /** Contamination n-gram width — 8 tokens, the common decontamination
    * window (long enough that chance collisions are negligible). */
  val contamN = 8

  private[graft] def ngramDigests(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(expr(
        s"""array_distinct(transform(
           |  sequence(1, greatest(size(split(text, ' ')) - ${n - 1}, 1)),
           |  i -> md5(concat_ws(' ', slice(split(text, ' '), i, $n)))))""".stripMargin))
        .as("digest"))

  /** Eval-set decontamination — the standard "did the training corpus
    * leak the benchmark?" audit: flag every training doc sharing at least
    * one `contamN`-token n-gram with the eval set (doc_id < evalN over
    * the planted-duplicate corpus, whose copies of eval docs make the
    * result non-vacuous). Shapes for 100 TB: n-grams travel as md5
    * DIGESTS (never text), the eval side is tiny and broadcasts, and the
    * per-doc count aggregates map-side. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Dedup.corpusWithDups(spark, dir)
    val eval = ngramDigests(corpus.filter(col("doc_id") < evalN), contamN)
      .select(col("digest")).distinct()
    // the 8-gram md5 explosion over the training side sits directly on
    // the (union-of-single-file-scans) corpus — spread it first (no-op at
    // real scale; see Tables.spreadToCores). Same below in the bloom twin.
    ngramDigests(graft.Tables.spreadToCores(
      corpus.filter(col("doc_id") >= evalN), col("doc_id")), contamN)
      .join(broadcast(eval), Seq("digest"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_shared"))
      .orderBy("doc_id")
  }

  /** Bloom sizing for [[decontaminateBloom]]: ~10 bits per expected
    * item ≈ 1% false positives at the aggregate's optimal hash count. */
  val bloomBitsPerItem = 10L

  /** [[decontaminate]] for when the eval set is too big to broadcast
    * EXACTLY: a multi-benchmark eval suite's distinct n-gram digests
    * run to billions — tens of GB as a broadcast hash set, but a few
    * hundred MB as a bloom filter at 10 bits/item. Three stages, each
    * shuffle-bounded: (1) fold the eval digests into ONE serialized
    * bloom via Spark's own `BloomFilterAggregate` (fixed bytes
    * regardless of cardinality, partials OR together map-side); (2)
    * probe every training n-gram with the codegen'd
    * `bloom_might_contain` as a SCAN-STAGE predicate — no join, no
    * shuffle, ~99% of grams die here at the configured fp rate; (3)
    * re-verify the survivors with the exact digest join, which now
    * shuffles only bloom HITS instead of the whole training side, so
    * false positives cannot reach the answer. Result is bit-identical
    * to [[decontaminate]] — same DuckDB oracle. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BloomExprs.register(spark)
    val corpus = Dedup.corpusWithDups(spark, dir)
    val eval = ngramDigests(corpus.filter(col("doc_id") < evalN), contamN)
      .select(col("digest")).distinct()
    val bloom = evalBloomBytes(spark, eval)
    val hits = ngramDigests(graft.Tables.spreadToCores(
      corpus.filter(col("doc_id") >= evalN), col("doc_id")), contamN)
      .filter(call_function("bloom_might_contain",
        lit(bloom), xxhash64(col("digest"))))
    hits.join(eval, Seq("digest")) // exact re-verify: only bloom hits shuffle
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_shared"))
      .orderBy("doc_id")
  }

  /** The serialized eval-side bloom filter — `n_items·10/8` bytes of
    * bounded driver metadata (the same class as a broadcast plan's
    * size estimate, NOT data-proportional driver traffic). */
  private[graft] def evalBloomBytes(spark: SparkSession,
      eval: DataFrame): Array[Byte] = {
    val n = math.max(eval.count(), 1L)
    val bits = math.min(n * bloomBitsPerItem, 8L * 1024 * 1024 * 8)
    val row = eval
      .agg(expr(s"bloom_agg(xxhash64(digest), ${n}L, ${bits}L)")).head
    require(!row.isNullAt(0), "bloom aggregate over a non-empty eval side returned null")
    row.getAs[Array[Byte]](0)
  }

  def decontaminateOracleSql(corpusCte: String): String = {
    def grams(src: String) =
      s"""SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(tk) - ${contamN - 1}, 1)),
         |    i -> md5(array_to_string(list_slice(tk, i, i + ${contamN - 1}), ' '))))) AS digest
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus $src)""".stripMargin
    s"""$corpusCte,
       | eg AS (SELECT DISTINCT digest FROM (${grams(s"WHERE doc_id < $evalN")})),
       | tg AS (${grams(s"WHERE doc_id >= $evalN")})
       | SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_shared
       | FROM tg JOIN eg USING (digest)
       | GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Deterministic stratified sampling — downsample each source at its
    * own rate (10/20/30% by the same source-index convention the mixing
    * weights use) with the content-independent key hash of
    * [[trainSplit]]: a doc's keep/drop decision never changes as the
    * corpus grows, and rates are exact in expectation with no RNG state
    * to coordinate across executors. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = (lit(1) + substring(col("source"), 4, 10).cast("int") % 3) * 10
    val bucket = pmod(
      Dedup.fastHash60(spark, concat(lit("sample:"), col("doc_id").cast("string"))), lit(100L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), rate.as("rate_pct"), bucket.cast("int").as("bucket"))
      .filter(col("bucket") < col("rate_pct"))
      .select("doc_id", "source", "rate_pct")
      .orderBy("doc_id")
  }

  def stratifiedSampleOracleSql: String =
    """SELECT doc_id, source, rate_pct FROM (
      |  SELECT doc_id, source,
      |    (1 + CAST(substring(source, 4) AS INTEGER) % 3) * 10 AS rate_pct,
      |    CAST(CAST('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % 100 AS INTEGER) AS bucket
      |  FROM documents)
      | WHERE bucket < rate_pct ORDER BY doc_id""".stripMargin

  private val indexDirs =
    graft.AppCache.namespace[String, String]("corpus.digest_index_dirs")

  /** Persisted DIGEST INDEX over the existing corpus — the state that
    * makes [[appendBatch]] genuinely incremental. Bootstrapped ONCE per
    * (session, sf-dir) by the only full-text scan in the family (md5 of
    * every document, written as a digests-only parquet); every later
    * append touches the index, never the corpus text. In a deployment the
    * index lives next to the corpus and [[admitAndCommit]] extends it
    * with each admitted batch, so an append's cost is
    * O(batch + digest index), independent of accumulated corpus TEXT
    * bytes — at 100 TB the index is ~0.05% of the corpus (48 B vs ~100 KB
    * per doc).
    *
    * The index is deliberately frozen at first bootstrap per (session,
    * dir) — the registered queries' determinism depends on that — so a
    * fixture REWRITTEN in place mid-session needs an evict
    * ([[graft.AppCache.evictAll]]) before its next append, or the stale
    * index diverges from the oracle's live replay. The same holds for
    * [[bandIndexDir]]; the temp parquet dirs themselves are
    * OS-lifetime. */
  def digestIndexDir(spark: SparkSession, dir: String): String =
    indexDirs(spark, dir) {
      val d = graft.ext.Dfs.scratchDir(spark, "graft_digest_index")
      Tables.documents(spark, dir)
        .select(md5(col("text")).as("digest"))
        .write.mode("overwrite").parquet(d)
      d
    }

  /** Incremental corpus ingestion — the append-only twin of the batch
    * dedup family: admit a new batch of documents only where the content
    * digest is NOT already in the persisted digest index (the `ON
    * CONFLICT DO NOTHING` of corpus building, reference K3 re-expressed
    * for opaque content). The "new batch" is synthesized
    * deterministically so the oracle replays it: every doc_id % 13 == 2
    * resubmits verbatim (must be rejected) and every doc_id % 13 == 6
    * arrives with a fresh suffix (must be admitted). Physical shape:
    * LEFT ANTI hash join of the batch against the index — both sides
    * carry ~48 B digests, never the existing corpus's text (asserted in
    * PlanContractSpec: the only scan that reads a `text` column is the
    * incoming batch). Note Spark can only broadcast the RIGHT side of a
    * left-anti join, i.e. the index — fine while the index fits an
    * executor, a digest shuffle join beyond that. */
  def appendBatch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val batch = docs
      .filter(col("doc_id") % 13 === 2 || col("doc_id") % 13 === 6)
      .select(
        (col("doc_id") + 300000).as("doc_id"),
        when(col("doc_id") % 13 === 6,
          concat(col("text"), lit(" fresh revision"))).otherwise(col("text")).as("text"))
    val index = spark.read.parquet(digestIndexDir(spark, dir))
    batch
      .withColumn("digest", md5(col("text")))
      .join(index, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("digest"))
      .orderBy("doc_id")
  }

  /** The COMMITTED form of [[appendBatch]]: admit the batch rows whose
    * digest is absent from the index at `indexDir`, then extend the index
    * with the admitted digests — so the next batch is rejected against
    * corpus + this batch without any rescan. Duplicates WITHIN the batch
    * collapse keep-first by doc_id (the D1 convention — a digest is
    * admitted at most once per commit, matching the streaming twin's
    * one-per-digest guarantee). The admitted frame is materialized
    * (localCheckpoint) BEFORE the index write: its lineage reads the same
    * parquet directory the write appends to, and an unmaterialized plan
    * would re-resolve the directory mid-write. Returns the admitted
    * `(doc_id, digest)` rows. */
  def admitAndCommit(spark: SparkSession, indexDir: String, batch: DataFrame): DataFrame = {
    val index = spark.read.parquet(indexDir)
    val admitted = batch
      .withColumn("digest", md5(col("text")))
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("digest"))))
      .filter(col("doc_id") === col("keep_id"))
      .join(index, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("digest"))
      .localCheckpoint(true)
    admitted.select("digest").write.mode("append").parquet(indexDir)
    admitted
  }

  private val bandIndexDirs =
    graft.AppCache.namespace[String, String]("corpus.band_index_dirs")

  /** Persisted MinHash SIGNATURE + cluster-representative index over the
    * existing (planted-duplicate) corpus — the state that makes NEAR-dup
    * maintenance incremental, exactly as [[digestIndexDir]] does for
    * exact dedup. Bootstrapped once per (session, sf-dir) by the only
    * full-text scan in the family: the corpus signatures (32 longs/doc —
    * band hashes derive from them by pure arithmetic) and the
    * duplicate-cluster representatives land as two text-free parquets.
    * Every later append LSH-joins the BATCH's bands against the index
    * bands and signature-verifies against the index signatures —
    * O(batch + index), never a corpus rescan or recluster
    * (plan-asserted in PlanContractSpec). At 100 TB the index is ~0.3%
    * of the corpus (32×8 B + rep row vs ~100 KB per doc). */
  def bandIndexDir(spark: SparkSession, dir: String): String =
    bandIndexDirs(spark, dir) {
      val d = graft.ext.Dfs.scratchDir(spark, "graft_band_index")
      Dedup.minhashSignatures(Dedup.corpusWithDups(spark, dir))
        .write.mode("overwrite").parquet(s"$d/sigs")
      Dedup.dupClusters(spark, dir)
        .write.mode("overwrite").parquet(s"$d/reps")
      d
    }

  /** Deterministic batch for the REGISTERED append-near-dup query: every
    * doc_id % 13 == 6 document arrives as a lightly-revised NEAR-duplicate
    * (the same docs [[appendBatch]] admits as exact-new — the two queries
    * together show an append being digest-admitted yet near-dup-flagged),
    * offset +4·plantUnit. */
  private def nearDupBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 13 === 6)
      .select((col("doc_id") + 4 * Dedup.plantUnit).as("doc_id"),
        concat(col("text"), lit(" fresh revision")).as("text"))

  /** The incremental-maintenance core: band the batch signatures, LSH-join
    * against the index bands (cap on the EXISTING side's bucket population
    * — a degenerate index bucket would otherwise amplify every future
    * append), verify candidates by signature agreement, and assign each
    * batch doc its duplicate-family representative — the MINIMUM
    * representative over matched index docs, or itself when nothing
    * matches (the doc is new content). */
  private def assignAgainst(newSigs: DataFrame, oldSigs: DataFrame,
      oldReps: DataFrame, minMatch: Int): DataFrame = {
    val oldBand = Dedup.bandedOf(oldSigs)
    val ok = oldBand.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= Dedup.maxBucketSize)
      .select("band_idx", "band_hash")
    val oldIn = oldBand.join(ok, Seq("band_idx", "band_hash"))
      .select("doc_id", "band_idx", "band_hash")
      .toDF("old_id", "band_idx", "band_hash")
    val newBand = Dedup.bandedOf(newSigs)
      .toDF("new_id", "band_idx", "band_hash")
    val cands = newBand.join(oldIn, Seq("band_idx", "band_hash"))
      .select("new_id", "old_id").distinct()
    val sigN = newSigs.toDF("new_id", "sig_new")
    val sigO = oldSigs.toDF("old_id", "sig_old")
    val verified = cands.join(sigN, "new_id").join(sigO, "old_id")
      .withColumn("n_match",
        expr("""aggregate(zip_with(sig_new, sig_old,
               |  (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
               |  0, (acc, v) -> acc + v)""".stripMargin))
      .filter(col("n_match") >= minMatch)
      .select("new_id", "old_id")
    val assigned = verified
      .join(oldReps.toDF("old_id", "old_rep"), Seq("old_id"), "left")
      .select(col("new_id"), coalesce(col("old_rep"), col("old_id")).as("rep"))
      .groupBy("new_id")
      .agg(min("rep").as("matched_rep"), count(lit(1)).cast("int").as("n_matched"))
    newSigs.select(col("doc_id"))
      .join(assigned.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("matched_rep"), col("doc_id")).as("assigned_rep"),
        coalesce(col("n_matched"), lit(0)).as("n_matched"))
  }

  /** Incremental NEAR-dup maintenance — the round-5 gap: [[admitAndCommit]]
    * made exact dedup incremental, but near-dup families still required a
    * full recluster per append. With the persisted [[bandIndexDir]] an
    * appended batch costs one LSH join against the index: each batch doc
    * gets its duplicate-family representative (or itself when new). The
    * whole lineage is deterministic, so the DuckDB oracle replays it end
    * to end — index contents included ([[appendNearDupsOracleSql]]
    * recomputes signatures + clusters of the existing corpus in SQL). */
  def appendNearDups(spark: SparkSession, dir: String): DataFrame = {
    val idx = bandIndexDir(spark, dir)
    // materialize the batch signatures ONCE (32 longs/doc): the
    // assignment consumes them three ways (banding, verify, output base),
    // and an unmaterialized lineage would re-scan the batch text per use —
    // after this the final plan contains NO text scan at all
    val newSigs = Dedup.minhashSignatures(nearDupBatch(spark, dir))
      .localCheckpoint(true)
    assignAgainst(newSigs,
      spark.read.parquet(s"$idx/sigs"),
      spark.read.parquet(s"$idx/reps"),
      minMatch = 16)
      .orderBy("doc_id")
  }

  /** The COMMITTED form of [[appendNearDups]] (the [[admitAndCommit]]
    * convention): assign the batch against the index at `indexDir`, then
    * EXTEND the index with the batch's signatures and assigned
    * representatives — so the next batch is checked against
    * corpus + this batch with no recluster. Batch docs verify only
    * against the INDEX (in-batch near-dup pairs surface at the next
    * append or compaction — the same horizon contract as the streaming
    * twin). The outputs are materialized before the index writes: their
    * lineage reads the same parquet directories the writes extend. */
  def admitNearDupsAndCommit(spark: SparkSession, indexDir: String,
      batch: DataFrame, minMatch: Int = 16): DataFrame = {
    val newSigs = Dedup.minhashSignatures(batch).localCheckpoint(true)
    val out = assignAgainst(newSigs,
      spark.read.parquet(s"$indexDir/sigs"),
      spark.read.parquet(s"$indexDir/reps"), minMatch).localCheckpoint(true)
    newSigs.write.mode("append").parquet(s"$indexDir/sigs")
    out.select(col("doc_id"), col("assigned_rep").as("cluster_rep"))
      .write.mode("append").parquet(s"$indexDir/reps")
    out
  }

  /** DuckDB replay of [[appendNearDups]]: the index contents ARE the
    * existing corpus's signatures and cluster representatives, so the
    * oracle recomputes both (reusing the dedup family's CTE builders —
    * `sigs`/`banded`/`sigl`/`clusters` for the corpus, `b`-prefixed twins
    * for the batch) and then replays the band join, cap, verify, and
    * assignment arithmetic value-for-value. */
  def appendNearDupsOracleSql(corpusCte: String): String =
    s"""${Dedup.dupClustersCte(corpusCte).replaceFirst("WITH ", "WITH RECURSIVE ")},
       | batch AS (
       |  SELECT doc_id + ${4 * Dedup.plantUnit} AS doc_id, text || ' fresh revision' AS text
       |  FROM documents WHERE doc_id % 13 = 6),
       | ${Dedup.sigCtes("batch", "b")},
       | ${Dedup.bandedCte("b")},
       | ${Dedup.siglCte("b")},
       | ok AS (SELECT band_idx, band_hash FROM banded
       |   GROUP BY 1, 2 HAVING COUNT(*) <= ${Dedup.maxBucketSize}),
       | bcands AS (SELECT DISTINCT nb.doc_id AS new_id, o.doc_id AS old_id
       |   FROM bbanded nb
       |   JOIN banded o USING (band_idx, band_hash)
       |   JOIN ok USING (band_idx, band_hash)),
       | bver AS (SELECT new_id, old_id FROM (
       |   SELECT c.new_id, c.old_id,
       |     len(list_filter(list_zip(n.sig, o.sig), p -> p[1] = p[2])) AS n_match
       |   FROM bcands c
       |   JOIN bsigl n ON n.doc_id = c.new_id
       |   JOIN sigl o ON o.doc_id = c.old_id)
       |   WHERE n_match >= 16),
       | asg AS (SELECT new_id, MIN(COALESCE(cl.cluster_rep, v.old_id)) AS matched_rep,
       |     CAST(COUNT(*) AS INTEGER) AS n_matched
       |   FROM bver v LEFT JOIN clusters cl ON cl.doc_id = v.old_id
       |   GROUP BY new_id)
       | SELECT b.doc_id, COALESCE(a.matched_rep, b.doc_id) AS assigned_rep,
       |   COALESCE(a.n_matched, 0) AS n_matched
       | FROM batch b LEFT JOIN asg a ON a.new_id = b.doc_id ORDER BY doc_id""".stripMargin

  def appendBatchOracleSql: String =
    """WITH batch AS (
      |  SELECT doc_id + 300000 AS doc_id,
      |    CASE WHEN doc_id % 13 = 6 THEN text || ' fresh revision' ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 = 2 OR doc_id % 13 = 6)
      | SELECT b.doc_id, md5(b.text) AS digest
      | FROM batch b
      | WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE md5(d.text) = md5(b.text))
      | ORDER BY doc_id""".stripMargin

  /** One-pass pretraining filter: quality rules ∧ language confidence ∧
    * exact-dedup keep-first (digest-window min — no self-join). */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("text"),
      size(split(col("text"), " ")).as("n_tokens"),
      expr(s"size(filter(split(text, ' '), w -> w IN (${
        TextAnalysis.stopwordSqlList})))").as("n_stopwords"),
      length(col("text")).as("n_chars"))
    val keepFirst = min(col("doc_id")).over(Window.partitionBy(md5(col("text"))))
    docs
      .withColumn("keep_id", keepFirst)
      .filter(col("doc_id") === col("keep_id"))
      .filter(expr(TextAnalysis.qualityGateSql))
      .select("doc_id", "n_tokens", "n_chars")
      .orderBy("doc_id")
  }

  def cleanCorpusOracleSql: String =
    s"""SELECT doc_id, n_tokens, n_chars FROM (
       | SELECT doc_id,
       |   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |   CAST(len(list_filter(string_split(text, ' '), w -> w IN (${
            TextAnalysis.stopwordSqlList}))) AS INTEGER) AS n_stopwords,
       |   CAST(length(text) AS INTEGER) AS n_chars,
       |   MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       | FROM documents)
       | WHERE doc_id = keep_id AND ${TextAnalysis.qualityGateSql}
       | ORDER BY doc_id""".stripMargin
}
