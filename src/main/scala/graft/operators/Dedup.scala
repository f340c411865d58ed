package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for a training-data pipeline (SURVEY §7.5):
  * exact (content-hash groupBy), MinHash+LSH, SimHash, and n-gram Jaccard
  * verification — all expressed as shuffle-aware DataFrame lineages with no
  * driver-side collection, so the same code runs at 100 TB.
  *
  * The fixture corpus has no duplicates, so the operators take an
  * *injected* corpus ([[corpusWithDups]]): exact copies of every 10th doc
  * and lightly-padded copies of every (10k+5)th doc, both added with offset
  * ids. The injection is plain SQL arithmetic so the DuckDB oracle replays
  * it, and ALL hashing is the portable 60-bit md5 prefix ([[portableHash60]])
  * plus integer universal-hash arithmetic — every path here (exact, MinHash
  * signatures, LSH banding, SimHash, Jaccard verify) is replayed
  * value-for-value by the DuckDB oracle SQL emitted by
  * [[minhashOracleSql]]/[[simhashOracleSql]]/[[ngramJaccardOracleSql]].
  *
  * Scale notes:
  * - exact dedup = one hash shuffle of (digest -> min id); at 100 TB
  *   group on the digest only (never the text) so shuffle rows are ~48 B.
  * - MinHash: the shingle explode multiplies rows by ~tokens/doc, but the
  *   per-seed `min` aggregates map-side, so the shuffle carries one
  *   32-long signature per doc, not the shingles. One md5 per shingle
  *   (seed permutations are arithmetic on the same base hash, the classic
  *   universal-hash family) keeps the hash cost flat in the seed count;
  *   md5 is ~2x an xxhash64 but the explode dominates the stage.
  * - LSH band join is the classic bucket self-join; [[maxBucketSize]]
  *   caps degenerate buckets (boilerplate shingles produce popular band
  *   hashes whose buckets would otherwise join quadratically).
  */
object Dedup {

  val numHashes = 32
  val numBands = 8 // x 4 rows/band: catches Jaccard >~ 0.5 w.h.p.
  val rowsPerBand: Int = numHashes / numBands
  val maxBucketSize = 100

  /** Mersenne prime 2^31-1: the modulus of the DEFAULT universal-hash
    * family. Small enough that `a * h + b` (a, h < 2^31) stays under 2^63
    * in both engines — which is what lets the DuckDB oracle replay it as
    * plain arithmetic. At 100 TB corpus sizes (where 2^31 buckets collide
    * too often) switch to the tested 2^61-1 family below
    * ([[permuteWide61]]); the default stays 2^31-1 for oracle parity. */
  val hashPrime = 2147483647L

  /** Mersenne prime 2^61-1 — the widened modulus for 100 TB corpora. */
  val hashPrime61: Long = (1L << 61) - 1

  /** pi(h) = (a*h + b) mod 2^61-1 WITHOUT 128-bit arithmetic: split both
    * operands into 31-bit limbs (every partial product fits a signed
    * long), reduce each partial by the Mersenne identity 2^61 ≡ 1 — a
    * shift-mask fold, so `x * 2^k mod p` is a 61-bit rotation. Parity
    * against BigInt arithmetic is pinned by DedupSpec (ScalaCheck), and
    * [[permuteWide61Col]] is the identical Column form for use inside
    * [[minhashSignatures]]-shaped plans. Preconditions: 0 <= h, b < p
    * and 0 < a < p. */
  def permuteWide61(h: Long, a: Long, b: Long): Long = {
    val p = hashPrime61
    def fold(x: Long): Long = { val r = (x & p) + (x >>> 61); if (r >= p) r - p else r }
    def rot(x: Long, k: Int): Long = fold(((x << k) & p) + (x >>> (61 - k)))
    val a1 = a >>> 31; val a0 = a & 0x7FFFFFFFL
    val h1 = h >>> 31; val h0 = h & 0x7FFFFFFFL
    // a*h = a1*h1*2^62 + (a1*h0 + a0*h1)*2^31 + a0*h0, and 2^62 ≡ 2
    val hi = rot(fold(a1 * h1), 1)
    val mid = rot(fold(a1 * h0 + a0 * h1), 31)
    val low = fold(a0 * h0)
    fold(hi + mid + low + b)
  }

  /** Column twin of [[permuteWide61]] — same limb algebra in codegen'd
    * built-in expressions (shifts, masks, one conditional), so the wide
    * family drops into the signature pipeline with no UDF. */
  def permuteWide61Col(h: Column, a: Long, b: Long): Column = {
    val p = hashPrime61
    def fold(x: Column): Column = {
      val r = x.bitwiseAND(lit(p)) + shiftrightunsigned(x, 61)
      when(r >= p, r - p).otherwise(r)
    }
    def rot(x: Column, k: Int): Column =
      fold(shiftleft(x, k).bitwiseAND(lit(p)) + shiftrightunsigned(x, 61 - k))
    val a1 = a >>> 31; val a0 = a & 0x7FFFFFFFL
    val h1 = shiftrightunsigned(h, 31)
    val h0 = h.bitwiseAND(lit(0x7FFFFFFFL))
    val hi = rot(fold(lit(a1) * h1), 1)
    val mid = rot(fold(lit(a1) * h0 + lit(a0) * h1), 31)
    val low = fold(lit(a0) * h0)
    fold(hi + mid + low + lit(b))
  }

  /** Portable 60-bit string hash: integer value of the first 15 hex digits
    * of md5. Spark computes it with codegen'd `conv`; DuckDB replays it as
    * `CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)` — verified
    * bit-identical (both engines hash the UTF-8 bytes). */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Native fast path of [[portableHash60]] — identical value (pinned by
    * HashExprsSpec), no hex-string round-trip: the codegen'd
    * [[graft.functions.Md5Prefix60]] reads the 60 bits straight from the
    * digest. Used in the per-shingle/per-token/per-frame hot paths. */
  def fastHash60(spark: SparkSession, c: Column): Column = {
    graft.functions.HashExprs.register(spark)
    call_function("md5_prefix60", c.cast("binary"))
  }

  private def hashSql(s: String): String =
    s"CAST('0x' || substring(md5($s), 1, 15) AS BIGINT)"

  /** (a, b) pairs of the permutation family pi_i(h) = (a*h + b) mod P,
    * from a fixed LCG: both the Spark plan and the oracle SQL interpolate
    * the same literals, so there is no cross-engine RNG to keep in sync. */
  val minhashSeeds: IndexedSeq[(Long, Long)] = {
    var x = 88172645463325252L
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 3 }
    (0 until numHashes).map(_ => (next() % (hashPrime - 1) + 1, next() % hashPrime))
  }

  /** Planted-copy id offset unit, shared by [[corpusWithDups]],
    * [[graft.operators.CorpusPipeline.rawCorpus]] and the interleave
    * stage's inversion: copies live at +1·unit and +2·unit, so
    * `doc_id % plantUnit` recovers the original id. Fixture doc ids must
    * stay below this (they top out ~50k at sf1). */
  val plantUnit = 100000L

  /** Fixture corpus + planted duplicates (replayed in oracle SQL).
    * ONE scan, not a 3-branch union: each row explodes into itself plus
    * its planted copies (`slice(..., 1, IF(cond, 1, 0))` emits the copy
    * struct or a correctly-typed empty array). The union form re-scanned
    * `documents` per branch, and — worse — Catalyst pushes a consumer's
    * LeftSemi join THROUGH a union, duplicating the join's build side
    * into every branch: ngram_jaccard's candidate-id broadcast was built
    * 3× per run (3 identical 60 KB exchanges, ~6 s taskSum each,
    * measured r19). Same row multiset, so every oracle replay (which
    * keeps the relational UNION form) hashes identically. */
  def corpusWithDups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .select(explode(expr(
        s"""concat(
           |  array(struct(CAST(doc_id AS BIGINT) AS doc_id, text)),
           |  slice(array(struct(CAST(doc_id + ${plantUnit}L AS BIGINT) AS doc_id, text)),
           |        1, IF(doc_id % 10 = 0, 1, 0)),
           |  slice(array(struct(CAST(doc_id + ${2 * plantUnit}L AS BIGINT) AS doc_id,
           |                     concat(text, ' zzz extra trailing pad') AS text)),
           |        1, IF(doc_id % 10 = 5, 1, 0)))""".stripMargin)).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.text").as("text"))

  /** Exact dedup: md5 content digest -> keep the smallest doc_id.
    * (D1's keep-first contract, applied to opaque content.) */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    corpusWithDups(spark, dir)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** Distinct 3-token shingles per document (the MinHash feature set). */
  def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("""explode(array_distinct(transform(
               |  sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
               |  i -> concat_ws(' ', slice(split(text, ' '), i, 3)))))""".stripMargin)
          .as("shingle"))

  /** MinHash signatures: 32 permutations of one portable base hash per
    * shingle; one map-side-combined min per permutation. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val mins = minhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("_hp") + lit(b)) % hashPrime).as(s"m_$i")
    }
    // the shingle explosion + 32 permutation-min partial aggregates sit
    // directly on the base scan — spread when under-parallelized (no-op
    // at real scale; see Tables.spreadToCores)
    shingles(graft.Tables.spreadToCores(docs, col("doc_id")))
      .withColumn("_hp", fastHash60(docs.sparkSession, col("shingle")) % hashPrime)
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m_$i")): _*).as("sig"))
  }

  /** Per-ROW MinHash signature of a `text` column — the narrow
    * (shuffle-free) twin of [[minhashSignatures]] for STREAMING
    * consumers: shingling, base hashing, and all 32 permutation minima
    * fold inside ONE `aggregate` HOF over the row's own shingle array,
    * so an unbounded stream needs no stateful aggregation to sign its
    * documents. The shingle hashes are the aggregate's input, evaluated
    * once per row (not once per permutation). Values are IDENTICAL to
    * the batch operator's (asserted in StreamsSpec) — same shingles,
    * same base hash, same permutation arithmetic. */
  def signatureCol(spark: SparkSession): Column = {
    graft.functions.HashExprs.register(spark)
    val accInit = (0 until numHashes).map(_ => s"CAST($hashPrime AS BIGINT)")
      .mkString("array(", ", ", ")")
    val step = minhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      s"least(element_at(acc, ${i + 1}), ($a * h + $b) % $hashPrime)"
    }.mkString("array(", ", ", ")")
    expr(
      s"""aggregate(
         |  transform(
         |    array_distinct(transform(
         |      sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
         |      i -> concat_ws(' ', slice(split(text, ' '), i, 3)))),
         |    s -> md5_prefix60(cast(s AS binary)) % $hashPrime),
         |  $accInit,
         |  (acc, h) -> $step)""".stripMargin)
  }

  /** Polynomial band hash over the band's signature slots, seeded by the
    * band index — pure modular arithmetic, identical in the oracle. */
  private[graft] def bandHashOf(j: Int, sig: Column): Column =
    (0 until rowsPerBand).foldLeft(lit((100 + j).toLong): Column) { (acc, r) =>
      (acc * 31 + sig(j * rowsPerBand + r)) % hashPrime
    }

  private def bandHash(j: Int): Column = bandHashOf(j, col("sig"))

  private def bandHashSql(j: Int): String =
    (0 until rowsPerBand).foldLeft(s"CAST(${100 + j} AS BIGINT)") { (acc, r) =>
      s"(($acc) * 31 + m_${j * rowsPerBand + r}) % $hashPrime"
    }

  /** LSH banding: hash each band of 4 signature slots, bucket-join docs
    * sharing any (band, hash) bucket. Oversized buckets are dropped before
    * the self-join (skew guard). Library-visible: the incremental append
    * path ([[Corpus.appendNearDups]]) and the streaming flagger
    * ([[graft.streaming.Streams.nearDupStream]]) band signatures against
    * the persisted signature index. */
  private[graft] def bandedOf(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until numBands).map(j => bandHash(j).as(s"b_$j"))
    sigs.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until numBands).map(j => col(s"b_$j")): _*)))
      .toDF("doc_id", "band_idx", "band_hash")
  }

  /** (band_idx, band_hash, bucket_n) census of the LSH buckets — the
    * relation [[lshCandidates]] caps on, exposed for cap-hit telemetry
    * (PairBench): the dropped-bucket fraction is the signal that the band
    * code space must grow with the corpus. */
  def lshBucketSizes(sigs: DataFrame): DataFrame =
    bandedOf(sigs).groupBy("band_idx", "band_hash").agg(count(lit(1)).as("bucket_n"))

  def lshCandidates(sigs: DataFrame): DataFrame = {
    val banded = bandedOf(sigs)
    val smallBuckets = banded
      .groupBy("band_idx", "band_hash").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucketSize && col("bucket_n") > 1)
    val inBuckets = banded.join(smallBuckets, Seq("band_idx", "band_hash"))
      .select("band_idx", "band_hash", "doc_id")
    val left = inBuckets.toDF("band_idx", "band_hash", "doc_a")
    val right = inBuckets.toDF("band_idx", "band_hash", "doc_b")
    left.join(right, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Signatures + candidates memoized per (session, dir): minhashPairs and
    * ngramJaccard share them, and the shingle explosion is the expensive
    * stage. */
  private def cachedSigs(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Memo(spark, dir, "minhash_sigs")(
      minhashSignatures(corpusWithDups(spark, dir)))

  private def cachedCands(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Memo(spark, dir, "lsh_cands")(
      lshCandidates(cachedSigs(spark, dir)))

  /** MinHash near-dup pairs: LSH candidates filtered by signature
    * agreement (n_match/32 estimates Jaccard; >= 16 ~ J >= 0.5). */
  def minhashPairs(spark: SparkSession, dir: String, minMatch: Int = 16): DataFrame =
    pairsFrom(cachedSigs(spark, dir), cachedCands(spark, dir), minMatch)

  /** [[minhashPairs]] over an ARBITRARY (doc_id, text) corpus — the form
    * pipeline stages compose on (the registered query keeps the memoized
    * fixture-corpus path above). */
  def minhashPairsOf(docs: DataFrame, minMatch: Int = 16): DataFrame =
    minhashPairsFromSigs(minhashSignatures(docs), minMatch)

  /** [[minhashPairsOf]] when the caller already holds the signatures —
    * lets a pipeline compute signatures ONCE and share them between pair
    * generation and the shed census ([[lshShedRows]]). */
  def minhashPairsFromSigs(sigs: DataFrame, minMatch: Int = 16): DataFrame =
    pairsFrom(sigs, lshCandidates(sigs), minMatch)

  /** Rows (bucket memberships) the LSH band join will DROP under
    * [[maxBucketSize]] — the load-shedding count a pipeline run must
    * surface: without it, "caps engaged" is indistinguishable from "few
    * duplicates" in the run record. One aggregate over the band census. */
  def lshShedRows(sigs: DataFrame): Long =
    lshBucketSizes(sigs)
      .filter(col("bucket_n") > maxBucketSize)
      .agg(coalesce(sum(col("bucket_n")), lit(0L)))
      .head().getLong(0)

  private def pairsFrom(sigs: DataFrame, cands: DataFrame, minMatch: Int): DataFrame = {
    val sigA = sigs.toDF("doc_a", "sig_a")
    val sigB = sigs.toDF("doc_b", "sig_b")
    cands.join(sigA, "doc_a").join(sigB, "doc_b")
      .withColumn("n_match",
        expr("""aggregate(zip_with(sig_a, sig_b,
               |  (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
               |  0, (acc, v) -> acc + v)""".stripMargin))
      .filter(col("n_match") >= minMatch)
      .select("doc_a", "doc_b", "n_match")
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate CLUSTERING — the step after pair generation in every dedup
    * pipeline: collapse the verified MinHash pair graph into connected
    * components and assign each member its canonical representative (the
    * component's minimum doc_id — the keep-first convention of D1/
    * [[exactDedup]]). Delegates to [[connectedComponents]] (alternating
    * large-star/small-star, O(log n) rounds, hard convergence guard).
    * Deterministic (min is order-free), so the DuckDB oracle replays it
    * with a recursive reachability CTE. Output: one row per doc that HAS
    * a duplicate (singletons are trivially their own representative). */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Memo(spark, dir, "dup_clusters")(
      connectedComponents(minhashPairs(spark, dir).select("doc_a", "doc_b")))
      .orderBy("doc_id")

  /** Connected components over an undirected edge list `(doc_a, doc_b)`
    * via the ALTERNATING large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * literature): repeatedly rewrite the edge set so every node points at
    * ever-smaller labels, until each component is a star centered on its
    * minimum node.
    *
    *  - large-star: each node u attaches every STRICTLY LARGER neighbor
    *    to `m = min(N(u) ∪ {u})` — long chains halve per round, which is
    *    what bounds the loop at O(log n) rounds where plain min-label
    *    propagation needs O(diameter) (a 10^6-hop chain of near-dup
    *    shingles would need 10^6 propagation rounds but ~20 star rounds).
    *  - small-star: each node u attaches its smaller-or-equal neighbors
    *    (and itself) to their minimum — flattening the partial stars.
    *
    * Convergence is CHECKED, not assumed: the loop compares the round's
    * edge set against the previous one (distinct-count equality + a
    * one-row left-anti probe — together set equality, two cheap jobs on
    * checkpointed frames) and THROWS [[IllegalStateException]] if
    * `maxRounds` passes without a fixed point — a loud failure instead of
    * the silent partial labels a capped propagation loop would emit on a
    * graph whose diameter exceeds the cap. 64 rounds bounds components of
    * ~2^64 nodes, i.e. unreachable by real data; hitting it means a bug,
    * and wrong clusters must never be returned as if converged.
    *
    * Scale notes: every round is two self-contained groupBy+join passes
    * over the EDGE set (orders of magnitude smaller than the corpus for
    * dedup graphs); shuffle partitions are sized to the edge count and
    * restored after; each round checkpoints to truncate lineage — a
    * persisted-but-not-checkpointed frame still carries its full logical
    * plan, so by round k the optimizer re-analyzes a k-deep join tree per
    * action and planning time compounds superlinearly (measured on the
    * propagation predecessor: 2.5 → 23.6 s/round by round 4 at the 10×
    * stretch). By default rounds `localCheckpoint` (executor-local blocks
    * — fast, but lost with an executor); a cluster deployment that must
    * survive executor loss passes `checkpointDir` and every round writes
    * a RELIABLE checkpoint there instead (same labels, spec-asserted).
    * The caller owns the directory lifecycle: round files accumulate in
    * it and outlive the call (that durability is the point), so point it
    * at a per-job path and delete it when the labels are consumed.
    * Superseded rounds free their checkpoint blocks as they go; the
    * final round's labels stay live (the caller's result plan references
    * them) and release with the session, or with the memo entry holding
    * the result ([[graft.functions.Memo.releaseFrame]]).
    *
    * Output: `(doc_id, cluster_rep)` for every node that appears in an
    * edge, component representatives included (rep maps to itself). */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 64,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    // reliable-checkpoint mode: rounds write to the caller's directory and
    // survive executor loss; default mode keeps executor-local blocks
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
    // canonical directed form: u > v, distinct
    val initial = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = initial.count()
    // ~25k edges/task, floored at 1, capped at 10k tasks; restored after.
    val parts = math.max(1L, math.min(10000L, nEdges / 25000L + 1)).toString
    val confKey = "spark.sql.shuffle.partitions"
    val oldParts = spark.conf.get(confKey)
    spark.conf.set(confKey, parts)
    try {
      var edges = materialize(initial)
      var prevCount = edges.count()
      var converged = false
      var iter = 0
      while (!converged && iter < maxRounds) {
        // large-star over the symmetrized neighborhood: emit (v, m) for
        // every neighbor v > u, where m = min(N(u) ∪ {u}) <= u < v.
        val sym = edges.unionByName(
          edges.select(col("v").as("u"), col("u").as("v")))
        val lsMin = sym.groupBy("u").agg(min(col("v")).as("nbr_min"))
          .select(col("u"), least(col("u"), col("nbr_min")).as("m"))
        val ls = materialize(sym.join(lsMin, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .distinct())
        // small-star on the canonical form: every out-neighbor of u is
        // <= u, so attach them all (and u) to their minimum.
        val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
        val joined = ls.join(ssMin, "u")
        val ss = materialize(joined.select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .unionByName(joined.select(col("u"), col("m").as("v")))
          .distinct())
        // fixed point iff same distinct count AND no row outside the old
        // set (both sets are distinct, so containment + equal cardinality
        // is set equality; the anti-join probe stops at the first witness)
        val newCount = ss.count()
        converged = newCount == prevCount &&
          ss.join(edges, Seq("u", "v"), "left_anti").limit(1).count() == 0
        // release superseded checkpoint blocks NOW — ss is already
        // materialized, and without this the loop accumulates
        // O(rounds × |edges|) block-manager storage until the
        // ContextCleaner gets to the dropped RDDs
        graft.functions.Memo.releaseFrame(ls)
        graft.functions.Memo.releaseFrame(edges)
        edges = ss
        prevCount = newCount
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds " +
            s"($nEdges input edges, $prevCount current) — refusing to emit " +
            "partial cluster labels")
      edges.select(col("u").as("doc_id"), col("v").as("cluster_rep"))
        .unionByName(
          edges.select(col("v").as("doc_id"), col("v").as("cluster_rep")).distinct())
        .distinct()
    } finally {
      spark.conf.set(confKey, oldParts)
      initial.unpersist(blocking = false)
    }
  }

  // ---------------------------------------------------------------
  // Exact substring-span dedup (sequence-level, not document-level)
  // ---------------------------------------------------------------

  /** Span length for [[substringDedup]]: a repeated run of this many
    * tokens is considered memorizable boilerplate. 8 on the short-doc
    * fixture; the published pipelines use ~50 tokens at corpus scale —
    * the lineage is k-independent. */
  val spanK = 8

  /** Exact substring deduplication — the sequence-level complement of
    * document-level dedup (reference near-dup families drop whole
    * documents; training corpora ALSO carry repeated k-token spans
    * — licenses, headers, templates — inside otherwise-unique docs,
    * and span-level repeats are what a model memorizes first). Every
    * k-token window that occurs more than once in the corpus keeps its
    * FIRST occurrence (smallest (doc_id, position) — D1's keep-first
    * contract at token granularity) and every other occurrence is
    * excised: the union of duplicated windows' positions is removed
    * and the survivors reassemble in order.
    *
    * Fully relational — the suffix-array construction of the published
    * single-node implementation re-expressed as positional-gram
    * arithmetic Spark distributes (and DuckDB replays):
    * positional k-grams -> per-gram (count, min position-key) via one
    * map-side-combinable aggregation (NO windowed rank: a boilerplate
    * gram with millions of occurrences would put them all in one
    * window partition, while min/count combine locally) -> non-first
    * occurrences explode into covered positions (×k, bounded) ->
    * anti-join against the token stream -> per-doc ordered
    * reassembly. Shuffles: gram agg, gram join, position anti-join,
    * doc regroup — all on keys with no driver-side state.
    *
    * Output per doc: cleaned text, token counts before/removed. Docs
    * whose every token was excised survive with empty text (the
    * caller's quality gate drops them — excision must not silently
    * change corpus membership). */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    val k = spanK
    val docs = corpusWithDups(spark, dir)
    val tk = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    // positional grams: (doc, start, gram); docs shorter than k emit none
    // (sequence() would count DOWN for n-k+1 < 1 — guard, don't clamp)
    val grams = tk
      .select(col("doc_id"), col("tk"),
        explode(when(size(col("tk")) >= k,
          sequence(lit(1), size(col("tk")) - (k - 1)))
          .otherwise(array())).as("i"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ", slice(col("tk"), col("i"), lit(k))).as("gram"))
    // one scalar position key makes "first occurrence" portable across
    // engines: positions are 1-based and < 1e6 by contract
    val posKey = col("doc_id") * lit(1000000L) + col("i")
    val firsts = grams
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occ"), min(posKey).as("first_key"))
      .filter(col("n_occ") >= 2)
    val excised = grams.join(firsts, "gram")
      .filter(posKey =!= col("first_key"))
    val removed = excised
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .distinct()
    val toks = tk.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("token"))
    val rebuilt = toks.join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    tk.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy("doc_id")
  }

  /** [[substringDedup]] replayed in DuckDB: same positional grams, same
    * scalar first-occurrence key, same position union. */
  def substringDedupOracleSql(corpusCte: String): String = {
    val k = spanK
    s"""$corpusCte,
       | tk0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
       | grams AS (
       |   SELECT doc_id, i, array_to_string(list_slice(tk, i, i + ${k - 1}), ' ') AS gram
       |   FROM tk0 CROSS JOIN UNNEST(generate_series(1, len(tk) - ${k - 1})) AS g(i)),
       | firsts AS (
       |   SELECT gram, COUNT(*) AS n_occ, MIN(doc_id * 1000000 + i) AS first_key
       |   FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
       | excised AS (
       |   SELECT g.doc_id, g.i FROM grams g JOIN firsts f USING (gram)
       |   WHERE g.doc_id * 1000000 + g.i <> f.first_key),
       | removed AS (
       |   SELECT DISTINCT doc_id, i + o AS pos
       |   FROM excised CROSS JOIN UNNEST(generate_series(0, ${k - 1})) AS u(o)),
       | toks AS (
       |   SELECT doc_id, i AS pos, tk[i] AS token
       |   FROM tk0 CROSS JOIN UNNEST(generate_series(1, len(tk))) AS t(i)),
       | kept AS (
       |   SELECT t.doc_id, t.pos, t.token FROM toks t
       |   LEFT JOIN removed r ON r.doc_id = t.doc_id AND r.pos = t.pos
       |   WHERE r.doc_id IS NULL),
       | reb AS (
       |   SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
       |          COUNT(*) AS n_kept
       |   FROM kept GROUP BY doc_id)
       | SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text,
       |        CAST(len(t.tk) AS BIGINT) AS n_tokens,
       |        CAST(len(t.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
       | FROM tk0 t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** CTE chain ending in `clusters(doc_id, cluster_rep)` — the cluster
    * labels as a relation for consumers that compose on them
    * (CorpusPipeline's near-dedup stage). The surrounding WITH must be
    * RECURSIVE (the reach CTE). */
  def dupClustersCte(corpusCte: String): String =
    s"""${minhashPairsCte(corpusCte)},
       | nodes AS (SELECT DISTINCT doc_id FROM (
       |   SELECT doc_a AS doc_id FROM dpairs UNION ALL SELECT doc_b FROM dpairs)),
       | e2 AS (SELECT doc_a AS a, doc_b AS b FROM dpairs
       |   UNION ALL SELECT doc_b, doc_a FROM dpairs),
       | reach AS (
       |   SELECT doc_id AS node, doc_id AS lab FROM nodes
       |   UNION
       |   SELECT e2.a AS node, r.lab FROM e2 JOIN reach r ON r.node = e2.b),
       | clusters AS (SELECT node AS doc_id, MIN(lab) AS cluster_rep
       |   FROM reach GROUP BY node)""".stripMargin

  def dupClustersOracleSql(corpusCte: String): String =
    s"""${dupClustersCte(corpusCte).replaceFirst("WITH ", "WITH RECURSIVE ")}
       | SELECT doc_id, cluster_rep FROM clusters ORDER BY doc_id""".stripMargin

  /** Exact n-gram Jaccard on the LSH candidate pairs (the verify step of
    * MinHash dedup): |A ∩ B| / |A ∪ B| over distinct shingle sets, emitted
    * as exact integer counts. Only candidates are verified — never the
    * full cross product — and shingle sets are materialized ONLY for docs
    * that appear in a candidate pair (left-semi join first): at 100 TB the
    * candidate set is a vanishing fraction of the corpus, so collecting
    * every document's shingle set would dominate the job. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = corpusWithDups(spark, dir)
    val cands = cachedCands(spark, dir)
    // one pass over the cached pairs (a 2-branch union reads it twice)
    val candIds = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // the semi-join broadcasts candIds, so candDocs inherits the base
    // scan's (single-file → single-task) layout; the shingle explosion +
    // collect_set above it is this query's expensive stage — spread first
    // (no-op at real scale; see Tables.spreadToCores). Probe the
    // exchange-free `docs` side, NOT the join: probing the join's rdd
    // executed the candIds union+distinct+broadcast eagerly at compose
    // time and again in the real query (r18 ADVICE).
    val candDocs = graft.Tables.spreadToCores(
      docs.join(candIds, Seq("doc_id"), "left_semi"), col("doc_id"),
      probe = docs)
    val sets = shingles(candDocs).groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("shingle_set"))
    // Attach BOTH pair endpoints in ONE pass over `sets`: joining
    // sets.toDF(doc_a) and sets.toDF(doc_b) evaluated the whole shingle
    // explosion + collect_set lineage TWICE per run (r19 stage metrics:
    // six near-identical ~10 s-taskSum stages — AQE cannot reuse the agg
    // across the two renamed consumers). Instead explode each candidate
    // pair to its two endpoints, broadcast the tiny endpoint list onto
    // the per-doc sets, and fold the two rows per pair back together —
    // the heavy subtree now appears exactly once in the plan (guide
    // §2.4). Every endpoint is in candIds by construction, so
    // first(ignoreNulls) sees exactly one non-null set per side, and the
    // intersect/union sizes are order-invariant over the same
    // collect_set arrays: bit-identical output.
    val ends = cands.select(col("doc_a"), col("doc_b"),
      explode(array(
        struct(lit(0).as("side"), col("doc_a").as("doc_id")),
        struct(lit(1).as("side"), col("doc_b").as("doc_id")))).as("e"))
      .select(col("doc_a"), col("doc_b"),
        col("e.side").as("side"), col("e.doc_id").as("doc_id"))
    sets.join(broadcast(ends), Seq("doc_id"))
      .groupBy("doc_a", "doc_b")
      .agg(
        first(when(col("side") === 0, col("shingle_set")), ignoreNulls = true).as("set_a"),
        first(when(col("side") === 1, col("shingle_set")), ignoreNulls = true).as("set_b"))
      .select(
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("n_inter"),
        size(array_union(col("set_a"), col("set_b"))).as("n_union"))
      .filter(col("n_inter") * 4 >= col("n_union")) // J >= 0.25
      .orderBy("doc_a", "doc_b")
  }

  val simhashBits = 60 // 60 = the portable hash width; 4 bands x 15 bits
  val simhashBands = 4
  val bandBits: Int = simhashBits / simhashBands

  /** 60-bit SimHash: per-token portable-hash bit votes; near-dups share a
    * 15-bit band and have Hamming distance <= 12. Bit votes aggregate
    * map-side (60 int sums), so the shuffle is one 60-int row per doc. */
  def simhash(docs: DataFrame): DataFrame = {
    val votes = (0 until simhashBits).map(i =>
      sum(when(shiftright(col("th"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v_$i"))
    val assembled = (0 until simhashBits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(when(col(s"v_$i") > 0, lit(1L)).otherwise(lit(0L)), i))
    }
    // tokenize + 60 bit-vote partial aggregates are the expensive stage
    // and sit directly on the base scan — spread the (doc_id, text) input
    // when the file layout under-parallelizes it (no-op at real scale)
    graft.Tables.spreadToCores(docs, col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("th", fastHash60(docs.sparkSession, col("tok")))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  /** SimHash near-dup pairs via 4x15-bit band LSH + Hamming verify.
    * Band buckets are CAPPED at [[maxBucketSize]] exactly like the
    * MinHash path — added after the round-5 100× decade check caught the
    * uncapped self-join emitting 2.0e9 rows in 812 s (dense duplicate
    * families share band values, and an uncapped bucket joins
    * quadratically; the fixture's buckets are all far below the cap, so
    * the oracle-checked output is unchanged at verify scale). */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 12): DataFrame = {
    val hashed = simhash(corpusWithDups(spark, dir))
    val allBanded = hashed.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until simhashBands).map(j =>
        shiftright(col("simhash"), j * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .toDF("doc_id", "simhash", "band_idx", "band_val")
    // ONE grouped pass replaces the census aggregate + census join + band
    // self-join (three shuffles of the banded rows, r19 — guide §2.4):
    // collect each bucket's members (the ≤ maxBucketSize cap bounds the
    // list exactly as it bounded the old self-join) and emit the a<b
    // member pairs with an array HOF. Same pair set, same hamming
    // expression, same cross-band dedup — bit-identical output.
    val pairs = allBanded
      .groupBy("band_idx", "band_val")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ms"))
      .filter(size(col("ms")) <= maxBucketSize && size(col("ms")) > 1)
      .select(explode(expr(
        """filter(
          |  flatten(transform(ms, x -> transform(ms, y ->
          |    struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
          |           x.simhash AS sim_a, y.simhash AS sim_b)))),
          |  p -> p.doc_a < p.doc_b)""".stripMargin)).as("p"))
    pairs
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        bit_count(col("p.sim_a").bitwiseXOR(col("p.sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------- oracle SQL
  // DuckDB replays of the exact lineages above, interpolating the same
  // seed constants. Shared CTE chain: corpus -> shingles -> base hash ->
  // signatures -> banded buckets -> skew-capped candidate pairs.

  /** CTE block `${p}toks → ${p}shing → ${p}hashed → ${p}sigs` computing
    * MinHash signatures (m_0..m_31 columns) of relation `src(doc_id,
    * text)` under CTE-name prefix `p` — the standalone oracles use p=""
    * and the append-maintenance oracle ([[Corpus.appendNearDupsOracleSql]])
    * needs signatures of TWO corpora in one query. */
  private[operators] def sigCtes(src: String, p: String = ""): String = {
    val minExprs = minhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * hp + $b) % $hashPrime) AS m_$i"
    }.mkString(", ")
    s"""${p}toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src),
       | ${p}shing AS (
       |   SELECT doc_id, unnest(list_distinct(list_transform(
       |     generate_series(1, greatest(len(tk) - 2, 1)),
       |     i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS shingle
       |   FROM ${p}toks),
       | ${p}hashed AS (SELECT doc_id, ${hashSql("shingle")} % $hashPrime AS hp FROM ${p}shing),
       | ${p}sigs AS (SELECT doc_id, $minExprs FROM ${p}hashed GROUP BY doc_id)""".stripMargin
  }

  /** `${p}banded(doc_id, band_idx, band_hash)` over `${p}sigs` — the SQL
    * mirror of [[bandedOf]]. */
  private[operators] def bandedCte(p: String = ""): String = {
    val bhList = (0 until numBands).map(bandHashSql).mkString("[", ", ", "]")
    s"""${p}banded AS (
       |   SELECT doc_id, j AS band_idx, bhs[j + 1] AS band_hash FROM
       |     (SELECT doc_id, $bhList AS bhs FROM ${p}sigs)
       |     CROSS JOIN UNNEST(generate_series(0, ${numBands - 1})) AS t(j))""".stripMargin
  }

  /** `${p}sigl(doc_id, sig)` — the signature as ONE list column, the form
    * the verify joins consume. */
  private[operators] def siglCte(p: String = ""): String = {
    val sigList = (0 until numHashes).map(i => s"m_$i").mkString("[", ", ", "]")
    s"${p}sigl AS (SELECT doc_id, $sigList AS sig FROM ${p}sigs)"
  }

  private def lshCtes(corpusCte: String): String =
    s"""$corpusCte,
       | ${sigCtes("corpus")},
       | ${bandedCte()},
       | small AS (SELECT band_idx, band_hash FROM banded
       |   GROUP BY 1, 2 HAVING COUNT(*) <= $maxBucketSize AND COUNT(*) > 1),
       | inb AS (SELECT b.doc_id, b.band_idx, b.band_hash
       |   FROM banded b JOIN small s USING (band_idx, band_hash)),
       | cands AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |   FROM inb l JOIN inb r USING (band_idx, band_hash)
       |   WHERE l.doc_id < r.doc_id)""".stripMargin

  /** CTE chain ending in `dpairs(doc_a, doc_b)` — the verified MinHash
    * pair graph as a relation, for consumers that compose on the pairs
    * ([[dupClusters]]' oracle). */
  def minhashPairsCte(corpusCte: String, minMatch: Int = 16): String = {
    s"""${lshCtes(corpusCte)},
       | ${siglCte()},
       | dpairs AS (
       |   SELECT doc_a, doc_b FROM (
       |     SELECT c.doc_a, c.doc_b,
       |       CAST(len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2])) AS INTEGER) AS n_match
       |     FROM cands c
       |     JOIN sigl sa ON sa.doc_id = c.doc_a
       |     JOIN sigl sb ON sb.doc_id = c.doc_b)
       |   WHERE n_match >= $minMatch)""".stripMargin
  }

  def minhashOracleSql(corpusCte: String, minMatch: Int = 16): String = {
    s"""${lshCtes(corpusCte)},
       | ${siglCte()}
       | SELECT doc_a, doc_b, n_match FROM (
       |   SELECT c.doc_a, c.doc_b,
       |     CAST(len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2])) AS INTEGER) AS n_match
       |   FROM cands c
       |   JOIN sigl sa ON sa.doc_id = c.doc_a
       |   JOIN sigl sb ON sb.doc_id = c.doc_b)
       | WHERE n_match >= $minMatch ORDER BY doc_a, doc_b""".stripMargin
  }

  def ngramJaccardOracleSql(corpusCte: String): String =
    s"""${lshCtes(corpusCte)},
       | inter AS (
       |   SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS INTEGER) AS n_inter
       |   FROM cands c
       |   JOIN shing sa ON sa.doc_id = c.doc_a
       |   JOIN shing sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |   GROUP BY 1, 2),
       | sizes AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n FROM shing GROUP BY doc_id)
       | SELECT doc_a, doc_b, n_inter, n_union FROM (
       |   SELECT c.doc_a, c.doc_b, COALESCE(i.n_inter, 0) AS n_inter,
       |     za.n + zb.n - COALESCE(i.n_inter, 0) AS n_union
       |   FROM cands c
       |   LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |   JOIN sizes za ON za.doc_id = c.doc_a
       |   JOIN sizes zb ON zb.doc_id = c.doc_b)
       | WHERE n_inter * 4 >= n_union ORDER BY doc_a, doc_b""".stripMargin

  def simhashOracleSql(corpusCte: String, maxHamming: Int = 12): String = {
    val votes = (0 until simhashBits).map(i =>
      s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS v_$i").mkString(", ")
    val assembled = (0 until simhashBits).map(i =>
      s"(CASE WHEN v_$i > 0 THEN CAST(1 AS BIGINT) << $i ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""$corpusCte,
       | toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
       | th AS (SELECT doc_id, ${hashSql("tok")} AS h FROM toks),
       | votes AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       | sh AS (SELECT doc_id, $assembled AS simhash FROM votes),
       | banded0 AS (SELECT doc_id, simhash, j AS band_idx,
       |     (simhash >> (j * $bandBits)) & ${(1L << bandBits) - 1} AS band_val
       |   FROM sh CROSS JOIN UNNEST(generate_series(0, ${simhashBands - 1})) AS t(j)),
       | smallb AS (SELECT band_idx, band_val FROM banded0
       |   GROUP BY 1, 2 HAVING COUNT(*) <= $maxBucketSize AND COUNT(*) > 1),
       | banded AS (SELECT b.* FROM banded0 b JOIN smallb s USING (band_idx, band_val))
       | SELECT doc_a, doc_b, hamming FROM (
       |   SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |     CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
       |   FROM banded l JOIN banded r USING (band_idx, band_val)
       |   WHERE l.doc_id < r.doc_id)
       | WHERE hamming <= $maxHamming ORDER BY doc_a, doc_b""".stripMargin
  }
}
