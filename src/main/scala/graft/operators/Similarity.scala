package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` fixture (vec_id,
  * embedding ARRAY<FLOAT> dim-64, label) — the training-data-pipeline
  * north-star operator (SURVEY §7.5).
  *
  * Four paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The query set is broadcast, so the plan is one scan of the corpus
  *    with a codegen'd dot product ([[graft.functions.VecDot]]) per
  *    (query, vector) pair and a per-query top-k window: at 100 TB the
  *    cost is the scan, with no shuffle of the corpus at all. All
  *    arithmetic folds left in DOUBLE, an IEEE-deterministic order the
  *    DuckDB oracle replays bit-identically.
  *  - [[annTopK]]: random-hyperplane LSH (SimHash-for-cosine): sign-bit
  *    bucket probing replaces the full scan with ~corpus/2^bits per
  *    (table, query); recall asserted in SimilaritySpec.
  *  - [[ivfTopK]]: inverted-file index — DataFrame-ops k-means build,
  *    nprobe nearest posting lists scanned per query.
  *  - [[embeddingNearDups]]: all-pairs cosine >= τ via the LSH bucket
  *    self-join (the embedding-based dedup modality).
  */
object Similarity {

  val defaultK = 5
  val defaultNQueries = 10
  val dim = 64

  /** LSH shape: recall ≈ 1-(1-p^bits)^tables with p = 1 - θ/π per bit.
    * The fixture corpus is near-isotropic (top-neighbor cosine ≈ 0.3 →
    * p ≈ 0.6), so codes are kept short and tables many (4 bits × 8 tables
    * → ~0.67 expected recall while probing ~half the corpus). A clustered
    * production corpus (top-neighbor cosine ≥ 0.8 → p ≥ 0.8) supports
    * longer codes with little recall loss — which is why the REGISTERED
    * family now picks its width from the corpus size ([[adaptiveBits]])
    * instead of pinning 4 bits, exactly like IVF nprobe scales. */
  val nTables = 8

  /** Code-width floor: the 4-bit shape the near-isotropic small fixture
    * wants (16 buckets/table). */
  val minBits = 4

  /** Code-width ceiling. Planes are pre-generated to this width
    * ([[hyperplanes]]) and [[adaptiveBits]] never exceeds it: 16 bits =
    * 65k buckets/table keeps the expected population at
    * [[targetBucketPop]] up to ~2M vectors; past that the population
    * grows linearly again and the shed guard ([[maxShedFraction]]) fails
    * LOUDLY long before the cap silently zeroes the output. */
  val maxCodeBits = 16

  /** Expected bucket population [[adaptiveBits]] aims for — far under
    * [[maxBucketSize]], so healthy corpora never engage the cap. 32 keeps
    * the 500-vector fixtures at the measured 4-bit shape and puts the
    * 200k-vector 100× decade check at 13 bits (≈24 vectors/bucket), right
    * in the band the round-5 run measured as good (14 bits) and far from
    * the one it measured as pathological (10 bits, ~1e9 candidates). */
  val targetBucketPop = 32

  /** Corpus-adaptive code width — the round-5 weak finding's fix: a fixed
    * 4-bit width meant every bucket blew the population cap at 100× and
    * the registered near-dup queries silently returned 0 rows. The width
    * is the smallest b in [[[minBits]], [[maxCodeBits]]] with
    * n ≤ targetBucketPop·2^b — a pure INTEGER staircase (no float log2
    * for the two engines to disagree on) that the oracle replays as a
    * CASE ladder over COUNT(*). */
  def adaptiveBits(n: Long): Int =
    (minBits to maxCodeBits).find(b => n <= (targetBucketPop.toLong << b))
      .getOrElse(maxCodeBits)

  /** SQL mirror of [[adaptiveBits]] over a count expression `n`. */
  private def adaptiveBitsSql(n: String): String =
    (minBits until maxCodeBits).map(b =>
      s"WHEN $n <= ${targetBucketPop.toLong << b} THEN $b")
      .mkString("CASE ", " ", s" ELSE $maxCodeBits END")

  /** Left-fold double dot product of two float arrays — the op order the
    * oracle replays exactly. */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Codegen'd dot product over named array columns — the per-pair hot
    * path uses [[graft.functions.VecDot]] (tight loop) instead of the
    * interpreted HOF lambda; identical accumulation order, so
    * oracle-checked sims stay bit-identical. */
  private def vecDot(df: DataFrame, a: String, b: String): Column = {
    graft.functions.VectorExprs.register(df.sparkSession)
    expr(s"vec_dot($a, $b)")
  }

  /** (vec_id, embedding, norm): norms are a per-VECTOR quantity — computing
    * them per PAIR would triple the work in every downstream join. The
    * fold order is identical to the oracle's per-pair replay, so the
    * product `q_norm * norm` is bit-identical either way. */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("norm", sqrt(vecDot(emb, "embedding", "embedding")))

  /** Exact cosine top-k of every corpus vector against the first
    * `nQueries` vectors (self-pairs excluded). */
  def bruteForceTopK(spark: SparkSession, dir: String,
      k: Int = defaultK, nQueries: Int = defaultNQueries): DataFrame = {
    val emb = withNorm(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .toDF("query_id", "q_embedding", "q_norm")
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        (vecDot(emb, "q_embedding", "embedding") /
          (col("q_norm") * col("norm"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank")
  }

  /** DuckDB oracle for [[bruteForceTopK]] — identical left-fold arithmetic. */
  def bruteForceOracleSql(k: Int = defaultK, nQueries: Int = defaultNQueries): String = {
    def dotSql(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |   list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
         |   (acc, v) -> acc + v)""".stripMargin
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
       |    ${dotSql("q.embedding", "v.embedding")} /
       |      (sqrt(${dotSql("q.embedding", "q.embedding")}) *
       |       sqrt(${dotSql("v.embedding", "v.embedding")})) AS sim
       |  FROM embeddings q, embeddings v
       |  WHERE q.vec_id < $nQueries AND v.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT query_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT query_id, vec_id, sim, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Seeded-deterministic Gaussian hyperplanes (same constants every run —
    * scala.util.Random's generator is spec-fixed). The plane values are
    * plain Double CONSTANTS by the time the plan is built, so the DuckDB
    * oracle replays them as literals ([[annOracleSql]]) — shortest-repr
    * `Double.toString` round-trips exactly through DuckDB's parser.
    *
    * The family is PREFIX-STABLE: all [[maxCodeBits]] planes per table
    * exist regardless of the width in use, and a width-b code uses each
    * table's first b — so a b-bit code is exactly the LOW b BITS of the
    * full-width code. That identity is what lets the oracle compute the
    * full-width code once and mask it with a data-dependent width
    * (`code % 2^bits`) while Spark, which knows the width at
    * plan-build time, computes only the b planes it needs. */
  def hyperplanes(seed: Long = 42L): Seq[Seq[Double]] =
    hyperplanesAt(maxCodeBits, nTables, seed)

  /** First `bits` planes of each table, laid out `t * bits + b` (the
    * indexing [[codesAt]] uses). */
  private def hyperplanesAt(bits: Int, tables: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    require(bits <= maxCodeBits, s"bits=$bits exceeds maxCodeBits=$maxCodeBits")
    val rnd = new scala.util.Random(seed)
    val full = Seq.fill(tables * maxCodeBits)(Seq.fill(dim)(rnd.nextGaussian()))
    (0 until tables).flatMap(t => (0 until bits).map(b => full(t * maxCodeBits + b)))
  }

  /** (vec_id, embedding, norm, table, code): `nTables` independent
    * sign-bit codes per vector plus the precomputed norm, one narrow pass
    * (no shuffle) — at the [[minBits]] floor width (the registered family
    * uses the corpus-adaptive [[corpusCodes]]). */
  def codes(emb: DataFrame): DataFrame = codesAt(emb, minBits, nTables)

  /** [[codes]] at an arbitrary code width — `bits` IS the scale knob the
    * shape note above describes (2^bits buckets per table): the round-5
    * 100× decade check measured every 4-bit bucket blowing the population
    * cap at 500k vectors (0 output), while wider codes restored the
    * family. Registered queries pick the width via [[adaptiveBits]];
    * PairBench drives this variant for width sweeps. */
  def codesAt(emb: DataFrame, bits: Int, tables: Int = nTables): DataFrame = {
    val planes = hyperplanesAt(bits, tables)
    val tableCols = (0 until tables).map { t =>
      val bitCols = (0 until bits).map { b =>
        val plane = typedLit(planes(t * bits + b))
        when(dot(col("embedding"), plane) >= 0, lit(1L << b)).otherwise(lit(0L))
      }
      bitCols.reduce(_ + _).as(s"code_$t")
    }
    withNorm(emb)
      .select((col("vec_id") +: col("embedding") +: col("norm") +: tableCols): _*)
      .select(col("vec_id"), col("embedding"), col("norm"),
        posexplode(array((0 until tables).map(t => col(s"code_$t")): _*)))
      .toDF("vec_id", "embedding", "norm", "table", "code")
  }

  /** IVF (inverted-file) ANN — the clustering-based alternative to
    * hyperplane LSH from the brief. Index build: k-means over the corpus
    * in pure DataFrame ops (centroids broadcast each Lloyd iteration;
    * assignment is an argmin over k scores; update is the two-level
    * ordered fold of [[deterministicCentroids]] — two shuffles of
    * (cluster, shard, 64-double) partials). Fully deterministic: seeds
    * are the first k vectors, fixed iteration count, and the fold's
    * reduction tree is partitioning-independent — so the whole Lloyd
    * loop replays bit-identically in DuckDB ([[ivfOracleSql]]) and
    * `ivf_topk` is hash-checked end to end. Query: probe the `nprobe`
    * nearest centroid posting lists only — at scale the scan shrinks
    * from the corpus to ~nprobe/k of it, the classic IVF trade. Recall
    * vs brute force asserted in SimilaritySpec. */
  val ivfK = 16
  val ivfIters = 5
  val ivfNProbe = 4

  /** Shard count for the deterministic two-level centroid sum. */
  val ivfSumShards = 16

  /** Deterministic per-cluster mean: a TWO-LEVEL ordered fold. Vectors
    * sum in `vec_id` order within a `vec_id % ivfSumShards` shard, then
    * shard partials sum in shard order — ONE fixed reduction tree for the
    * double-precision sum regardless of partitioning, so centroids are
    * bit-identical across runs AND engines (floating-point addition is
    * not associative; a plain `avg` sums in shuffle arrival order). The
    * shard level keeps the per-group fold bounded at ~|cluster|/shards
    * vectors — raise `ivfSumShards` with corpus size; the shape stays two
    * shuffles of (cluster, shard, 64 doubles) partials. */
  private def deterministicCentroids(assigned: DataFrame,
      d: Int = dim): Array[(Int, Seq[Double])] = {
    val zeros = array(Seq.fill(d)(lit(0.0)): _*)
    val partials = assigned
      .withColumn("sum_shard", pmod(col("vec_id"), lit(ivfSumShards.toLong)))
      .groupBy("cluster", "sum_shard")
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
          zeros,
          (acc, v) => zip_with(acc, v.getField("embedding"), (a, b) => a + b.cast("double"))
        ).as("psum"),
        count(lit(1)).as("pn"))
    partials.groupBy("cluster")
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("sum_shard"), col("psum")))),
          zeros,
          (acc, v) => zip_with(acc, v.getField("psum"), (a, b) => a + b)
        ).as("csum"),
        sum("pn").as("n"))
      .select(col("cluster"),
        transform(col("csum"), x => x / col("n").cast("double")).as("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1)
  }

  /** [[deterministicCentroids]] FUSED across the pqM subspaces: one
    * Spark job updates every subspace's centroids instead of pqM
    * independent two-shuffle chains (opt guide §2 — the per-subspace
    * inputs are 4-double sub-vectors of the SAME cached corpus, so 16
    * sequential jobs were 16 × fixed job overhead over trivially small
    * data; r18 measured the two PQ trainings at ~86 + 112 s of warm-up
    * wall, almost all of it job scheduling). Grouping by `j` on top of
    * (cluster, sum_shard) leaves every per-group fold — its membership,
    * its vec_id/shard ordering, its double-precision addition sequence —
    * EXACTLY the per-subspace fold, so the centroids are bit-identical
    * (PqFusionSpec pins this against the unfused chain). */
  private def deterministicCentroidsByJ(assigned: DataFrame,
      d: Int): Array[Array[(Int, Seq[Double])]] = {
    val zeros = array(Seq.fill(d)(lit(0.0)): _*)
    val partials = assigned
      .withColumn("sum_shard", pmod(col("vec_id"), lit(ivfSumShards.toLong)))
      .groupBy("j", "cluster", "sum_shard")
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
          zeros,
          (acc, v) => zip_with(acc, v.getField("embedding"), (a, b) => a + b.cast("double"))
        ).as("psum"),
        count(lit(1)).as("pn"))
    val rows = partials.groupBy("j", "cluster")
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("sum_shard"), col("psum")))),
          zeros,
          (acc, v) => zip_with(acc, v.getField("psum"), (a, b) => a + b)
        ).as("csum"),
        sum("pn").as("n"))
      .select(col("j"), col("cluster"),
        transform(col("csum"), x => x / col("n").cast("double")).as("centroid"))
      .collect()
    val byJ = rows.groupBy(_.getInt(0))
    (0 until pqM).map { j =>
      byJ.getOrElse(j, Array.empty)
        .map(r => r.getInt(1) -> r.getSeq[Double](2).toSeq)
        .sortBy(_._1)
    }.toArray
  }

  /** All pqM per-subspace Lloyd chains in ONE fused pass per iteration:
    * seeds come from a single collect of the first pqK vectors (driver-
    * side slicing = the same subVec arithmetic), each iteration assigns
    * every subspace with its own argmin literal and explodes to
    * (vec_id, j, cluster, sub-vector) rows, and the grouped fold above
    * rebuilds all books in one job. pqM × (1 + pqIters) tiny jobs
    * become 1 + pqIters. */
  private[operators] def trainSubspaceBooks(src: DataFrame,
      vecCol: String): Array[Array[(Int, Seq[Double])]] = {
    graft.functions.VectorExprs.register(src.sparkSession)
    val seedVecs: Array[Seq[Double]] = src.filter(col("vec_id") < pqK)
      .orderBy("vec_id").select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toSeq)
    var books: Array[Array[(Int, Seq[Double])]] = (0 until pqM).map { j =>
      seedVecs.zipWithIndex.map { case (v, i) =>
        i -> v.slice(j * pqSubDim, (j + 1) * pqSubDim) }
    }.toArray
    for (_ <- 0 until pqIters) {
      val perJ = (0 until pqM).map { j =>
        val sub = subVec(j, col(vecCol))
        struct(lit(j).as("j"),
          call_function("vec_argmin", sub,
            typedLit(books(j).map(_._2).toSeq),
            typedLit(books(j).map { case (_, c) => c.map(x => x * x).sum / 2 }.toSeq),
            typedLit(books(j).map(_._1).toSeq)).as("cluster"),
          sub.as("sub"))
      }
      val assigned = src
        .select(col("vec_id"), explode(array(perJ: _*)).as("s"))
        .select(col("vec_id"), col("s.j").as("j"),
          col("s.cluster").as("cluster"), col("s.sub").as("embedding"))
      books = deterministicCentroidsByJ(assigned, pqSubDim)
    }
    books
  }

  /** Final (post-iteration) centroids — the index geometry both the
    * corpus assignment and query probing use. Cached per (session, dir):
    * index metadata, <= 16 x 64 doubles. An evict
    * ([[graft.AppCache.evictAll]]) rebuilds deterministically on next
    * use — the two-level fold guarantees the SAME centroids regardless
    * of partitioning, which DeterminismSpec exercises. */
  private val centroidCache = graft.AppCache
    .namespace[String, Array[(Int, Seq[Double])]]("similarity.ivf_centroids")

  private def centroidsFor(spark: SparkSession, dir: String,
      k: Int): Array[(Int, Seq[Double])] =
    centroidCache(spark, s"$dir#k=$k") {
      // cache the corpus for the duration of the build: every Lloyd
      // iteration scans it once for assignment + partial sums, and
      // re-reading parquet per iteration would multiply the scan cost by
      // the iteration count at 100 TB
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // seeds: first k vectors (deterministic)
        var centroids: Array[(Int, Seq[Double])] = emb.filter(col("vec_id") < k)
          .orderBy("vec_id").collect()
          .zipWithIndex
          .map { case (r, i) => i -> r.getSeq[Float](1).map(_.toDouble).toSeq.asInstanceOf[Seq[Double]] }
        for (_ <- 0 until ivfIters)
          centroids = deterministicCentroids(assignToCentroids(emb, centroids))
        centroids
      } finally emb.unpersist(blocking = false)
    }

  private def ivfCentroids(spark: SparkSession, dir: String): Array[(Int, Seq[Double])] =
    centroidsFor(spark, dir, ivfK)

  /** (vec_id, embedding, norm, cluster): corpus with IVF cluster ids. */
  def ivfAssignments(spark: SparkSession, dir: String): DataFrame =
    assignmentsFor(spark, dir, ivfK)

  /** [[ivfAssignments]] at an arbitrary cluster count — the semantic-dedup
    * index runs the SAME deterministic Lloyd chain at a corpus-derived k
    * ([[semClusters]]) instead of the fixture-scaled [[ivfK]]. */
  private def assignmentsFor(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.functions.Memo(spark, dir, s"ivf_assignments_$k") {
      graft.functions.VectorExprs.register(spark)
      val emb = withNorm(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      assignToCentroids(emb, centroidsFor(spark, dir, k))
    }

  /** argmin over broadcast centroid literals — narrow, no shuffle. Scoring
    * runs through the codegen'd [[graft.functions.VecDot]] (float column ×
    * double literal array): at the semantic-dedup cluster counts (up to
    * [[maxSemK]]) the interpreted HOF lambda would evaluate k × dim boxed
    * calls per row per Lloyd pass. Accumulation order is identical to the
    * HOF fold, so oracle hashes are unchanged. */
  private def assignToCentroids(emb: DataFrame, centroids: Array[(Int, Seq[Double])]): DataFrame = {
    graft.functions.VectorExprs.register(emb.sparkSession)
    // nearest by euclidean distance = max (dot - |c|^2/2) for unit-cost
    // argmin, evaluated by ONE tight-loop expression over the whole
    // centroid matrix ([[graft.functions.VecArgmin]]). The former
    // k-branch `greatest(struct(vec_dot - c2/2, cid), ...)` encoding is
    // semantically identical (same fold order, same (score, cid)
    // tie-break — SimilaritySpec pins the equivalence) but overflowed
    // whole-stage codegen at the semantic-dedup cluster counts and fell
    // back to interpreting k expression trees per row: the 100x profile
    // showed the Lloyd chain at ~120 s vs ~4 s for the pair phase it
    // feeds. One expression keeps the assignment pass at scan speed at
    // any k.
    emb.withColumn("cluster", call_function("vec_argmin",
      col("embedding"),
      typedLit(centroids.map(_._2).toSeq),
      typedLit(centroids.map { case (_, c) => c.map(x => x * x).sum / 2 }.toSeq),
      typedLit(centroids.map(_._1).toSeq)))
  }

  /** IVF ANN top-k: probe the nprobe nearest posting lists per query. */
  def ivfTopK(spark: SparkSession, dir: String,
      k: Int = defaultK, nQueries: Int = defaultNQueries): DataFrame = {
    val assigned = ivfAssignments(spark, dir)
    // each query probes the lists of the nprobe nearest centroids; centroid
    // scores are recomputed per query row against broadcast literals, so
    // the query side needs only its own vector
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        col("norm").as("q_norm"))
    // rank centroids per query via the same argmin scores, explode top nprobe
    val cVecs = ivfCentroids(spark, dir)
    val probeStructs = cVecs.map { case (cid, c) =>
      val cArr = typedLit(c)
      val cNorm2 = c.map(x => x * x).sum
      struct((dot(col("q_embedding"), cArr) - lit(cNorm2 / 2)).as("score"), lit(cid).as("cid"))
    }
    val probed = queries
      .withColumn("ranked", sort_array(array(probeStructs: _*), asc = false))
      .select(col("query_id"), col("q_embedding"), col("q_norm"),
        explode(expr(s"slice(ranked, 1, $ivfNProbe)")).as("probe"))
      .select(col("query_id"), col("q_embedding"), col("q_norm"),
        col("probe.cid").as("cluster"))
    val cands = assigned.join(broadcast(probed), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
    val scored = cands.select(
      col("query_id"), col("vec_id"),
      (vecDot(cands, "q_embedding", "embedding") /
        (col("q_norm") * col("norm"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs (the fifth dedup modality of
    * the training-data brief, next to exact/MinHash/SimHash/n-gram): all
    * unordered pairs with cosine >= minCosine, found via the same LSH
    * bucket self-join as [[annTopK]] — candidates share a (table, code)
    * bucket, then exact-cosine verify. No cross join at any scale; recall
    * vs the quadratic baseline is asserted in SimilaritySpec. */
  /** Bucket-population cap for the near-dup self-join: a bucket of n
    * vectors contributes n² candidate pairs, so one degenerate bucket
    * (all-zero embeddings, a padding cluster) would dominate the job at
    * scale. Same guard as [[Dedup.maxBucketSize]]. */
  val maxBucketSize = 2000

  def embeddingNearDups(spark: SparkSession, dir: String,
      minCosine: Double = 0.25): DataFrame =
    scoredNearDupPairs(spark, dir, minCosine).orderBy("vec_a", "vec_b")

  /** The near-dup APPLICATION remedy for output-bound pair growth
    * (SURVEY §8): the all-pairs surface above grows with the true
    * duplicate density (100.8× pairs at 10× corpus in the r4 stretch —
    * output-bound, not plan-bound), while consumers typically only need
    * each vector's few nearest duplicates. Cap the OUTPUT per vector:
    * symmetrize the scored pairs and keep each vector's top-k neighbors
    * by cosine (window rank inside the vec_id partition — no global
    * sort). The candidate stage is unchanged (bucket-capped LSH
    * self-join); only the emitted rows are bounded: ≤ k rows per vector
    * regardless of how dense the duplicate clusters get. */
  def nearDupsTopK(spark: SparkSession, dir: String, k: Int = defaultK,
      minCosine: Double = 0.25): DataFrame = {
    val pairs = scoredNearDupPairs(spark, dir, minCosine)
    val sym = pairs
      .select(col("vec_a").as("vec_id"), col("vec_b").as("nbr_id"), col("cosine"))
      .unionByName(pairs
        .select(col("vec_b").as("vec_id"), col("vec_a").as("nbr_id"), col("cosine")))
    val w = Window.partitionBy("vec_id").orderBy(desc("cosine"), asc("nbr_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("vec_id", "nbr_id", "cosine", "rank")
      .orderBy("vec_id", "rank")
  }

  /** Shed-fraction ceiling for the REGISTERED near-dup path: if more than
    * this fraction of bucket memberships sits in over-cap buckets, the
    * result would be dominated by silently-dropped candidates — so the
    * operator THROWS instead of returning a duplicate list that reads as
    * "no duplicates" (the round-5 weak finding: 100% of 4-bit buckets
    * capped at 100× and the query emitted 0 rows without a word). With
    * [[adaptiveBits]] keeping expected populations at [[targetBucketPop]]
    * ≪ [[maxBucketSize]], a healthy corpus never comes near this; hitting
    * it means the corpus is pathologically concentrated (a padding
    * cluster, near-constant embeddings) and needs a deliberate knob
    * ([[embeddingNearDupsAt]]), not a silent empty answer. */
  val maxShedFraction = 0.5

  private def assertBucketsHealthy(coded: DataFrame, bits: Int): Unit = {
    val row = coded.groupBy("table", "code")
      .agg(count(lit(1)).as("bucket_n"))
      .agg(
        coalesce(sum(when(col("bucket_n") > maxBucketSize, col("bucket_n"))), lit(0L))
          .as("shed"),
        coalesce(sum(col("bucket_n")), lit(0L)).as("total"))
      .head()
    val (shed, total) = (row.getLong(0), row.getLong(1))
    if (total > 0 && shed.toDouble > total.toDouble * maxShedFraction)
      throw new IllegalStateException(
        s"embedding near-dup LSH is load-shedding $shed of $total bucket memberships " +
          s"at $bits-bit codes (cap $maxBucketSize/bucket, ceiling " +
          s"${(maxShedFraction * 100).toInt}%) — the corpus is too concentrated for " +
          "this code width and the result would silently read as 'no duplicates'. " +
          "Raise the width explicitly via embeddingNearDupsAt, or widen " +
          "maxCodeBits/targetBucketPop.")
  }

  /** Memoized per (session, dir): `embedding_near_dups` and
    * `near_dups_topk` both consume the same scored pair relation, and the
    * bucket self-join + cosine verify is the expensive stage. The
    * bucket-health check runs ONCE here (eager, one aggregate over the
    * memoized codes) so every registered consumer is protected. */
  private def scoredNearDupPairs(spark: SparkSession, dir: String,
      minCosine: Double): DataFrame =
    graft.functions.Memo(spark, dir, s"near_dup_pairs_$minCosine") {
      val coded = corpusCodes(spark, dir)
      assertBucketsHealthy(coded, corpusBits(spark, dir))
      scoredPairsFromCodes(spark, dir, coded, minCosine)
    }

  /** [[embeddingNearDups]] at an arbitrary code width (see [[codesAt]]) —
    * the corpus-scaled variant PairBench measures; not registered, so the
    * 4-bit oracle replay is untouched. */
  def embeddingNearDupsAt(spark: SparkSession, dir: String, bits: Int,
      minCosine: Double = 0.25): DataFrame =
    scoredPairsFromCodes(spark, dir,
      codesAt(Tables.embeddings(spark, dir).select("vec_id", "embedding"), bits),
      minCosine).orderBy("vec_a", "vec_b")

  private def scoredPairsFromCodes(spark: SparkSession, dir: String,
      coded: DataFrame, minCosine: Double): DataFrame = {
    val smallBuckets = coded.groupBy("table", "code")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucketSize && col("bucket_n") > 1)
      .select("table", "code")
    val inBuckets = coded.join(smallBuckets, Seq("table", "code"))
      .select("vec_id", "table", "code")
    // enumerate + dedup BARE id-pairs (16 B/row): a pair can surface in
    // up to nTables buckets, and shuffling the two 64-float embeddings
    // through the dedup exchange per duplicate candidate was ~97% of the
    // exchange volume. The embeddings join back ONCE per distinct pair —
    // two joins keyed on vec_id (broadcastable here; hash joins against
    // the corpus at 100 TB, each touching one side's vectors once).
    val pairs = inBuckets.toDF("vec_a", "table", "code")
      .join(inBuckets.toDF("vec_b", "table", "code"), Seq("table", "code"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .dropDuplicates("vec_a", "vec_b")
    val vecs = withNorm(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
    val a = vecs.toDF("vec_a", "emb_a", "norm_a")
    val b = vecs.toDF("vec_b", "emb_b", "norm_b")
    val joined = pairs.join(a, Seq("vec_a")).join(b, Seq("vec_b"))
    joined
      .select(col("vec_a"), col("vec_b"),
        (vecDot(joined, "emb_a", "emb_b") /
          (col("norm_a") * col("norm_b"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Corpus vector count, cached per (session, dir): one count job feeds
    * every adaptive-width decision. */
  private val sizeCache =
    graft.AppCache.namespace[String, Long]("similarity.corpus_sizes")

  private def corpusSize(spark: SparkSession, dir: String): Long =
    sizeCache(spark, dir)(Tables.embeddings(spark, dir).select("vec_id").count())

  /** The code width the REGISTERED family runs at for this corpus. */
  def corpusBits(spark: SparkSession, dir: String): Int =
    adaptiveBits(corpusSize(spark, dir))

  /** Corpus-adaptive hyperplane codes, memoized per (session, dir, width):
    * annTopK and the near-dup family share them. */
  private def corpusCodes(spark: SparkSession, dir: String): DataFrame = {
    val bits = corpusBits(spark, dir)
    graft.functions.Memo(spark, dir, s"hyperplane_codes_${bits}b")(
      codesAt(Tables.embeddings(spark, dir).select("vec_id", "embedding"), bits))
  }

  /** (table, code, bucket_n) census of the hyperplane-LSH buckets at the
    * registered (adaptive) width — cap-hit telemetry for
    * [[embeddingNearDups]] (PairBench); the same census the shed guard
    * aggregates. */
  def codeBucketSizes(spark: SparkSession, dir: String): DataFrame =
    corpusCodes(spark, dir).groupBy("table", "code").agg(count(lit(1)).as("bucket_n"))

  private val codeIndexDirs =
    graft.AppCache.namespace[String, String]("similarity.code_index_dirs")

  /** Persisted LSH CODE index over the existing embedding corpus — the
    * embedding-modality twin of [[graft.operators.Corpus.bandIndexDir]]:
    * (vec_id, table, code) rows at the corpus-adaptive width, written
    * once per (session, sf-dir). An appended vector batch then joins its
    * own codes against the index buckets instead of re-coding and
    * self-joining the whole corpus — the re-coding (bits × tables dot
    * products per vector) and the candidate enumeration both become
    * O(batch + touched buckets). Vectors themselves are NOT in the index;
    * the exact-cosine verify joins the candidate ids back to the
    * embeddings table, touching only candidate rows' vectors. Frozen
    * at first bootstrap like [[graft.operators.Corpus.digestIndexDir]]
    * (same evict contract). */
  def codeIndexDir(spark: SparkSession, dir: String): String =
    codeIndexDirs(spark, dir) {
      val d = graft.ext.Dfs.scratchDir(spark, "graft_code_index")
      corpusCodes(spark, dir).select("vec_id", "table", "code")
        .write.mode("overwrite").parquet(s"$d/codes")
      d
    }

  /** Deterministic vector batch for the REGISTERED embedding-append
    * query: every vec_id % 11 == 3 vector arrives as a lightly-perturbed
    * near-duplicate (a +0.01 shift on every component, computed in DOUBLE
    * and cast back — bit-identical in both engines), offset +1,000,000. */
  private def nearDupVecBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 11 === 3)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT))")
          .as("embedding"))

  /** Incremental near-dup maintenance for the EMBEDDING modality: code
    * the batch at the INDEX corpus's width, join against the persisted
    * code buckets (cap on the index side, as everywhere), dedup the bare
    * id-pairs, and exact-cosine verify — the same shape as
    * [[embeddingNearDups]] with the corpus self-join replaced by a
    * batch-vs-index probe. Fully deterministic; the oracle recomputes
    * the index contents and the batch codes in one query. */
  def appendEmbeddingNearDups(spark: SparkSession, dir: String,
      minCosine: Double = 0.25): DataFrame = {
    val idx = codeIndexDir(spark, dir)
    val bits = corpusBits(spark, dir) // the width the index was built at
    val oldCodes = spark.read.parquet(s"$idx/codes")
    val ok = oldCodes.groupBy("table", "code")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucketSize)
      .select("table", "code")
    val oldIn = oldCodes.join(ok, Seq("table", "code"))
      .select("vec_id", "table", "code")
      .toDF("old_id", "table", "code")
    val batch = nearDupVecBatch(spark, dir)
    val newCodes = codesAt(batch, bits)
      .select(col("vec_id").as("new_id"), col("table"), col("code"))
    val cands = newCodes.join(oldIn, Seq("table", "code"))
      .select("new_id", "old_id").distinct()
    val newVecs = withNorm(batch).toDF("new_id", "emb_n", "norm_n")
    val oldVecs = withNorm(Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      .toDF("old_id", "emb_o", "norm_o")
    val joined = cands.join(newVecs, Seq("new_id")).join(oldVecs, Seq("old_id"))
    joined
      .select(col("new_id"), col("old_id"),
        (vecDot(joined, "emb_n", "emb_o") /
          (col("norm_n") * col("norm_o"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy("new_id", "old_id")
  }

  /** DuckDB replay of [[appendEmbeddingNearDups]]: the shared `nb` width,
    * the index corpus's codes, the batch's codes (same planes, same
    * width), bucket cap, candidate probe, and left-fold cosine — all in
    * one query. */
  def appendEmbeddingNearDupsOracleSql(minCosine: Double = 0.25): String =
    s"""$codesCtes,
       | vbatch AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT)) AS embedding
       |  FROM embeddings WHERE vec_id % 11 = 3),
       | ${codesBlock("vbatch", "b")},
       | okc AS (SELECT tbl, code FROM codes
       |   GROUP BY 1, 2 HAVING COUNT(*) <= $maxBucketSize),
       | vcands AS (SELECT DISTINCT nc.vec_id AS new_id, o.vec_id AS old_id
       |   FROM bcodes nc
       |   JOIN codes o ON o.tbl = nc.tbl AND o.code = nc.code
       |   JOIN okc k ON k.tbl = nc.tbl AND k.code = nc.code)
       | SELECT new_id, old_id, cosine FROM (
       |   SELECT c.new_id, c.old_id,
       |     ${dotSql("bn.embedding", "od.embedding")} / (bn.norm * od.norm) AS cosine
       |   FROM vcands c
       |   JOIN bnormed bn ON bn.vec_id = c.new_id
       |   JOIN normed od ON od.vec_id = c.old_id)
       | WHERE cosine >= $minCosine ORDER BY new_id, old_id""".stripMargin

  /** ANN cosine top-k: LSH bucket candidates -> exact cosine -> top-k.
    * Same output shape as [[bruteForceTopK]]; recall asserted in tests. */
  def annTopK(spark: SparkSession, dir: String,
      k: Int = defaultK, nQueries: Int = defaultNQueries): DataFrame = {
    val coded = corpusCodes(spark, dir)
    val queryCodes = coded.filter(col("vec_id") < nQueries)
      .toDF("query_id", "q_embedding", "q_norm", "table", "code")
    // bucket join: corpus side shuffles on (table, code) once; query side
    // is tiny -> broadcast
    val cands = coded.join(broadcast(queryCodes), Seq("table", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "q_embedding", "q_norm", "vec_id", "embedding", "norm")
      .dropDuplicates("query_id", "vec_id")
    val scored = cands.select(
      col("query_id"), col("vec_id"),
      (vecDot(cands, "q_embedding", "embedding") /
        (col("q_norm") * col("norm"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------------- oracle SQL
  // The hyperplane-LSH family is fully deterministic given the seeded
  // plane constants, so DuckDB replays it end to end: codes as sign-bit
  // sums against literal planes, the same bucket joins and caps, and the
  // same left-fold double cosine (bit-identical, as similarity_topk
  // already proves for the fold itself).

  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |   list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
       |   (acc, v) -> acc + v)""".stripMargin

  /** `codes` CTE: one (vec_id, table, code) row per vector per table, plus
    * the precomputed norm — the SQL mirror of [[corpusCodes]]. The width
    * is data-dependent (the `nb` CTE computes [[adaptiveBits]] from
    * COUNT(*) as an integer CASE ladder), so each bit contributes only
    * `WHEN b < bits` — the prefix-stable plane family guarantees that
    * equals Spark's "compute only the first b planes" exactly. */
  /** CTE block `${p}normed → ${p}pc → ${p}codes` coding relation
    * `src(vec_id, embedding)` — requires the shared `nb` (width) CTE in
    * scope. Prefixed so the append oracle codes TWO corpora (index +
    * batch) in one query, both at the INDEX corpus's width. */
  private def codesBlock(src: String, p: String = ""): String = {
    val planes = hyperplanes()
    val tableCodes = (0 until nTables).map { t =>
      val bitTerms = (0 until maxCodeBits).map { b =>
        val lits = planes(t * maxCodeBits + b).map(java.lang.Double.toString).mkString("[", ", ", "]")
        s"(CASE WHEN $b < bits AND ${dotSql("embedding", lits)} >= 0 THEN ${1L << b} ELSE 0 END)"
      }
      bitTerms.mkString("(", " + ", s") AS code_$t")
    }.mkString(", ")
    val codeList = (0 until nTables).map(t => s"code_$t").mkString("[", ", ", "]")
    s"""${p}normed AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM $src),
       | ${p}pc AS (SELECT vec_id, embedding, norm, $tableCodes FROM ${p}normed CROSS JOIN nb),
       | ${p}codes AS (
       |  SELECT vec_id, embedding, norm, t AS tbl, ($codeList)[t + 1] AS code
       |  FROM ${p}pc CROSS JOIN UNNEST(generate_series(0, ${nTables - 1})) AS u(t))""".stripMargin
  }

  private def codesCtes: String =
    s"""WITH nb AS (SELECT ${adaptiveBitsSql("n")} AS bits
       |   FROM (SELECT COUNT(*) AS n FROM embeddings)),
       | ${codesBlock("embeddings")}""".stripMargin

  /** DuckDB replay of [[annTopK]]. */
  def annOracleSql(k: Int = defaultK, nQueries: Int = defaultNQueries): String =
    s"""$codesCtes,
       | cands AS (
       |  SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS vec_id
       |  FROM codes q JOIN codes v ON q.tbl = v.tbl AND q.code = v.code
       |  WHERE q.vec_id < $nQueries AND v.vec_id <> q.vec_id),
       | scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    ${dotSql("qe.embedding", "ve.embedding")} / (qe.norm * ve.norm) AS sim
       |  FROM cands c
       |  JOIN normed qe ON qe.vec_id = c.query_id
       |  JOIN normed ve ON ve.vec_id = c.vec_id),
       | ranked AS (
       |  SELECT query_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       | SELECT query_id, vec_id, sim, rank FROM ranked
       | WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Shared CTE chain ending in `sp(vec_a, vec_b, cosine)` — the scored,
    * threshold-filtered near-dup pairs (bucket cap included). */
  private def nearDupPairsCtes(minCosine: Double): String =
    s"""$codesCtes,
       | small AS (SELECT tbl, code FROM codes
       |   GROUP BY 1, 2 HAVING COUNT(*) <= $maxBucketSize AND COUNT(*) > 1),
       | inb AS (SELECT c.* FROM codes c JOIN small s ON c.tbl = s.tbl AND c.code = s.code),
       | pairs AS (
       |  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
       |  FROM inb l JOIN inb r ON l.tbl = r.tbl AND l.code = r.code
       |  WHERE l.vec_id < r.vec_id),
       | sp AS (SELECT vec_a, vec_b, cosine FROM (
       |  SELECT p.vec_a, p.vec_b,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cosine
       |  FROM pairs p
       |  JOIN normed a ON a.vec_id = p.vec_a
       |  JOIN normed b ON b.vec_id = p.vec_b)
       |  WHERE cosine >= $minCosine)""".stripMargin

  /** DuckDB replay of [[embeddingNearDups]] (bucket cap included). */
  def nearDupsOracleSql(minCosine: Double = 0.25): String =
    s"""${nearDupPairsCtes(minCosine)}
       | SELECT vec_a, vec_b, cosine FROM sp ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB replay of [[nearDupsTopK]]. */
  def nearDupsTopKOracleSql(k: Int = defaultK, minCosine: Double = 0.25): String =
    s"""${nearDupPairsCtes(minCosine)},
       | sym AS (SELECT vec_a AS vec_id, vec_b AS nbr_id, cosine FROM sp
       |   UNION ALL SELECT vec_b, vec_a, cosine FROM sp),
       | rankd AS (SELECT vec_id, nbr_id, cosine,
       |   CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS INTEGER) AS rank
       |   FROM sym)
       | SELECT vec_id, nbr_id, cosine, rank FROM rankd
       | WHERE rank <= $k ORDER BY vec_id, rank""".stripMargin

  /** Argmax assignment of `rel` rows' `embCol` against the `cent` CTE,
    * Spark tie-break (higher cluster id wins on equal score); shared by
    * the full-vector IVF chain and the per-subspace PQ chains. */
  private def assignSql(rel: String, cent: String, embCol: String = "embedding") =
    s"""(
       |  SELECT vec_id, $embCol AS embedding, cluster FROM (
       |    SELECT e.vec_id, e.$embCol, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        (${dotSql(s"e.$embCol", "c.centroid")} -
       |         ${dotSql("c.centroid", "c.centroid")} / 2) DESC,
       |        c.cluster DESC) AS rn
       |    FROM $rel e CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin

  /** One deterministic Lloyd chain as CTEs: seeds = first `kCents`
    * rows of `rel` (cluster id by vec_id order), `iters` rounds of
    * argmax assignment + the two-level ordered fold. CTE names are
    * prefixed so several chains (8 PQ subspaces) coexist in one WITH. */
  private def lloydChainCtes(rel: String, prefix: String, kCents: String,
      iters: Int, d: Int): Seq[String] = {
    val zeros = Seq.fill(d)("CAST(0 AS DOUBLE)").mkString("[", ", ", "]")
    val foldAdd = "(acc, v) -> list_transform(list_zip(acc, v), p -> p[1] + p[2])"
    val iterCtes = (0 until iters).flatMap { i =>
      Seq(
        s"${prefix}asg$i AS ${assignSql(rel, s"${prefix}cent$i")}",
        s"""${prefix}p$i AS (
           |  SELECT cluster, vec_id % $ivfSumShards AS sum_shard,
           |    list_reduce(list_prepend($zeros,
           |      list(list_transform(embedding, x -> CAST(x AS DOUBLE)) ORDER BY vec_id)),
           |      $foldAdd) AS psum,
           |    COUNT(*) AS pn
           |  FROM ${prefix}asg$i GROUP BY 1, 2)""".stripMargin,
        s"""${prefix}cent${i + 1} AS (
           |  SELECT cluster, list_transform(csum, x -> x / CAST(n AS DOUBLE)) AS centroid FROM (
           |    SELECT cluster,
           |      list_reduce(list_prepend($zeros, list(psum ORDER BY sum_shard)),
           |        $foldAdd) AS csum,
           |      SUM(pn) AS n
           |    FROM ${prefix}p$i GROUP BY 1))""".stripMargin)
    }
    s"""${prefix}cent0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM $rel WHERE vec_id < $kCents)""".stripMargin +: iterCtes
  }

  /** The IVF index + candidate CTEs (through `cands`), shared by the
    * exact-rerank oracle ([[ivfOracleSql]]) and the PQ/ADC oracle
    * ([[ivfpqOracleSql]]). */
  /** The Lloyd chain through the final `assigned` CTE
    * (vec_id, embedding, norm, cluster) — shared by the IVF query
    * oracles and [[semanticDedupOracleSql]]. */
  private def assignedCtes: Seq[String] = assignedCtesAt(ivfK.toString)

  /** The `assigned` chain at an arbitrary cluster-count EXPRESSION (a
    * literal for the ANN oracles, the `semk` scalar subquery for the
    * semantic-dedup oracle — DuckDB evaluates it in the seed CTE's WHERE). */
  private def assignedCtesAt(kCents: String): Seq[String] =
    lloydChainCtes("embeddings", "", kCents, ivfIters, dim) ++ Seq(
      s"""normed AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS norm
         |  FROM embeddings)""".stripMargin,
      s"asgF AS ${assignSql("embeddings", s"cent$ivfIters")}",
      """assigned AS (
        |  SELECT a.vec_id, a.embedding, n.norm, a.cluster
        |  FROM asgF a JOIN normed n USING (vec_id))""".stripMargin)

  private def ivfCandCtes(nQueries: Int): Seq[String] =
    assignedCtes ++ Seq(
      s"""queries AS (
         |  SELECT vec_id AS query_id, embedding AS q_embedding, norm AS q_norm
         |  FROM assigned WHERE vec_id < $nQueries)""".stripMargin,
      s"""probes AS (
         |  SELECT query_id, q_embedding, q_norm, cluster FROM (
         |    SELECT q.query_id, q.q_embedding, q.q_norm, c.cluster,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (${dotSql("q.q_embedding", "c.centroid")} -
         |         ${dotSql("c.centroid", "c.centroid")} / 2) DESC,
         |        c.cluster DESC) AS rn
         |    FROM queries q CROSS JOIN cent$ivfIters c) WHERE rn <= $ivfNProbe)""".stripMargin,
      """cands AS (
        |  SELECT p.query_id, p.q_embedding, p.q_norm, a.vec_id, a.embedding, a.norm
        |  FROM assigned a JOIN probes p ON a.cluster = p.cluster
        |  WHERE a.vec_id <> p.query_id)""".stripMargin)

  /** DuckDB replay of [[ivfTopK]] — the ENTIRE fixed-iteration Lloyd
    * loop as chained CTEs, not data-derived literals: seeds are the
    * first k vectors, each iteration re-derives assignment (argmax of
    * `dot - |c|²/2`, ties to the higher cluster id like Spark's
    * `greatest` over (score, cid) structs) and centroids (the same
    * two-level vec_id-then-shard ordered fold as
    * [[deterministicCentroids]]), then the probe/score/rank phase
    * mirrors [[ivfTopK]]. Every double-precision sum folds in the same
    * order in both engines, so the final hash matches bit-for-bit. */
  def ivfOracleSql(k: Int = defaultK, nQueries: Int = defaultNQueries): String = {
    val ctes = ivfCandCtes(nQueries) ++ Seq(
      s"""scored AS (
         |  SELECT query_id, vec_id,
         |    ${dotSql("q_embedding", "embedding")} / (q_norm * norm) AS sim FROM cands)""".stripMargin,
      """ranked AS (
        |  SELECT query_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)""".stripMargin)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT query_id, vec_id, sim, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------- semantic dedup (SemDeDup)

  /** Expected cluster population the semantic-dedup index aims for. 128
    * keeps the within-cluster candidate surface at ~pop²/2 ≈ 8k pairs per
    * cluster, so the TOTAL candidate count Σ|cluster|² ≈ n·pop stays
    * LINEAR in the corpus while [[semClusters]] scales k with it. */
  val targetClusterPop = 128

  /** Cluster-count floor: the 16-cluster shape the 500-vector fixtures
    * measure well at (pop ≈ 31) — the same geometry as [[ivfK]]. */
  val minSemK = 16

  /** Cluster-count ceiling. Lloyd assignment evaluates k codegen'd
    * [[graft.functions.VecDot]] products per row per pass; 512 × 64 dims ≈
    * 33k flops/row keeps an assignment pass at scan speed. Past
    * n ≈ targetClusterPop·maxSemK (~65k vectors) populations grow linearly
    * again and the shed guard ([[maxClusterPop]] + [[maxShedFraction]])
    * fails LOUDLY — scale k deliberately via [[semanticDedupAt]], the same
    * explicit-knob contract as [[embeddingNearDupsAt]]. */
  val maxSemK = 512

  /** Per-cluster population cap for the dedup self-join — the cluster-shaped
    * twin of [[maxBucketSize]]: one degenerate cluster (padding vectors, a
    * constant embedding) would contribute pop² candidate pairs and dominate
    * the job. Over-cap clusters are excluded WHOLE — every member KEEPS,
    * the conservative answer for a dedup (never drop what was not
    * verified) — and counts as shed toward [[maxShedFraction]]. */
  val maxClusterPop = 2000

  /** Corpus-adaptive semantic cluster count: the smallest power-of-two k in
    * [[[minSemK]], [[maxSemK]]] with n ≤ targetClusterPop·k — the same pure
    * INTEGER staircase as [[adaptiveBits]] (nothing for the two engines to
    * disagree on), replayed by the oracle as a CASE ladder over COUNT(*). */
  def semClusters(n: Long): Int =
    Iterator.iterate(minSemK)(_ * 2).takeWhile(_ <= maxSemK)
      .find(k => n <= targetClusterPop.toLong * k).getOrElse(maxSemK)

  /** SQL mirror of [[semClusters]] over a count expression `n`. */
  private def semClustersSql(n: String): String =
    Iterator.iterate(minSemK)(_ * 2).takeWhile(_ < maxSemK)
      .map(k => s"WHEN $n <= ${targetClusterPop.toLong * k} THEN $k")
      .mkString("CASE ", " ", s" ELSE $maxSemK END")

  /** SemDeDup-shaped semantic dedup (the cluster-then-prune recipe of
    * Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the corpus, and
    * within each cluster DROP every vector that has a `>= minCosine`
    * neighbor with a smaller id — the keep-first rule this library's
    * exact dedup family already uses, applied to semantic neighbors.
    * Returns one decision row per vector: (vec_id, cluster, kept).
    *
    * The default threshold is DUPLICATE-grade (SemDeDup's sweeps prune at
    * cosine ≈ 0.95; 0.9 is the aggressive end of that band): k-means
    * clusters gather vectors BY similarity, so a merely-related threshold
    * would fire on most same-cluster pairs and hollow out every cluster —
    * on a corpus with no semantic duplicates the correct answer is "keep
    * everything", which is what 0.9 yields on the near-isotropic fixtures
    * (max pairwise cosine ≈ 0.5) while planted near-identical copies
    * (cosine ≥ 0.99, SimilaritySpec) are dropped.
    *
    * Scale: cluster count is corpus-derived ([[semClusters]]) so expected
    * population — and with it the Σ|cluster|² candidate surface — stays
    * bounded (n·[[targetClusterPop]], linear); candidate id-pairs are
    * generated on SLIM (cluster, sub, vec_id) rows and embeddings join
    * back per candidate pair (the r4 near-dups restructure — the cluster
    * shuffle moves small ids, not 64-float payloads); DEGENERATE clusters
    * SPLIT instead of shed: a cluster past [[maxClusterPop]] partitions by
    * the leading [[subBits]] sign bits of a fixed hyperplane family (near-
    * identical vectors agree on every sign bit w.h.p., so duplicate pairs
    * stay co-celled while unrelated mass separates), and only cells still
    * over the cap after the deepest split keep their members unverified —
    * counted as shed, throwing past [[maxShedFraction]]. The domination
    * rule is transitive-chain aggressive (B dropped by A can still drop
    * C) — exactly the one-shot within-cluster pass SemDeDup makes. Decade
    * evidence: PairBench runs this at 100× next to the other pair
    * families. */
  def semanticDedup(spark: SparkSession, dir: String,
      minCosine: Double = 0.9): DataFrame =
    semanticDedupAt(spark, dir, semClusters(corpusSize(spark, dir)), minCosine)

  /** Deepest sub-split of an over-cap cluster: 2^6 = 64 cells, holding
    * populations to [[maxClusterPop]] up to 128k-member clusters; cells
    * still over the cap after that (e.g. >cap EXACT copies, which share
    * every sign bit by construction) shed into the guard. */
  val maxSubBits = 6

  /** Split width for a cluster of `pop` members — 0 for healthy
    * clusters (the common case: the rule stays "same cluster"). */
  def subBits(pop: Long, cap: Long = maxClusterPop): Int =
    (0 to maxSubBits).find(b => pop <= (cap << b))
      .getOrElse(maxSubBits)

  private def subBitsSql(pop: String, cap: Long = maxClusterPop): String =
    (0 until maxSubBits).map(b => s"WHEN $pop <= ${cap << b} THEN $b")
      .mkString("CASE ", " ", s" ELSE $maxSubBits END")

  /** The fixed splitting planes (table 0's first [[maxSubBits]]
    * hyperplanes — seeded literals both engines interpolate). */
  private[graft] def subPlanes: Seq[Seq[Double]] =
    hyperplanesAt(maxSubBits, 1)

  /** Ordered left-fold dot of a centroid against a plane — the SAME fold
    * [[dotSql]] replays, so the thresholds below are bit-identical across
    * engines. */
  private[graft] def centroidDot(c: Seq[Double], p: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length && i < p.length) { acc += c(i) * p(i); i += 1 }
    acc
  }

  /** The per-cluster split thresholds (spec replay hook): threshold b of
    * cluster c is `dot(centroid_c, plane_b)` in [[dotSql]]'s fold order. */
  private[graft] def semSplitThresholds(spark: SparkSession, dir: String,
      k: Int): Map[Int, Seq[Double]] =
    centroidsFor(spark, dir, k).map { case (cl, c) =>
      cl -> subPlanes.map(p => centroidDot(c, p))
    }.toMap

  /** (vec_id, embedding, norm, cluster, sub): the dedup CELLS — cluster
    * plus the per-cluster-width sign-bit prefix (`sub` = 0 everywhere the
    * cluster is under the cap, so the split is invisible to healthy
    * corpora). The splitting planes are ANCHORED AT THE CLUSTER CENTROID:
    * bit b is `dot(v, p_b) ≥ dot(μ, p_b)` ≡ sign(dot(v − μ, p_b)). A
    * RAW sign bit barely splits a similarity-gathered cluster (members
    * all correlate with the centroid direction, so they agree on most
    * global signs — measured 57/120 planted-copy detections); the
    * RESIDUAL sign is near-balanced around the mean, and an exact copy
    * still matches its original on every bit against any threshold.
    * Shared by [[semanticDedupAt]] and the PairBench census. */
  private def semCells(spark: SparkSession, dir: String, k: Int,
      cap: Long = maxClusterPop): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val spark0 = spark
    import spark0.implicits._
    val a = assignmentsFor(spark, dir, k)
    val planes = subPlanes
    val thrDf = centroidsFor(spark, dir, k).toSeq.map { case (cl, c) =>
      (cl, planes.map(p => centroidDot(c, p)))
    }.toDF("cluster", "thr")
    val bitsDf = a.groupBy("cluster").agg(count(lit(1)).as("cluster_n"))
      .withColumn("bits", expr(subBitsSql("cluster_n", cap)))
      .select("cluster", "bits")
      .join(thrDf, Seq("cluster"))
    val code = (0 until maxSubBits).map { b =>
      when(call_function("vec_dot", col("embedding"), typedLit(planes(b)))
        >= element_at(col("thr"), b + 1), lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
    a.join(broadcast(bitsDf), Seq("cluster"))
      .withColumn("code6", code)
      .withColumn("sub", expr(s"shiftright(code6, $maxSubBits - bits)"))
      .select("vec_id", "embedding", "norm", "cluster", "sub")
  }

  /** [[semanticDedup]] at an explicit cluster count — the deliberate knob
    * for corpora past the [[maxSemK]] staircase ceiling. */
  def semanticDedupAt(spark: SparkSession, dir: String, k: Int,
      minCosine: Double): DataFrame =
    semanticDedupWith(spark, dir, k, minCosine, maxClusterPop)

  /** [[semanticDedupAt]] with an explicit cell cap — spec hook: fixture
    * corpora cannot reach the production cap, so the split/shed paths
    * pin their contracts at a small one. */
  private[graft] def semanticDedupWith(spark: SparkSession, dir: String,
      k: Int, minCosine: Double, cap: Long): DataFrame = {
    val cells = semCells(spark, dir, k, cap)
    // cell census: ≤ k·2^maxSubBits rows; the shed guard runs eagerly so
    // a pathologically concentrated corpus throws instead of silently
    // keeping everything
    val pops = cells.groupBy("cluster", "sub").agg(count(lit(1)).as("cell_n"))
    assertCellsHealthy(pops, k, cap)
    val elig = pops.filter(col("cell_n") <= cap).select("cluster", "sub")
    val ids = cells.join(broadcast(elig), Seq("cluster", "sub"))
      .select("cluster", "sub", "vec_id")
    val nbrIds = ids.select(col("cluster"), col("sub"), col("vec_id").as("nbr_id"))
    val pairs = ids.join(nbrIds, Seq("cluster", "sub"))
      .filter(col("nbr_id") < col("vec_id"))
      .select("vec_id", "nbr_id")
    val e = cells.select("vec_id", "embedding", "norm")
    val scored = pairs
      .join(e, Seq("vec_id"))
      .join(e.select(col("vec_id").as("nbr_id"), col("embedding").as("n_embedding"),
        col("norm").as("n_norm")), Seq("nbr_id"))
    val dominated = scored
      .filter(vecDot(scored, "embedding", "n_embedding") /
        (col("norm") * col("n_norm")) >= lit(minCosine))
      .select("vec_id").distinct()
      .withColumn("dominated", lit(true))
    cells.select("vec_id", "cluster")
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(!col("dominated"), lit(true)).as("kept"))
      .orderBy("vec_id")
  }

  /** Shed guard for [[semanticDedupAt]] — the cell-shaped twin of
    * [[assertBucketsHealthy]]: only cells the deepest split could not
    * bring under the cap count as shed. */
  private def assertCellsHealthy(pops: DataFrame, k: Int, cap: Long): Unit = {
    val row = pops.agg(
      coalesce(sum(when(col("cell_n") > cap, col("cell_n"))), lit(0L))
        .as("shed"),
      coalesce(sum(col("cell_n")), lit(0L)).as("total")).head()
    val (shed, total) = (row.getLong(0), row.getLong(1))
    if (total > 0 && shed.toDouble > total.toDouble * maxShedFraction)
      throw new IllegalStateException(
        s"semantic dedup is load-shedding $shed of $total vectors at k=$k clusters " +
          s"even after ${1 << maxSubBits}-way sign-bit splitting (cap " +
          s"$cap/cell, ceiling ${(maxShedFraction * 100).toInt}%) — " +
          "over-cap cells keep all members UNVERIFIED, so the result would " +
          "silently read as 'no duplicates'. Raise k explicitly via " +
          "semanticDedupAt, or widen maxSemK/targetClusterPop/maxSubBits.")
  }

  /** Cell-population census at the corpus-adaptive k — PairBench's
    * cap-telemetry hook ("dropped" there = cells the deepest split could
    * not bring under the cap), reading the same memoized assignments the
    * timed query filled. */
  def semClusterSizes(spark: SparkSession, dir: String): DataFrame =
    semCells(spark, dir, semClusters(corpusSize(spark, dir)))
      .groupBy("cluster", "sub").agg(count(lit(1)).as("cluster_n"))

  /** DuckDB replay of [[semanticDedup]] — the adaptive-k CASE ladder, the
    * full Lloyd chain at that k, the per-cluster split-width ladder, the
    * sign-bit cells, the cell cap, and the within-cell domination pass,
    * bit-identical dot folds throughout. */
  def semanticDedupOracleSql(minCosine: Double = 0.9): String = {
    val litsOf = (b: Int) => subPlanes(b).map(java.lang.Double.toString)
      .mkString("[", ", ", "]")
    val thrList = (0 until maxSubBits)
      .map(b => dotSql("centroid", litsOf(b))).mkString("[", ",\n   ", "]")
    val codeTerms = (0 until maxSubBits).map { b =>
      s"(CASE WHEN ${dotSql("a.embedding", litsOf(b))} >= c.thr[${b + 1}] " +
        s"THEN ${1 << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val ctes = Seq(
      s"semk AS (SELECT ${semClustersSql("(SELECT COUNT(*) FROM embeddings)")} AS k)") ++
      assignedCtesAt("(SELECT k FROM semk)") ++ Seq(
      "cpops AS (SELECT cluster, COUNT(*) AS cluster_n FROM assigned GROUP BY 1)",
      s"""sbits AS (SELECT cluster, ${subBitsSql("cluster_n")} AS bits FROM cpops)""",
      s"cthr AS (SELECT cluster, $thrList AS thr FROM cent$ivfIters)",
      s"""cells AS (
         |  SELECT a.*, ($codeTerms >> ($maxSubBits - b.bits)) AS sub
         |  FROM assigned a JOIN sbits b USING (cluster)
         |  JOIN cthr c USING (cluster))""".stripMargin,
      "pops AS (SELECT cluster, sub, COUNT(*) AS cell_n FROM cells GROUP BY 1, 2)",
      s"""elig AS (
         |  SELECT c.* FROM cells c JOIN pops p USING (cluster, sub)
         |  WHERE p.cell_n <= $maxClusterPop)""".stripMargin,
      s"""dominated AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM elig x JOIN elig y
         |    ON x.cluster = y.cluster AND x.sub = y.sub AND y.vec_id < x.vec_id
         |  WHERE ${dotSql("x.embedding", "y.embedding")} /
         |    (x.norm * y.norm) >= $minCosine)""".stripMargin)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
       |FROM assigned a LEFT JOIN dominated d USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin
  }

  // ------------------------------------------------- int8 quantization

  /** Scalar (per-dimension affine) int8 quantization of the embedding
    * column — the standard 4× memory/shuffle-byte reduction for
    * billion-vector ANN (float32 → uint8 code per dimension, as in
    * FAISS's SQ8 / ScaNN's fixed-point leaves). Per-dim min/max define
    * the affine map; codes are `floor((x-mn)·255/(mx-mn)+0.5)` clamped to
    * [0,255]. min/max involve NO arithmetic (exact on floats), and the
    * quantize formula is evaluated in DOUBLE in the same textual
    * operation order by both engines, so codes are oracle-exact.
    *
    * 100 TB design: the parameter pass is one map-side-combined
    * (dimension → min/max) aggregation — 64 groups, constant-size result
    * broadcast back as two arrays (the repo's broadcast-scalar crossJoin
    * pattern, index-metadata-sized like the IVF centroids). The encode
    * pass is then narrow per-row `transform` work at scan speed; nothing
    * about the corpus shuffles. */
  private def quantParams(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(min(col("x")).cast("double").as("mn"), max(col("x")).cast("double").as("mx"))
      .groupBy()
      .agg(
        expr("transform(array_sort(collect_list(struct(i, mn))), s -> s.mn)").as("mins"),
        expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)").as("maxs"))

  /** Quantization code expression over `embedding`/`mins`/`maxs` columns:
    * 1-based positional map, constant-dim guard for mx == mn. */
  private val q8CodesExpr =
    """transform(sequence(1, size(embedding)), j ->
      |  cast(if(element_at(maxs, j) = element_at(mins, j), 0,
      |    least(255, greatest(0,
      |      floor((cast(element_at(embedding, j) as double) - element_at(mins, j))
      |        * 255.0 / (element_at(maxs, j) - element_at(mins, j)) + 0.5d)))) as int))""".stripMargin

  /** Per-vector quantization report: code checksum + content digest (the
    * oracle checks the full CODE CONTENT without dumping 64-int arrays
    * through the compare harness). */
  def quantizeCodes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    emb.crossJoin(broadcast(quantParams(emb)))
      .withColumn("q", expr(q8CodesExpr))
      .select(
        col("vec_id"),
        size(col("q")).as("n_dims"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("code_sum"),
        md5(concat_ws(",", col("q").cast("array<string>"))).as("code_md5"))
      .orderBy("vec_id")
  }

  /** Exact top-k over the DEQUANTIZED vectors — the fidelity probe for
    * [[quantizeCodes]]: same plan shape as [[bruteForceTopK]] (broadcast
    * queries, corpus scan, per-query window), but every dot product runs
    * over `mn[j] + q[j]·(mx[j]-mn[j])/255` reconstructions. At scale this
    * is the kernel that runs over the 4×-smaller stored codes;
    * SimilaritySpec asserts recall@k against the exact float path. */
  def quantizedTopK(spark: SparkSession, dir: String,
      k: Int = defaultK, nQueries: Int = defaultNQueries): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val deq = emb.crossJoin(broadcast(quantParams(emb)))
      .withColumn("q", expr(q8CodesExpr))
      .withColumn("xhat", expr(
        """transform(sequence(1, size(q)), j ->
          |  element_at(mins, j) + cast(element_at(q, j) as double)
          |    * (element_at(maxs, j) - element_at(mins, j)) / 255.0)""".stripMargin))
      .select(col("vec_id"), col("xhat"))
    val withN = deq.withColumn("norm",
      sqrt(aggregate(zip_with(col("xhat"), col("xhat"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)))
    val queries = withN.filter(col("vec_id") < nQueries)
      .toDF("query_id", "q_xhat", "q_norm")
    val scored = withN.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        (aggregate(zip_with(col("q_xhat"), col("xhat"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v) /
          (col("q_norm") * col("norm"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank")
  }

  /** Shared oracle CTEs: per-dim params + int8 codes, mirroring
    * [[quantParams]]/[[q8CodesExpr]] textually so every double op runs in
    * the same order. */
  private def q8OracleCtes: String =
    """WITH dims AS (
      |  SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
      |  FROM embeddings),
      | params AS (
      |  SELECT i, CAST(MIN(x) AS DOUBLE) AS mn, CAST(MAX(x) AS DOUBLE) AS mx
      |  FROM dims GROUP BY i),
      | parr AS (
      |  SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM params),
      | codes AS (
      |  SELECT vec_id, embedding,
      |    list_transform(range(1, len(embedding) + 1), j ->
      |      CAST(CASE WHEN maxs[j] = mins[j] THEN 0 ELSE
      |        least(255, greatest(0,
      |          floor((CAST(embedding[j] AS DOUBLE) - mins[j])
      |            * 255.0 / (maxs[j] - mins[j]) + 0.5))) END AS INTEGER)) AS q,
      |    mins, maxs
      |  FROM embeddings CROSS JOIN parr)""".stripMargin

  def quantizeCodesOracleSql: String =
    s"""$q8OracleCtes
       | SELECT vec_id,
       |   CAST(len(q) AS INTEGER) AS n_dims,
       |   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q), (acc, v) -> acc + v) AS BIGINT) AS code_sum,
       |   md5(array_to_string(list_transform(q, v -> CAST(v AS VARCHAR)), ',')) AS code_md5
       | FROM codes ORDER BY vec_id""".stripMargin

  def quantizedTopKOracleSql(k: Int = defaultK, nQueries: Int = defaultNQueries): String = {
    def dotSql(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |   list_transform(list_zip($a, $b), p -> p[1] * p[2])),
         |   (acc, v) -> acc + v)""".stripMargin
    s"""$q8OracleCtes,
       | deq AS (
       |  SELECT vec_id,
       |    list_transform(range(1, len(q) + 1), j ->
       |      mins[j] + CAST(q[j] AS DOUBLE) * (maxs[j] - mins[j]) / 255.0) AS xhat
       |  FROM codes),
       | normed AS (
       |  SELECT vec_id, xhat, sqrt(${dotSql("xhat", "xhat")}) AS norm FROM deq),
       | scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
       |    ${dotSql("q.xhat", "v.xhat")} / (q.norm * v.norm) AS sim
       |  FROM normed q, normed v
       |  WHERE q.vec_id < $nQueries AND v.vec_id <> q.vec_id),
       | ranked AS (
       |  SELECT query_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       | SELECT query_id, vec_id, sim, rank FROM ranked
       | WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------------- product quantization

  /** PQ geometry: the 64-dim embedding splits into [[pqM]] contiguous
    * subspaces of [[pqSubDim]] dims; each sub-vector is replaced by the
    * id of its nearest per-subspace centroid, so a vector stores as
    * [[pqM]] small codes — here 8 × 4-bit (16 centroids/subspace, the
    * FAISS `IVFPQFastScan` shape) ≈ 64× under float32. The centroid
    * count is a PARAMETER: the classic 8-bit book (256/subspace) is the
    * same plan with `pqK = 256` and wants ≥ tens of thousands of
    * sub-vectors to train — at the fixture's 500-vector corpus a 256-way
    * book would memorize the data and the oracle replay would be pure
    * overhead, so the registered shape is the 4-bit variant. Codebooks
    * train per subspace with the SAME deterministic Lloyd machinery as
    * the IVF coarse index (seeds = first-k sub-vectors, fixed
    * iterations, two-level ordered fold), so the whole build replays
    * bit-identically in DuckDB. */
  val pqM = 16
  val pqSubDim: Int = dim / pqM
  val pqK = 16
  val pqIters = 3

  /** Cached PQ codebooks (index metadata — deterministic rebuild after
    * an evict, same contract as [[centroidCache]]). */
  private val pqBookCache = graft.AppCache
    .namespace[String, Array[Array[(Int, Seq[Double])]]]("similarity.pq_books")

  /** Sub-vector j of the embedding column (1-based slice). */
  private def subVec(j: Int, emb: Column = col("embedding")): Column =
    slice(emb, j * pqSubDim + 1, pqSubDim)

  /** Per-query ADC lookup table lut[j][c] = [[dot]](q_sub_j, book_j(c))
    * as nested transforms over ONE pqM×pqK×pqSubDim literal. The lambda
    * body is exactly [[dot]]'s fold (same cast-multiply zip, same 0.0
    * seed, same left-to-right order) over the same values, so the table
    * is bit-identical to the expanded per-(j,c) form — at ~75× fewer
    * expression nodes, which is what every Catalyst/AQE optimization
    * pass and codegen round has to re-walk per run. Codebook position
    * IS the code id (books are cid-ordered), the property the expanded
    * form already relied on. */
  private def lutOver(books: Array[Array[(Int, Seq[Double])]],
      q: Column): Column =
    transform(typedLit(books.map(_.map(_._2.toSeq).toSeq).toSeq),
      (bookJ, j) => transform(bookJ, c =>
        aggregate(
          zip_with(slice(q, j * lit(pqSubDim) + 1, lit(pqSubDim)), c,
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v)))

  /** Per-subspace codebooks — pqM × pqK × pqSubDim doubles of index
    * metadata (driver-held like the IVF centroids: 8×16×8 = 1 KB of
    * doubles). Each subspace runs its own deterministic Lloyd fold over
    * the CACHED corpus, so the build costs pqM × pqIters narrow passes
    * and nothing shuffles vectors anywhere. */
  private def pqCodebooks(spark: SparkSession, dir: String): Array[Array[(Int, Seq[Double])]] =
    pqBookCache(spark, dir) {
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try trainSubspaceBooks(emb, "embedding")
      finally emb.unpersist(blocking = false)
    }

  /** (vec_id, codes, rnorm): every vector's pqM codebook ids plus the
    * norm of its RECONSTRUCTION (√Σ_j |c_{j,code_j}|² — subspaces are
    * orthogonal coordinate blocks, so reconstruction norms decompose
    * per-subspace and come from the codes alone, never the floats).
    * Encoding is a narrow per-row argmax against broadcast centroid
    * literals — scan-speed work, no shuffle, exactly the SQ8 shape. */
  def pqEncoded(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Memo(spark, dir, "pq_encoded") {
      val books = pqCodebooks(spark, dir)
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val codeCols = (0 until pqM).map { j =>
        val scored = books(j).map { case (cid, c) =>
          val cArr = typedLit(c)
          val cNorm2 = c.map(x => x * x).sum
          struct((dot(subVec(j), cArr) - lit(cNorm2 / 2)).as("score"),
            lit(cid).as("cid"))
        }
        greatest(scored: _*).getField("cid")
      }
      val coded = emb.withColumn("codes", array(codeCols: _*))
      // Σ_j in fixed j order (left-to-right + chain, oracle-identical)
      val normTerms = (0 until pqM).map { j =>
        val normsq = typedLit(books(j).map { case (_, c) => c.map(x => x * x).sum }.toSeq)
        element_at(normsq, element_at(col("codes"), j + 1) + 1)
      }
      coded.withColumn("rnorm", sqrt(normTerms.reduce(_ + _)))
        .select("vec_id", "codes", "rnorm")
    }

  /** Registered PQ encode report — code content + reconstruction norm
    * pinned per vector (the [[quantizeCodes]] convention: md5 of the
    * code array instead of dumping pqM-int columns). */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    pqEncoded(spark, dir).select(
      col("vec_id"),
      size(col("codes")).as("n_sub"),
      aggregate(col("codes"), lit(0L), (acc, v) => acc + v).as("code_sum"),
      md5(concat_ws(",", col("codes").cast("array<string>"))).as("code_md5"),
      col("rnorm"))
      .orderBy("vec_id")

  /** IVF-PQ ANN top-k — the billion-vector shape: the IVF coarse index
    * prunes the scan to `nprobe` posting lists, and candidate scoring
    * runs over PQ codes via ADC (asymmetric distance computation):
    * each query precomputes a pqM×pqK lookup table of
    * `dot(q_sub_j, centroid_{j,c})`, and a candidate's approximate dot
    * is pqM table lookups — no candidate float vector is ever read.
    * Codes here quantize the RAW vector (FAISS `by_residual=false`);
    * residual encoding would couple the PQ books to the coarse
    * assignment and is the documented next refinement, not a different
    * plan shape. At scale the scan touches 4-byte codes instead of
    * 256-byte floats on every candidate — with SQ8's 4× this is the 64×
    * storage stage of the same funnel, and the exact float rerank
    * ([[ivfTopK]]) is the refinement stage over the survivors.
    * Approximate cosine = ADC dot / (true query norm × true candidate
    * norm) — the candidate norm is read from the assignments index (8
    * bytes of index metadata per vector, the FAISS convention for
    * cosine/IP metrics), NOT from the reconstruction: quantization
    * shrinks reconstruction norms systematically (measured +0.017 sim
    * bias raw, +0.058 residual on the fixture), and dividing by a
    * biased norm corrupts the ranking the LUT worked to preserve.
    * Recall vs exact is asserted in SimilaritySpec; the whole
    * lineage (both Lloyd chains, codes, LUTs, ranks) hash-checks
    * against [[ivfpqOracleSql]]. */
  def ivfpqTopK(spark: SparkSession, dir: String,
      k: Int = defaultK, nQueries: Int = defaultNQueries): DataFrame = {
    val scored = pqAdcScored(spark, dir, nQueries)
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank")
  }

  /** ADC-scored IVF-PQ candidates: (query_id, q_embedding, q_norm,
    * vec_id, sim) — the shared stage of [[ivfpqTopK]] (rank the ADC
    * scores directly) and [[ivfpqRerankTopK]] (shortlist then exact
    * rerank). */
  private def pqAdcScored(spark: SparkSession, dir: String,
      nQueries: Int): DataFrame = {
    val assigned = ivfAssignments(spark, dir)
    val enc = pqEncoded(spark, dir)
    val books = pqCodebooks(spark, dir)
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        col("norm").as("q_norm"))
    // per-query ADC LUT: lut[j][c] = dot(q_sub_j, centroid_{j,c}) —
    // pqM×pqK doubles per query row, computed once and carried through
    // the broadcast to every candidate. Nested transform HOFs over ONE
    // 3-D literal (not pqM×pqK expanded dot trees): the expanded form
    // was ~3000 expression nodes that every AQE re-optimization round
    // re-walked (~1 s of driver time per run, measured r19). The lambda
    // body is the exact [[dot]] fold — same zip_with cast-multiply,
    // same 0.0 seed, same left-to-right order — so every value is
    // bit-identical.
    val lutCol = lutOver(books, col("q_embedding"))
    val cVecs = ivfCentroids(spark, dir)
    val probed = queries
      .withColumn("lut", lutCol)
      .withColumn("ranked", sort_array(
        transform(typedLit(cVecs.map(_._2).toSeq), (c, i) => struct(
          (dot(col("q_embedding"), c) -
            element_at(typedLit(cVecs.map { case (_, v) =>
              v.map(x => x * x).sum / 2 }.toSeq), i + 1)).as("score"),
          element_at(typedLit(cVecs.map(_._1).toSeq), i + 1).as("cid"))),
        asc = false))
      .select(col("query_id"), col("q_embedding"), col("q_norm"), col("lut"),
        explode(expr(s"slice(ranked, 1, $ivfNProbe)")).as("probe"))
      .select(col("query_id"), col("q_embedding"), col("q_norm"), col("lut"),
        col("probe.cid").as("cluster"))
    val cands = assigned.select("vec_id", "cluster", "norm")
      .join(broadcast(probed), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(enc, Seq("vec_id"))
    // ADC in fixed j order: the same left-to-right + chain as rnorm
    val adc = (0 until pqM).map { j =>
      element_at(element_at(col("lut"), j + 1), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    cands.select(col("query_id"), col("q_embedding"), col("q_norm"),
      col("vec_id"), (adc / (col("q_norm") * col("norm"))).as("sim"))
  }

  /** Shortlist over-fetch factor for [[ivfpqRerankTopK]]: the ADC stage
    * keeps `pqShortlistFactor × k` candidates per query for the exact
    * rerank. 8× recovers recall 0.94 on the fixture (measured; ADC-only
    * is ~0.4 — see [[ivfpqTopK]]'s scaladoc on why this corpus is
    * margin-poor). */
  val pqShortlistFactor = 8

  /** The full two-stage IVF-PQ funnel: ADC over codes prunes each
    * query's posting-list candidates to a `pqShortlistFactor × k`
    * shortlist (reading ONLY 16-byte codes per candidate), then the
    * exact float kernel reranks the shortlist (reading `shortlist`
    * float vectors per query, not the posting lists). This is the
    * refine stage every production PQ deployment runs — compressed
    * scan for 99% of candidates, exact math for the few survivors —
    * and it recovers the recall the margin-poor fixture denies raw ADC
    * (0.94 vs 0.4 measured at sf0.01; SimilaritySpec asserts ≥ 0.8).
    * Exact-rerank sims are the same expression as [[ivfTopK]]'s, so
    * the whole funnel stays hash-checkable end to end. */
  def ivfpqRerankTopK(spark: SparkSession, dir: String,
      k: Int = defaultK, nQueries: Int = defaultNQueries): DataFrame = {
    val shortlist = pqShortlistFactor * k
    val scored = pqAdcScored(spark, dir, nQueries)
    val wA = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    val short = scored.withColumn("adc_rank", row_number().over(wA))
      .filter(col("adc_rank") <= shortlist)
      .select("query_id", "q_embedding", "q_norm", "vec_id")
    val corpus = ivfAssignments(spark, dir).select("vec_id", "embedding", "norm")
    val rer = short.join(corpus, Seq("vec_id"))
    val exact = rer.select(col("query_id"), col("vec_id"),
      (vecDot(rer, "q_embedding", "embedding") /
        (col("q_norm") * col("norm"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank")
  }

  // --------------------------------------------- residual quantization

  /** Residual encoding (FAISS `by_residual=true`) — the refinement the
    * raw-vector PQ scaladoc promises: PQ books quantize
    * `vector − coarse_centroid(assigned cluster)` instead of the raw
    * vector. Residuals concentrate near the origin with most of the
    * coarse structure removed, so the same code budget spends its
    * precision on the part of the vector IVF has not already explained;
    * the ADC then reads `dot(q, v) ≈ dot(q, c) + Σ_j lut_j[code_j]`
    * where the first term is exact (the probe already computes it) and
    * only the residual is approximated. All arithmetic is double
    * (residual = float − double centroid), so the DuckDB replay is
    * bit-identical with no float-rounding surface. */
  private def residualFrame(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Memo(spark, dir, "pq_residuals") {
      val cents = ivfCentroids(spark, dir).sortBy(_._1)
      val centArr = typedLit(cents.map { case (_, c) => c }.toSeq)
      ivfAssignments(spark, dir)
        .withColumn("residual",
          zip_with(col("embedding"), element_at(centArr, col("cluster") + 1),
            (x, c) => x.cast("double") - c))
        .select("vec_id", "cluster", "residual")
    }

  private val pqResidualBookCache = graft.AppCache
    .namespace[String, Array[Array[(Int, Seq[Double])]]]("similarity.pq_residual_books")

  /** Per-subspace codebooks over RESIDUAL sub-vectors — same
    * deterministic Lloyd fold and cache contract as [[pqCodebooks]]. */
  private def pqResidualCodebooks(spark: SparkSession,
      dir: String): Array[Array[(Int, Seq[Double])]] =
    pqResidualBookCache(spark, dir) {
      // residualFrame is already Memo-persisted; no second persist needed
      trainSubspaceBooks(residualFrame(spark, dir), "residual")
    }

  /** (vec_id, cluster, codes, rnorm) under residual encoding. The
    * reconstruction is `centroid_c + concat_j(book_j[code_j])`, so its
    * norm decomposes as |c|² + Σ_j (2·⟨c_sub_j, r_j⟩ + |r_j|²) — the
    * cross terms come from a per-subspace (cluster × code) literal
    * table (ivfK × pqK doubles per subspace: index metadata, not
    * data), and everything is still computed from codes alone. */
  def pqResidualEncoded(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Memo(spark, dir, "pq_residual_encoded") {
      val books = pqResidualCodebooks(spark, dir)
      val coarse = ivfCentroids(spark, dir).sortBy(_._1)
      val res = residualFrame(spark, dir)
      val codeCols = (0 until pqM).map { j =>
        val scored = books(j).map { case (cid, c) =>
          val cArr = typedLit(c)
          val cNorm2 = c.map(x => x * x).sum
          struct((dot(subVec(j, col("residual")), cArr) - lit(cNorm2 / 2)).as("score"),
            lit(cid).as("cid"))
        }
        greatest(scored: _*).getField("cid")
      }
      val coded = res.withColumn("codes", array(codeCols: _*))
      val coarseNormSq = typedLit(coarse.map { case (_, c) =>
        c.map(x => x * x).sum }.toSeq)
      // Σ_j in fixed j order (left-to-right + chain, oracle-identical)
      val terms = (0 until pqM).map { j =>
        val cross = typedLit(coarse.map { case (_, c) =>
          val cSub = c.slice(j * pqSubDim, (j + 1) * pqSubDim)
          books(j).map { case (_, r) =>
            cSub.zip(r).map { case (a, b) => a * b }.sum }.toSeq
        }.toSeq)
        val rsq = typedLit(books(j).map { case (_, r) =>
          r.map(x => x * x).sum }.toSeq)
        val code = element_at(col("codes"), j + 1)
        lit(2.0) * element_at(element_at(cross, col("cluster") + 1), code + 1) +
          element_at(rsq, code + 1)
      }
      coded.withColumn("rnorm",
        sqrt(terms.foldLeft(element_at(coarseNormSq, col("cluster") + 1))(_ + _)))
        .select("vec_id", "cluster", "codes", "rnorm")
    }

  /** Registered residual-PQ encode report — [[pqCodes]]'s shape. */
  def pqResidualCodes(spark: SparkSession, dir: String): DataFrame =
    pqResidualEncoded(spark, dir).select(
      col("vec_id"),
      size(col("codes")).as("n_sub"),
      aggregate(col("codes"), lit(0L), (acc, v) => acc + v).as("code_sum"),
      md5(concat_ws(",", col("codes").cast("array<string>"))).as("code_md5"),
      col("rnorm"))
      .orderBy("vec_id")

  /** Residual-ADC IVF-PQ top-k: the probe's exact `dot(q, centroid_c)`
    * anchors the score and the LUT approximates only the residual —
    * same plan shape as [[ivfpqTopK]] (codes-only candidate reads plus
    * the stored true norm, see that scaladoc for the denominator
    * convention), better precision per code bit. */
  def ivfpqResidualTopK(spark: SparkSession, dir: String,
      k: Int = defaultK, nQueries: Int = defaultNQueries): DataFrame = {
    val assigned = ivfAssignments(spark, dir)
    val enc = pqResidualEncoded(spark, dir)
    val books = pqResidualCodebooks(spark, dir)
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        col("norm").as("q_norm"))
    // nested-transform LUT + probe over literals (see pqAdcScored's note)
    val lutCol = lutOver(books, col("q_embedding"))
    val cVecs = ivfCentroids(spark, dir)
    val probed = queries
      .withColumn("lut", lutCol)
      .withColumn("ranked", sort_array(
        transform(typedLit(cVecs.map(_._2).toSeq), (c, i) => struct(
          (dot(col("q_embedding"), c) -
            element_at(typedLit(cVecs.map { case (_, v) =>
              v.map(x => x * x).sum / 2 }.toSeq), i + 1)).as("score"),
          element_at(typedLit(cVecs.map(_._1).toSeq), i + 1).as("cid"),
          dot(col("q_embedding"), c).as("qc"))),
        asc = false))
      .select(col("query_id"), col("q_norm"), col("lut"),
        explode(expr(s"slice(ranked, 1, $ivfNProbe)")).as("probe"))
      .select(col("query_id"), col("q_norm"), col("lut"),
        col("probe.cid").as("cluster"), col("probe.qc").as("qc"))
    val cands = assigned.select("vec_id", "cluster", "norm")
      .join(broadcast(probed), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(enc.select("vec_id", "codes"), Seq("vec_id"))
    val adc = (0 until pqM).map { j =>
      element_at(element_at(col("lut"), j + 1), element_at(col("codes"), j + 1) + 1)
    }.foldLeft(col("qc"))(_ + _)
    val scored = cands.select(col("query_id"), col("vec_id"),
      (adc / (col("q_norm") * col("norm"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank")
  }

  /** Per-subspace CTEs shared by the PQ oracles: pqM Lloyd chains over
    * sliced sub-vectors, final assignments, the per-vector code list
    * (ordered by subspace), and reconstruction norms via the same
    * ordered fold as the Spark side. */
  private def pqChainCtes: Seq[String] = {
    val subCtes = (0 until pqM).map { j =>
      val lo = j * pqSubDim + 1
      val hi = (j + 1) * pqSubDim
      s"""sub$j AS (
         |  SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings)""".stripMargin
    }
    val chains = (0 until pqM).flatMap(j =>
      lloydChainCtes(s"sub$j", s"q${j}_", pqK.toString, pqIters, pqSubDim))
    val finals = (0 until pqM).map(j =>
      s"q${j}_asgF AS ${assignSql(s"sub$j", s"q${j}_cent$pqIters")}")
    val codesu = (0 until pqM)
      .map(j => s"SELECT vec_id, $j AS j, cluster FROM q${j}_asgF")
      .mkString("\n  UNION ALL ")
    // per-subspace |c|² folds in the oracle's standard ordered form;
    // the j-sum replays Spark's left-to-right + chain via ORDER BY j
    Seq(subCtes.mkString(",\n"), chains.mkString(",\n"), finals.mkString(",\n"),
      s"""codesu AS (
         |  $codesu)""".stripMargin,
      """pqcodes AS (
        |  SELECT vec_id, list(cluster ORDER BY j) AS codes FROM codesu GROUP BY vec_id)""".stripMargin,
      (0 until pqM).map(j =>
        s"""q${j}_nsq AS (
           |  SELECT a.vec_id, ${dotSql("c.centroid", "c.centroid")} AS nsq
           |  FROM q${j}_asgF a JOIN q${j}_cent$pqIters c USING (cluster))""".stripMargin)
        .mkString(",\n"),
      s"""rnorms AS (
         |  SELECT vec_id, sqrt(${(0 until pqM).map(j => s"n$j.nsq")
        .mkString(" + ")}) AS rnorm
         |  FROM q0_nsq n0 ${(1 until pqM).map(j =>
        s"JOIN q${j}_nsq n$j USING (vec_id)").mkString(" ")})""".stripMargin)
  }

  /** Residual-PQ CTEs: residuals from the FINAL coarse assignment, pqM
    * Lloyd chains over residual sub-vectors, codes, and reconstruction
    * norms including the coarse-residual cross terms — every stage the
    * same ordered folds as the Spark side. Requires [[ivfCandCtes]]'s
    * names (`asgF`, `cent$ivfIters`, `assigned`, `queries`, `probes`)
    * in scope. */
  private def residualChainCtes: Seq[String] = {
    // MATERIALIZED is load-bearing throughout: DuckDB inlines plain
    // CTEs, and the residual lineage references the COARSE chain's
    // outputs (`asgF`, `cent$ivfIters`) from ~20 places (res, one term
    // CTE per subspace, rnormsR, the probe CTEs) — inlined, each
    // reference re-expands the full 5-iteration 64-dim Lloyd chain and
    // the planner OOMs. Materialized aliases (`asgM`, `centM`) compute
    // the coarse chain once; the per-subspace finals get the same
    // treatment (3 references each × pqM). Execution hints only —
    // results are unchanged.
    val aliases = Seq(
      "asgM AS MATERIALIZED (SELECT * FROM asgF)",
      s"centM AS MATERIALIZED (SELECT * FROM cent$ivfIters)")
    val resCte =
      s"""res AS MATERIALIZED (
         |  SELECT a.vec_id,
         |    list_transform(list_zip(a.embedding, c.centroid),
         |      p -> CAST(p[1] AS DOUBLE) - p[2]) AS embedding
         |  FROM asgM a JOIN centM c USING (cluster))""".stripMargin
    val subCtes = (0 until pqM).map { j =>
      val lo = j * pqSubDim + 1
      val hi = (j + 1) * pqSubDim
      s"""rsub$j AS MATERIALIZED (
         |  SELECT vec_id, embedding[$lo:$hi] AS embedding FROM res)""".stripMargin
    }
    val chains = (0 until pqM).flatMap(j =>
      lloydChainCtes(s"rsub$j", s"r${j}_", pqK.toString, pqIters, pqSubDim))
    val centFinals = (0 until pqM).map(j =>
      s"r${j}_centM AS MATERIALIZED (SELECT * FROM r${j}_cent$pqIters)")
    val finals = (0 until pqM).map(j =>
      s"r${j}_asgF AS MATERIALIZED ${assignSql(s"rsub$j", s"r${j}_centM")}")
    val codesu = (0 until pqM)
      .map(j => s"SELECT vec_id, $j AS j, cluster FROM r${j}_asgF")
      .mkString("\n  UNION ALL ")
    // per-subspace rnorm term: 2·⟨coarse_sub_j, r_code⟩ + |r_code|²
    val terms = (0 until pqM).map { j =>
      val lo = j * pqSubDim + 1
      val hi = (j + 1) * pqSubDim
      s"""r${j}_t AS (
         |  SELECT a.vec_id,
         |    2 * ${dotSql(s"cc.centroid[$lo:$hi]", "rc.centroid")} +
         |    ${dotSql("rc.centroid", "rc.centroid")} AS t
         |  FROM asgM a
         |  JOIN centM cc USING (cluster)
         |  JOIN r${j}_asgF aj ON aj.vec_id = a.vec_id
         |  JOIN r${j}_centM rc ON rc.cluster = aj.cluster)""".stripMargin
    }
    val termJoins = (0 until pqM).map(j => s"JOIN r${j}_t t$j ON t$j.vec_id = a.vec_id")
      .mkString("\n  ")
    val termSum = (0 until pqM).map(j => s"t$j.t").mkString(" + ")
    Seq(aliases.mkString(",\n"), resCte, subCtes.mkString(",\n"),
      chains.mkString(",\n"), centFinals.mkString(",\n"),
      finals.mkString(",\n"),
      s"""rcodesu AS (
         |  $codesu)""".stripMargin,
      """rpqcodes AS (
        |  SELECT vec_id, list(cluster ORDER BY j) AS codes FROM rcodesu GROUP BY vec_id)""".stripMargin,
      terms.mkString(",\n"),
      s"""rnormsR AS (
         |  SELECT a.vec_id,
         |    sqrt(${dotSql("cc.centroid", "cc.centroid")} + $termSum) AS rnorm
         |  FROM asgM a
         |  JOIN centM cc USING (cluster)
         |  $termJoins)""".stripMargin)
  }

  def pqResidualCodesOracleSql: String = {
    val ctes = ivfCandCtes(defaultNQueries) ++ residualChainCtes
    s"""WITH ${ctes.mkString(",\n")}
       | SELECT c.vec_id,
       |   CAST(len(c.codes) AS INTEGER) AS n_sub,
       |   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c.codes), (acc, v) -> acc + v) AS BIGINT) AS code_sum,
       |   md5(array_to_string(list_transform(c.codes, v -> CAST(v AS VARCHAR)), ',')) AS code_md5,
       |   r.rnorm
       | FROM rpqcodes c JOIN rnormsR r USING (vec_id)
       | ORDER BY c.vec_id""".stripMargin
  }

  def ivfpqResidualOracleSql(k: Int = defaultK,
      nQueries: Int = defaultNQueries): String = {
    // queries is an `assigned` derivative referenced by every LUT CTE —
    // materialize it for the same inlining reason as residualChainCtes
    val luts = Seq("queriesM AS MATERIALIZED (SELECT * FROM queries)") ++
      (0 until pqM).map { j =>
        val lo = j * pqSubDim + 1
        val hi = (j + 1) * pqSubDim
        s"""rlut$j AS (
           |  SELECT q.query_id, list(${dotSql(s"q.q_embedding[$lo:$hi]", "c.centroid")}
           |      ORDER BY c.cluster) AS lut
           |  FROM queriesM q CROSS JOIN r${j}_centM c GROUP BY q.query_id)""".stripMargin
      }
    val adc = (0 until pqM).map(j => s"l$j.lut[k.codes[${j + 1}] + 1]").mkString(" + ")
    val lutJoins = (0 until pqM).map(j => s"JOIN rlut$j l$j ON l$j.query_id = c.query_id")
      .mkString("\n  ")
    val ctes = ivfCandCtes(nQueries) ++ residualChainCtes ++ luts ++ Seq(
      s"""probesq AS (
         |  SELECT p.query_id, p.q_norm, p.cluster,
         |    ${dotSql("p.q_embedding", "c.centroid")} AS qc
         |  FROM probes p JOIN centM c USING (cluster))""".stripMargin,
      """candsR AS (
        |  SELECT p.query_id, p.q_norm, p.qc, a.vec_id, a.norm
        |  FROM assigned a JOIN probesq p ON a.cluster = p.cluster
        |  WHERE a.vec_id <> p.query_id)""".stripMargin,
      s"""adcsR AS (
         |  SELECT c.query_id, c.vec_id,
         |    (c.qc + $adc) / (c.q_norm * c.norm) AS sim
         |  FROM candsR c
         |  JOIN rpqcodes k ON k.vec_id = c.vec_id
         |  $lutJoins)""".stripMargin,
      """ranked AS (
        |  SELECT query_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
        |  FROM adcsR)""".stripMargin)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT query_id, vec_id, sim, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  def pqCodesOracleSql: String =
    s"""WITH ${pqChainCtes.mkString(",\n")}
       | SELECT c.vec_id,
       |   CAST(len(c.codes) AS INTEGER) AS n_sub,
       |   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c.codes), (acc, v) -> acc + v) AS BIGINT) AS code_sum,
       |   md5(array_to_string(list_transform(c.codes, v -> CAST(v AS VARCHAR)), ',')) AS code_md5,
       |   r.rnorm
       | FROM pqcodes c JOIN rnorms r USING (vec_id)
       | ORDER BY c.vec_id""".stripMargin

  /** IVF candidates + PQ chains + per-query LUTs + the ADC-scored CTE
    * (`adcs`), shared by both PQ oracles. */
  private def pqAdcCtes(nQueries: Int): Seq[String] = {
    val luts = (0 until pqM).map { j =>
      val lo = j * pqSubDim + 1
      val hi = (j + 1) * pqSubDim
      s"""lut$j AS (
         |  SELECT q.query_id, list(${dotSql(s"q.q_embedding[$lo:$hi]", "c.centroid")}
         |      ORDER BY c.cluster) AS lut
         |  FROM queries q CROSS JOIN q${j}_cent$pqIters c GROUP BY q.query_id)""".stripMargin
    }
    val adc = (0 until pqM).map(j => s"l$j.lut[k.codes[${j + 1}] + 1]").mkString(" + ")
    val lutJoins = (0 until pqM).map(j => s"JOIN lut$j l$j ON l$j.query_id = c.query_id")
      .mkString("\n  ")
    ivfCandCtes(nQueries) ++ pqChainCtes ++ luts ++ Seq(
      s"""adcs AS (
         |  SELECT c.query_id, c.vec_id, ($adc) / (c.q_norm * c.norm) AS sim
         |  FROM cands c
         |  JOIN pqcodes k ON k.vec_id = c.vec_id
         |  $lutJoins)""".stripMargin)
  }

  def ivfpqOracleSql(k: Int = defaultK, nQueries: Int = defaultNQueries): String = {
    val ctes = pqAdcCtes(nQueries) ++ Seq(
      """ranked AS (
        |  SELECT query_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
        |  FROM adcs)""".stripMargin)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT query_id, vec_id, sim, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  def ivfpqRerankOracleSql(k: Int = defaultK,
      nQueries: Int = defaultNQueries): String = {
    val shortlist = pqShortlistFactor * k
    val ctes = pqAdcCtes(nQueries) ++ Seq(
      s"""shortl AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |    FROM adcs) WHERE rn <= $shortlist)""".stripMargin,
      s"""rer AS (
         |  SELECT s.query_id, s.vec_id,
         |    ${dotSql("q.q_embedding", "n.embedding")} / (q.q_norm * n.norm) AS sim
         |  FROM shortl s
         |  JOIN queries q USING (query_id)
         |  JOIN normed n ON n.vec_id = s.vec_id)""".stripMargin,
      """ranked AS (
        |  SELECT query_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
        |  FROM rer)""".stripMargin)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT query_id, vec_id, sim, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
