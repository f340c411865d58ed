package graft

import graft.etl.Warehouse
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts — the scale properties the build brief grades
  * (pushdown reaches the scan, projection prunes columns, dim joins
  * broadcast, top-k avoids a global sort) asserted as regression tests so
  * a refactor that silently de-optimizes a plan fails CI, not the bench. */
class PlanContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter predicates push down into the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") === 42L).select("l_partkey")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(l_orderkey,42)"),
      s"predicate not pushed:\n$plan")
  }

  test("projection prunes unread columns from the scan") {
    val df = Tables.lineitem(spark, sf).select("l_partkey")
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<l_partkey:bigint>"),
      s"scan reads more than the projection:\n$plan")
  }

  test("fact build joins all three dims via broadcast hash join") {
    // the warehouse hands out leaves over its built stages, so inspect
    // the fact build itself over them
    val wh = Warehouse(spark, sf)
    val effective =
      planOf(etl.Transform.factSales(wh.cleaned, wh.dimProduct, wh.dimCustomer, wh.dimDate))
    assert(effective.contains("BroadcastHashJoin"), s"dim joins not broadcast:\n$effective")
    assert(!effective.contains("SortMergeJoin"), "no shuffle join expected in the fact build")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf(etl.Quality.topProducts(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$plan")
  }

  /** AQE wraps subplans in AdaptiveSparkPlan/QueryStage LEAF nodes, so
    * neither traversal nor toString reaches the real operators — execute
    * first, then recursively unwrap every adaptive boundary. */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    val sb = new StringBuilder
    def go(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      sb.append(p.toString).append('\n')
      p.foreach {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => go(q.plan)
        case _ => ()
      }
    }
    go(df.queryExecution.executedPlan)
    sb.toString
  }

  test("fkOrphans probes dims via broadcast LEFT ANTI joins — no fact shuffle") {
    val plan = finalPlanOf(etl.Analytics.fkOrphans(spark, sf))
    assert(plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin"),
      s"anti-join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "no shuffle join expected in the FK audit")
  }

  test("salesRollup plans grouping sets as one Expand pass, no re-scan per level") {
    val plan = finalPlanOf(etl.Analytics.salesRollup(spark, sf))
    assert(plan.contains("Expand"), s"rollup did not use Expand grouping sets:\n$plan")
  }

  test("per-group top-k windows inside country partitions (no global sort before rank)") {
    val plan = finalPlanOf(etl.Analytics.topProductPerCountry(spark, sf))
    // windowspecdefinition(country, ...) = partitioned spec; a global rank
    // would open with the sort columns instead of the partition column
    assert(plan.contains("windowspecdefinition(country"),
      s"rank window must be partitioned by country, not global:\n$plan")
  }

  test("salted country-sales joins on (customer_key, _salt) — the skew-spread shape") {
    val plan = etl.Quality.countrySalesSalted(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("_salt"), s"salted join shape missing from plan:\n$plan")
  }

  test("interleaveSources mixes shard-locally — no single-partition exchange on the corpus") {
    val df = operators.Corpus.interleaveSources(spark, sf)
    val plan = finalPlanOf(df)
    // every window must partition on the shard; a global mixing order
    // would plan an Exchange SinglePartition over the whole corpus. The
    // only allowed non-hash exchange is the final presentation ORDER BY
    // (rangepartitioning), which a trainer consuming shards would drop.
    assert(!plan.contains("SinglePartition"),
      s"corpus-wide single-partition exchange in the mixing plan:\n$plan")
    assert(plan.contains("windowspecdefinition(shard"),
      s"mixing windows must partition by shard:\n$plan")
  }

  test("corpus append is incremental: existing corpus enters as digests only, no text rescan") {
    val df = operators.Corpus.appendBatch(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scans in the append plan")
    // exactly ONE scan may read a text column — the incoming batch; the
    // existing corpus must arrive via the persisted digest index
    val textScans = scans.filter(_.schema.fieldNames.contains("text"))
    assert(textScans.size === 1,
      s"existing corpus text rescanned:\n${df.queryExecution.sparkPlan}")
    assert(scans.exists(_.schema.fieldNames.sameElements(Array("digest"))),
      s"no digests-only index scan in the append plan:\n${df.queryExecution.sparkPlan}")
  }

  test("near-dup append is incremental: existing corpus enters as signature digests only") {
    val df = operators.Corpus.appendNearDups(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scans in the append plan")
    // NO scan reads a text column: the batch's text is consumed once in
    // the materialized signature job, and the existing corpus arrives
    // via the persisted signature/rep index only
    val textScans = scans.filter(_.schema.fieldNames.contains("text"))
    assert(textScans.isEmpty,
      s"text rescanned in the assignment plan:\n${df.queryExecution.sparkPlan}")
    assert(scans.exists(s => s.schema.fieldNames.contains("sig")
        && !s.schema.fieldNames.contains("text")),
      s"no signature-index scan in the append plan:\n${df.queryExecution.sparkPlan}")
  }

  test("near_dups_topk ranks inside vec_id partitions — no global sort before the cap") {
    val plan = finalPlanOf(operators.Similarity.nearDupsTopK(spark, sf))
    assert(plan.contains("windowspecdefinition(vec_id"),
      s"rank window must be partitioned by vec_id, not global:\n$plan")
  }

  test("repetition_stats is a shuffle-free scan (presentation sort aside)") {
    val df = operators.TextAnalysis.repetitionStats(spark, sf)
    val plan = planOf(df)
    // the only exchange allowed is the final ORDER BY's rangepartitioning;
    // a hashpartitioning exchange would mean the per-row arithmetic
    // escaped into an aggregation/join
    assert(!plan.contains("hashpartitioning"),
      s"repetition stats must not shuffle:\n$plan")
  }

  test("range join plans as an equi-join on (key, bin) — never a nested-loop cross product") {
    val plan = finalPlanOf(ext.RangeJoin.clickInPurchaseWindow(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval predicate fell back to a cross product:\n$plan")
  }

  test("decontaminate broadcasts the eval side — training n-grams never shuffle for the probe") {
    val plan = finalPlanOf(operators.Corpus.decontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval digest probe must broadcast:\n$plan")
  }

  test("decontaminate_bloom probes in the scan stage — no shuffle below the bloom filter") {
    graft.functions.BloomExprs.register(spark)
    val corpus = operators.Dedup.corpusWithDups(spark, sf)
    val eval = operators.Corpus.ngramDigests(
      corpus.filter(col("doc_id") < operators.Corpus.evalN), operators.Corpus.contamN)
      .select(col("digest")).distinct()
    val bytes = operators.Corpus.evalBloomBytes(spark, eval)
    val hits = operators.Corpus.ngramDigests(
      corpus.filter(col("doc_id") >= operators.Corpus.evalN), operators.Corpus.contamN)
      .filter(call_function("bloom_might_contain", lit(bytes), xxhash64(col("digest"))))
    val plan = finalPlanOf(hits)
    assert(plan.contains("might_contain"),
      s"probe must survive into the physical plan:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the bloom probe is a scan-stage predicate — no shuffle, no join:\n$plan")
  }

  test("packDocuments windows inside shard partitions (no corpus-wide cumulative sum)") {
    val plan = finalPlanOf(operators.Corpus.packDocuments(spark, sf))
    assert(plan.contains("windowspecdefinition(shard"),
      s"pack window must partition by shard:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"corpus-wide single-partition exchange in the packing plan:\n$plan")
  }

  test("salesCube expands CELLS, not fact rows: Expand sits above the pre-aggregation") {
    val plan = finalPlanOf(etl.Analytics.salesCube(spark, sf))
    assert(plan.contains("Expand"), s"cube did not use Expand grouping sets:\n$plan")
    // the Expand operator's subtree must contain the cell aggregation —
    // i.e. somewhere below Expand there is a HashAggregate, proving the
    // 4x row multiplication applies to the grouped cells, not the fact
    val expandIdx = plan.indexOf("Expand")
    val below = plan.substring(expandIdx)
    assert(below.contains("HashAggregate"),
      s"no aggregation below Expand — cube is multiplying raw fact rows:\n$plan")
  }

  test("written fact: (year, month) predicates prune partitions; invoice_date range pushes down") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    etl.Transform.writeWarehouse(spark, sf, out)
    val fact = spark.read.parquet(s"$out/fact_sales")
    val target = fact.select("year", "month").head()
    val (y, m) = (target.getInt(0), target.getInt(1))

    val pruned = fact.filter(col("year") === y && col("month") === m).select("invoice_no")
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scan found")
    assert(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "year"))),
      s"year predicate did not become a PartitionFilter:\n${planOf(pruned)}")
    assert(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "month"))),
      s"month predicate did not become a PartitionFilter:\n${planOf(pruned)}")

    // row-group skipping within partitions: the invoice_date range must
    // reach the parquet reader as a pushed filter (min/max stats skip)
    val ranged = fact
      .filter(col("invoice_date") >= "2024-01-01" && col("invoice_date") < "2024-02-01")
      .select("invoice_no")
    val rplan = planOf(ranged)
    assert(rplan.contains("PushedFilters") && rplan.contains("GreaterThanOrEqual(invoice_date"),
      s"invoice_date range not pushed to the scan:\n$rplan")

    // DYNAMIC partition pruning: when the partition keys arrive through a
    // JOIN against a filtered dimension (the star-schema reality — the
    // literal year/month above is the easy case), the fact scan must
    // still prune at runtime from the dim's build side rather than read
    // every partition
    val dimSide = spark.read.parquet(s"$out/dim_date")
      .filter(col("quarter") === 1).select("year", "month").distinct()
    val dpp = fact.join(dimSide, Seq("year", "month")).select("invoice_no")
    val dplan = planOf(dpp)
    assert(dplan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the dim-driven fact scan:\n$dplan")
  }

  /** Exchange output schemas from the EXECUTED plan — exchanges only
    * exist after EnsureRequirements/AQE, so `sparkPlan` never has them;
    * unwrap adaptive boundaries like [[finalPlanOf]]. */
  private def shuffleOutputs(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    df.collect()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    def go(p: org.apache.spark.sql.execution.SparkPlan): Unit = p.foreach {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        go(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => go(q.plan)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        buf += e.output.map(_.name).toSeq
      case _ => ()
    }
    go(df.queryExecution.executedPlan)
    buf.toSeq
  }

  test("chunk keep-first dedup shuffles digests and positions, never text") {
    val df = operators.Scrub.chunkDedupKeepFirst(spark, sf)
    val shuffles = shuffleOutputs(df)
    assert(shuffles.nonEmpty)
    // the presentation ORDER BY exchange carries the md5 report columns
    // only; no exchange may move document text or chunk strings
    shuffles.foreach { out =>
      assert(!out.contains("text") && !out.contains("chunk") && !out.contains("chunks"),
        s"text-bearing shuffle in keep-first dedup: $out")
    }
  }

  test("q8 quantization: corpus never shuffles, the code book broadcasts") {
    val df = operators.Similarity.quantizeCodes(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("SortMergeJoin"), s"code book joined by shuffle:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"code book not broadcast:\n$plan")
    // exchanges may carry the 64-row dimension params and the final
    // report, never embedding vectors
    shuffleOutputs(df).foreach { out =>
      assert(!out.contains("embedding") && !out.contains("q"),
        s"vector-bearing shuffle in the quantize plan: $out")
    }
  }

  test("scd2 windows partition by key — no corpus-wide single-partition window") {
    val plan = finalPlanOf(etl.Scd.partHistory(spark, sf))
    assert(plan.contains("windowspecdefinition(part_key"),
      s"SCD2 windows must partition by part_key:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"single-partition exchange in the SCD2 plan:\n$plan")
  }

  test("MV refresh reads the view and the batch only — history is never rescanned") {
    val batches = etl.Mv.writeBatches(spark, sf)
    val mv0 = java.nio.file.Files.createTempDirectory("graft_mv_plan").toString + "/v0"
    etl.Mv.init(spark, batches.head, mv0)
    val frame = etl.Mv.refreshFrame(spark, mv0, batches(1))
    // positive containment, not a blacklist: EVERY leaf must be a file
    // scan of the MV or the batch — a refresh that unioned in the cached
    // warehouse would surface as a `Scan ExistingRDD` leaf over a cached
    // stage (whose file scans this traversal can't see), so any non-file-scan
    // leaf fails the contract too
    val plan = frame.queryExecution.sparkPlan
    val leaves = plan.collectLeaves()
    val scanPaths = leaves.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(leaves.size === scanPaths.size, s"non-file-scan leaf in the refresh plan:\n$plan")
    assert(scanPaths.nonEmpty)
    val allowed = Set(mv0, batches(1))
    scanPaths.foreach { p =>
      assert(allowed.exists(a => p.endsWith(a) || a.endsWith(p) || p.contains(a)),
        s"refresh scans beyond the MV and the batch: $p\nallowed: $allowed")
    }
  }

  test("topk_agg plans as a partial-final aggregate — no window sort of raw events") {
    val df = operators.Events.topValuesPerUser(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("windowspecdefinition"),
      s"grouped top-k fell back to a window:\n$plan")
    assert(plan.contains("partial_topk_agg"),
      s"no map-side partial heap in the top-k plan:\n$plan")
    // the aggregation exchange carries k-sized heap states, not event
    // rows — only the final presentation ORDER BY (whose output is the
    // exploded (user_id, rank, value) report) may mention the value col
    shuffleOutputs(df).filterNot(_.contains("rank")).foreach { out =>
      assert(!out.contains("value"), s"raw event rows shuffled for top-k: $out")
    }
  }

  test("temperature mix joins its count tables by broadcast, corpus side unshuffled") {
    val df = operators.Corpus.temperatureMix(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"counts not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled to meet the counts:\n$plan")
  }

  test("epochOrder ranks without a corpus-wide single-partition exchange") {
    val df = operators.Corpus.epochOrder(spark, sf)
    val plan = planOf(df)
    // the rank comes from range partitioning + per-partition windows +
    // metadata offsets (Keys.withRank); a plain ROW_NUMBER() OVER (ORDER
    // BY ...) would plan Exchange SinglePartition over every (doc, epoch)
    // row. The presentation ORDER BY at the end is range-partitioned.
    assert(!plan.contains("SinglePartition"),
      s"single-partition global sort in the epoch-order plan:\n$plan")
    assert(plan.contains("windowspecdefinition(_pid"),
      s"rank windows must partition by _pid:\n$plan")
  }

  // ------------------------------------------------ r19 plan contracts

  /** Distinct physical operators of the executed plan, adaptive
    * boundaries unwrapped and deduplicated by operator id (string
    * counting over [[finalPlanOf]] multiplies shared stage subtrees). */
  private def distinctOps(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[Int, org.apache.spark.sql.execution.SparkPlan]
    def go(p: org.apache.spark.sql.execution.SparkPlan): Unit =
      p.foreach {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          go(q.plan)
        case op => seen.getOrElseUpdate(op.id, op)
      }
    go(df.queryExecution.executedPlan)
    seen.values.toSeq
  }

  test("ngramJaccard evaluates the shingle-set aggregate exactly once") {
    // r19: both pair endpoints attach to ONE pass over the collect_set
    // aggregate (endpoints exploded + broadcast). The old setA/setB
    // self-join instantiated the whole shingle-explosion lineage twice —
    // the partial collect_set appearing more than once is that regression.
    val ops = distinctOps(operators.Dedup.ngramJaccard(spark, sf))
    val n = ops.count(op => op.toString.linesIterator.next()
      .contains("partial_collect_set"))
    assert(n == 1, s"shingle-set aggregate evaluated $n times (expected 1)")
  }

  test("simhashPairs emits bucket pairs without any join") {
    // r19: capped buckets collect their members in ONE aggregate and emit
    // a<b pairs via an array HOF — the census aggregate + census join +
    // band self-join (three shuffles of the banded rows) are gone.
    val plan = finalPlanOf(operators.Dedup.simhashPairs(spark, sf))
    assert(!plan.contains("Join"), s"simhash pair generation joins again:\n$plan")
  }

  test("scd2 partHistory runs grain agg and both windows on one spread exchange") {
    // r19: the spread keys on part_key, which satisfies the (part_key,
    // month) aggregate clustering and both windows — the only other
    // exchange is the presentation ORDER BY, whose range exchange a tiny
    // input replaces with a one-task sort (Coalesce 1).
    val ops = distinctOps(etl.Scd.partHistory(spark, sf))
    val ex = ops.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.getClass.getSimpleName
    }
    assert(ex.count(_ == "HashPartitioning") == 1,
      s"expected exactly one hash exchange (the input spread), got: $ex")
    val oneTaskSort = ops.exists {
      case c: org.apache.spark.sql.execution.CoalesceExec => c.numPartitions == 1
      case _ => false
    }
    assert(ex.contains("RangePartitioning") || oneTaskSort,
      s"missing the presentation sort: $ex")
  }
}
