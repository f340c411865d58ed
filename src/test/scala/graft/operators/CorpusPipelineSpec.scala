package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end corpus pipeline: stage monotonicity, planted-injection
  * effects at each stage, and the runnable main's output contract. */
class CorpusPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private lazy val summary: Map[String, (Long, Long)] =
    CorpusPipeline.runSummary(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("summary has all 8 stages, rows_in chains from the previous rows_out") {
    assert(summary.keySet === Set("1_scrub", "2_quality", "3_dedup_exact",
      "4_dedup_near", "5_decontaminate", "6_split_train", "7_interleave", "8_pack"))
    assert(summary("1_scrub")._1 === summary("1_scrub")._2, "scrub preserves rows")
    assert(summary("2_quality")._1 === summary("1_scrub")._2)
    assert(summary("3_dedup_exact")._1 === summary("2_quality")._2)
    assert(summary("4_dedup_near")._1 === summary("3_dedup_exact")._2)
    assert(summary("5_decontaminate")._1 === summary("4_dedup_near")._2)
    assert(summary("6_split_train")._1 === summary("5_decontaminate")._2)
    assert(summary("7_interleave")._1 === summary("6_split_train")._2)
    assert(summary("7_interleave")._1 === summary("7_interleave")._2,
      "interleave preserves rows")
    assert(summary("8_pack")._1 === summary("6_split_train")._2)
  }

  test("every filtering stage actually bites on the planted injections") {
    val nDocs = graft.Tables.documents(spark, sf).count()
    // raw = docs + exact copies (ids%10==0) + near copies (ids%10==5)
    assert(summary("1_scrub")._1 > nDocs)
    assert(summary("2_quality")._2 < summary("2_quality")._1, "quality gate drops rows")
    assert(summary("3_dedup_exact")._2 < summary("3_dedup_exact")._1,
      "exact copies collapse")
    assert(summary("4_dedup_near")._2 < summary("4_dedup_near")._1,
      "near copies collapse")
    assert(summary("5_decontaminate")._2 < summary("5_decontaminate")._1,
      "eval docs and contaminated docs drop")
    val (in6, out6) = summary("6_split_train")
    assert(out6 < in6 && out6 > in6 / 2, "train split keeps ~80%")
    assert(summary("8_pack")._2 > 0 && summary("8_pack")._2 < summary("8_pack")._1,
      "packs group multiple docs")
  }

  test("scrub stage redacts every injected PII string") {
    val scrubbed = CorpusPipeline.scrubStage(CorpusPipeline.rawCorpus(spark, sf))
    assert(scrubbed.filter(col("text").contains("@example.com")).count() === 0)
    assert(scrubbed.filter(col("text").rlike(Scrub.phonePattern)).count() === 0)
    // docs that HAD pii now carry the placeholder
    assert(scrubbed.filter(col("text").contains("<EMAIL>")).count() > 0)
    assert(scrubbed.filter(col("text").contains("<PHONE>")).count() > 0)
  }

  test("run writes train corpus, packs, schedule, and metadata; returns SUCCESS") {
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_spec").toString
    assert(CorpusPipeline.run(spark, sf, out) === "SUCCESS")
    val train = spark.read.parquet(s"$out/corpus_train")
    assert(train.count() === summary("6_split_train")._2)
    assert(spark.read.parquet(s"$out/packs")
      .select("shard", "pack_id").distinct().count() === summary("8_pack")._2)
    assert(spark.read.parquet(s"$out/schedule").count() === summary("7_interleave")._2)
    val stageMeta = spark.read.parquet(s"$out/meta/corpus_stage_metrics")
    assert(stageMeta.count() === 8)
    assert(stageMeta.filter(col("status") =!= "SUCCESS").count() === 0)
    assert(spark.read.parquet(s"$out/meta/corpus_runs")
      .filter(col("status") === "SUCCESS").count() === 1)
  }

  test("evict-then-reuse: a fresh build reproduces identical stage metrics") {
    val before = CorpusPipeline.runSummary(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    CorpusPipeline.cache.evict(spark)
    val after = CorpusPipeline.runSummary(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(after.sameElements(before), "rebuilt stage metrics differ from pre-evict")
  }

  test("rows_shed is recorded per stage and zero on the healthy fixture") {
    val rows = CorpusPipeline.runSummary(spark, sf).collect()
    assert(rows.head.schema.fieldNames.contains("rows_shed"))
    rows.foreach(r => assert(r.getLong(3) === 0L,
      s"fixture run shed rows at ${r.getString(0)}"))
  }

  test("a planted degenerate bucket shows up in the shed census, not as 'few duplicates'") {
    import spark.implicits._
    // 150 docs sharing 60 common tokens + one unique tail token: most
    // band hashes collapse to the all-common value, so the dominant
    // bucket exceeds maxBucketSize (100) and its memberships are shed
    val common = (0 until 60).map(j => s"c$j").mkString(" ")
    val docs = (0 until 150).map(i => (i.toLong, s"$common u$i"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs)
    val shed = Dedup.lshShedRows(sigs)
    assert(shed > Dedup.maxBucketSize,
      s"expected the degenerate bucket's memberships in the census, got $shed")
    // the stage itself still runs (load-shedding, not failure) — and
    // without the census the caller would read the survivors as unique
    val out = CorpusPipeline.nearDedupStageFrom(docs, sigs)
    assert(out.count() > 0)
  }

  test("no eval doc or its duplicate survives into the train corpus") {
    val train = CorpusPipeline.runSummary(spark, sf) // ensure built
    val trainIds = CorpusPipeline.trainStage(spark,
      CorpusPipeline.decontaminateStage(
        CorpusPipeline.nearDedupStage(
          CorpusPipeline.exactDedupStage(
            CorpusPipeline.qualityStage(
              CorpusPipeline.scrubStage(CorpusPipeline.rawCorpus(spark, sf)))))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trainIds.forall(_ >= Corpus.evalN), "no eval doc in train")
    // exact copies of eval docs were planted at +100000: none survive
    val evalCopies = (0L until Corpus.evalN.toLong).filter(_ % 10 == 0).map(_ + 100000L)
    evalCopies.foreach(id =>
      assert(!trainIds.contains(id), s"eval-doc copy $id leaked into train"))
    assert(train.count() === 8)
  }
}
