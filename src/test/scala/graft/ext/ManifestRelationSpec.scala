package graft.ext

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Catalyst-integrated manifest scan: `spark.read.format(
  * "graft.sources.manifest")` plans a committed version through
  * [[ManifestFileIndex]], so pushed-down filters prune FILES from the
  * manifest's zone-map stats inside the planner — no engine-specific
  * read API, no caller-supplied box. */
class ManifestRelationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def base(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rel(b: String): DataFrame =
    spark.read.format("graft.sources.manifest").load(b)

  /** Files the executed plan actually scanned (post-pruning). */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect() // force execution so the lazy listing is resolved
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec in the plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  /** A 200-row table range-clustered on k (0..9) into 5 files, with
    * zone maps on k recorded in the manifest. */
  private def clustered(): String = {
    import spark.implicits._
    val b = base("graft_rel_clu")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10, s"s$i")).toDF("id", "k", "s")
        .repartitionByRange(5, col("k")), b)
    Manifests.analyze(spark, b, Seq("k"))
    b
  }

  test("relation read equals readAt; schema from the manifest") {
    val b = clustered()
    val viaRel = rel(b).orderBy("id").collect()
    val viaApi = Manifests.readLatest(spark, b).orderBy("id").collect()
    assert(viaRel.toSeq === viaApi.toSeq)
    assert(rel(b).schema.fieldNames.toSeq === Seq("id", "k", "s"))
  }

  test("pushed filter on the stat key prunes files inside the planner; result exact") {
    val b = clustered()
    val all = scannedFiles(rel(b))
    val pruned = rel(b).filter(col("k") === 3)
    assert(scannedFiles(pruned) < all,
      "a selective filter on the clustered stat key must scan fewer files")
    assert(pruned.count() === 20)
    // parquet pushdown still happens below the pruning
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan.take(500))
  }

  test("range, IN, and null-test filters prune; OR with undecidable branch stays conservative") {
    val b = clustered()
    val all = scannedFiles(rel(b))
    assert(scannedFiles(rel(b).filter(col("k") >= 8)) < all)
    assert(rel(b).filter(col("k") >= 8).count() === 40)
    assert(scannedFiles(rel(b).filter(col("k").isin(0, 1))) < all)
    assert(rel(b).filter(col("k").isin(0, 1)).count() === 40)
    // no nulls in k: IsNull prunes everything, result is empty but exact
    assert(rel(b).filter(col("k").isNull).count() === 0)
    // an OR whose other branch references a non-stat column cannot prune
    val cons = rel(b).filter(col("k") === 3 || col("s") === "s1")
    assert(scannedFiles(cons) === all)
    assert(cons.count() === 21)
  }

  test("filters on non-stat columns and stat-less tables scan everything, correctly") {
    import spark.implicits._
    val b = clustered()
    val q = rel(b).filter(col("s") === "s7")
    assert(scannedFiles(q) === scannedFiles(rel(b)))
    assert(q.count() === 1)
    // a table with no recorded stats: no pruning, full correctness
    val nb = base("graft_rel_nostats")
    Manifests.commitData((1 to 50).map(i => (i, i % 5)).toDF("id", "k"), nb)
    assert(rel(nb).filter(col("k") === 2).count() === 10)
  }

  test("versionAsOf and timestampAsOf resolve history; DV versions read their live rows") {
    import spark.implicits._
    val b = clustered()
    Manifests.deleteWhere(spark, b, col("k") === 3)
    val latest = rel(b)
    assert(latest.count() === 180)
    val v0 = spark.read.format("graft.sources.manifest")
      .option("versionAsOf", "1").load(b) // v1 = analyze republish of v0
    assert(v0.count() === 200)
    val ts = Dfs.mtime(spark, s"$b/v1/_SUCCESS")
    val asOf = spark.read.format("graft.sources.manifest")
      .option("timestampAsOf", ts.toString).load(b)
    assert(asOf.count() === 200)
    // a deletion-vector version reads through the same file scan, its
    // deleted positions dropped inside the parquet reader
    val fives = latest.filter(col("k") === 5).count()
    assert(fives > 0)
    Manifests.deleteWhereMor(spark, b, col("k") === 5)
    assert(Manifests.dvFiles(spark, b, Manifests.latestVersion(spark, b).get).nonEmpty)
    assert(rel(b).count() === 180 - fives)
    assert(rel(b).filter(col("k") === 5).count() === 0)
    assert(rel(b).select("id").collect().length === 180 - fives)
  }

  test("bucketed tables: join and aggregation on the bucket keys plan with zero exchange") {
    import spark.implicits._
    def exchanges(df: DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.size
    }
    val ba = base("graft_rel_bka")
    val bb = base("graft_rel_bkb")
    val facts = (1 to 1000).map(i => (i.toLong % 50, s"f$i")).toDF("k", "payload")
    val dim = (0L until 50L).map(k => (k, s"name$k")).toDF("k", "name")
    Manifests.commitDataBucketed(facts, ba, Seq("k"), 8)
    Manifests.commitDataBucketed(dim, bb, Seq("k"), 8)
    // content survives the bucketed write bit-exact
    assert(rel(ba).orderBy("payload").collect().toSeq ===
      facts.orderBy("payload").collect().toSeq)
    // co-bucketed join: no shuffle on either side
    val joined = rel(ba).join(rel(bb), "k")
    assert(exchanges(joined) === 0,
      joined.queryExecution.executedPlan.toString.take(800))
    assert(joined.count() === 1000)
    // grouping on the bucket key rides the same partitioning
    val agg = rel(ba).groupBy("k").count()
    assert(exchanges(agg) === 0)
    assert(agg.count() === 50)
    // correctness against the unbucketed plan
    val plain = facts.join(dim, "k").groupBy("name").count()
      .orderBy("name").collect().toSeq
    val viaBuckets = rel(ba).join(rel(bb), "k").groupBy("name").count()
      .orderBy("name").collect().toSeq
    assert(viaBuckets === plain)
  }

  test("sorted buckets: the merge join plans without exchanges AND without sorts") {
    import spark.implicits._
    val ba = base("graft_rel_sba")
    val bb = base("graft_rel_sbb")
    val facts = (1 to 1000).map(i => (i.toLong % 50, i)).toDF("k", "v")
    val dim = (0L until 50L).map(k => (k, s"name$k")).toDF("k", "name")
    Manifests.commitDataBucketed(facts, ba, Seq("k"), 8, sortBy = Seq("k"))
    Manifests.commitDataBucketed(dim, bb, Seq("k"), 8, sortBy = Seq("k"))
    // force a sort-merge join (a broadcast would hide the property)
    val smj = rel(ba).hint("merge").join(rel(bb).hint("merge"), "k")
    smj.collect()
    val plan = smj.queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.isEmpty, plan.toString.take(800))
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, "sorted buckets must satisfy the join's ordering:\n" + plan.toString.take(800))
    assert(smj.count() === 1000)
  }

  test("a rewrite drops the bucket spec: reads stay correct, just re-shuffled") {
    import spark.implicits._
    val b = base("graft_rel_bkrw")
    Manifests.commitDataBucketed(
      (1 to 100).map(i => (i.toLong % 10, i)).toDF("k", "v"), b, Seq("k"), 4)
    assert(Manifests.bucketSpecOf(spark, b, 0).isDefined)
    Manifests.deleteWhere(spark, b, col("k") === 3)
    val v1 = Manifests.latestVersion(spark, b).get
    assert(Manifests.bucketSpecOf(spark, b, v1).isEmpty,
      "a rewrite's output files are not bucket-shaped — spec must not survive")
    assert(rel(b).count() === 90)
    // the old bucketed version still time-travels with its spec
    val agg = spark.read.format("graft.sources.manifest")
      .option("versionAsOf", "0").load(b).groupBy("k").count()
    agg.collect()
    assert(agg.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.isEmpty)
  }

  test("pruning survives an append: incremental stats cover the new files") {
    import spark.implicits._
    val b = clustered()
    // k=50 lands in a brand-new file, statted incrementally by appendBatch
    Manifests.appendBatch(
      Seq((9001L, 50, "new1"), (9002L, 50, "new2")).toDF("id", "k", "s"),
      b, batchId = 0L)
    val q = rel(b).filter(col("k") === 50)
    assert(q.count() === 2)
    assert(scannedFiles(q) < scannedFiles(rel(b)),
      "the append's own zone should confine k=50 to the new file")
    assert(rel(b).filter(col("k") === 3).count() === 20)
  }

  /** A 200-row PARTITIONED table on p (0..9): no zone maps anywhere,
    * so any file subset in these tests comes from the manifest's
    * partition-value metadata alone. */
  private def partitioned(): String = {
    import spark.implicits._
    val b = base("graft_rel_part")
    Manifests.commitDataPartitioned(
      (1 to 200).map(i => (i.toLong, i % 10, s"s$i")).toDF("id", "p", "s"),
      b, Seq("p"), filesPerWrite = 5)
    b
  }

  test("partition predicates prune files from manifest metadata alone; results exact") {
    val b = partitioned()
    assert(Manifests.statsOf(spark, b, 0).isEmpty, "fixture must carry no zone maps")
    val all = scannedFiles(rel(b))
    assert(all === 5)
    val eq = rel(b).filter(col("p") === 3)
    assert(scannedFiles(eq) < all, "equality on the partition column must prune")
    assert(eq.count() === 20)
    val in = rel(b).filter(col("p").isin(0, 9))
    assert(scannedFiles(in) < all)
    assert(in.count() === 40)
    val range = rel(b).filter(col("p") >= 8)
    assert(scannedFiles(range) < all)
    assert(range.count() === 40)
    // non-partition filter: no pruning, full correctness
    val non = rel(b).filter(col("s") === "s7")
    assert(scannedFiles(non) === all)
    assert(non.count() === 1)
    // short name registration: format("manifest") is the same relation
    assert(spark.read.format("manifest").load(b).count() === 200)
  }

  test("the SQL surface: a registered manifest view answers pure spark.sql with partition pruning") {
    val b = partitioned()
    spark.read.format("manifest").load(b).createOrReplaceTempView("rel_part_sql")
    val q = spark.sql(
      "SELECT p, COUNT(*) AS n FROM rel_part_sql WHERE p IN (2, 4) GROUP BY p ORDER BY p")
    assert(q.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ===
      Seq((2, 20L), (4, 20L)))
    val scanned = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.map(_.metrics("numFiles").value).sum
    assert(scanned < 5, s"SQL path must prune by partition metadata (scanned $scanned)")
    // versionAsOf arrives through reader options on the registered view
    spark.read.format("manifest").option("versionAsOf", "0").load(b)
      .createOrReplaceTempView("rel_part_sql_v0")
    assert(spark.sql("SELECT COUNT(*) AS n FROM rel_part_sql_v0").head().getLong(0) === 200)
  }

  test("partition metadata survives DML and appends: rewrites re-derive, appends extend") {
    import spark.implicits._
    val b = partitioned()
    // copy-on-write delete rewrites the p=3 file; metadata re-derives
    Manifests.deleteWhere(spark, b, col("p") === 3 && col("id") <= 100)
    val v1 = Manifests.latestVersion(spark, b).get
    assert(Manifests.partitionedBy(spark, b, v1).isDefined,
      "partition metadata must survive a rewrite")
    val q1 = rel(b).filter(col("p") === 3)
    assert(q1.count() === 10)
    assert(scannedFiles(q1) < scannedFiles(rel(b)))
    // append brings p=77: its tuples recorded incrementally
    Manifests.appendBatch(
      Seq((9001L, 77, "n1"), (9002L, 77, "n2")).toDF("id", "p", "s"),
      b, batchId = 0L)
    val q2 = rel(b).filter(col("p") === 77)
    assert(q2.count() === 2)
    assert(scannedFiles(q2) < scannedFiles(rel(b)),
      "append tuples must confine p=77 to the new file")
    // untouched partitions unaffected throughout
    assert(rel(b).filter(col("p") === 5).count() === 20)
  }

  test("bloom index: equality on a scattered high-cardinality key prunes files where zones cannot; maintained across append and delete") {
    import spark.implicits._
    val b = base("graft_rel_bloom")
    // hash-scattered ids: every file's (min, max) spans ~the whole
    // domain, so zone maps are useless for a point lookup
    Manifests.commitData(
      (1 to 2000).map(i => (i.toLong, s"s$i")).toDF("id", "s")
        .repartition(8, hash(col("id"))), b)
    Manifests.analyze(spark, b, Seq("id"))
    val all = scannedFiles(rel(b))
    assert(all === 8)
    // zones alone: a point lookup still scans everything
    assert(scannedFiles(rel(b).filter(col("id") === 1234L)) === all,
      "scattered layout must defeat min/max zones (the premise)")
    Manifests.analyzeBloom(spark, b, Seq("id"))
    val prunedScan = rel(b).filter(col("id") === 1234L)
    val scanned = scannedFiles(prunedScan)
    assert(scanned < all, s"bloom must prune a point lookup ($scanned/$all)")
    assert(prunedScan.count() === 1)
    assert(rel(b).filter(col("id") === 1234L).select("s").head.getString(0) === "s1234")
    // IN-list prunes too; a value that exists nowhere plans ~no files
    assert(scannedFiles(rel(b).filter(col("id").isin(7L, 1900L))) < all)
    assert(rel(b).filter(col("id").isin(7L, 1900L)).count() === 2)
    assert(rel(b).filter(col("id") === 999999L).count() === 0)
    // append: only the new file is bloomed, lookups into it still hit
    assert(Manifests.appendBatch(
      Seq((50001L, "new")).toDF("id", "s"), b, 0L).isDefined)
    assert(rel(b).filter(col("id") === 50001L).count() === 1)
    assert(rel(b).filter(col("id") === 1234L).count() === 1)
    assert(scannedFiles(rel(b).filter(col("id") === 50001L)) < scannedFiles(rel(b)))
    // delete rewrite: index rebuilt only for rewritten files, correct after
    Manifests.deleteWhere(spark, b, col("id") === 1234L)
    assert(rel(b).filter(col("id") === 1234L).count() === 0)
    assert(rel(b).filter(col("id") === 7L).count() === 1)
    // a filter on a non-bloom column cannot prune (conservative)
    assert(scannedFiles(rel(b).filter(col("s") === "s7")) === scannedFiles(rel(b)))
  }

  test("@v path suffix: pure-SQL time travel; writes to a time-travel path refuse") {
    import spark.implicits._
    val b = base("graft_rel_atv")
    (1 to 30).map(i => (i.toLong, i % 3)).toDF("id", "k")
      .write.format("manifest").save(b)
    Seq((999L, 9)).toDF("id", "k")
      .write.format("manifest").mode("append").save(b)
    // the Delta path suffix: a view over load("path@vN") gives pure-SQL
    // time travel with no reader-option plumbing
    assert(spark.read.format("manifest").load(s"$b@v0").count() === 30)
    spark.read.format("manifest").load(s"$b@v0")
      .createOrReplaceTempView("graft_atv_v0")
    assert(spark.sql("SELECT COUNT(*) FROM graft_atv_v0").head.getLong(0) === 30)
    assert(spark.read.format("manifest").load(s"$b@v1").count() === 31)
    assert(spark.read.format("manifest").load(b).count() === 31)
    // suffix and option together refuse; so does writing to the past
    intercept[Exception](spark.read.format("manifest")
      .option("timestampAsOf", "0").load(s"$b@v0").count())
    intercept[Exception](Seq((1L, 1)).toDF("id", "k")
      .write.format("manifest").mode("append").save(s"$b@v0"))
    assert(Manifests.latestVersion(spark, b) === Some(1))
  }

  test("write path under contention: 8 racing appenders all land exactly once") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val b = base("graft_rel_race8")
    (1 to 10).map(i => (i.toLong, 0)).toDF("id", "k")
      .write.format("manifest").save(b)
    val fs = (1 to 8).map { i =>
      Future {
        Seq((100L + i, i)).toDF("id", "k")
          .write.format("manifest").mode("append").save(b)
      }
    }
    fs.foreach(Await.result(_, 300.seconds))
    assert(Manifests.latestVersion(spark, b) === Some(8),
      "8 appends = 8 committed versions, no holes, no lost updates")
    assert(rel(b).count() === 18)
    assert(rel(b).filter(col("id") > 100L).count() === 8)
  }

  test("plan-time sidecar cache: the second query against a version opens ZERO sidecar files") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    val b = "graftcnt:" +
      java.nio.file.Files.createTempDirectory("graft_rel_memo").toString + "/t"
    // a table exercising all three pruning ladders: partition tuples,
    // zone stats, per-file blooms
    Manifests.commitDataPartitioned(
      (1 to 400).map(i => (i.toLong, i % 4, s"inv_$i")).toDF("id", "p", "inv"),
      b, Seq("p"), filesPerWrite = 4)
    Manifests.analyze(spark, b, Seq("id"))
    Manifests.analyzeBloom(spark, b, Seq("inv"))
    def sidecars(f: => Unit): Long = {
      val s = CountingFileSystem.sidecarReads.get(); f
      CountingFileSystem.sidecarReads.get() - s
    }
    def q(): Unit = assert(
      rel(b).filter(col("p") === 2 && col("id") <= 300L &&
        col("inv") === "inv_202").count() === 1)
    val first = sidecars(q())
    assert(first > 0, "the first plan must actually read the sidecars")
    // same version, fresh relation: every sidecar row comes from the
    // driver-side memo — zero file opens (the Delta snapshot-cache move)
    val second = sidecars(q())
    assert(second === 0L,
      s"an already-planned version re-read $second sidecar files")
    // a NEW version has new sidecars: the memo misses exactly once more
    Manifests.appendBatch(Seq((9001L, 2, "inv_9001")).toDF("id", "p", "inv")
      .coalesce(1), b, 1L)
    // the append carried the partition-tuple sidecar as segments too
    assert(Manifests.partitionedBy(spark, b,
      Manifests.latestVersion(spark, b).get).get._2.size === 2)
    val afterAppend = sidecars(
      assert(rel(b).filter(col("p") === 2 && col("id") <= 300L &&
        col("inv") === "inv_202").count() === 1))
    assert(afterAppend > 0)
    assert(sidecars(q()) === 0L, "the new version's sidecars memoize too")
  }

  test("write path: df.write.format(manifest) creates/appends/overwrites as manifest commits with full sidecar maintenance") {
    import spark.implicits._
    val b = base("graft_rel_write")
    // ErrorIfExists (the writer default) bootstraps...
    (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "k")
      .write.format("manifest").save(b)
    assert(Manifests.latestVersion(spark, b) === Some(0))
    // ...and refuses a second time
    intercept[Exception](
      Seq((999L, 0)).toDF("id", "k").write.format("manifest").save(b))
    // Ignore on a live table is a no-op
    Seq((999L, 0)).toDF("id", "k")
      .write.format("manifest").mode("ignore").save(b)
    assert(Manifests.latestVersion(spark, b) === Some(0))
    assert(rel(b).filter(col("id") === 999L).count() === 0)
    // append lands as a NEW manifest version (never a bare file write):
    // time travel sees the pre-append table
    Seq((1001L, 3), (1002L, 7)).toDF("id", "k")
      .write.format("manifest").mode("append").save(b)
    assert(Manifests.latestVersion(spark, b) === Some(1))
    assert(rel(b).count() === 102)
    assert(spark.read.format("manifest").option("versionAsOf", 0)
      .load(b).count() === 100)
    // appends maintain the stats sidecar incrementally on the SQL path
    Manifests.analyze(spark, b, Seq("k")) // v2: zone maps
    val filesBefore = Manifests.files(spark, b, 2).size
    (1 to 50).map(i => (2000L + i, 99)).toDF("id", "k")
      .repartitionByRange(1, col("k"))
      .write.format("manifest").mode("append").save(b)
    val v3 = Manifests.latestVersion(spark, b).get
    assert(Manifests.files(spark, b, v3).size === filesBefore + 1)
    val pruned = scannedFiles(rel(b).filter(col("k") === 99))
    assert(pruned < Manifests.files(spark, b, v3).size,
      "the appended file's zones must cover it: k=99 prunes to a subset")
    assert(rel(b).filter(col("k") === 99).count() === 50)
    // overwrite supersedes, history stays
    Seq((5L, 5)).toDF("id", "k")
      .write.format("manifest").mode("overwrite").save(b)
    assert(rel(b).count() === 1)
    assert(spark.read.format("manifest").option("versionAsOf", v3)
      .load(b).count() === 152)
    // partitionedBy option: a partitioned overwrite records the spec
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "p")
      .write.format("manifest").mode("overwrite")
      .option("partitionedBy", "p").save(b)
    val vp = Manifests.latestVersion(spark, b).get
    assert(Manifests.partitionedBy(spark, b, vp).get._1 === Seq("p"))
  }

  test("SQL INSERT INTO/OVERWRITE a manifest view commits through the protocol, never a bare root write") {
    import spark.implicits._
    val b = base("graft_rel_sqlins")
    (1 to 20).map(i => (i.toLong, i % 2)).toDF("id", "k")
      .write.format("manifest").save(b)
    rel(b).createOrReplaceTempView("graft_sqlins_t")
    // without the strategy this "succeeded" as parquet part-files in the
    // table ROOT that no manifest lists — reads kept answering 20 rows
    spark.sql("INSERT INTO graft_sqlins_t VALUES (999, 9), (1000, 10)")
    assert(Manifests.latestVersion(spark, b) === Some(1),
      "the INSERT must land as a manifest COMMIT")
    assert(rel(b).count() === 22)
    assert(rel(b).filter(col("id") === 999L).count() === 1)
    // no stray part-files in the table root: every data file lives in a
    // version-referenced payload dir
    val stray = Dfs.list(spark, b).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(stray.isEmpty, s"bare root write leaked: $stray")
    // INSERT OVERWRITE supersedes; history stays time-travelable
    spark.sql("INSERT OVERWRITE graft_sqlins_t VALUES (1, 1)")
    assert(rel(b).count() === 1)
    assert(spark.read.format("manifest").option("versionAsOf", 1)
      .load(b).count() === 22)
    // Hive-style partition clauses refuse loudly
    intercept[Exception](
      spark.sql("INSERT INTO graft_sqlins_t PARTITION (k=5) VALUES (7)"))
    // a NON-manifest parquet insert is untouched by the strategy
    val plain = base("graft_rel_plainparquet")
    Seq((1L, 1)).toDF("id", "k").write.parquet(s"$plain/t")
    spark.read.parquet(s"$plain/t").createOrReplaceTempView("graft_plain_t")
    spark.sql("INSERT INTO graft_plain_t VALUES (2, 2)")
    assert(spark.read.parquet(s"$plain/t").count() === 2)
  }

  test("write path honors OCC: racing appends both land; a schema type conflict refuses") {
    import spark.implicits._
    val b = base("graft_rel_writeocc")
    (1 to 40).map(i => (i.toLong, i % 4)).toDF("id", "k")
      .write.format("manifest").save(b)
    // two concurrent SQL-path appends: the commuting-append retry loop
    // must land BOTH (one wins the claim, the loser re-derives and lands
    // on the next number)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 2).map { i =>
      Future {
        Seq((1000L + i, 40 + i)).toDF("id", "k")
          .write.format("manifest").mode("append").save(b)
      }
    }
    fs.foreach(Await.result(_, 120.seconds))
    assert(rel(b).count() === 42)
    assert(rel(b).filter(col("id") > 1000L).count() === 2)
    // additive evolution through the write path: new column null-fills
    Seq((2000L, 9, "fresh")).toDF("id", "k", "note")
      .write.format("manifest").mode("append").save(b)
    val withNote = rel(b)
    assert(withNote.columns.contains("note"))
    assert(withNote.filter(col("note").isNull).count() === 42)
    // a type conflict refuses loudly, burning nothing
    val before = Manifests.latestVersion(spark, b)
    intercept[Exception](
      Seq(("oops", 1, "x")).toDF("id", "k", "note")
        .write.format("manifest").mode("append").save(b))
    assert(Manifests.latestVersion(spark, b) === before)
  }

  test("metadata-only COUNT(*): analyzed table answers from stats — local plan, zero data opens; unprovable shapes keep the scan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LocalTableScanExec
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    val b = "graftcnt:" +
      java.nio.file.Files.createTempDirectory("graft_rel_fastcnt").toString + "/t"
    Manifests.commitData(
      (1 to 500).map(i => (i.toLong, i % 10)).toDF("id", "k").repartition(4), b)
    // counts file scans through AQE's wrapper (a global aggregate has an
    // exchange, so its executed plan is adaptive — finalize by executing)
    def fileScans(df: DataFrame): Int = {
      df.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan) // materialized stages are leaves wrapping their plan
        case f: FileSourceScanExec => 1
        case other => other.children.map(scans).sum
      }
      scans(df.queryExecution.executedPlan)
    }
    def dataOpens(f: => Unit): Long = {
      val s = CountingFileSystem.dataReads.get(); f
      CountingFileSystem.dataReads.get() - s
    }
    // no stats yet: no proof, no rewrite — the ordinary scan answers
    val unproven = rel(b).groupBy().count()
    assert(unproven.head.getLong(0) === 500)
    assert(fileScans(unproven) === 1,
      "without stats coverage the count must stay a real scan")
    // ANALYZE records n_rows per file: the count collapses to a
    // LocalRelation at plan time — zero data-file opens
    Manifests.analyze(spark, b, Seq("k"))
    val proven = rel(b).groupBy().count()
    assert(dataOpens(assert(proven.head.getLong(0) === 500)) === 0L)
    assert(fileScans(proven) === 0)
    // the rewrite is logical: the optimized plan IS a LocalRelation
    assert(proven.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty)
    // the SQL surface gets the same answer the same way
    rel(b).createOrReplaceTempView("graft_fastcnt_t")
    val sql = spark.sql(
      "SELECT COUNT(*) AS a, COUNT(1) AS b FROM graft_fastcnt_t")
    assert(dataOpens {
      val r = sql.head
      assert(r.getLong(0) === 500L && r.getLong(1) === 500L)
    } === 0L)
    // appends maintain the stats sidecar incrementally: the coverage
    // proof — and the metadata-only answer — survive without re-ANALYZE
    Manifests.append(Seq((9001L, 3), (9002L, 4)).toDF("id", "k"), b)
    val afterAppend = rel(b).groupBy().count()
    assert(dataOpens(assert(afterAppend.head.getLong(0) === 502)) === 0L)
    assert(fileScans(afterAppend) === 0)
    // every shape that could change cardinality keeps the real plan
    val filtered = rel(b).filter(col("k") === 3).groupBy().count()
    assert(fileScans(filtered) === 1)
    assert(filtered.head.getLong(0) === 51)
    assert(fileScans(rel(b).groupBy("k").count()) === 1)
    assert(fileScans(rel(b).select(countDistinct(col("k")))) === 1)
    // (the temp view pinned the pre-append snapshot — re-register over
    // the current version before filtering through SQL)
    rel(b).createOrReplaceTempView("graft_fastcnt_t")
    val guarded = spark.sql(
      "SELECT COUNT(*) FILTER (WHERE k = 3) AS c FROM graft_fastcnt_t")
    assert(fileScans(guarded) === 1)
    assert(guarded.head.getLong(0) === 51)
    // time travel counts metadata-only too, against ITS version's stats
    val tt = spark.read.format("manifest").option("versionAsOf", 1)
      .load(b).groupBy().count()
    assert(dataOpens(assert(tt.head.getLong(0) === 500)) === 0L)
    assert(fileScans(tt) === 0)
    // MIN/MAX/COUNT(col) on the INDEXED column fold the zone bounds —
    // same proof, same zero data opens, mixed freely with COUNT(*)
    val mm = rel(b).agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
      count(col("k")).as("nn"), count(lit(1)).as("all"))
    assert(dataOpens {
      val r = mm.head
      assert(r.getInt(0) === 0 && r.getInt(1) === 9)
      assert(r.getLong(2) === 502L && r.getLong(3) === 502L)
    } === 0L)
    assert(fileScans(mm) === 0)
    // a NON-indexed column has no zone bounds — the real scan answers
    val unindexed = rel(b).agg(min(col("id")))
    assert(fileScans(unindexed) === 1)
    assert(unindexed.head.getLong(0) === 1L)
  }

  test("filtered COUNT/MIN/MAX and SUM answer from metadata when files are partition-pure; mixed files keep the scan") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    def fileScans(df: DataFrame): Int = {
      df.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case f: FileSourceScanExec => 1
        case other => other.children.map(scans).sum
      }
      scans(df.queryExecution.executedPlan)
    }
    def dataOpens(f: => Unit): Long = {
      val s = CountingFileSystem.dataReads.get(); f
      CountingFileSystem.dataReads.get() - s
    }
    // one partition value per commit -> every file pure for any pred
    val b = "graftcnt:" +
      java.nio.file.Files.createTempDirectory("graft_rel_fcf").toString + "/t"
    val rows = (1 to 300).map(i => (i.toLong, i % 3, s"P${i % 3}"))
    Manifests.commitDataPartitioned(
      rows.filter(_._3 == "P0").toDF("id", "q", "p"), b, Seq("p"),
      filesPerWrite = 2)
    Manifests.appendBatch(rows.filter(_._3 == "P1").toDF("id", "q", "p"), b, 0L)
    Manifests.appendBatch(rows.filter(_._3 == "P2").toDF("id", "q", "p"), b, 1L)
    Manifests.analyze(spark, b, Seq("q"))
    // filtered COUNT/MIN/MAX/COUNT(col)/SUM: LocalRelation, zero opens
    val fc = rel(b).filter(col("p") === "P1")
      .agg(count(lit(1)).as("n"), min(col("q")).as("mn"),
        max(col("q")).as("mx"), sum(col("q")).as("s"))
    assert(dataOpens {
      val r = fc.head
      assert(r.getLong(0) === 100L && r.getInt(1) === 1 && r.getInt(2) === 1)
      assert(r.getLong(3) === 100L)
    } === 0L)
    assert(fileScans(fc) === 0)
    // a pred matching NOTHING folds over zero files: count 0, null bounds
    val none = rel(b).filter(col("p") === "P9")
      .agg(count(lit(1)).as("n"), min(col("q")).as("mn"))
    assert(dataOpens {
      val r = none.head
      assert(r.getLong(0) === 0L && r.isNullAt(1))
    } === 0L)
    assert(fileScans(none) === 0)
    // unfiltered SUM folds the per-file sums the same way
    val su = rel(b).agg(sum(col("q")).as("s"))
    assert(dataOpens(assert(su.head.getLong(0) === 300L)) === 0L)
    assert(fileScans(su) === 0)
    // a NON-partition conjunct disables the proof: the real scan answers
    val np = rel(b).filter(col("p") === "P1" && col("id") > 0)
      .agg(count(lit(1)).as("n"))
    assert(fileScans(np) === 1)
    assert(np.head.getLong(0) === 100L)
    // MIXED files (several tuples per file) refuse the metadata answer
    // and stay exactly correct through the scan
    val bm = "graftcnt:" +
      java.nio.file.Files.createTempDirectory("graft_rel_fcfmix").toString + "/t"
    Manifests.commitDataPartitioned(
      (1 to 100).map(i => (i.toLong, i % 2, s"M${i % 2}")).toDF("id", "q", "p"),
      bm, Seq("p"), filesPerWrite = 1) // ONE file holds both tuples
    Manifests.analyze(spark, bm, Seq("q"))
    val mixed = rel(bm).filter(col("p") === "M1").agg(count(lit(1)).as("n"))
    assert(fileScans(mixed) === 1,
      "a mixed file must disable the metadata count, not corrupt it")
    assert(mixed.head.getLong(0) === 50L)
  }

  test("filtered metadata aggregates are three-valued exact: IS DISTINCT FROM counts null partitions") {
    import spark.implicits._
    val b = java.nio.file.Files
      .createTempDirectory("graft_rel_fcf3v").toString + "/t"
    // one partition value per commit, INCLUDING a null-partition batch
    val rows = (1 to 90).map { i =>
      val p: Option[String] = (i % 3) match {
        case 0 => Some("P0"); case 1 => Some("P1"); case _ => None
      }
      (i.toLong, i, p)
    }
    Manifests.commitDataPartitioned(
      rows.filter(_._3 == Some("P0")).toDF("id", "q", "p"), b, Seq("p"),
      filesPerWrite = 1)
    Manifests.appendBatch(
      rows.filter(_._3 == Some("P1")).toDF("id", "q", "p"), b, 0L)
    Manifests.appendBatch(
      rows.filter(_._3.isEmpty).toDF("id", "q", "p"), b, 1L)
    Manifests.analyze(spark, b, Seq("q"))
    val rel = spark.read.format("manifest").load(b)
    // NOT(p <=> 'P0') is TRUE for P1 AND for NULL rows — a two-valued
    // translation of <=> would silently drop the null partition
    val df = rel.filter(!(col("p") <=> "P0")).agg(count(lit(1)).as("n"))
    assert(df.head.getLong(0) === 60L,
      "IS DISTINCT FROM must count null-partition rows")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "the three-valued-exact translation should still fold")
    // the plain null test folds too
    val nulls = rel.filter(col("p").isNull).agg(count(lit(1)).as("n"))
    assert(nulls.head.getLong(0) === 30L)
  }

  test("metadata SUM vs ANSI mode: overflow-adjacent table abstains under ANSI (scan error semantics kept), folds bit-equal in legacy; benign table rewrites under ANSI") {
    import spark.implicits._
    def collapsed(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }.nonEmpty
    // three single-file commits: each per-file sum is in range (so
    // ANALYZE records exact sums under either mode) but the TOTAL
    // overflows Long — the shape where a metadata fold that wraps
    // would silently shadow the ANSI scan's overflow error
    val b = base("graft_rel_ansisum") + "/t"
    val big = Long.MaxValue / 2
    Manifests.commitData(Seq((1L, big)).toDF("id", "v").coalesce(1), b)
    Seq((2L, big)).toDF("id", "v").coalesce(1)
      .write.format("manifest").mode("append").save(b)
    Seq((3L, big)).toDF("id", "v").coalesce(1)
      .write.format("manifest").mode("append").save(b)
    Manifests.analyze(spark, b, Seq("v"))
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true",
      "suite precondition: Spark 4 defaults ANSI on")
    // ANSI: the zone-bound proof fails -> no collapse, and executing
    // throws exactly as the real scan does
    val ansiAgg = rel(b).agg(sum(col("v")).as("s"))
    assert(!collapsed(ansiAgg),
      "overflow-adjacent SUM must keep the real scan under ANSI")
    intercept[Exception](ansiAgg.collect())
    // legacy: the rewrite fires and the fold wraps bit-identically to
    // the scan's own partial aggregation
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val legacyAgg = rel(b).agg(sum(col("v")).as("s"))
      assert(collapsed(legacyAgg),
        "legacy-mode SUM must answer from metadata")
      val folded = legacyAgg.head.getLong(0)
      // a non-partition filter defeats the rewrite: this is the REAL
      // scan's (wrapped) answer over the same rows
      val viaScan = rel(b).filter(col("id") > 0L)
        .agg(sum(col("v")).as("s"))
      assert(!collapsed(viaScan))
      assert(folded === viaScan.head.getLong(0))
      assert(folded === big + big + big) // Scala Long wraps like the scan
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    // benign table: the proof holds -> metadata answer under ANSI too
    val g = base("graft_rel_ansisum_ok") + "/t"
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i.toLong)).toDF("id", "v")
        .repartition(4), g)
    Manifests.analyze(spark, g, Seq("v"))
    val ok = rel(g).agg(sum(col("v")).as("s"))
    assert(collapsed(ok),
      "in-range SUM must still answer from metadata under ANSI")
    assert(ok.head.getLong(0) === 5050L)
  }
}
