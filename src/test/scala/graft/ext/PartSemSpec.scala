package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TUPLE-SEMANTICS versioning (`_partsem`) — the guard for tables
  * whose partition tuples were derived before the UTC re-pin of the
  * time transforms (r17): a session-TZ month tuple near midnight can
  * name a different granule than the UTC lowering computes, so a
  * below-current table must
  *
  *  - refuse TZ-sensitive PRUNING lowering (conservative plan-all,
  *    results stay exact);
  *  - refuse the SPJ key-grouping claim (shuffle, never a wrong
  *    zero-Exchange plan);
  *  - refuse EXACT metadata DML through TZ-sensitive fields (the
  *    aligned INSERT OVERWRITE / DELETE shapes keep or refuse to the
  *    row-level path);
  *
  * until OPTIMIZE (compact) re-derives every tuple and upgrades the
  * stamp. Legacy state is simulated by deleting the version's
  * `_partsem` sidecar — exactly what a pre-r18 build's table looks
  * like on disk. */
class PartSemSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def registerCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.manifest.ManifestCatalog")

  private def tmp(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_psem_$tag").toString + "/t"

  private def monthlyDf = {
    import spark.implicits._
    (0 until 4000).map { i =>
      val month = 1 + (i % 4)
      val day = 1 + (i % 27)
      (i.toLong, java.sql.Timestamp.valueOf(
        f"2011-$month%02d-$day%02d 10:30:00"), i * 1.5)
    }.toDF("sale_id", "invoice_ts", "amount")
  }

  private def monthlyCtas(tag: String): String = {
    registerCatalog()
    val b = tmp(tag)
    monthlyDf.createOrReplaceTempView(s"graft_psem_src_$tag")
    spark.conf.set("graft.write.splitByPartition", "true")
    try spark.sql(s"CREATE TABLE graft.`$b` PARTITIONED BY " +
      s"(months(invoice_ts)) AS SELECT * FROM graft_psem_src_$tag")
    finally spark.conf.unset("graft.write.splitByPartition")
    b
  }

  /** Strip the `_partsem` stamp from the latest version — on-disk
    * state identical to a table written by a pre-UTC build. */
  private def markLegacy(b: String): Unit = {
    val v = Manifests.latestVersion(spark, b).get
    Dfs.delete(spark, s"$b/v$v/_partsem")
    Manifests.filesMemo.evict(spark, _._1 == b)
    SidecarCache.cache.evict(spark)
  }

  private def finalNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.SparkPlan]
    def go(p: org.apache.spark.sql.execution.SparkPlan): Unit =
      p.foreach {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          buf += q; go(q.plan)
        case n => buf += n
      }
    go(df.queryExecution.executedPlan)
    buf.toSeq
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = finalNodes(df).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.sources.manifest.DvParquetScan] => b
    }
    assert(scans.nonEmpty, "no manifest columnar scan in the plan")
    scans.map(_.inputRDD.partitions.map {
      case dp: org.apache.spark.sql.execution.datasources.v2
          .DataSourceRDDPartition =>
        dp.inputPartitions.map {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.length
          case _ => 0
        }.sum
      case _ => 0
    }.sum).min
  }

  private def febFilter(b: String) =
    spark.table(s"graft.`$b`").filter(col("invoice_ts") >=
      java.sql.Timestamp.valueOf("2011-02-01 00:00:00") &&
      col("invoice_ts") <
        java.sql.Timestamp.valueOf("2011-03-01 00:00:00"))

  test("bootstrap stamps current semantics; appends and metadata commits inherit; restore carries the stamp") {
    import spark.implicits._
    val b = monthlyCtas("inh")
    assert(Manifests.partSemOf(spark, b, 0) === Manifests.PartSemCurrent)
    // an append inherits the stamp
    (0 until 50).map(i => (50000L + i, java.sql.Timestamp.valueOf(
      "2011-03-02 09:00:00"), 1.0))
      .toDF("sale_id", "invoice_ts", "amount")
      .createOrReplaceTempView("graft_psem_inh_app")
    spark.sql(s"INSERT INTO graft.`$b` SELECT * FROM graft_psem_inh_app")
    val v1 = Manifests.latestVersion(spark, b).get
    assert(Manifests.partSemOf(spark, b, v1) === Manifests.PartSemCurrent)
    // legacy version + an inheriting append: stays legacy (mixed-era
    // sidecars must not claim current semantics)
    markLegacy(b)
    assert(Manifests.partSemOf(spark, b, v1) === 1)
    spark.sql(s"INSERT INTO graft.`$b` SELECT * FROM graft_psem_inh_app")
    val v2 = Manifests.latestVersion(spark, b).get
    assert(Manifests.partSemOf(spark, b, v2) === 1,
      "a commit carrying legacy segments forward must stay legacy")
    // OPTIMIZE re-derives every tuple -> upgrade
    Manifests.compact(spark, b, 4)
    val v3 = Manifests.latestVersion(spark, b).get
    assert(Manifests.partSemOf(spark, b, v3) === Manifests.PartSemCurrent)
    // restore to the legacy version: the stamp rolls back with it
    Manifests.restore(spark, b, v2)
    val v4 = Manifests.latestVersion(spark, b).get
    assert(Manifests.partSemOf(spark, b, v4) === 1,
      "restore must carry the restored version's semantics stamp")
  }

  test("pre-UTC table: TZ-sensitive pruning refuses (plans all files, exact rows); OPTIMIZE restores pruning") {
    val b = monthlyCtas("prune")
    // trusted: the Feb predicate prunes to Feb+Mar (range widening
    // loses strictness at month granularity — conservative)
    assert(plannedFiles(febFilter(b)) === 2)
    markLegacy(b)
    // legacy: months(invoice_ts) must NOT lower -> all 4 files plan,
    // rows stay exact
    assert(febFilter(b).count() === 1000)
    assert(plannedFiles(febFilter(b)) === 4,
      "a pre-UTC table must not prune through months(timestamp)")
    Manifests.compact(spark, b, 4)
    assert(febFilter(b).count() === 1000)
    assert(plannedFiles(febFilter(b)) < 4,
      "OPTIMIZE must restore TZ-sensitive pruning")
  }

  test("pre-UTC table: SPJ claim refused (shuffles, no wrong zero-Exchange plan)") {
    registerCatalog()
    val da = monthlyCtas("spja")
    val db = tmp("spjb")
    spark.conf.set("graft.write.splitByPartition", "true")
    try spark.sql(s"CREATE TABLE graft.`$db` PARTITIONED BY " +
      "(months(invoice_ts)) AS SELECT invoice_ts, COUNT(*) AS n_sales " +
      "FROM graft_psem_src_spja GROUP BY invoice_ts")
    finally spark.conf.unset("graft.write.splitByPartition")
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    def exchanges(): Int = {
      val q = spark.sql(
        s"""SELECT /*+ MERGE(r) */ a.sale_id, r.n_sales
           |FROM graft.`$da` a JOIN graft.`$db` r
           |  ON a.invoice_ts = r.invoice_ts""".stripMargin)
      assert(q.count() === 4000, "join content drifted")
      finalNodes(q).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec])
    }
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "true")
      spark.conf.set(keys(2), "-1")
      assert(exchanges() === 0, "co-partitioned monthly pair must SPJ")
      markLegacy(da)
      assert(exchanges() > 0,
        "a pre-UTC side must not claim key-grouped partitioning — " +
          "its recorded month tuples may disagree with current " +
          "derivations near granule boundaries")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pre-UTC table: exact metadata DML refuses through months(timestamp) — aligned INSERT OVERWRITE errors instead of mis-classifying") {
    import spark.implicits._
    val b = monthlyCtas("ovw")
    markLegacy(b)
    val feb = (0 until 50).map { i =>
      (90000L + i, java.sql.Timestamp.valueOf("2011-02-15 12:00:00"),
        i * 3.0)
    }.toDF("sale_id", "invoice_ts", "amount")
    val lo = java.sql.Timestamp.valueOf("2011-02-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2011-03-01 00:00:00")
    val e = intercept[Exception] {
      feb.writeTo(s"graft.`$b`")
        .overwrite(col("invoice_ts") >= lit(lo) &&
          col("invoice_ts") < lit(hi))
    }
    assert(e.getMessage.toLowerCase.contains("aligned"), e.getMessage)
    // the aligned DELETE keeps the ROW-LEVEL path instead (content
    // stays exact either way — the gate only changes the route)
    spark.sql(s"DELETE FROM graft.`$b` WHERE invoice_ts < " +
      "TIMESTAMP '2011-02-01 00:00:00'")
    val expect = monthlyDf.filter(col("invoice_ts") >= lit(lo)).count()
    assert(spark.table(s"graft.`$b`").count() === expect)
    // dynamic overwrite refuses with the OPTIMIZE remedy
    val e2 = intercept[Exception] {
      feb.writeTo(s"graft.`$b`").overwritePartitions()
    }
    assert(e2.getMessage.contains("pre-UTC"), e2.getMessage)
  }

  test("identity/bucket specs stay fully trusted on a pre-UTC table (their semantics never changed)") {
    import spark.implicits._
    registerCatalog()
    val b = tmp("ident")
    val df = (0 until 1000).map(i =>
      (i.toLong, s"NATION_${i % 4}", i * 2.0))
      .toDF("id", "country", "amount")
    spark.conf.set("graft.write.splitByPartition", "true")
    try Manifests.commitDataPartitioned(df, b, Seq("country"))
    finally spark.conf.unset("graft.write.splitByPartition")
    markLegacy(b)
    assert(Manifests.partSemOf(spark, b, 0) === 1)
    val q = spark.table(s"graft.`$b`")
      .filter(col("country") === "NATION_2")
    assert(q.count() === 250)
    assert(plannedFiles(q) === 1,
      "identity pruning must survive a legacy stamp")
  }

  test("evolve to a re-spelled identical spec is a no-op (parsed-field compare, not string compare)") {
    val b = monthlyCtas("noop")
    val v = Manifests.latestVersion(spark, b).get
    assert(Manifests.evolvePartitions(spark, b,
      Seq("months( invoice_ts )")) === v,
      "a re-spelled identical spec must not burn a version")
    assert(Manifests.evolvePartitions(spark, b,
      Seq(" months(invoice_ts) ")) === v)
  }
}
