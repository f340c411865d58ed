package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PARTITION EVOLUTION (Iceberg's ALTER ... PARTITION FIELD family) +
  * transform-ALIGNED metadata DML:
  *
  *  - `evolvePartitions` is a metadata-only commit: future writes
  *    derive tuples under the new spec, existing files keep planning
  *    under the spec they were written with, and pruning intersects
  *    the per-spec survivor sets;
  *  - the SPJ purity proof degrades across an evolve (mixed-spec
  *    versions report unknown partitioning) and OPTIMIZE restores it
  *    by rewriting the table under one spec;
  *  - SQL DELETE whose condition is EXACTLY decidable on the tuples —
  *    identity columns, or a transform-aligned boundary like
  *    `ts < DATE '1995-01-01'` on a monthly table — retires whole
  *    files from metadata (zero new data files); mid-granule
  *    conditions keep the row-level path. */
class PartitionEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def registerCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.manifest.ManifestCatalog")

  private def tmp(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_pe_$tag").toString + "/t"

  /** Timestamped rows across 4 months of 2011 (Jan..Apr). */
  private def monthlyDf = {
    import spark.implicits._
    (0 until 4000).map { i =>
      val month = 1 + (i % 4)
      val day = 1 + (i % 27)
      (i.toLong, java.sql.Timestamp.valueOf(
        f"2011-$month%02d-$day%02d 10:30:00"), i * 1.5)
    }.toDF("sale_id", "invoice_ts", "amount")
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

  /** Planned-file count straight off the manifest index (live renames
    * take the era-composing V1 detour whose physical plan hides the
    * file scan — the index IS where pruning happens either way). */
  private def indexPlannedFiles(b: String, v: Int, col: String,
      lo: String, hi: String): Int = {
    import org.apache.spark.sql.catalyst.expressions._
    val attr = AttributeReference(col,
      org.apache.spark.sql.types.TimestampType)()
    val pred = And(
      GreaterThanOrEqual(attr, Literal(java.sql.Timestamp.valueOf(lo))),
      LessThan(attr, Literal(java.sql.Timestamp.valueOf(hi))))
    new ManifestFileIndex(spark, b, v)
      .listFiles(Nil, Seq(pred)).map(_.files.length).sum
  }

  private def monthlyCtas(tag: String): String = {
    registerCatalog()
    val b = tmp(tag)
    monthlyDf.createOrReplaceTempView(s"graft_pe_src_$tag")
    spark.conf.set("graft.write.splitByPartition", "true")
    try spark.sql(s"CREATE TABLE graft.`$b` PARTITIONED BY " +
      s"(months(invoice_ts)) AS SELECT * FROM graft_pe_src_$tag")
    finally spark.conf.unset("graft.write.splitByPartition")
    b
  }

  test("evolve months->days: metadata-only commit, both eras prune under their own spec, appends derive under the new one") {
    import spark.implicits._
    val b = monthlyCtas("evo")
    val filesBefore = Manifests.files(spark, b, 0)
    // the evolve burns one metadata version: same files, new spec,
    // old spec moved to history
    val ev = spark.sql(
      s"CALL graft.system.evolve_partitions('$b', 'days(invoice_ts)')")
      .head.getInt(0)
    assert(ev === 1)
    assert(Manifests.files(spark, b, ev) === filesBefore,
      "evolve must not touch data files")
    assert(Manifests.partitionedBy(spark, b, ev).get._1 ===
      Seq("days(invoice_ts)"))
    val hist = Manifests.partitionHistory(spark, b, ev)
    assert(hist.map(_._1) === Seq(Seq("months(invoice_ts)")))
    // a repeat evolve to the SAME spec is a no-op
    assert(Manifests.evolvePartitions(spark, b,
      Seq("days(invoice_ts)")) === ev)
    // appends now derive DAY tuples (split at tuple boundaries: one
    // file per day, like the bootstrap)
    (0 until 300).map { i =>
      (10000L + i, java.sql.Timestamp.valueOf(
        f"2011-05-${1 + (i % 3)}%02d 08:00:00"), i * 2.0)
    }.toDF("sale_id", "invoice_ts", "amount")
      .createOrReplaceTempView("graft_pe_may")
    spark.conf.set("graft.write.splitByPartition", "true")
    try spark.sql(s"INSERT INTO graft.`$b` SELECT * FROM graft_pe_may")
    finally spark.conf.unset("graft.write.splitByPartition")
    val t = spark.table(s"graft.`$b`")
    val total = plannedFiles(t) // 4 monthly + 3 daily
    assert(total === 7, s"unexpected file layout: $total")
    assert(t.count() === 4300)
    // a MARCH predicate prunes through BOTH eras: the legacy months
    // keep Mar + Apr (range strictness is lost at month granularity —
    // conservative widening, same as pre-evolution), the day tuples
    // prune every May file
    val march = t.filter($"invoice_ts" >=
      java.sql.Timestamp.valueOf("2011-03-01 00:00:00") &&
      $"invoice_ts" < java.sql.Timestamp.valueOf("2011-04-01 00:00:00"))
    assert(march.count() === 1000)
    assert(plannedFiles(march) === 2,
      "cross-era pruning should keep Mar+Apr legacy files only")
    // a point lookup in the post-evolve era lowers EXACTLY through the
    // day tuples (one daily file) and the widened month equality
    // prunes every legacy file
    val mayEq = t.filter($"invoice_ts" ===
      java.sql.Timestamp.valueOf("2011-05-02 08:00:00"))
    assert(mayEq.count() === 100)
    assert(plannedFiles(mayEq) === 1,
      "day-granule pruning on the post-evolve era never bit")
  }

  test("SPJ degrades across an evolve; OPTIMIZE unifies the spec and restores zero-Exchange") {
    registerCatalog()
    val da = monthlyCtas("spja")
    val db = tmp("spjb")
    spark.conf.set("graft.write.splitByPartition", "true")
    try spark.sql(s"CREATE TABLE graft.`$db` PARTITIONED BY " +
      "(months(invoice_ts)) AS SELECT invoice_ts, COUNT(*) AS n_sales " +
      "FROM graft_pe_src_spja GROUP BY invoice_ts")
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
      // count over the FULL recursed node list — under AQE the join's
      // children are leaf QueryStageExec nodes whose exchanges a plain
      // subtree collect would miss (finalNodes recurses through them)
      finalNodes(q).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec])
    }
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "true")
      spark.conf.set(keys(2), "-1")
      assert(exchanges() === 0, "co-partitioned monthly pair must SPJ")
      // evolve table A: the mixed-spec version must report UNKNOWN
      // partitioning (no wrong zero-Exchange plan), so the join pays
      // its shuffles again
      Manifests.evolvePartitions(spark, da, Seq("days(invoice_ts)"))
      assert(exchanges() > 0,
        "a mixed-spec table must not claim key-grouped partitioning")
      // evolve BACK: still degraded — the current months group is
      // empty until a rewrite re-derives the files under it
      Manifests.evolvePartitions(spark, da, Seq("months(invoice_ts)"))
      assert(exchanges() > 0)
      // OPTIMIZE rewrites every file under the current spec, drops the
      // spent history, and thereby RESTORES the purity proof
      Manifests.compact(spark, da, 4)
      val v = Manifests.latestVersion(spark, da).get
      assert(Manifests.partitionHistory(spark, da, v).isEmpty,
        "a full rewrite must retire the evolution history")
      assert(exchanges() === 0,
        "OPTIMIZE under one spec must restore the SPJ plan")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("month-aligned DELETE is metadata-only; mid-month DELETE pays the row-level path") {
    import spark.implicits._
    val b = monthlyCtas("del")
    val v0 = Manifests.latestVersion(spark, b).get
    val before = Manifests.files(spark, b, v0).toSet
    // ALIGNED boundary: January retires whole from the month tuples —
    // zero new data files, the manifest only shrinks
    spark.sql(s"DELETE FROM graft.`$b` WHERE invoice_ts < " +
      "TIMESTAMP '2011-02-01 00:00:00'")
    val v1 = Manifests.latestVersion(spark, b).get
    val after = Manifests.files(spark, b, v1).toSet
    assert(after.subsetOf(before),
      s"aligned DELETE must not write data files: ${after -- before}")
    assert(after.size < before.size, "no file retired")
    val expect1 = monthlyDf.filter($"invoice_ts" >=
      java.sql.Timestamp.valueOf("2011-02-01 00:00:00")).count()
    assert(spark.table(s"graft.`$b`").count() === expect1)
    // MID-month boundary: not decidable on month tuples — row-level
    // path, exact content, boundary files rewritten
    spark.sql(s"DELETE FROM graft.`$b` WHERE invoice_ts >= " +
      "TIMESTAMP '2011-04-15 00:00:00'")
    val expect2 = monthlyDf.filter($"invoice_ts" >=
        java.sql.Timestamp.valueOf("2011-02-01 00:00:00") &&
        $"invoice_ts" < java.sql.Timestamp.valueOf("2011-04-15 00:00:00"))
      .count()
    assert(spark.table(s"graft.`$b`").count() === expect2)
    val v2 = Manifests.latestVersion(spark, b).get
    assert((Manifests.files(spark, b, v2).toSet -- after).nonEmpty,
      "the mid-month DELETE should have rewritten the April boundary file")
    // and the row-level era composes with a later ALIGNED delete
    spark.sql(s"DELETE FROM graft.`$b` WHERE invoice_ts >= " +
      "TIMESTAMP '2011-03-01 00:00:00' AND invoice_ts < " +
      "TIMESTAMP '2011-04-01 00:00:00'")
    val expect3 = monthlyDf.filter(($"invoice_ts" >=
        java.sql.Timestamp.valueOf("2011-02-01 00:00:00") &&
        $"invoice_ts" < java.sql.Timestamp.valueOf("2011-03-01 00:00:00")) ||
        ($"invoice_ts" >= java.sql.Timestamp.valueOf("2011-04-01 00:00:00") &&
          $"invoice_ts" < java.sql.Timestamp.valueOf("2011-04-15 00:00:00")))
      .count()
    assert(spark.table(s"graft.`$b`").count() === expect3)
  }

  test("aligned INSERT OVERWRITE after an evolve: a region aligned under BOTH specs replaces legacy files by metadata") {
    import spark.implicits._
    val b = monthlyCtas("evoovw")
    Manifests.evolvePartitions(spark, b, Seq("days(invoice_ts)"))
    val v1 = Manifests.latestVersion(spark, b).get
    val before = Manifests.files(spark, b, v1).toSet
    val feb = (0 until 50).map { i =>
      (91000L + i, java.sql.Timestamp.valueOf("2011-02-10 12:00:00"),
        i * 2.0)
    }.toDF("sale_id", "invoice_ts", "amount")
    val lo = java.sql.Timestamp.valueOf("2011-02-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2011-03-01 00:00:00")
    feb.writeTo(s"graft.`$b`")
      .overwrite($"invoice_ts" >= lit(lo) && $"invoice_ts" < lit(hi))
    val v2 = Manifests.latestVersion(spark, b).get
    val after = Manifests.files(spark, b, v2).toSet
    // the legacy February file retires WHOLE from its month tuple —
    // no boundary rewrite, so every new file is the incoming batch
    // (an empty survivor file would betray the rewrite path)
    assert((before -- after).size === 1,
      s"exactly the February file should retire: ${before -- after}")
    assert((after -- before).forall(f =>
      spark.read.parquet(f).count() > 0),
      "aligned overwrite must not write (empty) survivor files")
    val expect = monthlyDf.filter($"invoice_ts" < lit(lo) ||
      $"invoice_ts" >= lit(hi)).count() + 50
    assert(spark.table(s"graft.`$b`").count() === expect)
  }

  test("partition-source rename is a metadata commit: specs and sidecars re-key, pruning + aligned DELETE work under the new name, history rides") {
    import spark.implicits._
    val b = monthlyCtas("ren")
    // evolve first so a LEGACY group must survive the rename too
    Manifests.evolvePartitions(spark, b, Seq("days(invoice_ts)"))
    val filesBefore = Manifests.files(spark, b,
      Manifests.latestVersion(spark, b).get).toSet
    Manifests.renameColumn(spark, b, "invoice_ts", "sold_at")
    val v = Manifests.latestVersion(spark, b).get
    assert(Manifests.files(spark, b, v).toSet === filesBefore,
      "a partition-source rename must not touch data files")
    assert(Manifests.partitionedBy(spark, b, v).get._1 ===
      Seq("days(sold_at)"))
    assert(Manifests.partitionHistory(spark, b, v).map(_._1) ===
      Seq(Seq("months(sold_at)")),
      "legacy spec groups must follow the rename")
    // pruning under the NEW name through the re-keyed LEGACY sidecar
    val feb = spark.table(s"graft.`$b`").filter(col("sold_at") >=
      java.sql.Timestamp.valueOf("2011-02-01 00:00:00") &&
      col("sold_at") < java.sql.Timestamp.valueOf("2011-03-01 00:00:00"))
    assert(feb.count() === 1000)
    assert(indexPlannedFiles(b, v, "sold_at",
      "2011-02-01 00:00:00", "2011-03-01 00:00:00") === 2,
      "month pruning must survive the source rename (Feb+Mar widened)")
    // aligned DELETE under the new name retires the January file from
    // the legacy group's metadata — still zero new data files
    spark.sql(s"DELETE FROM graft.`$b` WHERE sold_at < " +
      "TIMESTAMP '2011-02-01 00:00:00'")
    val v2 = Manifests.latestVersion(spark, b).get
    val after = Manifests.files(spark, b, v2).toSet
    assert(after.subsetOf(filesBefore) &&
      after.size === filesBefore.size - 1,
      "aligned DELETE after a source rename must stay metadata-only")
    assert(spark.table(s"graft.`$b`").count() === 3000)
    // the renamed history rides a clone
    val c = tmp("rencl")
    Manifests.shallowClone(spark, b, c, v2)
    assert(Manifests.partitionHistory(spark, c, 0).map(_._1) ===
      Seq(Seq("months(sold_at)")))
    val cq = spark.table(s"graft.`$c`").filter(col("sold_at") >=
      java.sql.Timestamp.valueOf("2011-03-01 00:00:00") &&
      col("sold_at") < java.sql.Timestamp.valueOf("2011-04-01 00:00:00"))
    assert(cq.count() === 1000)
    assert(indexPlannedFiles(c, 0, "sold_at",
      "2011-03-01 00:00:00", "2011-04-01 00:00:00") < 3,
      "clone lost renamed-group pruning")
  }

  test("spec history rides clone and restore: a shallow clone of an evolved table keeps legacy-group pruning; restore returns the restored version's history") {
    import spark.implicits._
    val b = monthlyCtas("clone")
    Manifests.evolvePartitions(spark, b, Seq("days(invoice_ts)")) // v1
    val c = tmp("clonedst")
    Manifests.shallowClone(spark, b, c, 1)
    assert(Manifests.partitionHistory(spark, c, 0).map(_._1) ===
      Seq(Seq("months(invoice_ts)")),
      "the clone must carry the source's legacy spec groups")
    // legacy-group pruning works on the clone: a Feb predicate plans
    // fewer files than the table holds
    val q = spark.table(s"graft.`$c`").filter($"invoice_ts" >=
      java.sql.Timestamp.valueOf("2011-02-01 00:00:00") &&
      $"invoice_ts" < java.sql.Timestamp.valueOf("2011-03-01 00:00:00"))
    assert(q.count() === 1000)
    assert(plannedFiles(q) < 4, "clone lost legacy-group pruning")
    // restore the ORIGINAL pre-evolve version: its (empty) history
    // comes back with it, not the superseded latest's
    Manifests.restore(spark, b, 0)
    val vr = Manifests.latestVersion(spark, b).get
    assert(Manifests.partitionHistory(spark, b, vr).isEmpty,
      "restore must carry the restored version's history, not inherit")
    assert(Manifests.partitionedBy(spark, b, vr).get._1 ===
      Seq("months(invoice_ts)"))
  }

  test("transform-aligned INSERT OVERWRITE: a month-boundary region replaces whole files by metadata; mid-month refuses") {
    import spark.implicits._
    val b = monthlyCtas("ovw")
    val v0 = Manifests.latestVersion(spark, b).get
    val before = Manifests.files(spark, b, v0).toSet
    val feb = (0 until 50).map { i =>
      (90000L + i, java.sql.Timestamp.valueOf("2011-02-15 12:00:00"),
        i * 3.0)
    }.toDF("sale_id", "invoice_ts", "amount")
    val lo = java.sql.Timestamp.valueOf("2011-02-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2011-03-01 00:00:00")
    feb.writeTo(s"graft.`$b`")
      .overwrite($"invoice_ts" >= lit(lo) && $"invoice_ts" < lit(hi))
    val v1 = Manifests.latestVersion(spark, b).get
    val after = Manifests.files(spark, b, v1).toSet
    // untouched months CARRY BY REFERENCE (3 of the 4 original files
    // survive verbatim); the February file retires whole
    assert((before -- after).size === 1,
      s"exactly the February file should retire: ${before -- after}")
    assert((before & after).size === 3)
    val expect = monthlyDf.filter($"invoice_ts" < lit(lo) ||
      $"invoice_ts" >= lit(hi)).count() + 50
    assert(spark.table(s"graft.`$b`").count() === expect)
    // mid-month region: not decidable on month tuples — refuses with
    // the actionable message instead of a silent whole-granule replace
    val e = intercept[Exception] {
      (0 until 5).map(i => (95000L + i, java.sql.Timestamp.valueOf(
        "2011-03-20 12:00:00"), i * 1.0))
        .toDF("sale_id", "invoice_ts", "amount")
        .writeTo(s"graft.`$b`")
        .overwrite($"invoice_ts" >=
          lit(java.sql.Timestamp.valueOf("2011-03-10 00:00:00")))
    }
    assert(e.getMessage.contains("ALIGNED") ||
      e.getMessage.contains("aligned"), e.getMessage)
  }

  test("vacuum keeps legacy-group sidecars a retained version still plans with") {
    import spark.implicits._
    val b = monthlyCtas("vac")
    Manifests.evolvePartitions(spark, b, Seq("days(invoice_ts)")) // v1
    (0 until 100).map { i =>
      (20000L + i, java.sql.Timestamp.valueOf("2011-05-01 08:00:00"),
        i * 1.0)
    }.toDF("sale_id", "invoice_ts", "amount")
      .createOrReplaceTempView("graft_pe_vac_may")
    spark.sql(s"INSERT INTO graft.`$b` SELECT * FROM graft_pe_vac_may")
    // drop v0 and v1: only v2 (post-append) survives — its legacy
    // months group must keep its sidecar through both reclaim paths
    val (dropped, _) = Manifests.vacuum(spark, b, keepLast = 1)
    assert(dropped.nonEmpty)
    Manifests.filesMemo.evict(spark, _._1 == b)
    graft.ext.SidecarCache.cache.evict(spark)
    val v = Manifests.latestVersion(spark, b).get
    val legacySegs = Manifests.partitionHistory(spark, b, v).flatMap(_._2)
    assert(legacySegs.nonEmpty &&
      legacySegs.forall(Dfs.exists(spark, _)),
      "vacuum reclaimed a legacy spec group's sidecar that the " +
        "retained version still plans with")
    // and the table still PRUNES and answers through both eras
    val feb = spark.table(s"graft.`$b`").filter($"invoice_ts" >=
      java.sql.Timestamp.valueOf("2011-02-01 00:00:00") &&
      $"invoice_ts" < java.sql.Timestamp.valueOf("2011-03-01 00:00:00"))
    assert(feb.count() === 1000)
    assert(plannedFiles(feb) < plannedFiles(spark.table(s"graft.`$b`")))
  }

  test("aligned DELETE after an evolve: a condition aligned under BOTH specs retires legacy files from metadata too") {
    import spark.implicits._
    val b = monthlyCtas("evodel")
    Manifests.evolvePartitions(spark, b, Seq("days(invoice_ts)"))
    val v1 = Manifests.latestVersion(spark, b).get
    val before = Manifests.files(spark, b, v1).toSet
    // Feb 1 is a month start AND a day start: exact under the current
    // days spec (routes to dropPartitions) and under the legacy months
    // group — so the January file retires from the LEGACY tuples with
    // zero new data files, instead of paying the boundary rewrite
    spark.sql(s"DELETE FROM graft.`$b` WHERE invoice_ts < " +
      "TIMESTAMP '2011-02-01 00:00:00'")
    val v2 = Manifests.latestVersion(spark, b).get
    val after = Manifests.files(spark, b, v2).toSet
    assert(after.subsetOf(before),
      s"an aligned-under-both-specs DELETE must not write data " +
        s"files: ${after -- before}")
    assert(after.size === before.size - 1, "January should retire whole")
    val expect = monthlyDf.filter($"invoice_ts" >=
      java.sql.Timestamp.valueOf("2011-02-01 00:00:00")).count()
    assert(spark.table(s"graft.`$b`").count() === expect)
    // a MID-month day boundary is exact under days but NOT months: the
    // legacy files pay the boundary rewrite, content stays exact
    spark.sql(s"DELETE FROM graft.`$b` WHERE invoice_ts >= " +
      "TIMESTAMP '2011-04-15 00:00:00'")
    val expect2 = monthlyDf.filter($"invoice_ts" >=
        java.sql.Timestamp.valueOf("2011-02-01 00:00:00") &&
        $"invoice_ts" < java.sql.Timestamp.valueOf("2011-04-15 00:00:00"))
      .count()
    assert(spark.table(s"graft.`$b`").count() === expect2)
  }
}
