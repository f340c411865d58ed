package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 statistics reporting from the manifest metadata tier — the
  * planner-parity contract: catalog scans serve `sizeInBytes`, exact
  * live `numRows` and ANALYZE column stats from sidecars alone (zero
  * data-file opens), deletion vectors shrink the estimates, the V1
  * detour scan reports through the `V1ScanWrapper` that would
  * otherwise swallow its numbers, and a pure-SQL star join broadcasts
  * its dim side with no hint anywhere. */
class ManifestStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def registerCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.manifest.ManifestCatalog")

  private def scanStats(sql: String)
      : Seq[(String, org.apache.spark.sql.catalyst.plans.logical.Statistics)] =
    spark.sql(sql).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        (r.scan.getClass.getSimpleName, r.stats)
    }

  private def dimDf = {
    import spark.implicits._
    (1 to 1500).map(i => (i.toLong, s"cust_$i", s"N${i % 7}"))
      .toDF("customer_key", "customer_id", "country")
  }

  test("catalog scan reports exact numRows + column stats from sidecars, zero data opens") {
    registerCatalog()
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    // "graftcnt://" + an absolute path → "graftcnt:///…" (empty
    // authority), which the catalog's path-table detection recognizes
    val b = "graftcnt://" +
      java.nio.file.Files.createTempDirectory("graft_stats_dim").toString + "/t"
    Manifests.commitData(dimDf, b)

    // before ANALYZE: size-only (file bytes), no row count — and far
    // from the Long.MaxValue default a non-reporting source gets
    val (_, st0) = scanStats(s"SELECT * FROM graft.`$b`").head
    assert(st0.rowCount.isEmpty)
    assert(st0.sizeInBytes > 0 &&
      st0.sizeInBytes < BigInt(10) * 1024 * 1024)

    Manifests.analyze(spark, b, Seq("customer_key", "country"))

    // the stats fold must open ZERO data files: sidecar + manifest
    // metadata only (the 100 TB contract — a million-file table plans
    // its joins without touching a footer)
    val d0 = CountingFileSystem.dataReads.get()
    val (_, st1) = scanStats(s"SELECT * FROM graft.`$b`").head
    assert(st1.rowCount === Some(BigInt(1500)))
    assert(CountingFileSystem.dataReads.get() === d0,
      "stats estimation opened a data file")

    // ANALYZE column statistics ride into the catalyst plan: NDV
    // (HLL++ estimate), exact zone-fold min/max, exact null counts
    val attrs = st1.attributeStats.map { case (a, c) => a.name -> c }
    val country = attrs("country")
    assert(country.distinctCount.exists(n => n >= 6 && n <= 8))
    assert(country.nullCount === Some(BigInt(0)))
    val ck = attrs("customer_key")
    assert(ck.min.contains(1L) && ck.max.contains(1500L))
    assert(ck.distinctCount.exists(n => n > 1400 && n < 1600))
  }

  test("merge-on-read delete shrinks numRows exactly and sizeInBytes proportionally") {
    registerCatalog()
    val b = java.nio.file.Files
      .createTempDirectory("graft_stats_dv").toString + "/t"
    Manifests.commitData(dimDf, b)
    Manifests.analyze(spark, b, Seq("customer_key"))
    val (_, clean) = scanStats(s"SELECT * FROM graft.`$b`").head
    Manifests.deleteWhereMor(spark, b, col("country") =!= "N3")
    val live = Manifests.readLatest(spark, b).count()
    val (_, vec) = scanStats(s"SELECT * FROM graft.`$b`").head
    assert(vec.rowCount === Some(BigInt(live)),
      s"DV-adjusted numRows ${vec.rowCount} != live $live")
    assert(vec.sizeInBytes < clean.sizeInBytes / 3,
      s"sizeInBytes ${vec.sizeInBytes} not live-scaled vs ${clean.sizeInBytes}")
    // null counts are RAW sidecar arithmetic — on a vectored version
    // live-minus-raw-non-null would UNDERcount live nulls (clamping to
    // 0), so they must not be reported at all
    assert(vec.attributeStats.forall { case (_, c) => c.nullCount.isEmpty },
      "vectored version must not report (understated) null counts")
  }

  test("V1 detour scan (live rename) reports manifest stats through V1ScanWrapper") {
    registerCatalog()
    val b = java.nio.file.Files
      .createTempDirectory("graft_stats_ren").toString + "/t"
    Manifests.commitData(dimDf, b)
    Manifests.analyze(spark, b, Seq("customer_key"))
    Manifests.renameColumn(spark, b, "country", "region")
    val q = spark.sql(s"SELECT * FROM graft.`$b`")
    val nodes = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(nodes.size === 1)
    // the rule must have substituted the stats-reporting node — a
    // plain wrapper relation would plan at defaultSizeInBytes
    assert(nodes.head.isInstanceOf[
      org.apache.spark.sql.graft.ReportingV1ScanRelation],
      s"detour relation not stats-wrapped: ${nodes.head.getClass}")
    val st = nodes.head.stats
    assert(st.rowCount === Some(BigInt(1500)))
    assert(st.sizeInBytes < BigInt(10) * 1024 * 1024)
    // rows still read correctly through the detour
    assert(q.count() === 1500)
  }

  test("pure-SQL star join over catalog tables broadcasts the dim with no hint") {
    import spark.implicits._
    registerCatalog()
    val dimB = java.nio.file.Files
      .createTempDirectory("graft_stats_sj_dim").toString + "/t"
    val factB = java.nio.file.Files
      .createTempDirectory("graft_stats_sj_fact").toString + "/t"
    Manifests.commitData(dimDf, dimB)
    Manifests.analyze(spark, dimB, Seq("customer_key"))
    Manifests.commitData(
      (1 to 300000).map(i =>
        (i.toLong, (i % 1500 + 1).toLong, (i * 2654435761L) % 97, i * 1.5))
        .toDF("invoice_no", "customer_key", "quantity", "amount"),
      factB)
    // threshold well under the fact's bytes and well over the dim's:
    // only CORRECT per-side estimates produce a broadcast here — a
    // defaultSizeInBytes dim would shuffle both sides
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
    try {
      val q = spark.sql(
        s"""SELECT d.country, COUNT(*) AS n, SUM(f.amount) AS amt
           |FROM graft.`$factB` f JOIN graft.`$dimB` d
           |  ON f.customer_key = d.customer_key
           |GROUP BY d.country""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"catalog star join did not broadcast:\n${plan.take(3000)}")
      assert(!plan.contains("SortMergeJoin"),
        "no shuffle join expected in the catalog star join")
      // the broadcast side must be the DIM: its scan appears under the
      // BroadcastExchange subtree
      val bx = plan.indexOf("BroadcastExchange")
      assert(bx >= 0 && plan.indexOf(dimB.stripPrefix("/"), bx) > bx,
        s"broadcast side is not the dim:\n${plan.take(3000)}")
      assert(q.collect().map(_.getLong(1)).sum === 300000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("metadata COUNT(*) over a vectored version: LocalRelation collapse, exact, zero data opens; MIN/MAX keeps the scan") {
    registerCatalog()
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    val b = "graftcnt://" + java.nio.file.Files
      .createTempDirectory("graft_stats_fcm").toString + "/t"
    Manifests.commitData(dimDf, b)
    Manifests.analyze(spark, b, Seq("customer_key", "country"))
    Manifests.deleteWhereMor(spark, b, col("country") === "N3")
    val live = Manifests.readLatest(spark, b).count()
    val d0 = CountingFileSystem.dataReads.get()
    val q = spark.sql(s"SELECT COUNT(*) AS n FROM graft.`$b`")
    val collapsed = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(collapsed.nonEmpty,
      s"vectored COUNT(*) did not collapse:\n${q.queryExecution.optimizedPlan}")
    assert(q.head.getLong(0) === live)
    assert(CountingFileSystem.dataReads.get() === d0,
      "vectored metadata count opened a data file")
    // zone bounds may be held up by deleted rows: MIN/MAX must keep
    // the real scan on a vectored version
    val q2 = spark.sql(s"SELECT MIN(customer_key) AS m FROM graft.`$b`")
    assert(q2.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isEmpty, "MIN over a vectored version must not fold stale bounds")
    assert(q2.head.getLong(0) ===
      Manifests.readLatest(spark, b)
        .agg(org.apache.spark.sql.functions.min("customer_key"))
        .head.getLong(0))
  }

  test("registered sql_star_join broadcasts both dims at the default threshold, no hint") {
    val q = graft.SparkEntry.queries("sql_star_join")(spark, TestSpark.sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"star join did not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"star join shuffled a dim:\n${plan.take(3000)}")
    assert(q.collect().nonEmpty)
  }

  test("NDV stays inside the sketch's error band across N appends, no ANALYZE") {
    import spark.implicits._
    val b = java.nio.file.Files
      .createTempDirectory("graft_stats_band").toString + "/t"
    def batch(lo: Int, hi: Int) = (lo to hi).map(i =>
      (i.toLong, s"c_$i", s"N${i % 7}")).toDF(
      "customer_key", "customer_id", "country")
    Manifests.commitData(batch(1, 2000), b)
    Manifests.analyze(spark, b, Seq("customer_key"))
    // five appends, 2000 FRESH keys each → true NDV 12000; the stale
    // inherit-verbatim estimate would still say ~2000 (6× under)
    (1 to 5).foreach(i =>
      Manifests.append(batch(i * 2000 + 1, (i + 1) * 2000), b))
    val v = Manifests.latestVersion(spark, b).get
    val est = Manifests.ndvOf(spark, b, v)("customer_key")
    assert(est >= 10800 && est <= 13200,
      s"NDV estimate $est outside ±10% of true 12000 after 5 appends")
    // and the planner sees it: the unfiltered catalog scan reports the
    // folded NDV, not the ANALYZE-time one
    registerCatalog()
    val (_, st) = scanStats(s"SELECT * FROM graft.`$b`").head
    val ck = st.attributeStats.collectFirst {
      case (a, c) if a.name == "customer_key" => c }.get
    assert(ck.distinctCount.exists(n => n >= 10800 && n <= 13200))
  }

  test("CBO join reorder: sidecar NDV drives the join order (3-table star)") {
    import spark.implicits._
    registerCatalog()
    def mkt(name: String, df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): String = {
      val b = java.nio.file.Files
        .createTempDirectory(s"graft_cbo_$name").toString + "/t"
      Manifests.commitData(df, b)
      Manifests.analyze(spark, b, keys)
      b
    }
    // F: 100k rows, k1 NDV 100k, k2 NDV 1000. D1: 50k rows on k1
    // (|F⋈D1| ≈ 50k). D2: 2 rows on k2 (|F⋈D2| ≈ 100k·2/1000 = 200).
    // Only the NDV tier can rank (F⋈D2) ahead of the WRITTEN (F⋈D1).
    val f = mkt("f", (1 to 100000).map(i =>
      (i.toLong, (i % 1000).toLong, i * 1.5)).toDF("k1", "k2", "amt"),
      Seq("k1", "k2"))
    val d1 = mkt("d1", (1 to 50000).map(i =>
      (i.toLong, s"d1_$i")).toDF("k1", "n1"), Seq("k1"))
    val d2 = mkt("d2", Seq((7L, "d2_a"), (13L, "d2_b")).toDF("k2", "n2"),
      Seq("k2"))
    val q = s"""SELECT COUNT(*) AS n FROM graft.`$f` f
               |JOIN graft.`$d1` d1 ON f.k1 = d1.k1
               |JOIN graft.`$d2` d2 ON f.k2 = d2.k2""".stripMargin
    def leafOrder(sqlText: String): Seq[String] =
      spark.sql(sqlText).queryExecution.optimizedPlan.collectLeaves().map {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.table.name()
        case other => other.nodeName
      }
    def pos(order: Seq[String], b: String): Int =
      order.indexWhere(_.contains(b.split("/").takeRight(2).mkString("/")))
    val cboConfs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    try {
      cboConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      val reordered = leafOrder(q)
      assert(pos(reordered, d2) < pos(reordered, d1),
        s"CBO did not reorder the selective dim first: $reordered")
      // k2 ∈ {7,13} → 100 fact rows each; d1 keeps k1 ≤ 50000 (half)
      assert(spark.sql(q).head.getLong(0) === 100L)
    } finally cboConfs.foreach { case (k, _) => spark.conf.unset(k) }
    // without CBO the written order stands — the flip above is the
    // NDV tier talking, not a syntactic accident
    val written = leafOrder(q)
    assert(pos(written, d1) < pos(written, d2),
      s"baseline (CBO off) should keep the written join order: $written")
  }

  test("histogram flips the broadcast decision per VALUE: hot key stays shuffled, rare key broadcasts — uniform NDV cannot tell them apart") {
    import spark.implicits._
    registerCatalog()
    // skewed dim: 20k rows, country_key 7 holds 95% of them; 200 other
    // keys share the rest. Uniform NDV prices EVERY key at 1/201 of
    // the table (~100 rows) — the hot key is really 19k rows.
    val d = java.nio.file.Files
      .createTempDirectory("graft_hist_d").toString + "/t"
    val f = java.nio.file.Files
      .createTempDirectory("graft_hist_f").toString + "/t"
    val dim = (1 to 20000).map { i =>
      val ck = if (i % 20 != 0) 7L else (i % 201).toLong + 100L
      (i.toLong, ck, s"cust_$i" * 4)
    }.toDF("customer_key", "country_key", "pad")
    Manifests.commitData(dim, d)
    Manifests.analyze(spark, d, Seq("customer_key", "country_key"))
    Manifests.commitData((1 to 40000).map(i =>
      ((i % 20000 + 1).toLong, i * 2.0)).toDF("customer_key", "amount"), f)
    Manifests.analyze(spark, f, Seq("customer_key"))
    def joinSql(key: Long) =
      s"""SELECT COUNT(*) AS n FROM graft.`$f` t
         |JOIN graft.`$d` c ON t.customer_key = c.customer_key
         |WHERE c.country_key = $key""".stripMargin
    def joinKinds(sqlText: String): Seq[String] =
      spark.sql(sqlText).queryExecution.executedPlan.collect {
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          "broadcast"
        case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          "smj"
        case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          "shj"
      }
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      // sized so the TRUE hot side (19k rows × ~60 B) sits far above
      // and the true rare side (~100 rows) far below
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // WITHOUT a histogram the filtered dim's size estimate cannot
      // price the value: both keys plan identically (the baseline the
      // histogram exists to fix)
      val hotBefore = joinKinds(joinSql(7L))
      val rareBefore = joinKinds(joinSql(150L))
      assert(hotBefore === rareBefore,
        s"without a histogram both keys should plan alike: " +
          s"$hotBefore vs $rareBefore")
      // ANALYZE FOR HISTOGRAM through the catalog procedure
      spark.sql(s"CALL graft.system.analyze_histogram('$d', 'country_key')")
      val hot = joinKinds(joinSql(7L))
      val rare = joinKinds(joinSql(150L))
      assert(rare.contains("broadcast"),
        s"rare-key filtered dim must broadcast with a histogram: $rare")
      assert(!hot.contains("broadcast"),
        s"hot-key (95%) filtered dim must NOT broadcast: $hot")
      // estimate-vs-actual: the scan's filtered sizeInBytes prices the
      // two values ~3 orders of magnitude apart (uniform NDV gives one
      // number for both)
      def dimScanSize(sqlText: String): BigInt =
        spark.sql(sqlText).queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation
              if r.relation.table.name().contains(
                d.split("/").takeRight(2).mkString("/")) =>
            r.stats.sizeInBytes
        }.head
      val hotSize = dimScanSize(joinSql(7L))
      val rareSize = dimScanSize(joinSql(150L))
      assert(hotSize > rareSize * 50,
        s"histogram must separate hot/rare estimates: $hotSize vs $rareSize")
      // and the answers stay exact under both plans
      assert(spark.sql(joinSql(7L)).head.getLong(0) === 38000L)
      assert(spark.sql(joinSql(150L)).head.getLong(0) ===
        2L * dim.filter($"country_key" === 150L).count())
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("histogram sidecar inherits across appends and refreshes on re-ANALYZE") {
    import spark.implicits._
    val b = java.nio.file.Files
      .createTempDirectory("graft_hist_inh").toString + "/t"
    Manifests.commitData((1 to 1000).map(i =>
      (i.toLong, i % 10)).toDF("id", "k"), b)
    Manifests.analyzeHistograms(spark, b, Seq("k"), numBins = 8)
    val v1 = Manifests.latestVersion(spark, b).get
    val h1 = Manifests.histOf(spark, b, v1)
    assert(h1.contains("k") && h1("k")._2.size === 8)
    assert(math.abs(h1("k")._1 - 125.0) < 1.0, s"height ${h1("k")._1}")
    // with the incremental fold OFF an append inherits the histogram
    // verbatim (stale-tolerated like NDV under graft.ndv.incremental
    // = false); the default-on fold is pinned by its own test below
    spark.conf.set("graft.hist.incremental", "false")
    try {
      Manifests.append((1001 to 1050).map(i =>
        (i.toLong, 99)).toDF("id", "k"), b): Unit
    } finally spark.conf.unset("graft.hist.incremental")
    val v2 = Manifests.latestVersion(spark, b).get
    assert(Manifests.histOf(spark, b, v2) === h1)
    // a default-mode append FOLDS instead: same bin count, advanced
    // anchor, reshaped bins
    Manifests.append((1051 to 1100).map(i =>
      (i.toLong, 99)).toDF("id", "k"), b)
    val v2b = Manifests.latestVersion(spark, b).get
    val h2b = Manifests.histOf(spark, b, v2b)
    assert(h2b("k")._2.size === 8)
    assert(h2b("k") !== h1("k"))
    // anchor = the inherited 1000 + this fold's 50 (the fold-off
    // append's 50 rows never advanced it — exactly the staleness the
    // damp still covers)
    assert(Manifests.histRowsOf(spark, b, v2b) === Some(1050L))
    // re-ANALYZE refreshes: the new hot value 99 now dominates bins
    Manifests.analyzeHistograms(spark, b, Seq("k"), numBins = 8)
    val v3 = Manifests.latestVersion(spark, b).get
    val h3 = Manifests.histOf(spark, b, v3)
    assert(h3("k") !== h1("k"))
    assert(h3("k")._2.last._2 === 99.0, s"bins ${h3("k")._2}")
  }

  test("an append after RENAME COLUMN and DROP COLUMN of analyzed columns folds only the live ones") {
    import spark.implicits._
    val b = java.nio.file.Files
      .createTempDirectory("graft_hist_ddl").toString + "/t"
    Manifests.commitData((1 to 400).map(i =>
      (i.toLong, i % 10, i % 7, i % 5)).toDF("id", "k", "r", "d"), b)
    Manifests.analyze(spark, b, Seq("k", "r", "d"))
    Manifests.analyzeHistograms(spark, b, Seq("k", "r", "d"), numBins = 4)
    Manifests.renameColumn(spark, b, "r", "r2")
    Manifests.dropColumn(spark, b, "d")
    val v = Manifests.latestVersion(spark, b).get
    assert(Manifests.histOf(spark, b, v).keySet === Set("k"))
    assert(Manifests.ndvKmvOf(spark, b, v).keySet === Set("k"))
    Manifests.append((401 to 450).map(i =>
      (i.toLong, i % 10, i % 7)).toDF("id", "k", "r2"), b)
    val w = Manifests.latestVersion(spark, b).get
    assert(Manifests.histOf(spark, b, w).keySet === Set("k"))
    assert(Manifests.histRowsOf(spark, b, w) === Some(450L))
    val back = Manifests.readLatest(spark, b)
    assert(back.columns.toSeq === Seq("id", "k", "r2"))
    assert(back.count() === 450)
    assert(back.filter(col("r2").isNull).count() === 0)
  }

  test("stale histogram damps toward 1: appends that outgrow the ANALYZE anchor stop pricing old frequencies (fold off)") {
    import spark.implicits._
    registerCatalog()
    // pin the CONSERVATIVE fallback: with the incremental fold off the
    // anchor inherits verbatim and the damp is the only guard
    spark.conf.set("graft.hist.incremental", "false")
    val d = java.nio.file.Files
      .createTempDirectory("graft_hist_stale_d").toString + "/t"
    val f = java.nio.file.Files
      .createTempDirectory("graft_hist_stale_f").toString + "/t"
    // same skew shape as the broadcast-flip test: key 7 holds 95%,
    // 200 rare keys share the rest
    val dim = (1 to 20000).map { i =>
      val ck = if (i % 20 != 0) 7L else (i % 201).toLong + 100L
      (i.toLong, ck, s"cust_$i" * 4)
    }.toDF("customer_key", "country_key", "pad")
    Manifests.commitData(dim, d)
    Manifests.analyze(spark, d, Seq("customer_key", "country_key"))
    Manifests.analyzeHistograms(spark, d, Seq("country_key"))
    assert(Manifests.histRowsOf(spark, d,
      Manifests.latestVersion(spark, d).get) === Some(20000L))
    Manifests.commitData((1 to 40000).map(i =>
      ((i % 20000 + 1).toLong, i * 2.0)).toDF("customer_key", "amount"), f)
    Manifests.analyze(spark, f, Seq("customer_key"))
    def joinSql(key: Long) =
      s"""SELECT COUNT(*) AS n FROM graft.`$f` t
         |JOIN graft.`$d` c ON t.customer_key = c.customer_key
         |WHERE c.country_key = $key""".stripMargin
    def broadcasts(sqlText: String): Boolean =
      spark.sql(sqlText).queryExecution.executedPlan.collectFirst {
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          true
      }.nonEmpty
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // fresh: the rare key broadcasts on the histogram's pricing
      assert(broadcasts(joinSql(150L)),
        "fresh histogram must broadcast the rare key")
      // the table then QUADRUPLES with rows that make key 150 HOT —
      // the stale histogram still prices it at ~100 rows, which
      // without freshness damping would broadcast a 60k-row side
      Manifests.append((1 to 60000).map(i =>
        (20000L + i, 150L, s"late_$i" * 4))
        .toDF("customer_key", "country_key", "pad"), d)
      assert(Manifests.histRowsOf(spark, d,
        Manifests.latestVersion(spark, d).get) === Some(20000L),
        "the anchor must inherit unchanged across appends")
      assert(!broadcasts(joinSql(150L)),
        "a histogram 4x stale must not price the now-hot key at its " +
          "old frequency (freshness damping)")
      // re-ANALYZE restores sharpness: key 160 is still rare and
      // broadcasts; key 150 is now hot and must not
      Manifests.analyzeHistograms(spark, d, Seq("country_key"))
      assert(broadcasts(joinSql(160L)),
        "re-ANALYZE must restore the rare key's broadcast")
      assert(!broadcasts(joinSql(150L)),
        "re-ANALYZE must price the newly hot key as hot")
    } finally {
      spark.conf.unset("graft.hist.incremental")
      old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("incremental histogram fold: 4x growth via appends keeps per-value pricing sharp with NO re-ANALYZE") {
    import spark.implicits._
    registerCatalog()
    val d = java.nio.file.Files
      .createTempDirectory("graft_hist_fold_d").toString + "/t"
    val f = java.nio.file.Files
      .createTempDirectory("graft_hist_fold_f").toString + "/t"
    val dim = (1 to 20000).map { i =>
      val ck = if (i % 20 != 0) 7L else (i % 201).toLong + 100L
      (i.toLong, ck, s"cust_$i" * 4)
    }.toDF("customer_key", "country_key", "pad")
    Manifests.commitData(dim, d)
    Manifests.analyze(spark, d, Seq("customer_key", "country_key"))
    Manifests.analyzeHistograms(spark, d, Seq("country_key"))
    Manifests.commitData((1 to 40000).map(i =>
      ((i % 20000 + 1).toLong, i * 2.0)).toDF("customer_key", "amount"), f)
    Manifests.analyze(spark, f, Seq("customer_key"))
    def joinSql(key: Long) =
      s"""SELECT COUNT(*) AS n FROM graft.`$f` t
         |JOIN graft.`$d` c ON t.customer_key = c.customer_key
         |WHERE c.country_key = $key""".stripMargin
    def broadcasts(sqlText: String): Boolean =
      spark.sql(sqlText).queryExecution.executedPlan.collectFirst {
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          true
      }.nonEmpty
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(broadcasts(joinSql(150L)),
        "fresh histogram must broadcast the rare key")
      // QUADRUPLE the table across three appends that make key 150
      // hot; each fold advances the anchor and reshapes the bins
      (0 until 3).foreach { k =>
        Manifests.append((1 to 20000).map(i =>
          (40000L + k * 20000L + i, 150L, s"late_$i" * 4))
          .toDF("customer_key", "country_key", "pad"), d): Unit
      }
      val v = Manifests.latestVersion(spark, d).get
      assert(Manifests.histRowsOf(spark, d, v) === Some(80000L),
        "the fold must advance the freshness anchor with each append")
      // SHARPNESS SURVIVED GROWTH: the still-rare key 160 broadcasts
      // (the damp alone would have withheld the histogram at 4x), and
      // the newly hot key 150 prices hot
      assert(broadcasts(joinSql(160L)),
        "after 4x growth the folded histogram must still price the " +
          "rare key sharp enough to broadcast — no re-ANALYZE")
      assert(!broadcasts(joinSql(150L)),
        "the folded histogram must price the newly hot key as hot")
      // original hot key stays hot-priced too
      assert(!broadcasts(joinSql(7L)),
        "the original hot key must stay hot-priced across folds")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("filtered scan reports PRUNED-set column bounds; NDV clamps to subset rows") {
    import spark.implicits._
    registerCatalog()
    val b = java.nio.file.Files
      .createTempDirectory("graft_stats_prn").toString + "/t"
    // range-clustered layout: each file holds a contiguous key slice,
    // so a selective range filter prunes to a strict subset of files
    val df = (1 to 8000).map(i => (i.toLong, s"c_$i")).toDF("k", "c")
      .repartitionByRange(8, col("k"))
    Manifests.commitData(df, b)
    Manifests.analyze(spark, b, Seq("k"))
    val (_, whole) = scanStats(s"SELECT * FROM graft.`$b`").head
    val wk = whole.attributeStats.collectFirst {
      case (a, c) if a.name == "k" => c }.get
    assert(wk.max.contains(8000L) && wk.distinctCount.isDefined)
    val (_, pruned) = scanStats(
      s"SELECT * FROM graft.`$b` WHERE k <= 500").head
    val pk = pruned.attributeStats.collectFirst {
      case (a, c) if a.name == "k" => c }
      .getOrElse(fail(s"filtered scan lost its column stats: $pruned"))
    // bounds fold over the pruned files only: max is the top of the
    // covering slice(s) — far below the table max, at or above 500
    val pmax = pk.max.get.asInstanceOf[Long]
    assert(pmax >= 500L && pmax <= 2000L,
      s"pruned max $pmax should cover the filter but stay slice-sized")
    // NDV clamps to the subset's raw rows (≤ 2 slices here)
    assert(pk.distinctCount.exists(_ <= 2000L),
      s"pruned NDV ${pk.distinctCount} must clamp to subset rows")
    // null counts are unknowable for survivors — absent under filters
    assert(pk.nullCount.isEmpty)
  }

  test("detour stats survive to PHYSICAL planning: renamed dim broadcasts under a fact join") {
    import spark.implicits._
    registerCatalog()
    val dimB = java.nio.file.Files
      .createTempDirectory("graft_stats_rsj_dim").toString + "/t"
    val factB = java.nio.file.Files
      .createTempDirectory("graft_stats_rsj_fact").toString + "/t"
    Manifests.commitData(dimDf, dimB)
    Manifests.analyze(spark, dimB, Seq("customer_key"))
    // live rename → every read of the dim takes the V1 detour, whose
    // stats only exist through ReportingV1ScanRelation; a later rule
    // copy()ing the node back to the plain case class would silently
    // revert to defaultSizeInBytes and this broadcast disappears —
    // the physical plan IS the survival proof
    Manifests.renameColumn(spark, dimB, "country", "region")
    Manifests.commitData((1 to 200000).map(i =>
      (i.toLong, (i % 1500 + 1).toLong, i * 2.0))
      .toDF("invoice_no", "customer_key", "amount"), factB)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
    try {
      val q = spark.sql(
        s"""SELECT d.region, SUM(f.amount) AS amt
           |FROM graft.`$factB` f JOIN graft.`$dimB` d
           |  ON f.customer_key = d.customer_key
           |GROUP BY d.region""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"detour-dim join did not broadcast — stats lost before " +
          s"physical planning:\n${plan.take(3000)}")
      assert(q.collect().length === 7)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("NDV sidecar inherits across commits and refreshes on re-ANALYZE") {
    import spark.implicits._
    val b = java.nio.file.Files
      .createTempDirectory("graft_stats_ndv").toString + "/t"
    Manifests.commitData(dimDf, b)
    Manifests.analyze(spark, b, Seq("country"))
    val v1 = Manifests.latestVersion(spark, b).get
    val n1 = Manifests.ndvOf(spark, b, v1)
    assert(n1.get("country").exists(n => n >= 6 && n <= 8))
    // an append FOLDS its batch's KMV sketch into the estimate (r15):
    // 10 fresh countries land and NDV tracks them immediately — no
    // re-ANALYZE, no stale inherit (the not-yet-full sketch is exact)
    Manifests.append((1 to 10).map(i =>
      (10000L + i, s"x_$i", s"M$i")).toDF(
      "customer_key", "customer_id", "country"), b)
    val v2 = Manifests.latestVersion(spark, b).get
    assert(Manifests.ndvOf(spark, b, v2)("country") === 17L,
      "append must fold the batch sketch into the NDV estimate")
    // re-ANALYZE agrees (HLL estimate of the same 17 values)
    Manifests.analyze(spark, b, Seq("country"))
    val v3 = Manifests.latestVersion(spark, b).get
    assert(Manifests.ndvOf(spark, b, v3).get("country")
      .exists(n => n >= 16 && n <= 18))
    // with the fold disabled, the append inherits the stale estimate
    // verbatim — Spark's own catalog-column-stats contract
    spark.conf.set("graft.ndv.incremental", "false")
    try {
      val n3 = Manifests.ndvOf(spark, b, v3)
      Manifests.append(Seq((20001L, "y_1", "Z1")).toDF(
        "customer_key", "customer_id", "country"), b)
      val v4 = Manifests.latestVersion(spark, b).get
      assert(Manifests.ndvOf(spark, b, v4) === n3,
        "graft.ndv.incremental=false must restore the inherit-verbatim contract")
    } finally spark.conf.unset("graft.ndv.incremental")
  }
}
