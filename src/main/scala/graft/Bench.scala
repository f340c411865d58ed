package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line of per-query seconds. A query that throws is
  * reported in "failed" and the process exits non-zero — a broken query
  * must never read as a (fast) timing.
  *
  * An untimed warm-up first forces the shared one-time builds (Warehouse
  * persist, MinHash signatures, LSH/hyperplane codes, IVF index, checks
  * memo) so the per-query numbers are steady-state marginal costs —
  * without it, whichever query alphabetically touches a cache first
  * absorbs its whole build and regressions hide in the attribution noise.
  * "value" stays the honest end-to-end total (warm-up + timed pass);
  * "warmup_sec" and the per-query map separate the two. */
object Bench {

  /** Queries whose first run builds a shared cache (see object doc).
    * ORDER MATTERS for the warm-up wall, not for correctness: the pool
    * drains this list front-to-back, so the LONGEST builds lead
    * (longest-processing-time-first scheduling — r19 measured the 16 s
    * serial autocompact chain starting last and extending the makespan
    * by most of its length). Dependencies need no encoding: shared
    * memos are single-flight, so a dependent entry just blocks on the
    * winner. */
  val warmupQueries: List[String] = List(
    // measured-longest one-time builds first (r19 per-entry stderr
    // decomposition): serial commit chains, the corpus pipeline, both
    // PQ trainings' Lloyd chains, the warehouse + checks memos
    "autocompact_roundtrip", // seed + 7 policy-armed appends, serial by design
    "corpus_run_summary", // first run materializes the corpus pipeline stages
    "pq_residual_codes", "pq_codes",
    // PQ codebook training (raw + residual) is a one-time index build
    // (16 subspaces x 5 Lloyd jobs each) — without these, whichever
    // ivfpq_* query runs first absorbs ~minutes of training at 100x
    "q_checks",
    "mv_cdc_refresh", // CTAS + MoR DML + MV-seed one-time build
    "fast_count_filtered", // per-country commit chain + ANALYZE
    "sql_star_join", // 3-table CTAS + ANALYZE one-time build
    "sql_delta_log", // CTAS + 8-commit chain + vacuum one-time build
    "fact_roundtrip", // first run performs the one-time warehouse write
    "staging", "clean_dedup", "minhash_pairs", "ann_topk", "ivf_topk",
    "dup_clusters", // first run fills the cluster-label memo leakage_safe_split shares
    // the write-roundtrip family's marker-guarded one-time builds (fixture
    // dump + delete, fragment + compaction, MV batches, image files) —
    // forced here so their /tmp I/O never lands inside a timed window
    "delete_roundtrip", "delete_versioned", "merge_versioned",
    "update_versioned", // one-time clustered dump + CoW update
    "change_feed", // shares delete_versioned's fixture; listed for subset runs
    "delete_mor", // merge-on-read fixture build (clustered dump + DV write)
    "update_mor", // one-time MoR delete + MoR update lineage build
    "merge_mor", // one-time MoR delete + MoR merge lineage build
    "change_feed_mor",
    "evolve_manifest", // one-time two-batch evolved table build
    "skipping_manifest", // one-time clustered dump + ANALYZE
    // the r8 manifest fixtures (clustered dumps + ANALYZE + bloom sidecars
    // + a partition DELETE on first touch) — the r8 bench timed their
    // builds inside drop_partitions/bloom_lookup/change_feed_keyed windows;
    // steady-state these are metadata reads, milliseconds
    "manifest_partition_scan", "bloom_lookup", "drop_partitions",
    "manifest_writer", // one-time write-path table build (bootstrap + append)
    // pure-SQL DML fixtures: CTAS + UPDATE/DELETE/MERGE one-time builds
    "sql_dml_updel", "sql_dml_merge",
    // CTAS + ALTER + INSERT catalog builds (r11 judge: the timed number
    // must be the steady-state catalog SELECT, not the fixture build)
    "sql_add_column", "sql_rename_column", "sql_widen_column",
    "sql_not_null",
    "sql_spj_join", // 2-table split-layout partitioned commit one-time build
    "sql_merge_sync", // CTAS + MoR delete + 3-clause MERGE one-time build
    "sql_read_tag", // CTAS + tag + 2-mutation one-time build
    "fast_count_mor", // CTAS + ANALYZE + MoR delete one-time build
    "sql_mor_dml", // CTAS + CALL delete_mor/update_mor one-time build
    // r12 catalog fixtures: CTAS + MoR deletes / partition overwrites /
    // the change-range lineage — all one-time builds
    "sql_select_mor", "sql_insert_overwrite", "sql_changes_between",
    // r18: these four build their own CTAS fixtures (hidden-partition /
    // evolve / aligned-drop monthly tables, the 3-clause MoR merge) —
    // absent from this list their one-time builds were the ENTIRE
    // "slow query" signal (sql_evolve_partitions 19 s timed vs 1.5 s
    // steady-state; profiled in r18)
    "sql_hidden_partition", "sql_evolve_partitions", "sql_drop_months",
    "sql_evolve_drop", "sql_mor_merge",
    // r19: the ingest roundtrips are fixture-guarded (ensureFixture /
    // Dfs.buildOnce) — the staging dump happens ONCE per code epoch, so
    // it is a one-time build like every other entry here, and leaving it
    // in the timed window made the first (32-core) driver run pay it
    // while the later 8-core scaling run read it for free: the r18
    // "anti-scaling write family" signal (ingest_csv 14 s @32 vs 1.7 s
    // @8) was fixture-build attribution. Steady-state these time the
    // typed READ path, which is what "ingest" measures.
    "ingest_csv", "ingest_json", "ingest_orc", "ingest_evolve",
    "restore_table", // one-time dump + delete + restore + clone build
    // clone_table shares restore_table's fixture; steady after it
    "drop_column", // one-time dump + metadata drop
    "change_feed_upd_images", // catalog CTAS + image-recording MERGE
    // change_feed_keyed deliberately NOT here: its fixture (manmerge) is
    // already warmed via merge_versioned, so its timed number is the real
    // keyed-diff cost, not a build artifact
    "bucketed_join", // one-time bucketed dumps of fact slice + dim
    "compact_roundtrip",
    "mv_monthly_sales", "snapshot_monthly_v0", "media_binary_roundtrip",
    "skipping_scan") // first run writes the z-clustered copy + stats

  /** Deliberately write-heavy roundtrips, timed as their OWN phase after
    * the analytical pass: interleaving them alphabetically let their
    * write I/O inflate adjacent analytical timings (r6 showed q_checks
    * 12.7× in-run vs isolated with identical plans). Phase-separating
    * makes an analytical regression attributable again. */
  val writeRoundtrips: Set[String] = Set(
    "delete_roundtrip", "delete_versioned", "merge_versioned", "compact_roundtrip",
    "delete_mor",
    "mv_monthly_sales", "snapshot_monthly_v0", "media_binary_roundtrip",
    "ingest_evolve", "fact_roundtrip",
    // the ingest roundtrips' one-time dumps are fixture-guarded now
    // (ensureFixture — the "re-DUMP every call" era is over; the r7 100x
    // run had shown their in-analytical writes, 48 s orc at 60M rows,
    // polluting neighbors); kept in this phase so a cold-fixture run
    // still lands the dump I/O away from analytical timings
    "ingest_csv", "ingest_json", "ingest_orc")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = BenchHarness.onCores(cpus)
    // dev-only subset filter (unset in driver runs -> all queries),
    // mirroring Verify's: lets scale checks time a named family without
    // paying the full surface at 100x
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // bisect hooks (dev-only, unset in driver runs): WARMALL builds every
    // fixture even under a subset filter (isolates resident-state cost);
    // ARM installs the catalog + optimizer extras without touching any
    // manifest fixture (isolates plan-time cost of the armed extras)
    val warmAll = sys.env.contains("SPARK_GRAFT_WARMALL")
    var failed = List.empty[String]
    val w0 = System.nanoTime()
    // ---- warm-up: one-time fixture/cache builds, UNTIMED per-query but
    // part of the honest end-to-end total. The builds are independent
    // one-time jobs gated by cross-process claims (Dfs.buildOnce) and
    // app-scoped memos, so they are overlapped from a small thread pool
    // (opt guide §2.6 — back-fill the tail of one build with the next);
    // sequentially they held 1 driver thread while most cores idled.
    // Each worker runs on its OWN newSession() clone: several fixture
    // bodies set transient session confs (graft.dml.mode, shuffle
    // partitions during connected components), which must not race across
    // concurrent builds — the isolation contract is the same one Verify
    // and Bench already rely on when they share fixtures across PROCESSES.
    // "staging" runs first alone: it builds the Warehouse lineage cache
    // that nearly every later fixture reads, and racing N builders on a
    // cold memo would compute the whole ETL chain N times.
    // Pool size derives from the core count (1 per 2 cores, max 16), so the
    // driver's low-core scaling runs degrade gracefully to sequential;
    // SPARK_GRAFT_SEQWARMUP forces the old sequential order for bisection.
    val warmupSelected =
      warmupQueries.filter(n => warmAll || only.forall(_.contains(n)))
    def warmOne(s: SparkSession, name: String): Unit = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(s, sfDir).count()
      catch { case e: Throwable =>
        // the timed run still reports the failure; surface it here too so
        // a warm-up that half-builds a cache never blurs the timed signal
        System.err.println(s"[bench] warm-up $name FAILED: ${e.getMessage}")
      }
      // per-entry decomposition (stderr — never part of the JSON contract):
      // the warm-up wall is part of "value", so knowing WHICH fixture
      // builds dominate it is the first profiling question (guide §1)
      System.err.println(
        f"[bench] warm-up $name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    // r19: the serial staging-first phase is gone — shared memos are now
    // SINGLE-FLIGHT (graft.AppCache), so N workers hitting the cold
    // Warehouse memo no longer compute the ETL chain N times:
    // the first blocks the rest, and workers whose entries don't touch
    // the Warehouse (media, embeddings, events fixtures) fill the cores
    // the old serial phase left idle (~20 s of the warm-up wall, measured
    // r19). SPARK_GRAFT_WARMPAR is a dev-only width override for pool
    // tuning experiments; driver runs never set it.
    // Width cpus/2 capped at 16: the builds are commit-latency-bound, not
    // CPU-bound, so 8 workers left 32 cores queue-limited — measured cold
    // at 32 cores: width 8 = 133 s, 16 = 65 s, 32 = 76 s (contention), so
    // half the cores is the knee; low-core scaling runs keep degrading
    // gracefully (8 cores -> 4 workers, 2 cores -> sequential).
    val warmPar =
      if (sys.env.contains("SPARK_GRAFT_SEQWARMUP")) 1
      else sys.env.get("SPARK_GRAFT_WARMPAR").map(_.toInt)
        .getOrElse(math.max(1, math.min(16, cpus.toInt / 2)))
    if (warmPar <= 1) warmupSelected.foreach(warmOne(spark, _))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(warmPar)
      try {
        val tasks = warmupSelected.map { name =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            // one conf-isolated session per build; shares the context,
            // block-manager cache and app-scoped memos with the timed pass
            def call(): Unit = warmOne(spark.newSession(), name)
          })
        }
        tasks.foreach(_.get())
      } finally pool.shutdown()
    }
    val warmupSec = (System.nanoTime() - w0) / 1e9
    // attribution diagnostics (stderr — never part of the JSON contract):
    // resident cached blocks and cumulative JVM GC time bracket the timed
    // pass, separating "plans got slower" from "the session pays GC rent"
    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def cachedDiag(): String = {
      val rdds = spark.sparkContext.getPersistentRDDs
      val mem = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      s"cachedRDDs=${rdds.size} storageUsed=${mem / 1024 / 1024}MB"
    }
    System.err.println(s"[bench] post-warmup: ${cachedDiag()} gcTotalMs=$gcMs")
    val gc0 = gcMs
    def timePhase(qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed ::= name
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // analytical phase first, write-roundtrips after — never interleaved
    val analytical = timePhase(selected.filterNot(q => writeRoundtrips(q._1)))
    val roundtrips = timePhase(selected.filter(q => writeRoundtrips(q._1)))
    System.err.println(
      s"[bench] post-timed: ${cachedDiag()} gcTimedMs=${gcMs - gc0}")
    val results = (analytical ++ roundtrips).sortBy(_._1)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = warmupSec + results.map(_._2).sum
    val groups = s"""{"analytical":${analytical.map(_._2).sum},"write_roundtrip":${roundtrips.map(_._2).sum}}"""
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","warmup_sec":$warmupSec,"groups":$groups,"queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
    // the driver records only a bounded TAIL of this process's output;
    // the full per-query line above can exceed it, truncating from the
    // FRONT and eating the headline numbers. A compact summary printed
    // LAST always survives tail capture whole: totals, phase split,
    // failures, and the 10 slowest timed queries (the ones a regression
    // hunt needs first).
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // distinct metric name: a consumer keying on "total" must land on the
    // single full per-query line above, never double-count this summary
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","warmup_sec":$warmupSec,"groups":$groups,"n_queries":${results.size},"slowest":$slowest,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
