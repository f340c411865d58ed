package graft.ext

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** [[Manifests]] tables plugged into Catalyst's scan planning — the
  * Delta `TahoeFileIndex` shape: a custom
  * `org.apache.spark.sql.execution.datasources.FileIndex` whose file
  * listing IS one committed manifest version, with zone-map pruning
  * applied INSIDE the planner from the filters Catalyst pushes down.
  * Where [[Manifests.readWhere]] needs the caller to hand it a box,
  * here `df.filter($"quantity" === 7)` — or the same predicate arriving
  * through SQL — prunes files automatically: `FileSourceScanExec`
  * passes its `dataFilters` to [[listFiles]], the filters are evaluated
  * against the version's per-file min/max/null-count stats
  * ([[Manifests.statsOf]]), and only surviving files are planned. Row
  * groups of the files that ARE read still get parquet's own footer
  * skipping plus the pushed predicate — this index only removes whole
  * files before any of that starts.
  *
  * Scale shape: the constructor's listing cost is one manifest read +
  * one `getFileStatus` per data file (metadata RPCs, manifest-sized);
  * pruning reads the stats parquet (a row per file) and collects FILE
  * NAMES only. Everything here is driver-side metadata work — the scan
  * itself stays Spark's vectorized parquet reader with full
  * codegen/pushdown, because the relation this index feeds is a plain
  * `HadoopFsRelation(ParquetFileFormat)`.
  *
  * Pruning is CONSERVATIVE by construction: a file is dropped only when
  * some translated conjunct is provably unsatisfiable over its zone
  * ([[ManifestFileIndex.zonePredicate]]); filters that do not translate
  * (non-indexed columns, non-literal comparands, exotic operators) keep
  * every file, and files the stats table does not cover are always
  * planned. All-null zones (null min/max) fail range/equality conjuncts
  * naturally — same null semantics as [[Skipping.candidateFiles]]. */
final class ManifestFileIndex(spark: SparkSession, base: String, version: Int,
    known: Option[VersionMeta] = None)
    extends FileIndex {

  private val files: Seq[String] =
    Manifests.files(spark, base, version).map(Dfs.canonical)

  private val statuses: Map[String, FileStatus] = files.map { f =>
    f -> Dfs.fs(spark, f).getFileStatus(new Path(f))
  }.toMap

  /** The version's file statuses in manifest order — the listing the
    * DSv2 adapter ([[graft.sources.manifest]]) re-exposes through
    * `PartitioningAwareFileIndex`. */
  private[graft] def fileStatuses: Seq[FileStatus] = files.map(statuses)

  // `known`: the version's record, when the caller already read it
  private val stats: Option[(Seq[String], Seq[String])] =
    known.fold(Manifests.statsOf(spark, base, version))(_.stats)

  private val partMeta: Option[(Seq[String], Seq[String])] =
    known.fold(Manifests.partitionedBy(spark, base, version))(_.partValues)

  /** Legacy spec groups after a partition evolution (oldest first) —
    * files written under an earlier spec prune through THEIR recorded
    * tuples; empty on never-evolved tables. */
  private val partLegacy: Seq[(Seq[String], Seq[String])] =
    known.fold(Manifests.partitionHistory(spark, base, version))(_.partHistory)

  private val blooms: Option[(Seq[String], Seq[String])] =
    known.fold(Manifests.bloomOf(spark, base, version))(_.blooms)

  /** False when the version's tuples predate UTC time-transform
    * semantics ([[Manifests.partSemOf]]): TZ-sensitive fields then
    * refuse to lower (conservative no-prune) and never join a purity
    * proof, because a session-TZ month tuple near a boundary can name
    * a different granule than the UTC lowering computes. */
  private lazy val tzTrusted: Boolean =
    known.fold(Manifests.partSemOf(spark, base, version))(_.partSem) >=
      Manifests.PartSemCurrent

  /** [[tzTrusted]] refined per spec group: a below-current version is
    * still fully trustworthy when NO field is TZ-sensitive (identity /
    * bucket / truncate / DATE-sourced time transforms — semantics
    * unchanged across the eras). */
  private def tzTrustedFor(pcols: Seq[String]): Boolean =
    tzTrusted || Manifests.partTuplesTrusted(spark, base, version, pcols)

  /** The table's EXACT row count from metadata alone, when provable:
    * the zone-stats sidecar records `n_rows` per file
    * ([[Skipping.buildStats]]), so when every manifest file is covered
    * by a stats row the version's RAW cardinality is a metadata-sized
    * sum — no data file is opened, no job runs. A vectored version's
    * live count subtracts its bitmap cardinalities
    * ([[liveRowCountWhere]]). `None` whenever the proof does not hold (no ANALYZE
    * yet, or a file the stats miss): callers fall back to the real
    * scan, which stays exactly as correct.
    *
    * This is what `SELECT COUNT(*)` should cost on a 100 TB table —
    * Delta and Iceberg both answer it from file-level metadata — and
    * the reason appends maintain the stats sidecar incrementally: the
    * proof survives every append without re-ANALYZE. */
  lazy val exactRowCount: Option[Long] = coveredStats.map { case (_, st) =>
    st.agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0)
  }

  /** Per-file RAW row counts from the covered stats sidecar (canonical
    * path → `n_rows`), when the coverage proof holds. The DSv2
    * statistics face ([[graft.sources.manifest]]) folds these over the
    * PRUNED file set — and subtracts per-file deletion-vector
    * cardinalities on vectored versions — to report exact live
    * `numRows` to the planner from metadata alone. */
  lazy val rowCountsByFile: Option[Map[String, Long]] =
    coveredStats.map { case (_, st) =>
      val fi = st.schema.fieldIndex("file")
      val ni = st.schema.fieldIndex("n_rows")
      st.collect().iterator // metadata-sized: one row per data file
        .map(r => Dfs.canonical(r.getString(fi)) -> r.getLong(ni)).toMap
    }

  /** The version's zone-stats rows when they cover EXACTLY the manifest
    * — one row per manifest file, no misses, no duplicates, rows for
    * retired files dropped. The coverage proof behind every
    * metadata-only aggregate answer; the returned frame is a
    * LocalRelation over the memoized sidecar rows, so folding over it
    * is driver-side metadata work. */
  lazy val coveredStats
      : Option[(Seq[String], org.apache.spark.sql.DataFrame)] =
    stats.flatMap { case (keys, segs) =>
      val st = SidecarCache.localDf(spark, segs)
      if (!st.schema.fieldNames.contains("n_rows")) None
      else {
        val fi = st.schema.fieldIndex("file")
        val fileSet = files.toSet
        // stats segments may legitimately carry rows for files a
        // rewrite retired — restrict to the manifest's files first
        val mine = st.collect()
          .filter(r => fileSet.contains(Dfs.canonical(r.getString(fi))))
        val canon = mine.map(r => Dfs.canonical(r.getString(fi)))
        if (mine.length == files.length && canon.toSet == fileSet)
          Some((keys, spark.createDataFrame(
            java.util.Arrays.asList(mine: _*), st.schema)))
        else None
      }
    }

  /** The PARTITION-PURE file classification behind filtered metadata
    * aggregates: when `filters` translate STRICTLY (every conjunct, no
    * residual) to a predicate over the recorded partition tuples, and
    * every manifest file is covered and PURE under it (all its tuples
    * match, or none do), the filtered row set is exactly the union of
    * the all-match files — so any per-file-exact statistic folds over
    * just those files. Returns their canonical paths; None whenever
    * the proof fails (untranslatable conjunct, uncovered file, or a
    * MIXED file whose rows straddle the predicate), in which case the
    * caller keeps the real scan. This is Iceberg's "answer
    * `COUNT(*) WHERE <partition predicate>` from the manifest" move,
    * made exact-or-absent: purity is checked per predicate, so a
    * loosely-clustered table degrades to scanning, never to a wrong
    * answer. */
  private def pureMatchFiles(
      dataFilters: Seq[Expression]): Option[Set[String]] =
    partMeta.flatMap { case (pcols, pvSegs) =>
      // EXACT answers admit IDENTITY fields only: a month tuple cannot
      // decide a mid-month predicate on the source column, so
      // transformed fields never join a purity proof — the strict
      // translator refuses any conjunct they would have to carry,
      // which fails the proof conservatively (scan, never wrong)
      ManifestFileIndex.strictValuePredicate(dataFilters,
        PartitionTransforms.identitySources(pcols),
        spark.sessionState.analyzer.resolver).flatMap { pred =>
        import org.apache.spark.sql.functions.{count, sum, when}
        val cls = SidecarCache.localDf(spark, pvSegs)
          .groupBy("file")
          .agg(count(lit(1)).as("n"),
            sum(when(pred, 1L).otherwise(0L)).as("m"))
          .collect() // metadata-sized: one row per data file
          .map(r => Dfs.canonical(r.getString(0)) ->
            (r.getLong(1), r.getLong(2))).toMap
        val covered = files.forall(cls.contains)
        val pure = files.forall(f =>
          cls.get(f).forall { case (n, m) => m == 0L || m == n })
        if (!covered || !pure) None
        else Some(files.filter(f => cls(f)._2 > 0).toSet)
      }
    }

  /** [[coveredStats]] restricted to the rows satisfying `dataFilters`
    * — empty filters return full coverage; non-empty ones require the
    * partition-purity proof ([[pureMatchFiles]]) and restrict the
    * stats frame to the matching files (possibly zero rows: folding
    * then yields COUNT 0 / NULL bounds, exactly the scan's answer). */
  /** Per-filter-set memo: one ungrouped aggregate query typically asks
    * for several aggregates (COUNT + MIN + MAX + SUM), and each proof
    * would otherwise re-run the purity classification job and the
    * stats-row filter — identical driver work four times over. The
    * index is per-version-immutable, so the memo key is just the
    * filters' canonical SQL. */
  private val whereCache = scala.collection.concurrent.TrieMap
    .empty[String, Option[(Seq[String], org.apache.spark.sql.DataFrame)]]

  def coveredStatsWhere(dataFilters: Seq[Expression])
      : Option[(Seq[String], org.apache.spark.sql.DataFrame)] =
    if (dataFilters.isEmpty) coveredStats
    else whereCache.getOrElseUpdate(
      dataFilters.map(_.canonicalized.toString).sorted.mkString("&"), {
        for {
          keep <- pureMatchFiles(dataFilters)
          (keys, st) <- coveredStats
        } yield {
          val fi = st.schema.fieldIndex("file")
          val rows = st.collect()
            .filter(r => keep(Dfs.canonical(r.getString(fi))))
          (keys, spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), st.schema))
        }
      })

  /** [[exactRowCount]] under a partition-pure filter. */
  def exactRowCountWhere(dataFilters: Seq[Expression]): Option[Long] =
    coveredStatsWhere(dataFilters).map { case (_, st) =>
      Option(st.agg(org.apache.spark.sql.functions.sum("n_rows"))
        .head.get(0)).fold(0L)(_.asInstanceOf[Long])
    }

  /** [[exactRowCountWhere]] on a VECTORED version: Σ per-file
    * (n_rows − deletion-vector cardinality) over the (possibly
    * partition-pure-filtered) covered files — Delta's
    * numRecords − dvCardinality, exact because bitmaps dedup by
    * construction and a purely-matching file's live rows are a subset
    * of its raw rows. Keys of `deletedByFile` are canonical paths. */
  def liveRowCountWhere(dataFilters: Seq[Expression],
      deletedByFile: Map[String, Long]): Option[Long] =
    coveredStatsWhere(dataFilters).map { case (_, st) =>
      val fi = st.schema.fieldIndex("file")
      val ni = st.schema.fieldIndex("n_rows")
      st.collect().iterator.map { r =>
        val f = Dfs.canonical(r.getString(fi))
        math.max(0L, r.getLong(ni) - deletedByFile.getOrElse(f, 0L))
      }.sum
    }

  /** Exact table-wide MIN (or MAX) of a stats-indexed column from
    * metadata alone: the fold of per-file zone bounds, which ignores
    * all-null files exactly as the real aggregate ignores nulls.
    * Outer None = not provable (column not indexed, or no coverage);
    * `Some(None)` = provably NULL (every value is null). Zone bounds
    * are EXACT per-file min/max, so under a partition-pure filter the
    * fold over matching files is the exact filtered aggregate. */
  def statBound(colName: String, isMin: Boolean,
      dataFilters: Seq[Expression] = Seq.empty): Option[Option[Any]] =
    coveredStatsWhere(dataFilters).flatMap { case (keys, st) =>
      val resolver = spark.sessionState.analyzer.resolver
      keys.find(k => resolver(k, colName)).flatMap { k =>
        // truncated STRING bounds are widened, not exact: any file
        // whose `<k>_trunc` flag is set disables the metadata MIN/MAX
        // (pruning keeps using the widened zones — conservative there,
        // wrong here)
        val widened = st.schema.fieldNames.contains(s"${k}_trunc") &&
          st.filter(col(s"${k}_trunc") === true).limit(1).count() > 0
        if (widened) None
        else {
          import org.apache.spark.sql.functions.{min, max}
          Some(Option(st.agg(
            if (isMin) min(col(s"${k}_min")) else max(col(s"${k}_max")))
            .head.get(0)))
        }
      }
    }

  /** The covered stats rows restricted to an EXPLICIT file subset
    * (canonical paths) — the PRUNED listing of a filtered scan. ONE
    * collect of the memoized LocalRelation, shared by every
    * per-column bound fold of that scan's statistics: the folds below
    * are pure driver arithmetic, because statistics estimation runs
    * at PLAN time and must never cost a job. None when a subset file
    * lacks its stats row (conservative absence on uncovered files). */
  private[graft] def statRowsOver(subset: Set[String]): Option[(Seq[String],
      org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.Row])] =
    coveredStats.flatMap { case (keys, st) =>
      val fi = st.schema.fieldIndex("file")
      val mine = st.collect() // metadata-sized: one row per data file
        .filter(r => subset.contains(Dfs.canonical(r.getString(fi))))
      if (mine.length < subset.size) None
      else Some((keys, st.schema, mine))
    }

  /** [[statBound]] over a [[statRowsOver]] result: every row a
    * filtered scan can produce lives in a subset file, and zone
    * bounds are exact per file, so the fold is a VALID (possibly
    * loose) bound for the filtered output even where the
    * partition-purity proof fails. Conservative absence: None when
    * the column is not indexed, a string bound is truncated inside
    * the subset, or a bound pair is incomparable. `Some(None)` =
    * provably all-null. Driver fold in the writer's bound order
    * ([[Manifests.cmpBound]] — the UTF-8 invariant). */
  def statBoundOver(rows: (Seq[String],
        org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.Row]),
      colName: String, isMin: Boolean): Option[Option[Any]] = {
    val (keys, sch, mine) = rows
    val resolver = spark.sessionState.analyzer.resolver
    keys.find(k => resolver(k, colName)).flatMap { k =>
      val ti = sch.fieldNames.indexOf(s"${k}_trunc")
      if (ti >= 0 && mine.exists(r => !r.isNullAt(ti) && r.getBoolean(ti)))
        None
      else {
        val bi = sch.fieldIndex(if (isMin) s"${k}_min" else s"${k}_max")
        val vals = mine.iterator.map(_.get(bi)).filter(_ != null).toSeq
        if (vals.isEmpty) Some(None) // every subset value is null
        else {
          var acc: Any = vals.head
          var ok = true
          vals.tail.foreach { v =>
            Manifests.cmpBound(acc, v) match {
              case Some(c) =>
                if ((isMin && c > 0) || (!isMin && c < 0)) acc = v
              case None => ok = false
            }
          }
          if (ok) Some(Some(acc)) else None
        }
      }
    }
  }

  /** Σ raw `n_rows` over a [[statRowsOver]] result — the upper
    * cardinality bound of a pruned filtered scan (pushed row filters
    * only shrink it further). Driver fold, zero jobs. */
  def rawRowsOver(rows: (Seq[String],
      org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.Row])): Long = {
    val ni = rows._2.fieldIndex("n_rows")
    rows._3.iterator.map(_.getLong(ni)).sum
  }

  /** Exact COUNT(col) — non-null cardinality — of a stats-indexed
    * column: Σ (n_rows − nulls) over the covered (filtered) files. */
  def statNonNullCount(colName: String,
      dataFilters: Seq[Expression] = Seq.empty): Option[Long] =
    coveredStatsWhere(dataFilters).flatMap { case (keys, st) =>
      val resolver = spark.sessionState.analyzer.resolver
      keys.find(k => resolver(k, colName)).map { k =>
        import org.apache.spark.sql.functions.sum
        Option(st.agg(sum(col("n_rows") - col(s"${k}_nulls")))
          .head.get(0)).fold(0L)(_.asInstanceOf[Long])
      }
    }

  /** Exact SUM of an INTEGRAL stats-indexed column: Σ of the per-file
    * sums [[Skipping.buildStats]] records. In legacy (wrapping) mode
    * integer addition is associative mod 2^64, so the fold is bit-equal
    * to the scan unconditionally. Under ANSI mode the real scan THROWS
    * on intermediate overflow, so the rewrite additionally demands the
    * [[noOverflowPossible]] proof — every partial sum in EVERY
    * accumulation order is then in Long range, meaning the scan cannot
    * throw, the recorded per-file sums cannot have wrapped at ANALYZE
    * time, and the fold equals the scan exactly. Overflow-adjacent
    * tables simply keep the real scan (and its ANSI error semantics).
    * A NULL per-file sum is legitimate only for an all-null file
    * (`nulls == n_rows`); anywhere else it means the stat predates sum
    * recording and the proof is off. `Some(None)` = provably NULL
    * (no non-null value in the filtered set). */
  def statSum(colName: String,
      dataFilters: Seq[Expression] = Seq.empty): Option[Option[Any]] =
    coveredStatsWhere(dataFilters).flatMap { case (keys, st) =>
      val resolver = spark.sessionState.analyzer.resolver
      keys.find(k => resolver(k, colName)).flatMap { k =>
        if (!st.schema.fieldNames.contains(s"${k}_sum")) None
        else {
          import org.apache.spark.sql.functions.sum
          val missing = st.filter(col(s"${k}_sum").isNull &&
            col(s"${k}_nulls") < col("n_rows")).limit(1).count()
          if (missing > 0) None
          else if (spark.sessionState.conf.ansiEnabled &&
            !noOverflowPossible(st, k)) None
          else Some(Option(st.agg(sum(col(s"${k}_sum"))).head.get(0)))
        }
      }
    }

  /** The ANSI-mode no-overflow proof for [[statSum]]: any partial sum,
    * in any grouping/order the scan's partial aggregation might use, has
    * magnitude ≤ Σ_files (n_rows − nulls) · max(|zone_min|, |zone_max|)
    * (zone bounds are exact per-file extrema for integral columns). If
    * that bound — computed in BigInt — fits in a Long, no intermediate
    * can overflow anywhere: not in the scan, not at ANALYZE, not in the
    * metadata fold. A file with non-null rows but missing bounds fails
    * the proof conservatively. */
  private def noOverflowPossible(
      st: org.apache.spark.sql.DataFrame, k: String): Boolean = {
    val rows = st.select(col("n_rows"), col(s"${k}_nulls"),
      col(s"${k}_min").cast("string"), col(s"${k}_max").cast("string"))
      .collect() // metadata-sized: one row per data file
    var bound = BigInt(0)
    val proven = rows.forall { r =>
      val nonNull = r.getLong(0) - r.getLong(1)
      if (nonNull <= 0) true // all-null file contributes nothing
      else if (r.isNullAt(2) || r.isNullAt(3)) false
      else {
        val m = BigInt(r.getString(2)).abs.max(BigInt(r.getString(3)).abs)
        bound += BigInt(nonNull) * m
        true
      }
    }
    proven && bound <= BigInt(Long.MaxValue)
  }

  /** The storage-partitioned-join PURITY PROOF: `Some((pcols, file →
    * tuple))` iff the version records partition columns, the tuple
    * sidecar covers EVERY manifest file, and each file holds exactly
    * ONE distinct partition tuple — then grouping files by tuple is a
    * genuine `KeyGroupedPartitioning` and two co-partitioned tables
    * can join with zero Exchange (Iceberg's SPJ). Checked, never
    * assumed: a boundary file from the default range-clustered layout
    * (two tuples in one file) fails the proof and the scan reports
    * unknown partitioning — conservative fallback, identical plans to
    * today. Tuple values are external JVM values in partition-column
    * order; the scan converts them to Catalyst form against the data
    * schema. Driver-side metadata fold over the memoized sidecar. */
  lazy val purePartitionTuples: Option[(Seq[String], Map[String, Seq[Any]])] =
    partMeta.filter(m => tzTrustedFor(m._1)).flatMap { case (pcols, segs) =>
      // pre-UTC tuples must not back an SPJ key-grouping claim: two
      // rows with the same TIMESTAMP near a granule boundary could sit
      // in files recorded under DIFFERENT month tuples (old-era file
      // vs new append), so "same key ⇒ same group" would not hold
      PurityCache.perFileTuples(spark, pcols, segs).flatMap { perFile =>
        val fileSet = files.toSet
        // coverage + purity against THIS version's manifest: every
        // file mapped, every mapped file single-tuple
        if (!fileSet.forall(f => perFile.get(f).exists(_.isDefined))) None
        else Some((pcols,
          fileSet.iterator.map(f => f -> perFile(f).get).toMap))
      }
    }

  /** Columns a runtime IN-list can PRUNE files by at this version —
    * partition, zone-stats and bloom keys, the same set the CoW DML
    * scan advertises for runtime group filtering. */
  lazy val prunableColumns: Seq[String] =
    ((partLegacy ++ partMeta.toSeq)
        .flatMap(m => PartitionTransforms.sources(m._1)) ++
      stats.map(_._1).getOrElse(Seq.empty) ++
      blooms.map(_._1).getOrElse(Seq.empty)).distinct

  override def rootPaths: Seq[Path] = Seq(new Path(base))

  override def partitionSchema: StructType = new StructType()

  override def inputFiles: Array[String] = files.toArray

  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum

  override def refresh(): Unit = () // a committed version is immutable

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val resolver = spark.sessionState.analyzer.resolver
    // 1) PARTITION pruning — exact, metadata-only, FIRST: the manifest
    //    records per file the distinct partition tuples it contains
    //    ([[Manifests.commitDataPartitioned]]), so an equality/IN/range
    //    predicate on a partition column keeps exactly the files holding
    //    a satisfying tuple. No per-file stats consulted, no data read.
    //    (Partition columns live in the data, Iceberg-style, so the
    //    predicates arrive as dataFilters — partitionSchema stays empty.)
    //    After a partition EVOLUTION the version carries several spec
    //    groups (legacy + current); each group prunes the files IT
    //    covers under ITS OWN spec's lowering, and the survivor sets
    //    intersect — a file covered by exactly one group (the
    //    invariant: a file's tuples live in one group) survives iff it
    //    satisfies that group's predicate, and a file no group covers
    //    is always kept (conservative).
    val afterPart = (partLegacy ++ partMeta.toSeq)
      .foldLeft(files) { case (acc, (pcols, pvSegs)) =>
        ManifestFileIndex.valuePredicate(dataFilters, pcols, resolver,
            tzTrusted) match {
          case None => acc
          case Some(pred) =>
            val pv = SidecarCache.localDf(spark, pvSegs)
            val cand = pv.filter(pred).select("file").collect()
              .map(r => Dfs.canonical(r.getString(0))).toSet
            val covered = pv.select("file").collect()
              .map(r => Dfs.canonical(r.getString(0))).toSet
            acc.filter(f => cand.contains(f) || !covered.contains(f))
        }
      }
    // 2) zone-map pruning on whatever survives
    val keep = stats match {
      case None => afterPart
      case Some((keys, statsSegs)) =>
        ManifestFileIndex.zonePredicate(dataFilters, keys, resolver) match {
          case None => afterPart
          case Some(pred) =>
            val st = SidecarCache.localDf(spark, statsSegs)
            val cand = st.filter(pred).select("file").collect()
              .map(r => Dfs.canonical(r.getString(0))).toSet
            val covered = st.select("file").collect()
              .map(r => Dfs.canonical(r.getString(0))).toSet
            afterPart.filter(f => cand.contains(f) || !covered.contains(f))
        }
    }
    // 3) bloom pruning — equality/IN on bloom-indexed keys, applied to
    //    whatever min/max zones could not decide: the high-cardinality
    //    point-lookup case where every zone spans the whole domain but
    //    only a handful of files actually contain the value. False
    //    positives keep a file (harmless); false negatives cannot
    //    happen, so dropping is safe.
    val afterBloom = blooms match {
      case None => keep
      case Some((bkeys, bSegs)) =>
        ManifestFileIndex.bloomPredicate(dataFilters, bkeys, resolver) match {
          case None => keep
          case Some(pred) =>
            val bl = SidecarCache.localDf(spark, bSegs)
            val cand = bl.filter(pred).select("file").collect()
              .map(r => Dfs.canonical(r.getString(0))).toSet
            val covered = bl.select("file").collect()
              .map(r => Dfs.canonical(r.getString(0))).toSet
            keep.filter(f => cand.contains(f) || !covered.contains(f))
        }
    }
    Seq(PartitionDirectory(InternalRow.empty,
      afterBloom.map(statuses).toArray))
  }
}

object ManifestFileIndex {

  /** Translate pushed-down Catalyst `dataFilters` into ONE predicate
    * over the zone-map stats table ("can this file contain a matching
    * row?"). Conjuncts combine by AND (a file must be possible for
    * every one); a conjunct that does not translate contributes
    * nothing (conservative). Returns None when no conjunct translates
    * — the caller then skips pruning entirely. */
  /** Default resolver for direct [[zonePredicate]] callers in tests:
    * Spark's default analyzer is case-insensitive. */
  private val caseInsensitive: (String, String) => Boolean =
    (a, b) => a.equalsIgnoreCase(b)

  private[ext] def zonePredicate(filters: Seq[Expression],
      keys: Seq[String],
      resolver: (String, String) => Boolean = caseInsensitive): Option[Column] =
    filters.flatMap(zoneOf(_, keys, resolver)) match {
      case Seq() => None
      case ps => Some(ps.reduce(_ && _))
    }

  /** Per-row bloom membership probe over the sidecar. A Scala UDF is
    * the RIGHT tool here, exceptionally: the sidecar has one row per
    * DATA FILE (manifest-sized metadata, never data), each row carries
    * a DIFFERENT serialized filter, and Spark's own
    * `BloomFilterMightContain` only accepts a constant filter (it
    * exists for runtime filters). Deserialization cost is one
    * `readFrom` per sidecar row. A null filter cell keeps the file —
    * conservative. */
  private val bloomProbe = org.apache.spark.sql.functions.udf(
    (bloom: Array[Byte], h: Long) =>
      bloom == null || org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bloom))
        .mightContainLong(h))

  /** The xxhash64 the build side recorded for this literal — computed
    * driver-side with the SAME Catalyst expression
    * ([[graft.ext.Manifests]] blooms aggregate `xxhash64(col)`), so
    * the probe hashes exactly the bytes the build hashed; a type this
    * hash cannot take refuses to translate (pruning on a mis-hashed
    * literal would be a false NEGATIVE — wrong, not just slow). */
  private def hashOf(l: Literal): Option[Long] =
    if (l.value == null) None
    else scala.util.Try(
      new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(l))
        .eval(null).asInstanceOf[Long]).toOption

  /** Translate pushed-down filters into ONE predicate over the bloom
    * sidecar's `<k>_bloom` columns, or None when nothing is
    * bloom-decidable. Only equality shapes translate — that is all a
    * bloom can answer; ranges and null tests belong to the zone maps. */
  private[ext] def bloomPredicate(filters: Seq[Expression],
      keys: Seq[String],
      resolver: (String, String) => Boolean = caseInsensitive): Option[Column] =
    filters.flatMap(bloomTest(_, keys, resolver)) match {
      case Seq() => None
      case ps => Some(ps.reduce(_ && _))
    }

  private def bloomTest(e: Expression, keys: Seq[String],
      resolver: (String, String) => Boolean): Option[Column] = {
    def probe(k: String, l: Literal): Option[Column] =
      hashOf(l).map(h => bloomProbe(col(s"${k}_bloom"), lit(h)))
    e match {
      case And(l, r) =>
        (bloomTest(l, keys, resolver), bloomTest(r, keys, resolver)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) => a.orElse(b) // untranslatable conjunct: keep the other
        }
      case Or(l, r) =>
        for { a <- bloomTest(l, keys, resolver)
              b <- bloomTest(r, keys, resolver) } yield a || b
      case EqualTo(a: AttributeReference, l: Literal) =>
        keys.find(resolver(_, a.name)).flatMap(probe(_, l))
      case EqualTo(l: Literal, a: AttributeReference) =>
        bloomTest(EqualTo(a, l), keys, resolver)
      case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
        bloomTest(EqualTo(a, l), keys, resolver)
      case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null =>
        bloomTest(EqualTo(a, l), keys, resolver)
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        keys.find(resolver(_, a.name)).flatMap { k =>
          if (vs.size > maxInValues) None // refuse BEFORE per-value work
          else {
            val ps = vs.map(v => probe(k, v.asInstanceOf[Literal]))
            if (ps.exists(_.isEmpty)) None
            else Some(orBalanced(ps.flatten))
          }
        }
      case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
        keys.find(resolver(_, a.name)).flatMap { k =>
          val dt = a.dataType
          if (vs.isEmpty || vs.size > maxInValues) None
          else {
            val ps = vs.toSeq.map { v =>
              if (v == null) None
              else scala.util.Try(Literal(v, dt)).toOption.flatMap(probe(k, _))
            }
            if (ps.exists(_.isEmpty)) None
            else Some(orBalanced(ps.flatten))
          }
        }
      case _ => None
    }
  }


  /** Balanced OR/AND folds — an IN-list expands to one test per value,
    * and a LINEAR `reduce(_ || _)` builds a list-shaped Column tree
    * whose conversion recurses once per node: a runtime group filter
    * with a few hundred values overflows the stack. Halving keeps the
    * tree log-deep at any width. Lists past [[maxInValues]] refuse to
    * expand at all (pruning skipped — conservative): per-value zone
    * tests on a 100k-value list cost more than the scan they save. */
  private[ext] val maxInValues = 4096

  private def orBalanced(cs: Seq[Column]): Column =
    if (cs.length == 1) cs.head
    else orBalanced(cs.grouped(2).map(g =>
      if (g.length == 2) g(0) || g(1) else g(0)).toSeq)

  /** Attribute-to-stat-column matching defers to the SESSION's resolver:
    * under `spark.sql.caseSensitive=true` a filter on column `K` must
    * not prune files using column `k`'s stats. */
  private def keyFor(keys: Seq[String], a: AttributeReference,
      resolver: (String, String) => Boolean): Option[String] =
    keys.find(resolver(_, a.name))

  private def scalaLit(l: Literal): Option[Column] =
    scala.util.Try(
      lit(CatalystTypeConverters.convertToScala(l.value, l.dataType))
    ).toOption.filter(_ => l.value != null)

  /** Translate pushed-down filters into ONE predicate over the
    * partition-values table — the EXACT sibling of [[zonePredicate]]:
    * the table holds real values, not ranges, so equality/IN/range
    * conjuncts evaluate directly against the value columns (a file
    * survives iff some tuple it contains satisfies every translated
    * conjunct). Untranslatable conjuncts contribute nothing
    * (conservative); None when nothing translates. */
  private[ext] def valuePredicate(filters: Seq[Expression],
      pcols: Seq[String],
      resolver: (String, String) => Boolean = caseInsensitive,
      tzTrusted: Boolean = true): Option[Column] =
    filters.flatMap(valueOf(_, pcols, resolver, tzTrusted)) match {
      case Seq() => None
      case ps => Some(ps.reduce(_ && _))
    }

  /** STRICT twin of [[valuePredicate]] for EXACT answers (filtered
    * metadata aggregates): every conjunct — recursively — must
    * translate, because pruning may drop an untranslatable conjunct
    * conservatively but an exact count may not. NOT is additionally
    * admitted here: partition tuples hold real values, so three-valued
    * negation evaluates exactly (it stays out of the lenient pruning
    * path only because it is never needed there). */
  private[ext] def strictValuePredicate(filters: Seq[Expression],
      pcols: Seq[String],
      resolver: (String, String) => Boolean = caseInsensitive): Option[Column] = {
    val cs = filters.map(strictValueOf(_, pcols, resolver))
    if (cs.isEmpty || cs.exists(_.isEmpty)) None
    else Some(cs.flatten.reduce(_ && _))
  }

  private def strictValueOf(e: Expression, pcols: Seq[String],
      resolver: (String, String) => Boolean): Option[Column] = e match {
    case And(l, r) =>
      for { a <- strictValueOf(l, pcols, resolver)
            b <- strictValueOf(r, pcols, resolver) } yield a && b
    case Or(l, r) =>
      for { a <- strictValueOf(l, pcols, resolver)
            b <- strictValueOf(r, pcols, resolver) } yield a || b
    case org.apache.spark.sql.catalyst.expressions.Not(x) =>
      strictValueOf(x, pcols, resolver).map(!_)
    // EqualNullSafe must translate to the TWO-VALUED `<=>`, not the
    // lenient path's `===`: the lenient form only needs to agree on
    // TRUE (a NULL tuple yields NULL instead of FALSE, which counts
    // identically under `when(pred, 1)`), but under NOT the difference
    // becomes a wrong answer — NOT(FALSE) = TRUE must count, NOT(NULL)
    // does not. Every other leaf is already three-valued-exact.
    case EqualNullSafe(a: AttributeReference, l: Literal) =>
      pcols.find(resolver(_, a.name)).flatMap { k =>
        if (l.value == null) Some(col(k).isNull)
        else scalaLit(l).map(col(k) <=> _)
      }
    case EqualNullSafe(l: Literal, a: AttributeReference) =>
      strictValueOf(EqualNullSafe(a, l), pcols, resolver)
    case leaf => valueOf(leaf, pcols, resolver)
  }

  /** One leaf (or And/Or tree) translated over the PARSED partition
    * spec. Fields match by SOURCE column; identity fields translate
    * exactly as before (tuple column == source column), transformed
    * fields LOWER the source predicate to the tuple domain:
    *
    *  - equality / IN → tuple-equality on the transformed literal
    *    (every transform is a function, so `src = v ⇒ T(src) = T(v)`);
    *  - ranges → WIDENED tuple ranges for monotonic transforms
    *    (`src > v ⇒ T(src) >= T(v)` — strictness is lost at the
    *    transform's granularity, which only keeps extra files);
    *  - null tests → tuple null tests for null-preserving transforms;
    *    bucket maps null to the seed's bucket, so IS NULL becomes
    *    equality on that bucket and IS NOT NULL refuses;
    *  - bucket refuses all ranges (hash order is meaningless).
    *
    * When several fields share a source (`months(ts)` + `days(ts)`),
    * every translatable field contributes and the conjunction prunes
    * with all of them. Untranslatable leaves refuse (None) — pruning
    * skipped, conservative. */
  private def valueOf(e: Expression, pcols: Seq[String],
      resolver: (String, String) => Boolean,
      tzTrusted: Boolean = true): Option[Column] = {
    val fields = PartitionTransforms.parseAll(pcols)
    // tuples recorded under PRE-UTC semantics (partSem < current) may
    // name the wrong granule for TZ-sensitive fields — skipping the
    // field skips its conjunct, which only keeps extra files
    def matching(a: AttributeReference): Seq[PartField] =
      fields.filter(f => resolver(f.source, a.name) &&
        (tzTrusted || !f.tzSensitive(a.dataType)))
    def tcol(f: PartField): Column = col(s"`${f.tupleName}`")
    /** Transformed literal as an external lit(), refusing null results
      * (a null comparand never matches under `===`/ranges — refusal
      * keeps the files instead of dropping all of them). */
    def tlit(f: PartField, l: Literal): Option[Column] =
      if (f.isIdentity) scalaLit(l)
      else if (l.value == null) None
      else f.evalLiteral(l).filter(_ != null).map(lit)
    def allOf(cs: Seq[Column]): Option[Column] =
      if (cs.isEmpty) None else Some(cs.reduce(_ && _))
    def eq(a: AttributeReference, l: Literal): Option[Column] =
      allOf(matching(a).flatMap(f => tlit(f, l).map(tcol(f) === _)))
    def range(a: AttributeReference, l: Literal,
        greater: Boolean, orEqual: Boolean): Option[Column] =
      allOf(matching(a).flatMap {
        case f if f.isIdentity => scalaLit(l).map { v =>
          (greater, orEqual) match {
            case (true, false) => tcol(f) > v
            case (true, true) => tcol(f) >= v
            case (false, false) => tcol(f) < v
            case (false, true) => tcol(f) <= v
          }
        }
        case f if f.monotonic => tlit(f, l).map(v =>
          if (greater) tcol(f) >= v else tcol(f) <= v)
        case _ => None // bucket: hash order is meaningless
      })
    def inList(a: AttributeReference, ls: Seq[Literal]): Option[Column] =
      if (ls.isEmpty || ls.size > maxInValues) None
      else allOf(matching(a).flatMap { f =>
        val vs = ls.map(tlit(f, _))
        // all-or-nothing PER FIELD: dropping one value would narrow
        // the IN-set and prune wrongly; dropping the field only skips
        // its conjunct (conservative)
        if (vs.exists(_.isEmpty)) None
        else Some(orBalanced(vs.flatten.map(tcol(f) === _).distinct))
      })
    def isNull(a: AttributeReference): Option[Column] =
      allOf(matching(a).flatMap {
        case f if f.transform != "bucket" => Some(tcol(f).isNull)
        case f => // null rows live in the seed's bucket
          f.evalLiteral(Literal(null, a.dataType))
            .filter(_ != null).map(v => tcol(f) === lit(v))
      })
    e match {
      case And(l, r) =>
        (valueOf(l, pcols, resolver, tzTrusted),
            valueOf(r, pcols, resolver, tzTrusted)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) => a.orElse(b) // untranslatable conjunct: keep the other
        }
      case Or(l, r) =>
        for { a <- valueOf(l, pcols, resolver, tzTrusted)
              b <- valueOf(r, pcols, resolver, tzTrusted) } yield a || b
      case EqualTo(a: AttributeReference, l: Literal) => eq(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => eq(a, l)
      case EqualNullSafe(a: AttributeReference, l: Literal) =>
        if (l.value == null) isNull(a) else eq(a, l)
      case EqualNullSafe(l: Literal, a: AttributeReference) =>
        if (l.value == null) isNull(a) else eq(a, l)
      case GreaterThan(a: AttributeReference, l: Literal) =>
        range(a, l, greater = true, orEqual = false)
      case GreaterThan(l: Literal, a: AttributeReference) =>
        range(a, l, greater = false, orEqual = false)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        range(a, l, greater = true, orEqual = true)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        range(a, l, greater = false, orEqual = true)
      case LessThan(a: AttributeReference, l: Literal) =>
        range(a, l, greater = false, orEqual = false)
      case LessThan(l: Literal, a: AttributeReference) =>
        range(a, l, greater = true, orEqual = false)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        range(a, l, greater = false, orEqual = true)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        range(a, l, greater = true, orEqual = true)
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        inList(a, vs.map(_.asInstanceOf[Literal]))
      case InSet(a: AttributeReference, vs) =>
        if (vs.isEmpty || vs.size > maxInValues) None
        else {
          val ls = vs.toSeq.map(v =>
            scala.util.Try(Literal(v, a.dataType)).toOption)
          if (ls.exists(_.isEmpty)) None else inList(a, ls.flatten)
        }
      case IsNull(a: AttributeReference) => isNull(a)
      case IsNotNull(a: AttributeReference) =>
        allOf(matching(a).flatMap {
          // null-preserving transforms: non-null source ⇒ non-null
          // tuple; bucket cannot decide (the null bucket also holds
          // real values) and refuses
          case f if f.transform != "bucket" => Some(tcol(f).isNotNull)
          case _ => None
        })
      case _ => None
    }
  }

  /** The zone test for one expression, or None when it (or a branch of
    * it) cannot be decided from min/max/null counts. Null zone bounds
    * (an all-null file) make every range/equality comparison null →
    * the filter drops the file, which is exactly right: no non-null
    * value exists there to satisfy it. */
  private def zoneOf(e: Expression, keys: Seq[String],
      resolver: (String, String) => Boolean): Option[Column] = {
    def mn(k: String) = col(s"${k}_min")
    def mx(k: String) = col(s"${k}_max")
    def nulls(k: String) = col(s"${k}_nulls")
    e match {
      case And(l, r) => (zoneOf(l, keys, resolver), zoneOf(r, keys, resolver)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b) // untranslatable conjunct: keep the other
      }
      // OR needs BOTH branches decidable: an undecidable branch could
      // match anywhere, so the whole disjunction stops pruning
      case Or(l, r) =>
        for { a <- zoneOf(l, keys, resolver); b <- zoneOf(r, keys, resolver) } yield a || b
      case EqualTo(a: AttributeReference, l: Literal) =>
        for { k <- keyFor(keys, a, resolver); v <- scalaLit(l) }
          yield mn(k) <= v && mx(k) >= v
      case EqualTo(l: Literal, a: AttributeReference) =>
        zoneOf(EqualTo(a, l), keys, resolver)
      case EqualNullSafe(a: AttributeReference, l: Literal) =>
        if (l.value == null) keyFor(keys, a, resolver).map(k => nulls(k) > 0)
        else zoneOf(EqualTo(a, l), keys, resolver)
      case EqualNullSafe(l: Literal, a: AttributeReference) =>
        zoneOf(EqualNullSafe(a, l), keys, resolver)
      case GreaterThan(a: AttributeReference, l: Literal) =>
        for { k <- keyFor(keys, a, resolver); v <- scalaLit(l) } yield mx(k) > v
      case GreaterThan(l: Literal, a: AttributeReference) =>
        zoneOf(LessThan(a, l), keys, resolver)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        for { k <- keyFor(keys, a, resolver); v <- scalaLit(l) } yield mx(k) >= v
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        zoneOf(LessThanOrEqual(a, l), keys, resolver)
      case LessThan(a: AttributeReference, l: Literal) =>
        for { k <- keyFor(keys, a, resolver); v <- scalaLit(l) } yield mn(k) < v
      case LessThan(l: Literal, a: AttributeReference) =>
        zoneOf(GreaterThan(a, l), keys, resolver)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        for { k <- keyFor(keys, a, resolver); v <- scalaLit(l) } yield mn(k) <= v
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        zoneOf(GreaterThanOrEqual(a, l), keys, resolver)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        keyFor(keys, a, resolver).flatMap { k =>
          // empty IN normally folds away upstream (OptimizeIn), but an
          // un-optimized plan must not reach reduce on an empty Seq;
          // oversized lists refuse BEFORE any per-value work
          if (vs.isEmpty || vs.size > maxInValues) None
          else {
            val cs = vs.map(v => scalaLit(v.asInstanceOf[Literal]))
            if (cs.exists(_.isEmpty)) None
            else Some(orBalanced(cs.flatten.map(v => mn(k) <= v && mx(k) >= v)))
          }
        }
      case InSet(a: AttributeReference, vs) =>
        keyFor(keys, a, resolver).flatMap { k =>
          if (vs.isEmpty || vs.size > maxInValues) None
          else {
            val dt = a.dataType
            val cs = vs.toSeq.map(v =>
              scala.util.Try(lit(CatalystTypeConverters.convertToScala(v, dt)))
                .toOption.filter(_ => v != null))
            if (cs.exists(_.isEmpty)) None
            else Some(orBalanced(cs.flatten.map(v => mn(k) <= v && mx(k) >= v)))
          }
        }
      case IsNull(a: AttributeReference) =>
        keyFor(keys, a, resolver).map(k => nulls(k) > 0)
      case IsNotNull(a: AttributeReference) =>
        keyFor(keys, a, resolver).map(k => nulls(k) < col("n_rows"))
      case _ => None
    }
  }
}

/** INCREMENTAL maintenance of the storage-partitioned-join purity
  * fold — the (file → single tuple?) classification behind
  * [[ManifestFileIndex.purePartitionTuples]]. Version sidecars are
  * immutable and an append EXTENDS its parent's segment list by a
  * suffix (tuples derived for the new files only), so the fold is a
  * monoid: the classification of `parent segs ++ new segs` is the
  * parent's cached classification merged with a fold of ONLY the new
  * segments. A warm process therefore never re-folds the whole
  * sidecar — the first scan of a fresh version after an append pays
  * O(appended files), and a repeat scan pays a map lookup; only a
  * cold process (or a rewrite, whose single merged segment replaces
  * the list) pays one full fold. This bounds driver plan-time work at
  * million-file scale to the commit's own delta, which is the same
  * contract every other sidecar tier keeps ([[SidecarCache]] memoizes
  * the ROWS; this memoizes the FOLD).
  *
  * Map values: `Some(tuple)` = the file holds exactly one distinct
  * tuple; `None` = mixed (impure). A file appearing in two folded
  * parts with different tuples merges to impure — conservative, and
  * unreachable on the append chain (a data file's tuples live in
  * exactly one segment of a version's list). */
private[ext] object PurityCache {
  private val cache = graft.AppCache.namespace[String,
    Map[String, Option[Seq[Any]]]]("manifest_index.purity",
    bound = SidecarCache.maxEntries)

  /** Test hooks: how many FULL sidecar folds vs incremental
    * (delta-only) folds this process has paid. */
  @volatile private[ext] var fullFolds = 0L
  @volatile private[ext] var incrementalFolds = 0L
  private[ext] def resetMeters(): Unit = { fullFolds = 0; incrementalFolds = 0 }

  private def key(pcols: Seq[String], segs: Seq[String]): String =
    pcols.mkString(",") + "|" +
      segs.map(Dfs.canonical).sorted.mkString("\n")

  def perFileTuples(spark: SparkSession, pcols: Seq[String],
      segs: Seq[String]): Option[Map[String, Option[Seq[Any]]]] = {
    if (segs.isEmpty) return Some(Map.empty)
    val k = key(pcols, segs)
    cache.peek(spark, k).orElse {
      // incremental: appends extend the parent's segment list by a
      // suffix — find the longest cached prefix within a few steps
      // (one per append between scans) and fold only the delta
      val fromPrefix = (1 to 4).iterator
        .filter(_ < segs.length)
        .flatMap { i =>
          cache.peek(spark, key(pcols, segs.dropRight(i))).map { bm =>
            foldOf(spark, pcols, segs.takeRight(i)).map { dm =>
              incrementalFolds += 1
              (bm.keySet ++ dm.keySet).iterator.map { f =>
                f -> ((bm.get(f), dm.get(f)) match {
                  case (Some(a), None) => a
                  case (None, Some(b)) => b
                  case (Some(a), Some(b)) => if (a == b) a else None
                  case _ => None
                })
              }.toMap
            }
          }
        }.nextOption().flatten
      val result = fromPrefix.orElse {
        fullFolds += 1
        foldOf(spark, pcols, segs)
      }
      result.foreach(cache.put(spark, k, _))
      result
    }
  }

  /** One fold of the given segments: file → Some(single tuple) /
    * None(mixed). None overall when a tuple column cannot be resolved
    * in the sidecar schema (legacy/foreign sidecar — no proof). */
  private def foldOf(spark: SparkSession, pcols: Seq[String],
      segs: Seq[String]): Option[Map[String, Option[Seq[Any]]]] = {
    val pv = SidecarCache.localDf(spark, segs)
    val sch = pv.schema
    val fi = sch.fieldIndex("file")
    val resolver = spark.sessionState.analyzer.resolver
    // tuple columns resolve by their SIDECAR names — the source name
    // for identity fields, the derived name (`ts_month`, `k_bucket`)
    // for transforms
    val idxs = PartitionTransforms.parseAll(pcols)
      .map(f => sch.fieldNames.indexWhere(resolver(_, f.tupleName)))
    if (idxs.exists(_ < 0)) None
    else Some(pv.collect() // metadata-sized: rows per (file, tuple)
      .groupBy(r => Dfs.canonical(r.getString(fi)))
      .view.mapValues { rows =>
        val tuples = rows.toSeq.map(r => idxs.map(r.get): Seq[Any]).distinct
        if (tuples.lengthCompare(1) == 0) Some(tuples.head) else None
      }.toMap)
  }
}

/** Driver-side memo of PARSED sidecar contents per sidecar path set —
  * the Delta-snapshot-cache move: a committed version's sidecars are
  * immutable (UUID-named, never rewritten; vacuum only deletes whole
  * versions), so invalidation is free and the memo key is just the
  * canonical path list. Planning a query against an already-planned
  * version then opens ZERO sidecar files: the pruning predicates
  * evaluate over a LocalRelation rebuilt from the cached rows
  * (ManifestsSpec meters this through a counting filesystem). Bounded:
  * the memo clears itself past [[SidecarCache.maxEntries]] — a cache,
  * not a ledger; entries rebuild on next plan. */
private[ext] object SidecarCache {
  /** Evict-all safety valve: per-key bloom rows are ~bits/8 bytes per
    * file, so an unbounded memo on a many-table session could hold GBs.
    * 256 path-sets ≈ hundreds of planned (table, version) pairs. */
  val maxEntries = 256

  private[ext] val cache = graft.AppCache.namespace[String,
    (StructType, Array[org.apache.spark.sql.Row])]("manifest_index.sidecars",
    bound = maxEntries)

  def localDf(spark: SparkSession,
      paths: Seq[String]): org.apache.spark.sql.DataFrame = {
    val (sch, rows) = cache(spark, paths.map(Dfs.canonical).sorted.mkString("\n")) {
      // mergeSchema: sidecar SEGMENTS can straddle a stats-schema
      // widening (e.g. per-file sums added later) — the union schema
      // null-fills older segments deterministically instead of
      // whichever file the reader happens to sample
      val df = spark.read.option("mergeSchema", "true").parquet(paths: _*)
      (df.schema, df.collect())
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
  }
}
