package graft.sources.manifest

import graft.ext.{Dfs, ManifestFileIndex, Manifests, VersionMeta}
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a [[graft.ext.Manifests]] table —
  * the read twin of the exactly-once sinks: `manifestSink`/`cdcSink`
  * stream INTO a manifest table, this streams OUT of one, so a bronze
  * table written by one query feeds a silver query downstream with no
  * re-listing of the data directory (the medallion relay). Offsets ARE
  * manifest versions: micro-batch (a, b] reads exactly the data files
  * version b lists that version a did not — manifest set arithmetic,
  * no directory scans, no modification-time races, and replay-exact
  * after restart because manifests and data files are immutable.
  *
  * Usage: `spark.readStream.format("graft.sources.manifest")
  * .option("path", base).load()`. Options:
  *  - `startingVersion`: absent → the first batch is a full snapshot
  *    of the latest version (read MoR-aware through its deletion
  *    vectors), then increments; an integer v → start diffing from
  *    committed version v; `latest` → appends only, no backfill.
  *  - `allowNonAppend`: a version that REMOVED files (compaction,
  *    copy-on-write delete) or changed deletion vectors is refused by
  *    default — a streaming read of appends cannot represent a
  *    retraction. `true` reads just the added files of such a version
  *    (rewritten rows re-emit, removed rows stay — Delta's
  *    ignoreChanges trade, caller dedups downstream).
  *
  * The schema is pinned at query start (the recorded manifest schema):
  * batches read under it, so files from before a column was added
  * null-fill, and columns added after the query started surface on
  * restart — Structured Streaming's own schema contract. */
class DefaultSource extends StreamSourceProvider with StreamSinkProvider
    with RelationProvider with CreatableRelationProvider
    with DataSourceRegister {

    /** SQL addressability: the dot-free short name keeps
    * `format("manifest")` terse, and the SQL route is a one-line view
    * over the relation (`spark.read.format("manifest").load(base)
    * .createOrReplaceTempView(...)`) — after which every query is pure
    * `spark.sql`, landing on [[createRelation]]'s full Catalyst scan:
    * pushdown, codegen, partition pruning, zone-map skipping, bucket
    * layout. (Spark's direct `FROM provider.`/path`` syntax is reserved
    * for FileFormat sources by `ResolveSQLOnFile`; a RelationProvider
    * goes through a view.) Time travel from SQL uses the Delta-style
    * `@v<N>` PATH SUFFIX — `load(s"$base@v3")` — so a view can pin a
    * version with no reader-option plumbing. */
  override def shortName(): String = "manifest"

  private def basePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("graft.sources.manifest requires .option(\"path\", <table base>)"))

  /** Delta's `path@v<N>` time-travel suffix: `manifest.`/table@v3`` in
    * pure SQL resolves version 3 with no reader-options view — the one
    * thing the SQL surface previously needed Scala for. A path that
    * does not end in `@v<digits>` is taken literally. */
  private def splitVersionSuffix(path: String): (String, Option[Int]) =
    "^(.*)@v(\\d+)$".r.findFirstMatchIn(path) match {
      case Some(m) => (m.group(1), Some(m.group(2).toInt))
      case None => (path, None)
    }

  /** BATCH read of a manifest table through Catalyst's own scan
    * planning: `spark.read.format("graft.sources.manifest").load(base)`
    * resolves one committed version and hands its file list to a
    * [[graft.ext.ManifestFileIndex]] inside a `HadoopFsRelation` over
    * Spark's parquet format ([[DefaultSource.relationAt]]) — so the query gets
    * whole-stage codegen, parquet predicate pushdown, AND manifest-
    * stats file skipping on whatever filters the user writes, with no
    * engine-specific read API in sight. Time travel via options:
    * `versionAsOf` (a committed version number) or `timestampAsOf`
    * (epoch millis, or an ISO-8601 instant — resolved against commit
    * times, [[Manifests.versionAsOf]]).
    *
    * A version carrying deletion vectors reads through the same scan:
    * its parquet format drops each file's deleted positions inside the
    * reader ([[DvParquetFileFormat]]). Two shapes are REFUSED, because
    * a pure file scan cannot serve them: live column renames, and a
    * deletion-vector index past `graft.dv.indexMaxBytes` (or over an
    * unreadable sidecar footer). `Manifests.readAt` reads both (its
    * era read and its anti-join), and `compact()` materializes them. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    // arm the INSERT interception before any view over this relation can
    // exist — without it, SQL INSERT INTO would write bare parquet into
    // the table root that no manifest version lists (silent data loss)
    org.apache.spark.sql.graft.ManifestInsertStrategy.install(spark)
    val (base, atSuffix) = splitVersionSuffix(basePath(parameters))
    val v = (parameters.get("versionAsOf").map(_.toInt).orElse(atSuffix),
        parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) =>
        sys.error("versionAsOf/@v and timestampAsOf are mutually exclusive")
      case (Some(n), None) => n
      case (None, Some(ts)) =>
        val millis =
          if (ts.forall(_.isDigit)) ts.toLong
          else java.time.Instant.parse(ts).toEpochMilli
        Manifests.versionAsOf(spark, base, millis).getOrElse(
          sys.error(s"$base has no version committed at or before $ts"))
      case (None, None) => Manifests.latestVersion(spark, base).getOrElse(
        sys.error(s"no committed version under $base"))
    }
    val m = Manifests.meta(spark, base, v)
    require(!m.renames.exists(_.preFiles.nonEmpty),
      s"version $v of $base carries live column renames — a pure file " +
        "scan cannot re-map pre-rename files' physical names; read " +
        "through the catalog or Manifests.readAt (era-aware), or " +
        "compact() to materialize the rename")
    DefaultSource.relationAt(spark, base, v, m, parameters).getOrElse(
      throw new IllegalArgumentException(s"version $v of $base carries " +
        "deletion vectors past the graft.dv.indexMaxBytes index budget " +
        "(or with an unreadable sidecar footer) — read via " +
        "Manifests.readAt, or compact() to materialize them"))
  }

  /** The WRITE half of the SQL surface —
    * `df.write.format("manifest").mode(...).save(base)` (and the
    * DataFrameWriterV2 / INSERT routes that resolve to a
    * CreatableRelationProvider). Every mode lands as a manifest COMMIT,
    * never a bare file write, so OCC, rebase, schema evolution and the
    * incremental stats/partition/bloom sidecar maintenance all hold on
    * the SQL path exactly as on the Scala one:
    *
    *  - Append → [[Manifests.append]]: the commuting-append retry loop —
    *    concurrent appends both land, concurrent rewrites trigger
    *    re-derivation against the new latest; new columns evolve the
    *    recorded schema additively (type conflicts refuse);
    *  - Overwrite → a fresh bootstrap version that supersedes the table
    *    (old versions stay time-travelable until vacuum — Delta's
    *    overwrite shape). With `partitionedBy`, re-partitioning goes
    *    through [[Manifests.commitDataPartitioned]]'s explicit
    *    `overwrite` contract;
    *  - ErrorIfExists (the writer default) refuses on a live table;
    *    Ignore is a no-op on one.
    *
    * `option("partitionedBy", "c1,c2")` selects the partitioned commit
    * (per-file partition tuples in the manifest, Iceberg shape) for
    * bootstrap/overwrite writes; appends to a partitioned table derive
    * tuples for the new files under the RECORDED spec automatically. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val (base, atSuffix) = splitVersionSuffix(basePath(parameters))
    require(atSuffix.isEmpty,
      s"cannot write to time-travel path $base@v${atSuffix.getOrElse(-1)} — " +
        "versions are immutable; write to the table base")
    val exists = Manifests.latestVersion(spark, base).isDefined
    val partCols = parameters.get("partitionedBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    def create(overwrite: Boolean): Unit = partCols match {
      case Some(cols) =>
        Manifests.commitDataPartitioned(data, base, cols, overwrite = overwrite)
      case None => Manifests.commitData(data, base)
    }
    mode match {
      case SaveMode.Append =>
        if (exists) Manifests.append(data, base) else create(overwrite = false)
      case SaveMode.Overwrite => create(overwrite = true)
      case SaveMode.Ignore => if (!exists) create(overwrite = false)
      case SaveMode.ErrorIfExists =>
        if (exists) sys.error(s"$base already holds a committed manifest " +
          "table (mode=ErrorIfExists) — use append, overwrite, or ignore")
        else create(overwrite = false)
    }
    // the write COMMITTED; the returned handle must not re-refuse on a
    // version the scan relation cannot serve (live renames, a DV index
    // past its budget) — save() only needs a schema handle
    try createRelation(sqlContext, parameters)
    catch {
      case scala.util.control.NonFatal(_) =>
        val ctx = sqlContext
        val v = Manifests.latestVersion(spark, base).get
        val sch = Manifests.schemaOf(spark, base, v).getOrElse(data.schema)
        new BaseRelation {
          override def sqlContext: SQLContext = ctx
          override def schema: StructType = sch
        }
    }
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val base = basePath(parameters)
    val v = Manifests.latestVersion(spark, base).getOrElse(
      sys.error(s"no committed version under $base — commit before streaming"))
    val s = schema.orElse(Manifests.schemaOf(spark, base, v)).getOrElse(
      spark.read.parquet(Manifests.files(spark, base, v).head).schema)
    val out =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        s.add("_change_type", org.apache.spark.sql.types.StringType,
          nullable = false)
      else s
    ("graft-manifest", out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new ManifestSource(sqlContext, basePath(parameters),
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      parameters)

  /** The declarative face of the exactly-once streaming SINK —
    * `df.writeStream.format("manifest").option("path", base).start()`
    * instead of the `foreachBatch` sugar
    * ([[graft.streaming.Streams.manifestSink]], which stays for callers
    * who want a hook). Same commit primitive underneath
    * ([[Manifests.appendBatch]]): the manifest IS the batch-done
    * record, so an at-least-once replay after a crash between commit
    * and checkpoint finds its `data_batch_<id>` directory already
    * referenced and no-ops — exactly-once without a transaction log
    * beside the table's own. Append mode only: a manifest append can
    * represent neither Update's in-place changes nor Complete's
    * wholesale replacement per trigger (use [[Streams.cdcSink]] /
    * a batch overwrite for those shapes). Hive-style partition columns
    * refuse as everywhere — partitioning is declared in the manifest. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "manifest tables take no partitionBy at the sink — partitioning " +
        "is declared in the manifest (commitDataPartitioned; appends " +
        "derive tuples under the recorded spec automatically)")
    require(outputMode == OutputMode.Append(),
      s"manifest sink supports Append output only (got $outputMode) — " +
        "a manifest append cannot represent per-trigger updates or " +
        "wholesale replacement; use cdcSink for keyed upserts")
    val (base, atSuffix) = splitVersionSuffix(basePath(parameters))
    require(atSuffix.isEmpty,
      s"cannot stream into time-travel path $base@v${atSuffix.get} — " +
        "versions are immutable; write to the table base")
    new ManifestStreamSink(base,
      parameters.getOrElse("appId", "batch"))
  }
}

object DefaultSource {

  /** The batch relation over version `v` of `base`, whose record `m`
    * the caller has read: a `HadoopFsRelation` whose listing is the
    * version ([[ManifestFileIndex]]: partition, zone-map and bloom
    * file pruning on pushed filters) and whose format drops the
    * version's deleted positions inside the parquet reader
    * ([[DvParquetFileFormat]] over [[Manifests.dvIndex]]), so a
    * vectored version plans as ONE file scan. A version written by
    * `commitDataBucketed` exposes its layout as a `BucketSpec`: the
    * scan reports `HashPartitioning(keys, n)`, so joins and
    * aggregations on the bucket keys plan with zero exchange.
    *
    * None where a pure file scan cannot serve the version: live column
    * renames (pre-rename files hold the old physical names), or a DV
    * index that cannot be built (past `graft.dv.indexMaxBytes`, or an
    * unreadable sidecar footer). [[Manifests.readAt]] then takes its
    * era read or its anti-join. */
  private[graft] def relationAt(spark: SparkSession, base: String, v: Int,
      m: VersionMeta, options: Map[String, String] = Map.empty)
      : Option[HadoopFsRelation] = {
    if (m.renames.exists(_.preFiles.nonEmpty)) return None
    // index only the files this version lists: sidecars may hold rows
    // of files a later commit retired
    val dv =
      if (m.dv.isEmpty) Some(Map.empty[String, Array[Long]])
      else Manifests.dvIndex(spark, m.dv,
        Some(Manifests.files(spark, base, v).map(Dfs.canonical).toSet))
    dv.map { index =>
      val location = new ManifestFileIndex(spark, base, v, Some(m))
      HadoopFsRelation(
        location = location,
        partitionSchema = new StructType(),
        dataSchema = m.schema.getOrElse(
          spark.read.parquet(location.inputFiles.head).schema),
        bucketSpec = m.bucketSpec.map { case (n, keys, sortCols) =>
          org.apache.spark.sql.catalyst.catalog.BucketSpec(n, keys, sortCols)
        },
        fileFormat = new DvParquetFileFormat(index),
        options = options)(spark)
    }
  }

  /** `files` read under `schema` as `spark.read.parquet` lists them
    * (so `_metadata.file_path` spells each file as every other read
    * does), through [[DvParquetFileFormat]] with DV index `dv` — the
    * [[relationAt]] read of a file subset (a filtered read, the change
    * feed's sides, the MoR DML passes over affected files). */
  private[graft] def filesRelation(spark: SparkSession, files: Seq[String],
      schema: Option[StructType], dv: Map[String, Array[Long]])
      : HadoopFsRelation = {
    val plain = schema.fold(spark.read)(spark.read.schema(_)).parquet(files: _*)
    plain.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case r: HadoopFsRelation =>
            r.copy(fileFormat = new DvParquetFileFormat(dv))(r.sparkSession)
          case r => sys.error(s"parquet read resolved to $r")
        }
      case p => sys.error(s"parquet read resolved to $p")
    }
  }
}

/** V1 `Sink` over [[Manifests.appendBatch]]. The frame `addBatch`
  * receives is bound to the engine's incremental execution; it is
  * re-wrapped as a plain batch frame over the already-planned RDD
  * before the commit path writes it (the standard V1-sink move).
  * The `appId` sink option scopes replay identity per writer query —
  * two streams into one table each pass a stable unique id, the
  * default keeps the single-writer assumption. */
private[manifest] class ManifestStreamSink(base: String,
    appId: String) extends Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    Manifests.appendBatch(
      org.apache.spark.sql.graft.StreamShim.asBatch(spark, data),
      base, batchId, appId): Unit
  }
  override def toString: String = s"ManifestStreamSink[$base]"
}

/** Offset = committed manifest version. `json` is the wire format the
  * engine checkpoints; a restart hands it back as a SerializedOffset,
  * so version recovery is `json.toInt` on whichever Offset arrives. */
private[manifest] case class VersionOffset(v: Int) extends OffsetV1 {
  override def json: String = v.toString
}

private[manifest] class ManifestSource(sqlContext: SQLContext,
    base: String, override val schema: StructType,
    parameters: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession
  private val allowNonAppend =
    parameters.get("allowNonAppend").exists(_.toBoolean)
  // change-feed mode: every version — append, delete, rewrite — streams
  // as tagged change rows instead of refusing; deletes become DATA
  private val readChangeFeed =
    parameters.get("readChangeFeed").exists(_.toBoolean)
  // None → full snapshot first; Some(v) → diff from version v.
  // `startingTimestamp` (epoch millis or ISO-8601) resolves to the LAST
  // version committed at-or-before the timestamp — the same resolution
  // batch timestampAsOf uses — so the stream delivers every change
  // AFTER where the table stood at that time ("resume from T").
  private val startingVersion: Option[Int] =
    (parameters.get("startingVersion"), parameters.get("startingTimestamp")) match {
      case (Some(_), Some(_)) =>
        sys.error("startingVersion and startingTimestamp are mutually exclusive")
      case (Some("latest"), None) =>
        Some(Manifests.latestVersion(spark, base).getOrElse(
          sys.error(s"no committed version under $base")))
      case (Some(n), None) => Some(n.toInt)
      case (None, Some(ts)) =>
        val millis =
          if (ts.forall(_.isDigit)) ts.toLong
          else java.time.Instant.parse(ts).toEpochMilli
        Some(Manifests.versionAsOf(spark, base, millis).getOrElse(
          sys.error(s"$base has no version committed at or before $ts — " +
            "start from a snapshot (omit the option) instead")))
      case (None, None) => None
    }

  // admission control: cap how many table versions one micro-batch may
  // span (Delta's maxFilesPerTrigger shape, in version units — versions
  // are this source's offsets, so they are what a trigger admits). A
  // backlogged restart then catches up in bounded batches instead of
  // one batch spanning the whole backlog. The snapshot batch is exempt:
  // it is one version read whole, by construction.
  private val maxVersionsPerTrigger: Option[Int] =
    parameters.get("maxVersionsPerTrigger").map { v =>
      val n = v.toInt
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1 (got $n)")
      n
    }

  // byte-based admission — the cap that actually bounds a trigger's
  // WORK: a version can be one row or one terabyte, so counting
  // versions (above) bounds only metadata. Each version's added bytes
  // were recorded at commit time in its manifest summary
  // (Manifests.addedBytesOf), so admission costs one tiny read per
  // candidate version, no data-file statusing. Versions admit in order
  // while the running sum stays within the cap; the version that would
  // exceed it waits for the next trigger — except the FIRST, which
  // always admits (an oversized or unknown-size version must make
  // progress alone, Delta's maxBytesPerTrigger soft-max semantics).
  private val maxBytesPerTrigger: Option[Long] =
    parameters.get("maxBytesPerTrigger").map { v =>
      val n = v.toLong
      require(n >= 1, s"maxBytesPerTrigger must be >= 1 (got $n)")
      n
    }

  // the highest version this source has offered or served — the base
  // the next trigger's cap counts from (getOffset has no start param in
  // this API; the source tracks its own progress, and getBatch re-syncs
  // the tracker from the engine's checkpointed offsets on restart)
  private var lastSeen: Option[Int] = None

  private def ver(o: OffsetV1): Int = o.json.toInt

  // ---- Trigger.AvailableNow (SupportsTriggerAvailableNow) ----
  // Without this, Spark 4 falls back to ONE batch spanning the whole
  // backlog for sources that don't declare support — exactly the
  // unbounded catch-up the admission options exist to prevent. The
  // contract: capture the table's latest version at query start; every
  // later offer is capped at that target, so the run drains the
  // captured backlog in admission-bounded batches and terminates,
  // while appends landing mid-run wait for the next run (Delta's
  // AvailableNow semantics).
  private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowTarget =
      Some(Manifests.latestVersion(spark, base).getOrElse(-1))
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The admission-control face of [[getOffset]] — once this source
    * declares AvailableNow support the engine drives offsets through
    * here in EVERY trigger mode. The engine's checkpointed start
    * re-syncs the progress tracker (restarts), then the shared
    * version/byte admission logic answers; the per-trigger caps are
    * this source's own options, so the engine-side limit is
    * allAvailable. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = synchronized {
    Option(start).foreach { o =>
      lastSeen = Some(math.max(lastSeen.getOrElse(-1), o.json.toInt))
    }
    getOffset.orNull
  }

  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    Manifests.latestVersion(spark, base).map(VersionOffset).orNull

  override def getOffset: Option[OffsetV1] = synchronized {
    Manifests.latestVersion(spark, base).flatMap { l0 =>
      // an AvailableNow run never offers past the version captured at
      // prepare time (-1 = the table was empty then: nothing to serve)
      val latest = availableNowTarget.fold(l0)(math.min(l0, _))
      if (latest < 0) None else Some(latest)
    }.map { latest =>
      val from = lastSeen.orElse(startingVersion)
      val byVersions = (maxVersionsPerTrigger, from) match {
        case (Some(cap), Some(f)) => math.min(latest, f + cap)
        case _ => latest // first offer with a snapshot start: one version
      }
      val capped = (maxBytesPerTrigger, from) match {
        case (Some(maxB), Some(f)) =>
          var v = f
          var acc = 0L
          var stop = false
          while (!stop && v < byVersions) {
            val nb = Manifests.addedBytesOf(spark, base, v + 1)
              .getOrElse(Long.MaxValue) // unknown size: cap-exceeding
            if (acc == 0L || (nb < Long.MaxValue - acc && acc + nb <= maxB)) {
              acc += math.min(nb, Long.MaxValue / 4); v += 1
            } else stop = true
          }
          v
        case _ => byVersions
      }
      lastSeen = Some(math.max(lastSeen.getOrElse(-1), capped))
      VersionOffset(capped)
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    synchronized {
      lastSeen = Some(math.max(lastSeen.getOrElse(-1), ver(end)))
    }
    import org.apache.spark.sql.functions.{col, lit}
    val to = ver(end)
    val df = (start.map(ver).orElse(startingVersion)) match {
      case None =>
        // initial backfill: the whole table as of `to`, vectors applied
        val snap = Manifests.readAt(spark, base, to)
        if (readChangeFeed)
          snap.withColumn("_change_type", lit("insert"))
            .select(schema.fieldNames.map(col): _*)
        else snap.select(schema.fieldNames.map(col): _*)
      case Some(from) if from >= to => emptyBatch
      case Some(from) if readChangeFeed =>
        // every commit kind is representable as change rows — the
        // DV-aware, schema-aware version diff does the pruning;
        // updateImages=true swaps in the per-version replay so
        // flagged versions keep their update_preimage/postimage pairs
        (if (parameters.get("updateImages").exists(_.toBoolean))
          Manifests.changesBetweenWithUpdates(spark, base, from, to)
        else Manifests.changesBetween(spark, base, from, to))
          .select(schema.fieldNames.map(col): _*)
      case Some(from) =>
        val fa = Manifests.files(spark, base, from).map(Dfs.canonical)
        val fb = Manifests.files(spark, base, to).map(Dfs.canonical)
        val removed = fa.filterNot(fb.toSet)
        val dvChanged = Manifests.dvFiles(spark, base, from).map(Dfs.canonical) !=
          Manifests.dvFiles(spark, base, to).map(Dfs.canonical)
        if ((removed.nonEmpty || dvChanged) && !allowNonAppend)
          sys.error(s"versions ($from, $to] of $base are not append-only " +
            s"(${removed.size} files removed, vectors changed: $dvChanged); " +
            "a streaming read emits appends — restart from a snapshot, set " +
            "allowNonAppend=true to re-emit rewritten files, or consume " +
            "readChangeFeed=true to receive deletes as change rows")
        val added = fb.filterNot(fa.toSet)
        if (added.isEmpty) emptyBatch
        // era-aware: a catch-up batch can deliver files that predate a
        // later RENAME COLUMN — they hold the old physical name and
        // must alias to the stream's (post-rename) schema, not
        // null-fill
        else Manifests.eraRead(spark, Manifests.renamesOf(spark, base, to),
          added, Some(dataSchema))
    }
    // MicroBatchExecution asserts getBatch returns isStreaming=true
    org.apache.spark.sql.graft.StreamShim.asStreaming(spark, df)
  }

  /** The on-disk schema: source schema minus the feed's tag column. */
  private def dataSchema: StructType =
    if (readChangeFeed) StructType(schema.filterNot(_.name == "_change_type"))
    else schema

  private def emptyBatch: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}
