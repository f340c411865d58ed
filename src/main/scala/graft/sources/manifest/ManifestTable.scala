package graft.sources.manifest

import java.util

import graft.ext.{Dfs, Manifests, VersionMeta}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDeleteV2, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsOverwriteV2, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.graft.PredicateShim
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A manifest table as a DSv2 `Table` — the face that makes the whole
  * SQL DML surface land on the manifest protocol: name-based reads
  * (`spark.table`, `SELECT ... FROM graft.t`), `INSERT INTO` /
  * `INSERT OVERWRITE`, `DELETE FROM`, and — via
  * [[SupportsRowLevelOperations]] — `UPDATE` and `MERGE INTO`, all
  * through one `Table` handle loaded by [[ManifestCatalog]].
  *
  * Read path: a plain `ParquetScanBuilder` over [[ManifestScanIndex]],
  * so the catalog scan is Spark's own vectorized parquet reader with
  * pushdown and codegen, file-pruned by the manifest's partition
  * tuples, zone maps and blooms exactly like the V1 relation.
  *
  * Write path tiers, cheapest applicable wins:
  *  - INSERT → the V1 fallback ([[V1Write]]) onto
  *    [[Manifests.append]]/[[Manifests.commitData]] — the same OCC
  *    retry, constraint enforcement and incremental sidecar
  *    maintenance as the DataFrame writer;
  *  - INSERT OVERWRITE → whole-table replace, a partition-scoped
  *    atomic region replace (static `PARTITION (c = x)` spec /
  *    partition-column predicates → [[Manifests.overwriteWhere]]), or
  *    Hive-dynamic replacement of exactly the partitions the data
  *    holds (`partitionOverwriteMode=dynamic` →
  *    [[Manifests.overwriteDynamicFiles]] over the DSv2 batch write);
  *  - DELETE with a fully-translatable predicate →
  *    [[SupportsDeleteV2.deleteWhere]]: metadata-only partition
  *    retirement when the predicate touches partition columns only,
  *    file-surgical copy-on-write otherwise (Spark's
  *    `OptimizeMetadataOnlyDeleteFromTable` collapses the group
  *    rewrite to this whenever the condition translates);
  *  - everything else (UPDATE, MERGE, untranslatable DELETE) → the
  *    group-based copy-on-write rewrite: Spark plans the replacement
  *    rows, [[CowScan]] selects affected files at GROUP granularity
  *    (zone/partition pruning on the command condition — never
  *    row-level parquet filtering, which would drop survivor rows),
  *    and [[graft.ext.Manifests.replaceFiles]] publishes the swap
  *    under OCC with constraint validation.
  *
  * Deletion vectors: a vectored version READS THROUGH its vectors (a
  * [[MorScanBuilder]] V1 scan over [[Manifests.readAt]] — file-pruned:
  * only vectored files pay the anti-join), and DELETE routes to the
  * merge-on-read tier ([[Manifests.deleteWhereMor]], stacking another
  * vector — no data bytes move). UPDATE and MERGE still refuse on a
  * vectored version: their group-based rewrite reads raw files, and a
  * raw read of a vectored file would resurrect its deleted rows into
  * the rewrite — `compact()` materializes the vectors first (the
  * pinned contract, spec'd in ManifestCatalogSpec). A `pinned` version
  * is a time-travel handle — readable, never writable. */
class ManifestTable(spark: SparkSession, val base: String,
    pinned: Option[Int], declaredSchema: Option[StructType],
    declaredPartCols: Seq[String], ident: String) extends Table
    with SupportsRead with SupportsWrite with SupportsDeleteV2
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  /** `_file` / `_pos` — Iceberg's metadata-column pair: the data file
    * a row lives in and its physical position there. Non-nullable by
    * contract (every materialized row HAS a file and a position),
    * which also qualifies them as the `SupportsDelta` rowId. Served by
    * every batch read path; `SELECT *` never includes them. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = DvScan.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "data file the row lives in (_metadata.file_path spelling)"
    },
    new MetadataColumn {
      override def name(): String = DvScan.PosCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical row position within _file"
    })

  private def currentVersion: Option[Int] =
    pinned.orElse(Manifests.latestVersion(spark, base))

  private def schemaAt(v: Int): StructType =
    Manifests.schemaOf(spark, base, v).getOrElse(
      spark.read.parquet(Manifests.files(spark, base, v).head).schema)

  override def name(): String = ident

  override def schema(): StructType =
    currentVersion.map(schemaAt).orElse(declaredSchema).getOrElse(
      sys.error(s"$base has no committed version and no declared schema"))

  override def partitioning(): Array[Transform] = {
    val cols = currentVersion
      .flatMap(v => Manifests.partitionedBy(spark, base, v).map(_._1))
      .getOrElse(declaredPartCols)
    cols.map(graft.ext.PartitionTransforms.parse(_).v2Transform).toArray
  }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("location", base)
    m.put("provider", "manifest")
    currentVersion.foreach(v => m.put("version", v.toString))
    m
  }

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.BATCH_WRITE)
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.OVERWRITE_BY_FILTER)
    s.add(TableCapability.OVERWRITE_DYNAMIC)
    s.add(TableCapability.TRUNCATE)
    s.add(TableCapability.MICRO_BATCH_READ)
    s.add(TableCapability.STREAMING_WRITE)
    s
  }

  private def refuseDv(v: Int, what: String): Unit =
    require(Manifests.dvFiles(spark, base, v).isEmpty,
      s"version $v of $base carries deletion vectors — $what needs " +
        "materialized files; run compact() first")

  // ---- read -------------------------------------------------------

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // resolve the version ONCE and derive the schema from IT: a
    // concurrent commit landing between the file listing and a separate
    // latest-schema read would scan version-N files under version-N+1's
    // schema (wrong null-fill after an evolution, ghost columns after a
    // drop)
    val v = currentVersion
    val sch = v.map(schemaAt).orElse(declaredSchema).getOrElse(
      sys.error(s"$base has no committed version and no declared schema"))
    // a vectored version rides the SAME columnar parquet scan as a
    // clean one — the deletion vectors apply inside the reader as
    // per-file position bitmaps ([[DvParquetScan]]), keeping pushdown,
    // zone pruning and whole-stage codegen for every file. Only two
    // shapes still take the V1 detour over the DV/era-aware readAt:
    // live RENAME COLUMN events (pre-rename files hold the old
    // physical name — a raw scan would null-fill the column) and a
    // version whose DV index cannot be built: past the bitmap byte
    // budget, or a sidecar footer unreadable (the anti-join fallback
    // is always correct, never memory-bound). The index itself is the
    // version's shared one (`Manifests.dvIndex`): cached
    // per-sidecar entries read on the driver, no Spark job.
    if (v.exists(w => Manifests.hasLiveRenames(spark, base, w)))
      new MorScanBuilder(spark, base, v.get, sch, options, pinned)
    else {
      val dvs = v.map(w => Manifests.dvFiles(spark, base, w))
        .getOrElse(Seq.empty)
      Manifests.dvIndex(spark, dvs) match {
        case Some(idx) => new GraftScanBuilder(spark,
          new ManifestScanIndex(spark, base, v), sch, options, base,
          pinned, idx)
        case None =>
          new MorScanBuilder(spark, base, v.get, sch, options, pinned)
      }
    }
  }

  // ---- INSERT INTO / INSERT OVERWRITE (V1 fallback) ---------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwriteV2
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var replaceAll = false
      private var overwriteCond: Option[org.apache.spark.sql.Column] = None
      // the EXACT tuple-domain form of the region (identity columns,
      // or transform-ALIGNED shapes like one month of a monthly table)
      // — what lets the region replace classify whole files from
      // metadata; the source-domain cond above stays the containment
      // check over the written bytes
      private var overwriteRegion: Option[org.apache.spark.sql.Column] = None
      private var overwriteRegionHistory
          : Seq[(Seq[String], org.apache.spark.sql.Column)] = Nil
      private var dynamicParts = false

      /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`:
        * replace exactly the partitions the incoming data CONTAINS
        * (Hive dynamic semantics). The partition set is discovered at
        * insert time — one distinct over the data's partition columns —
        * and lowered to a partition predicate for the same atomic
        * [[Manifests.overwriteWhere]] commit the static form uses. */
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamicParts = true
        this
      }

      override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
        if (predicates.isEmpty || predicates.forall(_.name == "ALWAYS_TRUE")) {
          replaceAll = true
          return this
        }
        // partition-scoped INSERT OVERWRITE (static `PARTITION (c = x)`
        // spec, or replaceWhere-shaped predicates): the condition must
        // translate EXACTLY (a dropped conjunct would widen the replaced
        // region) and address partition columns only, so untouched
        // partitions carry by reference and only boundary files pay a
        // rewrite — Hive static-overwrite semantics on the manifest
        // protocol, one atomic commit ([[Manifests.overwriteWhere]])
        val fs = translated(predicates).getOrElse(sys.error(
          "INSERT OVERWRITE condition does not translate to source " +
            "filters — use whole-table overwrite, or DELETE FROM + INSERT"))
        currentVersion.foreach { w =>
          refuseDv(w, "INSERT OVERWRITE")
          overwriteRegion = CatalogSupport.exactTuplePredicate(
            spark, base, w, fs.toSeq)
          overwriteRegionHistory = CatalogSupport.exactHistoryPredicates(
            spark, base, w, fs.toSeq)
          require(overwriteRegion.isDefined,
            "manifest INSERT OVERWRITE takes whole-table predicates, " +
              "partition-column predicates, or transform-ALIGNED " +
              "boundaries (e.g. whole months of a monthly table) — " +
              "anything else would need a row-level rewrite; use " +
              "DELETE FROM + INSERT for that shape")
        }
        // a translatable-but-unconvertible condition (e.g. a nested
        // field) must REFUSE here: falling through with None would let
        // the V1 overwrite fallback replace the WHOLE table when the
        // caller asked to replace one region
        overwriteCond = Some(FilterColumns.toColumn(fs.toSeq).getOrElse(
          sys.error("INSERT OVERWRITE condition does not translate to " +
            "a row predicate — use whole-table overwrite, or DELETE " +
            "FROM + INSERT")))
        this
      }

      override def build(): Write = {
        // the table's partition columns — declared, else recorded at
        // the current version — resolved ONCE for every face below
        // (dynamic overwrite, the V1 insert, streaming, distribution)
        val tableParts = if (declaredPartCols.nonEmpty) declaredPartCols
          else currentVersion.flatMap(v =>
            Manifests.partitionedBy(spark, base, v).map(_._1))
            .getOrElse(Seq.empty)
        // dynamic partition overwrite has NO V1 fallback in Spark
        // (V1FallbackWriters cover append + overwrite-by-filter only),
        // so it takes the same DSv2 batch write as row-level DML: tasks
        // stream parquet, and the commit publishes through the atomic
        // region-replace (or bootstraps an empty table, recording the
        // declared partition spec)
        if (dynamicParts) {
          require(pinned.isEmpty,
            s"cannot write to $base pinned at version ${pinned.getOrElse(-1)}")
          val parts = tableParts
          return new ManifestParquetWrite(spark, base, info.schema(),
            clusterCols = graft.ext.PartitionTransforms.sources(parts),
            commitFn = { written =>
              Manifests.latestVersion(spark, base) match {
                case Some(_) =>
                  Manifests.overwriteDynamicFiles(spark, base, written,
                    info.schema()): Unit
                case None =>
                  require(parts.nonEmpty,
                    "dynamic INSERT OVERWRITE needs a partitioned table " +
                      s"— $base declares no partition columns")
                  if (written.nonEmpty)
                    Manifests.appendWrittenFiles(spark, base, written,
                      info.schema(), replayMarker = None,
                      bootstrapPartCols = parts): Unit
              }
            })
        }
        new V1Write with ManifestWriteDistribution {
        // the write-side distribution contract covers the V1 faces
        // too: INSERT INTO (batch append) and each streaming epoch
        // cluster by the table's partition columns, AQE-rebalanced —
        // a micro-batch sink is the single biggest small-file source
        // at scale, and this folds every trigger's output to ~one
        // file per partition it touches
        override protected def spark: SparkSession = ManifestTable.this.spark
        override protected val clusterCols: Seq[String] =
          graft.ext.PartitionTransforms.sources(tableParts)
            .filter(info.schema().fieldNames.contains)
        // `df.writeStream.toTable("graft.ns.t")`: the same Write serves
        // the streaming engine — per-epoch parquet streamed by tasks,
        // each epoch an idempotent manifest append (Append mode only)
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(pinned.isEmpty,
            s"cannot stream into $base pinned at a version")
          require(!replaceAll,
            "manifest streaming writes are APPEND-only — a manifest " +
              "append cannot represent per-trigger replacement")
          new ManifestStreamingWrite(spark, base, info.schema(),
            info.queryId(), tableParts)
        }
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(pinned.isEmpty,
                s"cannot write to $base pinned at version ${pinned.get} — " +
                  "versions are immutable; write to the table head")
              // a VALUES/literal query arrives with non-nullable field
              // flags (plan-derived nullability cannot be relaxed by
              // projection); RECORDING those on bootstrap would
              // silently tighten the declared contract — and the
              // recorded bit is enforced like a CHECK. Record the
              // declared nullability instead, relaxation only.
              val recSchema: Option[StructType] = declaredSchema match {
                case Some(ds) if ds.length == data.schema.length &&
                    ds.fields.zip(data.schema.fields).forall {
                      case (d, a) => d.dataType == a.dataType } =>
                  val relaxed = StructType(
                    data.schema.fields.zip(ds.fields).map {
                      case (a, d) =>
                        a.copy(nullable = a.nullable || d.nullable) })
                  Some(relaxed).filter(_ != data.schema)
                case _ => None
              }
              val exists = Manifests.latestVersion(spark, base).isDefined
              val parts = tableParts
              def bootstrap(): Unit = parts match {
                case Seq() =>
                  Manifests.commitData(data, base,
                    recordSchema = recSchema): Unit
                case cols => Manifests.commitDataPartitioned(
                  data, base, cols, overwrite = false,
                  recordSchema = recSchema): Unit
              }
              overwriteCond match {
                case Some(cond) if exists =>
                  Manifests.overwriteWhere(data, base, cond,
                    regionPred = overwriteRegion,
                    regionHistory = overwriteRegionHistory): Unit
                case Some(cond) =>
                  // nothing to replace yet: the overwrite region of an
                  // uncommitted table is empty — but the statement
                  // still CLAIMS to touch only the declared region, so
                  // containment is enforced exactly like
                  // overwriteWhere's replaceWhere check: a row outside
                  // the PARTITION spec refuses instead of silently
                  // landing under a partition the statement never
                  // named (Delta refuses these too)
                  import org.apache.spark.sql.functions.{coalesce, lit}
                  require(data.filter(!coalesce(cond, lit(false)))
                      .limit(1).count() == 0,
                    s"INSERT OVERWRITE into $base: the incoming data " +
                      "contains rows outside the declared PARTITION " +
                      "region — every inserted row must match it")
                  bootstrap()
                case None =>
                  if (replaceAll || overwrite || !exists) parts match {
                    case Seq() => Manifests.commitData(data, base,
                      recordSchema = recSchema): Unit
                    case cols => Manifests.commitDataPartitioned(
                      data, base, cols, overwrite = exists,
                      recordSchema = recSchema): Unit
                  } else Manifests.append(data, base): Unit
              }
            }
          }
        }
      }
    }

  // ---- DELETE FROM (metadata / file-surgical tier) ----------------

  private def translated(predicates: Array[Predicate])
      : Option[Array[org.apache.spark.sql.sources.Filter]] = {
    val v1 = predicates.map(PredicateShim.toV1)
    // every predicate must translate: a dropped conjunct would WIDEN
    // the delete — refuse and let Spark fall back to the group rewrite
    if (v1.exists(_.isEmpty)) None else Some(v1.map(_.get))
  }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    currentVersion.exists { v =>
      pinned.isEmpty &&
        translated(predicates).exists(fs =>
          FilterColumns.toColumn(fs.toSeq).isDefined)
    }

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    require(pinned.isEmpty, s"cannot delete from $base pinned at a version")
    val v = currentVersion.getOrElse(
      sys.error(s"no committed version under $base"))
    val fs = translated(predicates).getOrElse(
      sys.error("DELETE condition does not translate to source filters"))
    val cond = FilterColumns.toColumn(fs.toSeq).getOrElse(
      sys.error("DELETE condition does not translate to a row predicate"))
    if (Manifests.dvFiles(spark, base, v).nonEmpty)
      // an already-vectored version takes its DELETE merge-on-read:
      // another vector stacks on top (deleteWhereMor reads through the
      // existing ones), no data bytes move, and the DV-aware scan above
      // serves the result — a Delta user deleting right after a MoR
      // delete hits no wall
      Manifests.deleteWhereMor(spark, base, cond, asOf = Some(v)): Unit
    else CatalogSupport.exactTuplePredicate(spark, base, v, fs.toSeq) match {
      // the condition is EXACTLY decidable over the recorded partition
      // tuples — identity columns, or transform-ALIGNED shapes like a
      // month-boundary range on a monthly table: whole files retire
      // from metadata alone, only boundary files pay a rewrite. At
      // 100 TB this is the difference between an O(metadata) retention
      // job and a table rewrite.
      case Some(tuplePred) =>
        Manifests.dropPartitions(spark, base, tuplePred,
          asOf = Some(v),
          // legacy spec groups the condition is ALSO aligned under
          // classify from their own tuples — their files retire from
          // metadata instead of paying the boundary rewrite
          historyPreds = CatalogSupport.exactHistoryPredicates(
            spark, base, v, fs.toSeq)): Unit
      case None =>
        Manifests.deleteWhere(spark, base, cond, asOf = Some(v)): Unit
    }
  }

  // ---- UPDATE / MERGE (group-based copy-on-write) -----------------

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"cannot run ${info.command} against $base pinned at a version")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        // a created-but-never-written table is a valid DML target: the
        // scan is empty, DELETE/UPDATE no-op, and a MERGE's NOT MATCHED
        // inserts BOOTSTRAP the table (Delta's merge-bootstrap shape).
        val v = currentVersion
        val sch = v.map(schemaAt).orElse(declaredSchema).getOrElse(
          sys.error(s"$base has no committed version and no declared " +
            s"schema — cannot resolve ${info.command}"))
        // Operation selection (Iceberg's write.update.mode shape):
        //  - a VECTORED version takes the delta-based merge-on-read
        //    operation ([[ManifestDeltaOperation]]) — its raw files
        //    cannot legally feed a copy-on-write rewrite, and with
        //    SupportsDelta they no longer need to: plain SQL
        //    UPDATE/DELETE/MERGE lands vectors + image appends;
        //  - a CLEAN version keeps the group-based CoW rewrite unless
        //    the session opts into MoR with `graft.dml.mode=mor`;
        //  - live RENAMES stay on the CoW path (whose raw-file scan
        //    refuses at EXECUTION with the compact-first message —
        //    the columnar delta scan cannot era-compose).
        // The CoW builder still refuses nothing at ANALYSIS: a
        // translatable DELETE collapses to the metadata/MoR tier
        // (deleteWhere) before either rewrite plans its scan.
        val vectored = v.exists(w =>
          Manifests.dvFiles(spark, base, w).nonEmpty)
        val renamed = v.exists(w =>
          Manifests.hasLiveRenames(spark, base, w))
        val forceMor = spark.conf.getOption("graft.dml.mode")
          .exists(_.equalsIgnoreCase("mor"))
        if ((vectored || forceMor) && !renamed)
          new ManifestDeltaOperation(spark, base, v, sch, info.command)
        else
          new ManifestRowLevelOperation(spark, base, v, sch, info.command)
      }
    }
  }
}

/** One SQL DELETE/UPDATE/MERGE as a group-based copy-on-write rewrite.
  * The instance is the coordination point Spark's split plan needs:
  * its SCAN records which data files it planned (the "groups"), its
  * WRITE commits the replacement by swapping exactly those files in
  * the manifest — derived from the SAME snapshot version, so the
  * published result is the rewrite's serializable outcome or an
  * [[graft.ext.ConcurrentCommitException]], never a half-merged
  * state. */
private[manifest] class ManifestRowLevelOperation(spark: SparkSession,
    base: String, snapshot: Option[Int], tableSchema: StructType,
    cmd: Command) extends RowLevelOperation {

  /** Canonical paths of the files the CoW scan planned — the groups
    * the commit replaces. Written on the driver at scan planning time,
    * read at commit time. Recorded as the INTERSECTION across planning
    * calls: with runtime group filtering the engine may plan once
    * before and once after `filter()` lands, execution always uses the
    * filtered (narrower) set, and replacing a file the executed plan
    * did not read would drop its rows. */
  @volatile private var scanned: Option[Set[String]] = None

  private[manifest] def recordScanned(files: Set[String]): Unit =
    scanned = Some(scanned.fold(files)(_.intersect(files)))

  /** Execution-time deletion-vector / rename refusal for the raw-file
    * CoW scan (see [[CowScan.planInputPartitions]]): both make a bare
    * parquet scan wrong (resurrected rows; null-filled renamed
    * columns), and compact() clears both. */
  private[manifest] def refuseDvAtExecution(): Unit =
    snapshot.foreach { v =>
      require(Manifests.dvFiles(spark, base, v).isEmpty,
        s"version $v of $base carries deletion vectors — $cmd needs " +
          "materialized files; run compact() first")
      require(!Manifests.hasLiveRenames(spark, base, v),
        s"version $v of $base carries live column renames — $cmd's " +
          "raw-file rewrite would null-fill the renamed column in " +
          "pre-rename files; run compact() first")
    }

  /** Columns a runtime IN-list can PRUNE files by at this snapshot —
    * the partition, zone-stats and bloom keys the manifest recorded
    * (restricted to live schema names). Advertised as the CoW scan's
    * `filterAttributes`, so Spark's row-level runtime group filtering
    * computes the matching key values (for MERGE: the join keys that
    * actually match the source) and the scan narrows to the files that
    * can hold them — the Iceberg move that makes a small MERGE against
    * a clustered 100 TB table rewrite a handful of files instead of
    * every file the static condition could not exclude. */
  private[manifest] lazy val prunableCols: Seq[String] =
    snapshot.fold(Seq.empty[String]) { v =>
      val pc = Manifests.partitionedBy(spark, base, v)
        .map(m => graft.ext.PartitionTransforms.sources(m._1))
        .getOrElse(Seq.empty)
      val zc = Manifests.statsOf(spark, base, v)
        .map(_._1).getOrElse(Seq.empty)
      val bc = Manifests.bloomOf(spark, base, v)
        .map(_._1).getOrElse(Seq.empty)
      (pc ++ zc ++ bc).distinct.filter(tableSchema.fieldNames.contains)
    }

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CowScanBuilder(spark,
      new ManifestScanIndex(spark, base, snapshot),
      tableSchema, options, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new ManifestParquetWrite(spark, base, info.schema(),
          // cluster the replacement rows by the table's partition
          // columns: a wide CoW MERGE then writes ~one file per
          // partition instead of one per task
          clusterCols = snapshot.flatMap(v =>
            Manifests.partitionedBy(spark, base, v)
              .map(m => graft.ext.PartitionTransforms.sources(m._1)))
            .getOrElse(Seq.empty)
            .filter(tableSchema.fieldNames.contains),
          commitFn = { written =>
          snapshot match {
            case Some(v) =>
              val touched = scanned.getOrElse(sys.error(
                s"row-level $cmd on $base committed before its scan " +
                  "planned — cannot determine the replaced file set"))
              // a rewrite that touched nothing and wrote nothing is a
              // no-op (the condition provably matched no file): burn no
              // version
              if (touched.nonEmpty || written.nonEmpty) {
                Manifests.replaceFiles(spark, base, v, touched, written,
                  Some(s"sql:${cmd.toString.toLowerCase}"))
                ()
              }
            case None =>
              // MERGE-bootstrap of an empty table: the written inserts
              // ARE version 0 (parent -1 claims it; losing the race to
              // another bootstrap refuses rather than clobbers). A DML
              // that wrote nothing against an empty table burns nothing.
              if (written.nonEmpty) {
                Manifests.commit(spark, base, written,
                  VersionMeta(schema = Some(info.schema())),
                  parent = Some(-1),
                  tag = Some(s"sql:${cmd.toString.toLowerCase}"))
                ()
              }
          }
        })
    }

  override def description(): String =
    s"manifest-$cmd($base@v${snapshot.getOrElse(-1)})"
}

/** The copy-on-write scan builder: a `ParquetScanBuilder` whose pushed
  * filters select at FILE granularity only. The command condition
  * Catalyst pushes here still reaches [[ManifestScanIndex.listFiles]]
  * (partition-tuple + zone-map + bloom pruning decide which files can
  * hold a matching row), but parquet itself receives NO row filters:
  * a row-group skip inside a selected file would silently drop
  * survivor rows from the rewrite — the one failure mode a group-based
  * rewrite must never admit. */
private[manifest] class CowScanBuilder(sp: SparkSession,
    idx: ManifestScanIndex, sch: StructType,
    opts: CaseInsensitiveStringMap, op: ManifestRowLevelOperation)
    extends ParquetScanBuilder(sp, idx, sch, sch, opts) {

  override def pushDataFilters(
      dataFilters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def build(): ParquetScan =
    new CowScan(sparkSession, hadoopConf, idx, dataSchema,
      readDataSchema(), readPartitionSchema(), options,
      partitionFilters, dataFilters, op)
}

/** The scan that reports its planned file set back to the operation —
  * group selection made observable. Everything else is a stock
  * `ParquetScan` (vectorized reader, codegen) with zero pushed parquet
  * filters (see [[CowScanBuilder]]). */
private[manifest] class CowScan(sp: SparkSession,
    conf: org.apache.hadoop.conf.Configuration, idx: ManifestScanIndex,
    dataSch: StructType, readDataSch: StructType, readPartSch: StructType,
    opts: CaseInsensitiveStringMap,
    partFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    op: ManifestRowLevelOperation)
    extends ParquetScan(sp, conf, idx, dataSch, readDataSch, readPartSch,
      Array.empty, opts, None, partFilters, dataFilters, Array.empty)
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** Runtime group filtering: the filterable columns are whatever the
    * snapshot's metadata can prune by; the arriving IN-list predicates
    * lower to pruning expressions and narrow the index's file list —
    * `planInputPartitions` after `filter()` then plans only files that
    * can hold a matching key. Untranslatable predicates drop
    * (conservative: more files kept, never fewer). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    op.prunableCols.map(Expressions.column).toArray

  override def filter(predicates: Array[Predicate]): Unit =
    idx.addRuntimeFilters(predicates.toSeq
      .flatMap(org.apache.spark.sql.graft.PredicateShim.toV1)
      .flatMap(FilterPruning.toExpr))

  override def planInputPartitions(): Array[InputPartition] = {
    // the group rewrite reads files RAW — on a vectored version it
    // would resurrect the deleted rows into the replacement. Checked at
    // execution, not analysis: a translatable DELETE collapses to the
    // metadata/MoR tier before ever planning this scan
    op.refuseDvAtExecution()
    val parts = super.planInputPartitions()
    op.recordScanned(parts.toSeq.flatMap {
      case f: FilePartition =>
        f.files.toSeq.map(p => Dfs.canonical(p.filePath.toString))
      case _ => Seq.empty[String]
    }.toSet)
    parts
  }

  // scan-reuse compares scans structurally; a CowScan is never
  // interchangeable with a plain ParquetScan over the same files (its
  // planning has a side effect), so equality is identity
  override def equals(obj: Any): Boolean = obj match {
    case o: CowScan => this eq o
    case _ => false
  }
  override def hashCode(): Int = System.identityHashCode(this)
}

/** The V1-detour read path for versions the columnar scan cannot
  * serve: live RENAME COLUMN events (pre-rename files hold the old
  * physical name — a raw scan would null-fill the column) and
  * deletion-vector frames past the bitmap byte budget. This builder
  * serves a [[org.apache.spark.sql.connector.read.V1Scan]] over
  * [[Manifests.readAt]], whose plan applies vectors file-pruned
  * (only vectored files pay the position anti-join; clean files stay
  * plain parquet scans INSIDE the plan, with pushdown and codegen).
  *
  * Pushdown: translatable filters are applied inside the frame — where
  * Catalyst re-pushes them down to the underlying parquet scans — but
  * are reported as NOT pushed (`pushedFilters` = empty), so Spark
  * re-evaluates every predicate above the scan: conservative, never
  * wrong. Column pruning is honored exactly (`pruneColumns` → a
  * projection inside the frame), so a narrow query reads narrow
  * columns even through the anti-join. Trade-off, by design: manifest
  * zone/bloom FILE pruning and metadata-only aggregates don't ride
  * this path — only vectored versions pay, and `compact()` returns a
  * table to the fast path. */
private[manifest] class MorScanBuilder(spark: SparkSession, base: String,
    v: Int, sch: StructType, opts: CaseInsensitiveStringMap,
    pinned: Option[Int])
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var required: StructType = sch

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(f => FilterColumns.toColumn(f).isDefined)
    filters // everything stays post-scan: the in-frame copies only prune
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.Scan
        with org.apache.spark.sql.connector.read.V1Scan
        with org.apache.spark.sql.connector.read.SupportsReportStatistics
        with ManifestReportingV1Scan {
      private val req = required
      private val fs = pushed
      override def readSchema(): StructType = req
      override def description(): String = s"manifest-mor($base@v$v)"
      // a V1Scan that reports nothing plans at defaultSizeInBytes
      // (Long.MaxValue) — a renamed or budget-blown dim could then
      // never auto-broadcast; the manifest listing knows better at
      // zero data opens
      override def estimateStatistics()
          : org.apache.spark.sql.connector.read.Statistics =
        ManifestStats.estimateDetour(spark, base, v, req)
      override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan](
          context: org.apache.spark.sql.SQLContext): T = {
        import org.apache.spark.sql.functions.col
        // metadata columns ride the positioned read: `__file`/`__pos`
        // kept through the DV filtering and published under their
        // catalog names — the detour path answers `SELECT _file, _pos`
        // exactly like the columnar scan does
        val wantMeta = req.fieldNames.contains(DvScan.FileCol) ||
          req.fieldNames.contains(DvScan.PosCol)
        val df0 =
          if (wantMeta) Manifests.readAtWithPos(spark, base, v)
            .withColumnRenamed("__file", DvScan.FileCol)
            .withColumnRenamed("__pos", DvScan.PosCol)
          else Manifests.readAt(spark, base, v)
        val df1 =
          if (fs.isEmpty) df0
          else FilterColumns.toColumn(fs.toSeq).map(df0.filter).getOrElse(df0)
        val df = df1.select(
          req.fieldNames.toIndexedSeq.map(n => col(s"`$n`")): _*)
        new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override def schema: StructType = req
          override def buildScan()
              : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = df.rdd
        }.asInstanceOf[T]
      }
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
        require(pinned.isEmpty,
          s"cannot stream from $base pinned at version ${pinned.getOrElse(-1)}")
        // the stream itself refuses a vectored SNAPSHOT with its own
        // actionable message (batchFiles); handing it the live table
        // keeps that message, and diff batches past the vectors work
        new ManifestMicroBatchStream(spark, base, sch, opts)
      }
    }
}
