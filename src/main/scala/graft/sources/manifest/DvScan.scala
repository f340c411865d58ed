package graft.sources.manifest

import graft.ext.Dfs
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** The catalog read path — clean AND vectored versions, one scan.
  *
  * A merge-on-read delete changes no data file, so a raw parquet scan
  * of a vectored version would resurrect the deleted rows. Until round
  * 12 such versions detoured through a V1 row scan over
  * [[graft.ext.Manifests.readAt]] — correct, but the detour decodes
  * every row to external `Row` objects and re-encodes them, dropping
  * whole-stage codegen and columnar batches for the WHOLE table
  * (~2.8× a plain read at 100×). This scan keeps Spark's own
  * vectorized parquet reader, pushdown, zone-map file pruning and
  * whole-stage codegen for EVERY file, and applies the deletion
  * vectors where Delta and Iceberg do: inside the reader, as a
  * per-file position bitmap.
  *
  * Mechanics: the parquet reader is additionally asked for the
  * row-index column (`ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_
  * NAME`, generated — correct under row-group skips and pushed
  * filters); a per-file wrapper drops deleted positions from each
  * `ColumnarBatch` by INDEX REMAPPING (Iceberg's live-row-id-mapping
  * move: delegate vectors wrapped so `get*(i)` reads `map(i)`, no
  * copy), and clean files pay nothing — their readers pass through
  * unwrapped, and a table with no vectors at all gets the stock
  * parquet factory back, byte for byte.
  *
  * The same wrapper serves the table's METADATA COLUMNS (`_file`,
  * `_pos` — Iceberg's spelling): `_file` as a constant-per-file
  * string vector in `_metadata.file_path`'s exact spelling, `_pos` as
  * the (remapped) generated row index. They are the rowId pair the
  * `SupportsDelta` write path keys deletion vectors on, and a user's
  * `SELECT _file, _pos FROM t` rides the identical machinery.
  *
  * The bitmap index ([[graft.ext.Manifests.dvIndex]]) is the
  * version's shared DV index: the OR-merge of per-sidecar entries read
  * on the driver and cached (sidecars are immutable), so building it
  * runs no Spark job; it is broadcast with the scan. Past the
  * `graft.dv.indexMaxBytes` budget, or with an unreadable sidecar
  * footer, the caller falls back to the V1 anti-join detour, which is
  * always correct. */
private[manifest] class GraftScanBuilder(sp: SparkSession,
    idx: ManifestScanIndex, sch: StructType,
    opts: CaseInsensitiveStringMap, base: String, pinned: Option[Int],
    dvIndex: Map[String, Array[Long]])
    extends ParquetScanBuilder(sp, idx, sch, sch, opts) {

  private var wantFile = false
  private var wantPos = false

  /** Metadata columns are not parquet columns: strip them before the
    * stock pruning (which intersects with the DATA schema) and let the
    * reader wrapper append them. */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    wantFile = requiredSchema.fieldNames.contains(DvScan.FileCol)
    wantPos = requiredSchema.fieldNames.contains(DvScan.PosCol)
    super.pruneColumns(StructType(requiredSchema.fields.filterNot(f =>
      f.name == DvScan.FileCol || f.name == DvScan.PosCol)))
  }

  /** Footer-level aggregate pushdown is refused outright: on a
    * vectored version footer counts include DELETED rows (wrong), and
    * on clean versions the manifest answers the same aggregates from
    * its own stats tier ([[org.apache.spark.sql.graft.ManifestCountRule]])
    * without opening a footer at all. */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = false

  override def build(): ParquetScan = {
    val dataRead = readDataSchema()
    // the generated row index rides whenever positions matter: a DV to
    // probe, or `_pos` requested. Appended LAST so data-column
    // ordinals are untouched.
    val needIdx = wantPos || dvIndex.nonEmpty
    val innerRead =
      // nullable = true is load-bearing: the reader treats the field
      // as a missing-but-optional column (no "required column is
      // missing" refusal) and its RowIndexGenerator fills the vector
      if (needIdx) StructType(dataRead.fields :+ StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
        nullable = true))
      else dataRead
    new DvParquetScan(sparkSession, hadoopConf, idx, dataSchema,
      innerRead, readPartitionSchema(), pushedDataFilters, options,
      partitionFilters, dataFilters, base, pinned, dvIndex,
      wantFile, wantPos, dataRead.length)
  }
}

private[manifest] object DvScan {
  /** Iceberg's metadata-column spellings: the data file a row lives in
    * (in `_metadata.file_path`'s exact form) and its physical position
    * there — together the stable rowId merge-on-read DML keys on. */
  val FileCol = "_file"
  val PosCol = "_pos"

  /** `_metadata.file_path`'s exact spelling for a planned file — the
    * spelling deletion-vector sidecars store, so a `_file` emitted
    * here round-trips through every (file, pos) comparison in the MoR
    * tier. Mirrors `FileFormat.BASE_METADATA_EXTRACTORS("file_path")`. */
  def filePathOf(file: PartitionedFile): String =
    new org.apache.hadoop.fs.Path(file.filePath.toPath.toString)
      .toUri.toString

  /** Per-file deleted-row counts (bitmap popcount) of a DV index. Exact:
    * bitmaps dedup duplicate delete actions by construction. */
  def cardinalities(dvIndex: Map[String, Array[Long]]): Map[String, Long] =
    dvIndex.map { case (f, words) =>
      f -> words.iterator.map(w => java.lang.Long.bitCount(w).toLong).sum }

  /** A V1 reader's output (batches or rows) with `live`'s deleted rows
    * dropped and only the `keep` columns (of types `types`) left.
    * Closing it closes the reader, so a task reading many files
    * releases each one as it moves on. */
  def liveIterator(rows: Iterator[InternalRow], live: LivePositions,
      keep: Array[Int], types: Array[org.apache.spark.sql.types.DataType])
      : Iterator[InternalRow] = {
    lazy val proj = UnsafeProjection.create(keep.indices.map(k =>
      BoundReference(keep(k), types(k), nullable = true)).toIndexedSeq)
    // a vectorized reader hands batches through the row-typed iterator
    val in = rows.asInstanceOf[Iterator[AnyRef]]
    new Iterator[AnyRef] with java.io.Closeable {
      private var pending: AnyRef = _
      override def hasNext: Boolean = {
        while (pending == null && in.hasNext) in.next() match {
          case b: ColumnarBatch =>
            val kept = live.select(b)
            pending = new ColumnarBatch(keep.map(live.column(b, _)), kept)
          case r: InternalRow => if (live.isLive(r)) pending = proj(r)
        }
        pending != null
      }
      override def next(): AnyRef = {
        if (!hasNext) throw new NoSuchElementException
        val out = pending
        pending = null
        out
      }
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }.asInstanceOf[Iterator[InternalRow]]
  }
}

class DvParquetScan(sp: SparkSession,
    conf: org.apache.hadoop.conf.Configuration, idx: ManifestScanIndex,
    dataSch: StructType, innerRead: StructType, readPartSch: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    opts: CaseInsensitiveStringMap,
    partFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    base: String, pinned: Option[Int],
    val dvIndex: Map[String, Array[Long]],
    private[manifest] val wantFile: Boolean,
    private[manifest] val wantPos: Boolean,
    private[manifest] val nData: Int)
    extends ParquetScan(sp, conf, idx, dataSch, innerRead, readPartSch,
      pushed, opts, None, partFilters, dataFilters, Array.empty)
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** Runtime filtering on the ORDINARY catalog read (the DPP
    * file-pruning half of the r14 broadcast fix): a star join with a
    * selective dim filter hands this scan an IN-list over the join key
    * at runtime, and the manifest's partition/zone/bloom machinery
    * drops the fact FILES that cannot hold a surviving key — the same
    * contract the CoW DML scan has carried since r13. Untranslatable
    * predicates drop (conservative: more files kept, never fewer). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // advertise only columns the scan actually OUTPUTS: Spark resolves
    // these against the relation's output, and a pruned projection
    // (e.g. a MERGE discovery scan reading [id,_file,_pos]) would
    // throw "Unable to resolve <partCol>" on any advertised column the
    // projection dropped — losing runtime pruning there is the
    // conservative degradation, failing the query is not
    val resolver = sp.sessionState.analyzer.resolver
    val out = readSchema().fieldNames
    idx.innerIndex.fold(
      Array.empty[org.apache.spark.sql.connector.expressions.NamedReference])(
      _.prunableColumns
        .filter(c => out.exists(resolver(_, c)))
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray)
  }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    idx.addRuntimeFilters(predicates.toSeq
      .flatMap(org.apache.spark.sql.graft.PredicateShim.toV1)
      .flatMap(FilterPruning.toExpr))

  /** Storage-partitioned-join eligibility, resolved ONCE per scan (the
    * lazy val keeps `outputPartitioning` and `planInputPartitions`
    * consistent): the version's purity proof must hold
    * ([[graft.ext.ManifestFileIndex.purePartitionTuples]]) and every
    * partition column must be in the scan output (Spark resolves the
    * reported keys against it). Gated on
    * `spark.sql.sources.v2.bucketing.enabled` — with SPJ off Spark
    * ignores the report, so the metadata fold is not worth paying. */
  private lazy val spjTuples: Option[(Seq[String], Map[String, Seq[Any]])] =
    if (!sp.sessionState.conf.v2BucketingEnabled) None
    else idx.innerIndex.flatMap(_.purePartitionTuples).filter {
      case (pcols, _) =>
        // Spark resolves the reported transforms' REFERENCES against
        // the scan output — every SOURCE column must be projected
        val resolver = sp.sessionState.analyzer.resolver
        val out = readSchema().fieldNames
        graft.ext.PartitionTransforms.sources(pcols)
          .forall(c => out.exists(resolver(_, c)))
    }

  /** [[org.apache.spark.sql.connector.read.SupportsReportPartitioning]]:
    * when the purity proof holds, the scan IS key-grouped by the
    * table's partition columns — two manifest tables partitioned on
    * the same key then join with ZERO Exchange (Iceberg's SPJ shape;
    * Spark groups the keyed input partitions under
    * `spark.sql.sources.v2.bucketing.enabled`). Anything short of the
    * proof reports unknown — identical planning to before. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjTuples match {
      case Some((pcols, tuples)) =>
        val pruned = idx.listFiles(partitionFilters, dataFilters)
          .flatMap(_.files)
          .flatMap(f => tuples.get(Dfs.canonical(f.getPath.toString)))
          .distinct
        // each spec reports its own connector Transform — identity for
        // plain columns, bucket/months/… for hidden partitioning;
        // Spark resolves the named transforms through the catalog's
        // FunctionCatalog face ([[GraftPartitionFunctions]]), and two
        // tables bucketed the same way join with zero Exchange
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            graft.ext.PartitionTransforms.parseAll(pcols)
              .map(_.v2Transform: org.apache.spark.sql.connector
                .expressions.Expression).toArray,
            math.max(pruned.length, 1))
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Standard FileScan split-planning, but each split TAGGED with its
    * file's partition tuple ([[KeyedFilePartition]] implements
    * `HasPartitionKey`) whenever the scan reported key-grouping —
    * Spark groups splits by key, so intra-partition parallelism
    * survives under partially-clustered distribution and collapses to
    * one task per key under plain SPJ. Runtime filters arriving before
    * execution re-prune through the same listing. */
  override def planInputPartitions(): Array[InputPartition] =
    spjTuples match {
      case Some((pcols, tuples)) =>
        val dirs = idx.listFiles(partitionFilters, dataFilters)
        val maxSplit = org.apache.spark.sql.execution.datasources
          .FilePartition.maxSplitBytes(sp, dirs)
        val resolver = sp.sessionState.analyzer.resolver
        // the split key carries TUPLE values — catalyst-converted at
        // the TRANSFORM's output type (int months/buckets, date days),
        // not the source column's
        val convs = graft.ext.PartitionTransforms.parseAll(pcols).map { pf =>
          val f = dataSch.fields(
            dataSch.fieldNames.indexWhere(resolver(_, pf.source)))
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(pf.outputType(f.dataType))
        }
        var i = -1
        dirs.flatMap(_.files)
          .groupBy(f => tuples(Dfs.canonical(f.getPath.toString)))
          .toSeq
          .flatMap { case (vals, fs) =>
            val key = InternalRow.fromSeq(
              vals.zip(convs).map { case (v, c) => c(v) })
            val splits = fs.flatMap(f =>
              org.apache.spark.sql.execution.PartitionedFileUtil
                .splitFiles(f, f.getPath, isSplitable(f.getPath),
                  maxSplit, InternalRow.empty))
              .sortBy(_.length)(Ordering[Long].reverse)
            org.apache.spark.sql.execution.datasources.FilePartition
              .getFilePartitions(sp, splits, maxSplit)
              .map { fp => i += 1
                new KeyedFilePartition(i, fp.files, key) }
          }.toArray
      case None => super.planInputPartitions()
    }

  /** Guard consumed by [[org.apache.spark.sql.graft.ManifestCountRule]]:
    * a vectored version's stats tier counts deleted rows, so metadata
    * aggregates must not collapse over this scan. */
  def hasDeletes: Boolean = dvIndex.nonEmpty

  /** Per-file deleted-row counts (bitmap popcount) — THE single source
    * of the cardinality fold, shared by the DSv2 statistics estimate
    * and the metadata COUNT(*) collapse so the planner's numRows and
    * the count answer can never drift apart. Exact: bitmaps dedup
    * duplicate delete actions by construction. */
  lazy val deletedCardinalities: Map[String, Long] =
    DvScan.cardinalities(dvIndex)

  private def hasRowIdx: Boolean = wantPos || dvIndex.nonEmpty

  /** The PUBLIC schema — data columns plus any requested metadata
    * columns, never the internal row-index field. */
  override def readSchema(): StructType = {
    val data = StructType(innerRead.fields.take(nData))
    val withFile =
      if (wantFile) data.add(StructField(DvScan.FileCol, StringType,
        nullable = false))
      else data
    if (wantPos) withFile.add(StructField(DvScan.PosCol, LongType,
      nullable = false))
    else withFile
  }

  /** [[org.apache.spark.sql.connector.read.SupportsReportStatistics]]
    * from manifest metadata: FileScan's inherited estimate stops at
    * raw file bytes; this serves the pruned-listing byte total
    * (DV-live-scaled), exact `numRows` (sidecar `n_rows` minus bitmap
    * cardinalities) and ANALYZE column stats — so a pure-SQL catalog
    * join sizes its sides from the manifest tier and auto-broadcasts a
    * small dim with no hint. Computed once per scan: the filters are
    * fixed at build time and the fold is driver-side metadata work. */
  private lazy val manifestStats =
    ManifestStats.estimate(sparkSession, idx, deletedCardinalities,
      partitionFilters, dataFilters, readSchema())

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = manifestStats

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = super.createReaderFactory()
      .asInstanceOf[ParquetPartitionReaderFactory]
    if (dvIndex.isEmpty && !wantFile && !wantPos) inner
    else new DvReaderFactory(inner,
      sparkSession.sparkContext.broadcast(dvIndex),
      nData, hasRowIdx, wantFile, wantPos)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pinned.isEmpty,
      s"cannot stream from $base pinned at version ${pinned.getOrElse(-1)}")
    require(!wantFile && !wantPos,
      "the `_file`/`_pos` metadata columns are batch-scan identities — " +
        "a stream's files are rewritten across batches; read them in " +
        "batch queries")
    require(!Option(opts.get("readChangeFeed")).exists(_.toBoolean),
      "change-feed streaming through the catalog is the `.changes` " +
        "table: spark.readStream.table(\"<catalog>.<ns>.<t>.changes\")")
    new ManifestMicroBatchStream(sp, base,
      StructType(innerRead.fields.take(nData)), opts)
  }

  // scan-reuse equality must see the DV index and metadata-column
  // shape: two scans over the same files with different vectors (or
  // one asking for `_file`) are NOT interchangeable
  override def equals(obj: Any): Boolean = obj match {
    case o: DvParquetScan =>
      super.equals(o) && o.dvIndex.keySet == dvIndex.keySet &&
        o.wantFile == wantFile && o.wantPos == wantPos &&
        o.nData == nData
    case _ => false
  }
  override def hashCode(): Int =
    31 * super.hashCode() + dvIndex.size + (if (wantFile) 2 else 0) +
      (if (wantPos) 4 else 0)
}

/** A [[org.apache.spark.sql.execution.datasources.FilePartition]] that
  * knows its partition tuple — the `HasPartitionKey` face Spark's
  * storage-partitioned join groups on. Reader factories see a plain
  * FilePartition (the DV wrapper and the stock parquet path are
  * untouched); only the grouping layer reads the key. */
private[manifest] class KeyedFilePartition(index: Int,
    files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: InternalRow)
    extends org.apache.spark.sql.execution.datasources.FilePartition(
      index, files)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Per-FILE reader wrapping: the delegate parquet factory builds the
  * real reader; files with a deletion vector get their batches/rows
  * filtered by bitmap probe, and the requested metadata columns are
  * appended. Files with no vector and no metadata request pass through
  * at zero cost (same reader object). */
private[manifest] class DvReaderFactory(
    inner: ParquetPartitionReaderFactory,
    bc: Broadcast[Map[String, Array[Long]]],
    nData: Int, hasRowIdx: Boolean,
    wantFile: Boolean, wantPos: Boolean)
    extends FilePartitionReaderFactory {

  override def options: FileSourceOptions = inner.options

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition)

  private def bitsetOf(file: PartitionedFile)
      : (String, java.util.BitSet) = {
    val spelled = DvScan.filePathOf(file)
    (spelled, bc.value.get(Dfs.canonical(spelled))
      .map(java.util.BitSet.valueOf).orNull)
  }

  override def buildColumnarReader(file: PartitionedFile)
      : PartitionReader[ColumnarBatch] = {
    val delegate = inner.buildColumnarReader(file)
    val (spelled, del) = bitsetOf(file)
    if (del == null && !wantFile && !wantPos) return delegate
    val fileVec = if (wantFile) {
      // sized to the reader's batch capacity; ConstantColumnVector
      // ignores the row id, so one instance serves every batch
      val v = new org.apache.spark.sql.execution.vectorized
        .ConstantColumnVector(1, StringType)
      v.setUtf8String(UTF8String.fromString(spelled))
      v
    } else null
    val live = new LivePositions(del, nData)
    val nOut = nData + (if (wantFile) 1 else 0) + (if (wantPos) 1 else 0)
    new PartitionReader[ColumnarBatch] {
      private var out: ColumnarBatch = _

      private def transform(batch: ColumnarBatch): ColumnarBatch = {
        val kept = live.select(batch)
        val vecs = new Array[ColumnVector](nOut)
        var j = 0
        while (j < nData) { vecs(j) = live.column(batch, j); j += 1 }
        if (wantFile) { vecs(j) = fileVec; j += 1 }
        if (wantPos) vecs(j) = live.column(batch, nData)
        new ColumnarBatch(vecs, kept)
      }

      override def next(): Boolean = {
        val has = delegate.next()
        if (has) out = transform(delegate.get())
        has
      }
      override def get(): ColumnarBatch = out
      override def close(): Unit = delegate.close()
    }
  }

  override def buildReader(file: PartitionedFile)
      : PartitionReader[InternalRow] = {
    val delegate = inner.buildReader(file)
    val (spelled, del) = bitsetOf(file)
    if (del == null && !wantFile && !wantPos) return delegate
    // output projection: data columns, then the requested metadata
    // columns — `_file` a per-file literal, `_pos` the row-index field
    // (the delegate emits innerRead order: data cols, then row index)
    val proj = {
      val dataRefs = (0 until nData).map(i =>
        BoundReference(i, readSchemaFields(i).dataType, nullable = true))
      val metaExprs =
        (if (wantFile)
          Seq(Literal(UTF8String.fromString(spelled), StringType))
        else Seq.empty) ++
        (if (wantPos)
          Seq(BoundReference(nData, LongType, nullable = false))
        else Seq.empty)
      UnsafeProjection.create((dataRefs ++ metaExprs).toIndexedSeq)
    }
    val live = new LivePositions(del, nData)
    new PartitionReader[InternalRow] {
      private var out: InternalRow = _
      override def next(): Boolean = {
        while (delegate.next()) {
          val row = delegate.get()
          if (live.isLive(row)) { out = proj(row); return true }
        }
        false
      }
      override def get(): InternalRow = out
      override def close(): Unit = delegate.close()
    }
  }

  /** The delegate's output fields (data columns + optional row index),
    * reconstructed from the parquet factory's read schema. */
  private lazy val readSchemaFields: Array[StructField] =
    inner.readDataSchema.fields
}

/** One file's deleted positions applied to its reader's output — the
  * filter both read paths share (the catalog scan's
  * [[DvReaderFactory]] and the V1 relation's [[DvParquetFileFormat]]).
  * `idxCol` is the ordinal of the generated row-index column; `del`
  * null means the file has no vector and every row is live. A batch
  * is filtered by INDEX REMAPPING: [[select]] computes its live rows
  * once, and [[column]] then serves each vector as a
  * [[MappedColumnVector]] over them (the vector itself when nothing
  * was deleted). One instance per file reader: the map buffer is
  * reused across that reader's batches. */
private[manifest] final class LivePositions(del: java.util.BitSet,
    idxCol: Int) {
  private var map: Array[Int] = Array.empty
  private var identity = true

  private def deleted(p: Long): Boolean =
    p <= Int.MaxValue && del.get(p.toInt)

  /** Whether a row (carrying the row index at `idxCol`) is live. */
  def isLive(row: InternalRow): Boolean =
    del == null || !deleted(row.getLong(idxCol))

  /** Computes `batch`'s live rows; returns how many there are. */
  def select(batch: ColumnarBatch): Int = {
    val n = batch.numRows()
    identity = true
    if (del == null) return n
    val idxVec = batch.column(idxCol)
    if (map.length < n) map = new Array[Int](n)
    var kept = 0
    var i = 0
    while (i < n) {
      if (!deleted(idxVec.getLong(i))) { map(kept) = i; kept += 1 }
      i += 1
    }
    identity = kept == n
    kept
  }

  /** Column `j` of the batch last passed to [[select]], over its live
    * rows. */
  def column(batch: ColumnarBatch, j: Int): ColumnVector =
    if (identity) batch.column(j) else new MappedColumnVector(batch.column(j), map)
}

/** The manifest's V1 parquet format: Spark's own `ParquetFileFormat`
  * (vectorized reader, pushdown, whole-stage codegen) that drops each
  * file's deleted positions inside the reader. It is the format of
  * every batch relation over a manifest version
  * ([[DefaultSource.relationAt]], so `spark.read.format("manifest")`
  * and [[graft.ext.Manifests.readAt]]) and of the file-subset reads
  * beside them.
  *
  * `dvIndex` is the version's deletion-vector index
  * ([[graft.ext.Manifests.dvIndex]]: canonical data-file path →
  * deleted-position bitmap words), broadcast with each scan. With an
  * empty index this is the stock format, byte for byte. Otherwise the
  * reader is asked for the generated row-index column as well (the one
  * `_metadata.row_index` uses, so it is correct under skipped row
  * groups and pushed filters); a file with a vector is filtered by
  * [[LivePositions]], and the appended index column is dropped again
  * before the batch leaves the reader. A query that asks for
  * `_metadata.row_index` itself gets the surviving rows' original
  * positions. */
class DvParquetFileFormat(val dvIndex: Map[String, Array[Long]])
    extends ParquetFileFormat {

  /** Per-file deleted-row counts, the fold the metadata COUNT(*)
    * subtracts ([[org.apache.spark.sql.graft.ManifestCountRule]]). */
  lazy val deletedCardinalities: Map[String, Long] =
    DvScan.cardinalities(dvIndex)

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    if (dvIndex.isEmpty)
      return super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    val asked = requiredSchema.fieldNames
      .indexOf(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME)
    val idxCol = if (asked >= 0) asked else requiredSchema.length
    // nullable = true, as in the catalog scan: the reader fills a
    // missing optional column from its row-index generator
    val inner =
      if (asked >= 0) requiredSchema
      else requiredSchema.add(StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
        nullable = true))
    val read = super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, inner, filters, options, hadoopConf)
    // the reader emits `inner`'s columns, then the partition columns;
    // what leaves here is that minus an index column nobody asked for
    val fields = inner.fields ++ partitionSchema.fields
    val keep = fields.indices.filter(i => asked >= 0 || i != idxCol).toArray
    val types = keep.map(i => fields(i).dataType)
    val bc = sparkSession.sparkContext.broadcast(dvIndex)
    (file: PartitionedFile) => {
      val del = bc.value.get(Dfs.canonical(DvScan.filePathOf(file)))
        .map(java.util.BitSet.valueOf).orNull
      val rows = read(file)
      if (del == null && asked >= 0) rows
      else DvScan.liveIterator(rows, new LivePositions(del, idxCol), keep, types)
    }
  }

  // filtered batches hold remapped vectors beside the reader's own, so
  // generated code must not cast them to the on-heap/off-heap classes
  override def vectorTypes(requiredSchema: StructType,
      partitionSchema: StructType,
      sqlConf: org.apache.spark.sql.internal.SQLConf): Option[Seq[String]] =
    if (dvIndex.isEmpty) super.vectorTypes(requiredSchema, partitionSchema, sqlConf)
    else None

  // two relations over one listing with different vectors are not
  // interchangeable (a file listing compares by its paths, so exchange
  // reuse and the cache manager would otherwise swap them)
  override def equals(other: Any): Boolean = other match {
    case o: DvParquetFileFormat => o.dvIndex.size == dvIndex.size &&
      o.dvIndex.forall { case (f, w) =>
        dvIndex.get(f).exists(java.util.Arrays.equals(_, w)) }
    case _ => false
  }
  override def hashCode(): Int = 31 * super.hashCode() + dvIndex.size
}

/** A [[ColumnVector]] view that REMAPS row ids through a live-position
  * index — Iceberg's columnar-delete move: the delegate's memory is
  * untouched, deleted positions simply become unreachable, and
  * whole-stage codegen consumes the batch exactly as if the parquet
  * reader had never read the deleted rows. The delegate owns its
  * memory (close is a no-op here; the inner reader closes its own
  * batch). `map` is reused across batches by the reader — only the
  * first `numRows` entries of the current batch are meaningful. */
private[manifest] final class MappedColumnVector(d: ColumnVector,
    map: Array[Int]) extends ColumnVector(d.dataType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = d.hasNull
  override def numNulls: Int = if (d.hasNull) 1 else 0
  override def isNullAt(i: Int): Boolean = d.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = d.getBoolean(map(i))
  override def getByte(i: Int): Byte = d.getByte(map(i))
  override def getShort(i: Int): Short = d.getShort(map(i))
  override def getInt(i: Int): Int = d.getInt(map(i))
  override def getLong(i: Int): Long = d.getLong(map(i))
  override def getFloat(i: Int): Float = d.getFloat(map(i))
  override def getDouble(i: Int): Double = d.getDouble(map(i))
  override def getArray(i: Int): ColumnarArray = d.getArray(map(i))
  override def getMap(i: Int): ColumnarMap = d.getMap(map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    d.getDecimal(map(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    d.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = d.getBinary(map(i))
  override def getChild(ordinal: Int): ColumnVector =
    new MappedColumnVector(d.getChild(ordinal), map)
}
