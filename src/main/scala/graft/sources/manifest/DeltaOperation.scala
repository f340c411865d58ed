package graft.sources.manifest

import graft.ext.{Dfs, Manifests, VersionMeta}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Native merge-on-read SQL DML — Spark 4.1's
  * [[org.apache.spark.sql.connector.write.SupportsDelta]] face on the
  * manifest table, Iceberg's position-delta pattern: the rowId is the
  * `(_file, _pos)` metadata pair, the analyzer rewrites plain
  * `UPDATE`/`DELETE`/`MERGE INTO` into a [[org.apache.spark.sql.catalyst
  * .plans.logical.WriteDelta]] of per-row DELETE/INSERT actions
  * (`representUpdateAsDeleteAndInsert`), and the write routes DELETE
  * actions into deletion-vector sidecars and INSERT/REINSERT actions
  * into appended image files. A 100-row UPDATE against a 100 TB
  * vectored table reads only the files the condition cannot exclude
  * (the scan is the same columnar DV scan as a plain read, pushdown
  * included) and writes one small sidecar plus one small image file —
  * no `CALL` procedure, the user's existing SQL just works.
  *
  * The COMMIT is [[Manifests.commitDeltaWrite]] — the same elision
  * (fully-deleted files retire from the manifest instead of carrying
  * data-sized vectors), constraint enforcement, OCC rebase-over-
  * appends and delta-manifest accounting as the procedural
  * `updateWhereMor`/`mergeMor` tier, so every invariant proved for the
  * procedures holds verbatim under the plain SQL spelling.
  *
  * Selection: vectored versions take this operation (their raw files
  * cannot legally feed a copy-on-write rewrite anyway); clean versions
  * keep the group-based CoW rewrite unless the session opts in with
  * `graft.dml.mode=mor`. Live renames stay on the CoW path's
  * compact-first contract (the columnar scan cannot era-compose). */
private[manifest] class ManifestDeltaOperation(spark: SparkSession,
    base: String, snapshot: Option[Int], tableSchema: StructType,
    cmd: Command) extends RowLevelOperation with SupportsDelta {

  /** Translatable conjuncts of the command condition, captured from
    * the scan's pushdown — the commit's OCC conflict probe: a rebase
    * over concurrent appends refuses iff an appended row matches. None
    * (nothing pushed — e.g. MERGE's join condition) refuses every
    * concurrent append: conservative, never lost-update. */
  @volatile private[manifest] var condFilters
      : Option[Seq[org.apache.spark.sql.sources.Filter]] = None

  override def command(): Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(DvScan.FileCol), Expressions.column(DvScan.PosCol))

  /** CDF update images (`graft.cdf.updateImages`, default off): with
    * the flag on, UPDATE actions arrive WHOLE (`DeltaWriter.update`)
    * instead of split into delete+insert, and the writer records which
    * rowIds/image files belong to updates — the metadata the
    * `.changes` feed needs to emit Delta's
    * `update_preimage`/`update_postimage` tags instead of a bare
    * delete+insert pair. Off by default: the split representation is
    * the back-compat shape every existing feed consumer pins. */
  private[manifest] val cdfUpdateImages: Boolean =
    spark.conf.getOption("graft.cdf.updateImages").exists(_.toBoolean)

  override def representUpdateAsDeleteAndInsert(): Boolean =
    !cdfUpdateImages

  override def description(): String =
    s"manifest-mor-$cmd($base@v${snapshot.getOrElse(-1)})"

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val dvs = snapshot.map(w => Manifests.dvFiles(spark, base, w))
      .getOrElse(Seq.empty)
    Manifests.dvIndex(spark, dvs) match {
      case Some(idx) =>
        val op = this
        new GraftScanBuilder(spark,
            new ManifestScanIndex(spark, base, snapshot), tableSchema,
            options, base, None, idx) {
          override def build()
              : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
            op.condFilters = Some(pushedDataFilters.toSeq)
            super.build()
          }
        }
      case None =>
        // bitmap budget blown: the V1 detour also serves (_file, _pos)
        // — correctness keeps priority; no pushdown capture means the
        // commit treats every concurrent append as a conflict
        new MorScanBuilder(spark, base, snapshot.getOrElse(
          sys.error(s"no committed version under $base")), tableSchema,
          options, None)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new ManifestDeltaWrite(spark, base, snapshot, info,
          ManifestDeltaOperation.this)
    }
}

/** The distributed delta write: tasks stream INSERT/REINSERT rows into
  * parquet image files and DELETE rowIds into `(__file, __pos)`
  * sidecar parquet, both under fresh unreferenced directories; the
  * commit publishes through [[Manifests.commitDeltaWrite]] (elision +
  * OCC + constraints + ledger), an abort leaves only unreferenced
  * residue for `sweepOrphans`. */
private[manifest] class ManifestDeltaWrite(
    override protected val spark: SparkSession,
    base: String, snapshot: Option[Int], info: LogicalWriteInfo,
    op: ManifestDeltaOperation)
    extends DeltaWrite with ManifestWriteDistribution {

  private val rowSchema: StructType = info.schema()

  /** Position-delta clustering (Iceberg's delta distribution): DELETE
    * rows cluster by the file they vector (`_file` — one task's
    * sidecar stream per file cluster), INSERT rows by the table's
    * partition columns (their `_file` is null, so they bucket by
    * partition alone). Non-strict → `RebalancePartitions`, so AQE
    * splits a hot file's bucket under source skew and coalesces the
    * long tail — the hot-key MERGE shape degrades gracefully instead
    * of funneling 90% of the deltas through one writer. */
  override protected val clusterCols: Seq[String] =
    snapshot.flatMap(v =>
      Manifests.partitionedBy(spark, base, v)
        .map(m => graft.ext.PartitionTransforms.sources(m._1)))
      .getOrElse(Seq.empty)
      .filter(rowSchema.fieldNames.contains) :+ DvScan.FileCol

  /** Ordinals of `_file`/`_pos` within the rowId rows the engine hands
    * `DeltaWriter.delete` — from the write info's rowId schema, never
    * assumed. */
  private val (fileOrd, posOrd): (Int, Int) = {
    val ids = Option(info.rowIdSchema().orElse(null))
      .getOrElse(StructType(Seq(
        StructField(DvScan.FileCol, StringType),
        StructField(DvScan.PosCol, LongType))))
    (ids.fieldIndex(DvScan.FileCol), ids.fieldIndex(DvScan.PosCol))
  }

  override def description(): String =
    s"manifest-delta-write($base@v${snapshot.getOrElse(-1)})"

  override def toBatch: DeltaBatchWrite = {
    val dataDir = s"$base/data_${java.util.UUID.randomUUID().toString.take(8)}"
    val dvDir = s"$base/dv_${java.util.UUID.randomUUID().toString.take(8)}"
    // update-image bookkeeping (graft.cdf.updateImages): UPDATE rowIds
    // land in their own sidecar parquet under a `cdc_` dir the version
    // records via `_cdcupd` — reference-counted with the version like
    // every other payload dir
    val cdcDir = s"$base/cdc_${java.util.UUID.randomUUID().toString.take(8)}"
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val dataFactory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, rowSchema)
    val dvSchema = StructType(Seq(
      StructField("__file", StringType, nullable = false),
      StructField("__pos", LongType, nullable = false)))
    val dvJob = Job.getInstance(spark.sessionState.newHadoopConf())
    val dvFactory = new ParquetFileFormat()
      .prepareWrite(spark, dvJob, Map.empty, dvSchema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val dvConf = new SerializableConfiguration(dvJob.getConfiguration)
    val images = op.cdfUpdateImages
    new DeltaBatchWrite {
      override def createBatchWriterFactory(
          phys: PhysicalWriteInfo): DeltaWriterFactory =
        ManifestDeltaWriterFactory(dataDir, dvDir, cdcDir, rowSchema,
          dvSchema, fileOrd, posOrd, dataFactory, dvFactory, conf,
          dvConf, images)

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val (data, dv, post, updDv) = messages.foldLeft(
          (Seq.empty[String], Seq.empty[String], Seq.empty[String],
            Seq.empty[String])) {
          case ((d, v, p, u), ManifestDeltaMessage(dp, vp, pp, up)) =>
            (d ++ dp, v ++ vp, p ++ pp, u ++ up)
          case (acc, _) => acc
        }
        val dataQ = data.map(Dfs.qualified(spark, _))
        val dvQ = dv.map(Dfs.qualified(spark, _))
        val tag = Some(s"sql:${op.command().toString.toLowerCase}")
        // `_cdcupd` is written whenever the flag armed this statement —
        // even with zero updates — because its PRESENCE means "this
        // version's update classification is complete", the proof the
        // per-version feed branch needs to tag plain deletes as deletes
        val cdc = if (images)
          Some((post.map(Dfs.qualified(spark, _)),
            updDv.map(Dfs.qualified(spark, _))))
        else None
        snapshot match {
          case Some(v) =>
            if (dataQ.nonEmpty || dvQ.nonEmpty) {
              val conflict = op.condFilters
                .flatMap(fs => FilterColumns.toColumn(fs))
              Manifests.commitDeltaWrite(spark, base, v, dvQ, dataQ,
                tag, conflict, cdc)
              ()
            }
          case None =>
            // MERGE-bootstrap of an empty table (graft.dml.mode=mor):
            // the written inserts ARE version 0; nothing existed, so
            // no delete action can have been emitted
            require(dvQ.isEmpty,
              "delta write emitted deletes against a table with no " +
                "committed version — unreachable rewrite shape")
            if (dataQ.nonEmpty) {
              Manifests.commit(spark, base, dataQ,
                VersionMeta(schema = Some(rowSchema)), parent = Some(-1),
                tag = tag, cdcUpd = cdc.map(c => c._1.map(f =>
                  s"P\t${Dfs.canonical(f)}")))
              ()
            }
        }
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit = {
        try Dfs.delete(spark, dataDir, recursive = true)
        catch { case scala.util.control.NonFatal(_) => () }
        try Dfs.delete(spark, dvDir, recursive = true)
        catch { case scala.util.control.NonFatal(_) => () }
        try Dfs.delete(spark, cdcDir, recursive = true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }
}

private[manifest] case class ManifestDeltaMessage(data: Seq[String],
    dv: Seq[String], post: Seq[String] = Seq.empty,
    updDv: Seq[String] = Seq.empty) extends WriterCommitMessage

private[manifest] case class ManifestDeltaWriterFactory(dataDir: String,
    dvDir: String, cdcDir: String, rowSchema: StructType,
    dvSchema: StructType, fileOrd: Int, posOrd: Int,
    dataFactory: OutputWriterFactory, dvFactory: OutputWriterFactory,
    conf: SerializableConfiguration, dvConf: SerializableConfiguration,
    updateImages: Boolean)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {

      private var dataOut: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var dvOut: org.apache.spark.sql.execution.datasources.OutputWriter = _
      // update-image streams (graft.cdf.updateImages): postimages are
      // REAL data (their file joins the manifest like any image file)
      // but kept separate so the feed can tell them from plain
      // inserts; update rowIds go to the cdc sidecar IN ADDITION to
      // the normal dv stream, so version semantics are identical with
      // the flag on or off
      private var postOut: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var updOut: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var dataPath: String = _
      private var dvPath: String = _
      private var postPath: String = _
      private var updPath: String = _
      private val dvRow = new GenericInternalRow(2)

      private def ctx(c: SerializableConfiguration) =
        new TaskAttemptContextImpl(c.value,
          new TaskAttemptID(new TaskID(
            new org.apache.hadoop.mapreduce.JobID("graft-delta", 0),
            TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))

      private def partName(c: org.apache.hadoop.mapreduce.TaskAttemptContext,
          fac: OutputWriterFactory) =
        f"part-$partitionId%05d-${java.util.UUID
          .randomUUID().toString.take(8)}-$taskId${fac.getFileExtension(c)}"

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        if (dvOut == null) {
          val c = ctx(dvConf)
          dvPath = s"$dvDir/${partName(c, dvFactory)}"
          dvOut = dvFactory.newInstance(dvPath, dvSchema, c)
        }
        dvRow.update(0, id.getUTF8String(fileOrd))
        dvRow.update(1, id.getLong(posOrd))
        dvOut.write(dvRow)
      }

      override def insert(row: InternalRow): Unit = {
        if (dataOut == null) {
          val c = ctx(conf)
          dataPath = s"$dataDir/${partName(c, dataFactory)}"
          dataOut = dataFactory.newInstance(dataPath, rowSchema, c)
        }
        dataOut.write(row)
      }

      override def reinsert(meta: InternalRow, row: InternalRow): Unit =
        insert(row)

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        if (!updateImages) {
          // representUpdateAsDeleteAndInsert=true normally keeps this
          // unreachable; the decomposition is semantically identical
          // if the engine ever routes one through
          delete(meta, id)
          insert(row)
        } else {
          // the delete half stays on the NORMAL dv stream (version
          // semantics identical); the rowId additionally lands in the
          // cdc sidecar and the postimage row in its own data file —
          // together exactly the classification the feed re-emits as
          // update_preimage/update_postimage
          delete(meta, id)
          if (updOut == null) {
            val c = ctx(dvConf)
            updPath = s"$cdcDir/${partName(c, dvFactory)}"
            updOut = dvFactory.newInstance(updPath, dvSchema, c)
          }
          dvRow.update(0, id.getUTF8String(fileOrd))
          dvRow.update(1, id.getLong(posOrd))
          updOut.write(dvRow)
          if (postOut == null) {
            val c = ctx(conf)
            postPath = s"$dataDir/${partName(c, dataFactory)}"
            postOut = dataFactory.newInstance(postPath, rowSchema, c)
          }
          postOut.write(row)
        }

      private def closeAll(): Unit = {
        if (dataOut != null) { dataOut.close(); dataOut = null }
        if (dvOut != null) { dvOut.close(); dvOut = null }
        if (postOut != null) { postOut.close(); postOut = null }
        if (updOut != null) { updOut.close(); updOut = null }
      }

      override def commit(): WriterCommitMessage = {
        closeAll()
        ManifestDeltaMessage(
          Option(dataPath).toSeq ++ Option(postPath).toSeq,
          Option(dvPath).toSeq,
          Option(postPath).toSeq, Option(updPath).toSeq)
      }

      override def abort(): Unit = {
        close()
        def rm(p: String): Unit =
          if (p != null)
            try new org.apache.hadoop.fs.Path(p).getFileSystem(conf.value)
              .delete(new org.apache.hadoop.fs.Path(p), false)
            catch { case scala.util.control.NonFatal(_) => () }
        rm(dataPath); rm(dvPath); rm(postPath); rm(updPath)
      }

      override def close(): Unit = closeAll()
    }
}
