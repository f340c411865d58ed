package graft.sources.manifest

import java.util

import graft.ext.{Dfs, Manifests}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Name-based manifest tables — a DSv2 `TableCatalog` that completes
  * the Delta-parity UX: register once with
  * `spark.conf.set("spark.sql.catalog.graft",
  * "graft.sources.manifest.ManifestCatalog")` (runtime is enough —
  * catalogs instantiate lazily on first reference) and every manifest
  * table is addressable by NAME from pure SQL:
  *
  *  - `CREATE TABLE graft.ns.t (...) USING manifest [PARTITIONED BY
  *    (c)] [LOCATION '...']`, `CREATE TABLE ... AS SELECT`
  *  - `SELECT ... FROM graft.ns.t`, `spark.table("graft.ns.t")`
  *  - `INSERT INTO` / `INSERT OVERWRITE`
  *  - `DELETE FROM` / `UPDATE` / `MERGE INTO` ([[ManifestTable]])
  *  - `SELECT ... FROM graft.ns.t VERSION AS OF 3` /
  *    `TIMESTAMP AS OF ...` (time travel through the catalog)
  *  - `DROP TABLE`, `ALTER TABLE ... DROP COLUMN` (the metadata-only
  *    narrow), and Delta-style path addressing:
  *    ``graft.`/abs/path```` resolves the path as a table with no
  *    registration at all.
  *
  * The metastore is deliberately tiny: one pointer file per table under
  * `<warehouse>/_defs/<ns>/<name>.tbl` holding the table's base path,
  * declared partition columns and declared schema — everything ELSE
  * (current schema, partition spec, stats, constraints, history) lives
  * in the manifest itself, where the data's versions are. The pointer
  * never changes after CREATE except via RENAME, so the catalog adds
  * zero coordination on the write path; all concurrency control stays
  * in the manifest commit protocol. Scale shape: resolution is one
  * tiny-file read, listing one directory scan — a catalog of 100k
  * tables costs what a directory of 100k small files costs, and the
  * per-QUERY costs are unchanged manifest costs. */
class ManifestCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = "manifest"
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      s"${Dfs.scratchBase}/graft_catalog_$name")
  }

  override def name(): String = catalogName

  // ---- CALL procedures (compact/vacuum/analyze/restore/clone/...) ---

  private lazy val procedures = new ManifestProcedures(arg =>
    if (arg.startsWith("/") || arg.contains("://")) arg
    else {
      val parts = arg.split("\\.").toSeq
      require(parts.nonEmpty && parts.forall(_.nonEmpty),
        s"bad table reference '$arg'")
      readDef(Identifier.of(parts.init.toArray, parts.last)).map(_._1)
        .getOrElse(sys.error(
          s"no table '$arg' in catalog $catalogName — pass 'ns.name' " +
            "or an absolute path"))
    })

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    procedures.all.getOrElse(ident.name.toLowerCase,
      sys.error(s"unknown procedure '${ident.name}' — available: " +
        procedures.all.keys.toSeq.sorted.mkString(", ")))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procedures.all.keys.toArray.sorted
      .map(n => Identifier.of(Array("system"), n))

  // ---- partition-transform functions (the SPJ resolution face) -----

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftPartitionFunctions.unbound(ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftPartitionFunctions.names
      .map(n => Identifier.of(namespace, n)).toArray

  override def functionExists(ident: Identifier): Boolean =
    GraftPartitionFunctions.unbound(ident.name).isDefined

  private def isPath(ident: Identifier): Boolean =
    ident.namespace.isEmpty &&
      (ident.name.startsWith("/") || ident.name.contains("://"))

  /** Every identifier/namespace part must stay INSIDE `_defs`: a "/"
    * or a relative segment would traverse out of the metastore — with
    * `DROP NAMESPACE ... CASCADE`'s recursive delete, a `..` part would
    * otherwise reach (and destroy) the whole warehouse. */
  private def checkParts(parts: Seq[String]): Unit =
    parts.foreach(p => require(
      !p.contains("/") && !p.contains("\\") && p.nonEmpty &&
        p != "." && p != "..",
      s"illegal identifier part '$p'"))

  private def nsDir(namespace: Array[String]): String = {
    checkParts(namespace.toSeq)
    s"$warehouse/_defs/${namespace.mkString("/")}"
  }

  private def defPath(ident: Identifier): String = {
    val parts = ident.namespace :+ ident.name
    checkParts(parts.toSeq)
    s"$warehouse/_defs/${parts.mkString("/")}.tbl"
  }

  private def display(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  /** Pointer record: 3 lines — base path, partition columns (CSV),
    * declared schema JSON (possibly blank: adopted external table). */
  private def writeDef(ident: Identifier, base: String,
      partCols: Seq[String], schema: Option[StructType]): Unit =
    Dfs.writeBytes(spark, defPath(ident),
      s"$base\n${partCols.mkString(",")}\n${schema.fold("")(_.json)}\n"
        .getBytes("UTF-8"))

  private def readDef(ident: Identifier)
      : Option[(String, Seq[String], Option[StructType])] = {
    // an identifier with an illegal part (a "/" — e.g. the namespace of
    // `graft.`/abs/path`.changes`) can never be a REGISTERED table:
    // answer "not registered" so path-addressed metadata tables resolve
    // through metaTableOf, instead of throwing out of a lookup.
    // checkParts stays strict on the write paths (create/drop/rename).
    val parts = ident.namespace :+ ident.name
    if (parts.exists(p => p.contains("/") || p.contains("\\") ||
        p.isEmpty || p == "." || p == "..")) return None
    val p = defPath(ident)
    if (!Dfs.exists(spark, p)) None
    else {
      val lines = new String(Dfs.readBytes(spark, p), "UTF-8").split("\n", -1)
      val parts = lines.lift(1).getOrElse("").split(",")
        .map(_.trim).filter(_.nonEmpty).toSeq
      val sch = lines.lift(2).map(_.trim).filter(_.nonEmpty)
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      Some((lines(0).trim, parts, sch))
    }
  }

  private def table(ident: Identifier,
      pinned: Option[Int]): ManifestTable =
    if (isPath(ident))
      new ManifestTable(spark, ident.name, pinned, None, Seq.empty,
        display(ident))
    else readDef(ident) match {
      case Some((base, parts, sch)) =>
        new ManifestTable(spark, base, pinned, sch, parts, display(ident))
      case None => throw new NoSuchTableException(
        ident.namespace :+ ident.name)
    }

  override def loadTable(ident: Identifier): Table =
    if (tableExists(ident)) table(ident, None)
    else metaTableOf(ident).getOrElse(table(ident, None)) // throws NoSuchTable

  /** Iceberg-style METADATA TABLES: `SELECT * FROM graft.ns.t.history`
    * (or `.files` / `.constraints`) resolves the trailing name as a
    * metadata view over the PARENT table when no real table shadows it
    * — DESCRIBE HISTORY / DESCRIBE DETAIL as ordinary queryable
    * relations, metadata-sized by construction (per-version `_counts`
    * summaries, per-file stats rows, the constraint records). */
  private def metaTableOf(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
    if (!tableExists(parent)) return None
    val t = table(parent, None)
    val s = spark
    def latest = Manifests.latestVersion(s, t.base).getOrElse(
      sys.error(s"${display(parent)} has no committed version"))
    ident.name.toLowerCase match {
      case "history" => Some(new ManifestMetaTable(
        s"${display(parent)}.history", () => Manifests.historyDf(s, t.base)))
      case "files" => Some(new ManifestMetaTable(
        s"${display(parent)}.files", () => Manifests.filesDf(s, t.base, latest)))
      case "constraints" => Some(new ManifestMetaTable(
        s"${display(parent)}.constraints", () => {
          import s.implicits._
          Manifests.constraintsOf(s, t.base, latest)
            .toDF("name", "predicate")
        }))
      // SHOW the table's named refs (tags + branches) as a relation —
      // Iceberg's `refs` metadata table
      case "refs" => Some(new ManifestMetaTable(
        s"${display(parent)}.refs", () => {
          import s.implicits._
          Manifests.listRefs(s, t.base).toDF("name", "kind", "version")
        }))
      // the change feed as a name-addressed STREAMING relation:
      // `spark.readStream.table("graft.ns.t.changes")` — the V1
      // source's readChangeFeed=true, catalog-shaped
      case "changes" => Some(new ManifestChangesTable(s, t.base,
        s"${display(parent)}.changes"))
      // Iceberg's branch-write spelling: `t.branch_<name>` addresses
      // the branch AS A TABLE — `INSERT INTO graft.ns.t.branch_audit`,
      // `UPDATE`, `MERGE INTO`, plain SELECT all land on the branch's
      // own manifest chain (the WAP write half, no path spelling
      // needed). Resolved from the RAW identifier (branch names are
      // case-sensitive); an unknown branch name falls through to
      // NoSuchTable.
      case bn if bn.startsWith("branch_") =>
        // the PREFIX is case-insensitive like every sibling metadata
        // name; the ref itself stays case-sensitive (create-time name)
        val ref = ident.name.substring("branch_".length)
        Manifests.refOf(s, t.base, ref) match {
          case Some(("branch", _)) => Some(new ManifestTable(s,
            Manifests.branchBaseOf(t.base, ref), None, None, Seq.empty,
            s"${display(parent)}.branch_$ref"))
          case _ => None
        }
      case _ => None
    }
  }

  /** `VERSION AS OF <v>` through the catalog — and Iceberg-style NAMED
    * REFS: `VERSION AS OF 'baseline'` resolves a tag to its pinned
    * version, `VERSION AS OF 'audit'` resolves a branch to the
    * branch's OWN table (its current head — the WAP audit read). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (version.forall(_.isDigit)) return table(ident, Some(version.toInt))
    val t = table(ident, None)
    Manifests.refOf(spark, t.base, version) match {
      case Some(("tag", v)) => table(ident, Some(v))
      case Some(("branch", _)) =>
        new ManifestTable(spark, Manifests.branchBaseOf(t.base, version),
          None, None, Seq.empty, s"${display(ident)}@$version")
      case _ => sys.error(
        s"no ref '$version' on ${display(ident)} — VERSION AS OF takes " +
          "a version number, a tag, or a branch name " +
          s"(refs: ${Manifests.listRefs(spark, t.base).map(_._1)
            .mkString(", ")})")
    }
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = table(ident, None)
    val v = Manifests.versionAsOf(spark, t.base, timestamp / 1000L)
      .getOrElse(sys.error(
        s"${display(ident)} has no version committed at or before " +
          s"${timestamp / 1000L} ms"))
    table(ident, Some(v))
  }

  override def tableExists(ident: Identifier): Boolean =
    if (isPath(ident))
      Manifests.latestVersion(spark, ident.name).isDefined
    else readDef(ident).isDefined

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table = {
    // HIDDEN PARTITIONING: `PARTITIONED BY (c)` records identity,
    // `PARTITIONED BY (months(ts), bucket(16, k), truncate(4, s))`
    // records transform SPECS ([[graft.ext.PartitionTransforms]]) —
    // partition values stay derived, never materialized as schema
    // columns, and source-column predicates lower to tuple pruning
    val partCols = partitions.map(t =>
      graft.ext.PartitionTransforms.fromV2(t)).toSeq
    val resolver = spark.sessionState.analyzer.resolver
    graft.ext.PartitionTransforms.validateAll(partCols, schema, resolver)
    if (isPath(ident)) {
      // path-addressed CTAS: no registration to write — the identifier
      // IS the location; the returned handle carries the declared
      // schema in memory so the CTAS write can resolve before the
      // bootstrap commit lands
      if (Manifests.latestVersion(spark, ident.name).isDefined)
        throw new TableAlreadyExistsException(ident.namespace :+ ident.name)
      return new ManifestTable(spark, ident.name, None,
        Some(schema).filter(_.fields.nonEmpty), partCols, display(ident))
    }
    if (readDef(ident).isDefined)
      throw new TableAlreadyExistsException(ident.namespace :+ ident.name)
    val base = Option(properties.get(TableCatalog.PROP_LOCATION)).getOrElse(
      s"$warehouse/${(ident.namespace :+ ident.name).mkString("/")}")
    writeDef(ident, base, partCols,
      Some(schema).filter(_.fields.nonEmpty))
    // hand back the in-memory declared schema too: a CTAS resolves the
    // write relation against this handle before any version exists
    new ManifestTable(spark, base, None,
      Some(schema).filter(_.fields.nonEmpty), partCols, display(ident))
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val t = table(ident, None)
    changes.foreach {
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "manifest DROP COLUMN addresses top-level columns")
        Manifests.dropColumn(spark, t.base, d.fieldNames.head)
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "manifest ADD COLUMN adds top-level columns")
        require(a.isNullable,
          "manifest ADD COLUMN must be nullable — existing rows have " +
            "no value for the new column")
        require(a.position == null,
          "manifest ADD COLUMN appends at the end — FIRST/AFTER would " +
            "reorder the recorded read schema under existing files")
        require(a.defaultValue == null,
          "manifest ADD COLUMN does not support DEFAULT values")
        Manifests.addColumn(spark, t.base, a.fieldNames.head, a.dataType,
          Option(a.comment))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "manifest RENAME COLUMN addresses top-level columns")
        Manifests.renameColumn(spark, t.base, r.fieldNames.head,
          r.newName)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          "manifest ALTER COLUMN TYPE addresses top-level columns")
        Manifests.widenColumn(spark, t.base, u.fieldNames.head,
          u.newDataType)
      case n: TableChange.UpdateColumnNullability =>
        require(n.fieldNames.length == 1,
          "manifest ALTER COLUMN nullability addresses top-level columns")
        Manifests.setColumnNullability(spark, t.base, n.fieldNames.head,
          n.nullable)
      case c: TableChange.UpdateColumnComment =>
        require(c.fieldNames.length == 1,
          "manifest ALTER COLUMN COMMENT addresses top-level columns")
        Manifests.commentColumn(spark, t.base, c.fieldNames.head,
          c.newComment)
      case c => sys.error(s"unsupported ALTER TABLE change $c — " +
        "manifest schema evolution is additive via writes; use " +
        "dropColumn/addConstraint through the table API")
    }
    table(ident, None)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (isPath(ident)) false
    else readDef(ident) match {
      case None => false
      case Some((base, _, _)) =>
        // managed data (under the warehouse) drops with the table;
        // external LOCATIONs survive their registration (Hive/Delta
        // external-table semantics). A FAILED data delete keeps the
        // pointer file and rethrows: removing the registration anyway
        // would orphan the table's bytes under the warehouse with
        // nothing left to find them by — the caller can retry the DROP
        // (delete is idempotent) or still reach the data by name.
        if (Dfs.qualified(spark, base)
            .startsWith(Dfs.qualified(spark, warehouse) + "/")) {
          Dfs.delete(spark, base, recursive = true)
          // FileSystem.delete signals some failures by returning false
          // rather than throwing — verify the bytes are actually gone
          require(!Dfs.exists(spark, base),
            s"DROP TABLE ${display(ident)}: managed data delete failed " +
              s"at $base — registration kept so the table stays reachable")
        }
        Dfs.delete(spark, defPath(ident))
        // a recreate at the same location must never be served the
        // dropped table's memoized file lists (mtime alone can tie
        // within the filesystem's timestamp granularity)
        graft.ext.Manifests.filesMemo.evict(spark, _._1 == base)
        true
    }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from) || isPath(from))
      throw new NoSuchTableException(from.namespace :+ from.name)
    if (tableExists(to))
      throw new TableAlreadyExistsException(to.namespace :+ to.name)
    Dfs.mkdirs(spark, new org.apache.hadoop.fs.Path(defPath(to))
      .getParent.toString)
    Dfs.rename(spark, defPath(from), defPath(to))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!Dfs.exists(spark, dir)) Array.empty
    else Dfs.list(spark, dir)
      .filter(s => !s.isDirectory && s.getPath.getName.endsWith(".tbl"))
      .map(s => Identifier.of(namespace,
        s.getPath.getName.stripSuffix(".tbl")))
      .toArray
  }

  // ---- namespaces: directories under _defs ------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = s"$warehouse/_defs"
    if (!Dfs.exists(spark, root)) Array.empty
    else Dfs.list(spark, root).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsDir(namespace)
    if (!Dfs.exists(spark, dir))
      throw new NoSuchNamespaceException(namespace)
    Dfs.list(spark, dir).filter(_.isDirectory)
      .map(s => namespace :+ s.getPath.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Dfs.exists(spark, nsDir(namespace))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    Dfs.mkdirs(spark, nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    sys.error("manifest namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    // an empty namespace would resolve nsDir to '<warehouse>/_defs'
    // itself — a cascade there recursively deletes the whole metastore
    // root. Unreachable from SQL today, but this is public API surface.
    require(namespace.nonEmpty, "cannot drop the root namespace")
    val dir = nsDir(namespace)
    if (!Dfs.exists(spark, dir)) false
    else {
      require(cascade || listTables(namespace).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      // CASCADE must drop the TABLES, not just their registrations:
      // dropTable deletes a managed table's data directory, and
      // removing only the pointer files would orphan every managed
      // table's bytes under the warehouse with nothing left to find
      // them by. External LOCATIONs survive, as in dropTable.
      if (cascade) {
        listTables(namespace).foreach(dropTable)
        listNamespaces(namespace).foreach(dropNamespace(_, cascade = true))
      }
      Dfs.delete(spark, dir, recursive = true)
    }
  }
}

/** A metadata view as a DSv2 table: the frame is metadata-sized
  * (history rows, file listings, constraint records), so the scan is a
  * [[org.apache.spark.sql.connector.read.LocalScan]] — driver-local
  * rows, no job, no files. Rebuilt per load: metadata tables must
  * reflect the CURRENT version, not the one first queried. */
private[manifest] class ManifestMetaTable(ident: String,
    frame: () => org.apache.spark.sql.DataFrame)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  private lazy val df = frame()

  override def name(): String = ident
  override def schema(): org.apache.spark.sql.types.StructType = df.schema
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] = {
    val s = new java.util.HashSet[
      org.apache.spark.sql.connector.catalog.TableCapability]()
    s.add(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            df.queryExecution.executedPlan.executeCollect()
          override def readSchema(): org.apache.spark.sql.types.StructType =
            df.schema
          override def description(): String = ident
        }
    }
}
