package graft.ext

import graft.TestSpark
import graft.sources.manifest.DvParquetFileFormat
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one deletion-vector-aware read path: a vectored manifest version
  * reads as ONE parquet file scan whose reader drops the deleted
  * positions ([[DvParquetFileFormat]]), through [[Manifests.readAt]],
  * [[Manifests.readLatest]] and `spark.read.format("manifest")` alike.
  * The fixture is the warehouse fact at sf0.001, vectored by a MoR
  * delete and a MoR merge. */
class DvReadPathSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fact = graft.etl.Warehouse(spark, TestSpark.sf).fact

  private def base(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  /** The fact in 3 files, then a MoR delete of every 5th invoice's
    * lines (boundary files only) and a MoR merge over 4 invoices;
    * returns the table, its version and the model of its live rows. */
  private def vectored(name: String): (String, Int, DataFrame) = {
    val b = base(name)
    Manifests.commitData(fact.repartition(3, col("invoice_no")), b)
    val invoices = fact.select("invoice_no").distinct().orderBy("invoice_no")
      .collect().map(_.getString(0)).toSeq
    val gone = invoices.zipWithIndex.collect { case (inv, i) if i % 5 == 0 => inv }
    Manifests.deleteWhereMor(spark, b, col("invoice_no").isin(gone: _*))
    val merged = invoices.slice(1, 5)
    val upd = fact.filter(col("invoice_no").isin(merged: _*))
      .withColumn("unit_price",
        (col("unit_price") + 1).cast(fact.schema("unit_price").dataType))
    Manifests.mergeMor(spark, b, upd,
      Seq("invoice_no", "product_key", "quantity", "customer_key"))
    val v = Manifests.latestVersion(spark, b).get
    assert(Manifests.dvFiles(spark, b, v).size >= 2,
      "the fixture must carry the delete's and the merge's vectors")
    (b, v, fact.filter(!col("invoice_no").isin(gone ++ merged: _*)).unionByName(upd))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def fileScans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
  }

  test("a vectored version plans ONE file scan through readAt, readLatest and format(manifest): no Union, no _metadata projection") {
    val (b, v, _) = vectored("graft_dvpath_shape")
    Seq(
      "readAt" -> Manifests.readAt(spark, b, v),
      "readLatest" -> Manifests.readLatest(spark, b),
      "format(manifest)" -> spark.read.format("manifest").load(b)).foreach {
      case (how, df) =>
        val plan = df.queryExecution.optimizedPlan
        val relations = plan.collect { case l: LogicalRelation => l.relation }
        assert(relations.size === 1, s"$how: one relation, got\n$plan")
        relations.head match {
          case r: HadoopFsRelation =>
            assert(r.location.isInstanceOf[ManifestFileIndex],
              s"$how: the listing is the version's manifest")
            r.fileFormat match {
              case f: DvParquetFileFormat =>
                assert(f.dvIndex.nonEmpty, s"$how: the vectors ride the format")
              case f => fail(s"$how: format $f applies no vectors")
            }
          case r => fail(s"$how: not a file relation: $r")
        }
        assert(plan.collect { case u: Union => u }.isEmpty, s"$how:\n$plan")
        assert(!plan.output.exists(_.name == "_metadata") &&
          !plan.toString.contains("_metadata"),
          s"$how: no _metadata projection:\n$plan")
        assert(fileScans(df).size === 1, s"$how: one file scan")
    }
  }

  test("the one path's rows equal the forced anti-join fallback and a compacted copy") {
    val (b, v, model) = vectored("graft_dvpath_rows")
    val onePath = rows(Manifests.readAt(spark, b, v))
    assert(onePath === rows(model))
    assert(rows(Manifests.readLatest(spark, b)) === onePath)
    assert(rows(spark.read.format("manifest").load(b)) === onePath)
    assert(rows(Manifests.readAtWithPos(spark, b, v)
      .drop("__file", "__pos")) === onePath)
    spark.conf.set("graft.dv.indexMaxBytes", "1")
    try {
      assert(Manifests.dvIndex(spark,
        Manifests.dvFiles(spark, b, v)).isEmpty, "the budget forces the fallback")
      val fallback = Manifests.readAt(spark, b, v)
      assert(fallback.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty, "past the budget the read anti-joins")
      assert(rows(fallback) === onePath)
      val e = intercept[IllegalArgumentException](
        spark.read.format("manifest").load(b).count())
      assert(e.getMessage.contains("graft.dv.indexMaxBytes"))
    } finally spark.conf.unset("graft.dv.indexMaxBytes")
    val (_, _, cv) = Manifests.compact(spark, b, 2)
    assert(Manifests.dvFiles(spark, b, cv).isEmpty)
    assert(rows(Manifests.readAt(spark, b, cv)) === onePath,
      "the compacted copy holds exactly the vectored version's live rows")
    assert(rows(Manifests.readAt(spark, b, v)) === onePath,
      "time travel to the vectored version reads the same rows after compaction")
  }

  test("a pushed point filter that skips row groups in a vectored file still drops exactly the deleted positions") {
    val b = base("graft_dvpath_rowgroups")
    // one file, ~100-row row groups over ascending ids: a point
    // filter on id skips every row group but the one holding it
    spark.conf.set("parquet.block.size", "1024")
    try Manifests.commitData((0 until 2000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "s").coalesce(1).sortWithinPartitions("id"), b)
    finally spark.conf.unset("parquet.block.size")
    val file = Manifests.files(spark, b, 0)
    assert(file.size === 1)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.head),
        spark.sessionState.newHadoopConf()))
    val groups = try footer.getRowGroups.size finally footer.close()
    assert(groups >= 4, s"the file must hold several row groups, has $groups")
    val dead = Set(0L, 1499L, 1501L, 1777L, 1999L)
    Manifests.deleteWhereMor(spark, b, col("id").isin(dead.toSeq: _*))
    val read = Manifests.readLatest(spark, b)
    def ids(df: DataFrame) = df.select("id").collect().map(_.getLong(0)).toSet
    // the survivor between two deleted neighbours, in a late row group
    val point = read.filter(col("id").isin(1499L, 1500L, 1501L))
    assert(ids(point) === Set(1500L))
    val scanned = fileScans(point).head.metrics("numOutputRows").value
    assert(scanned < 1000, s"the pushed filter must skip row groups (read $scanned rows)")
    assert(ids(read.filter(col("id") === 1777L)).isEmpty)
    assert(ids(read.filter(col("id") >= 1990L)) ===
      (1990L until 2000L).toSet - 1999L)
    assert(read.count() === 2000 - dead.size)
    assert(ids(read) === (0L until 2000L).toSet -- dead)
  }

  test("a live-rename version still takes the era path") {
    val (b, _, _) = vectored("graft_dvpath_rename")
    val before = rows(Manifests.readLatest(spark, b))
    Manifests.renameColumn(spark, b, "unit_price", "price")
    val v = Manifests.latestVersion(spark, b).get
    assert(Manifests.hasLiveRenames(spark, b, v))
    val df = Manifests.readAt(spark, b, v)
    assert(df.columns.contains("price") && !df.columns.contains("unit_price"))
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.forall {
      case r: HadoopFsRelation => !r.fileFormat.isInstanceOf[DvParquetFileFormat]
      case _ => true
    }, "era files cannot ride a pure file scan")
    assert(rows(df) === before, "the era read keeps every live row")
    val e = intercept[IllegalArgumentException](
      spark.read.format("manifest").load(b).count())
    assert(e.getMessage.contains("live column renames"))
  }

  test("sidecars a MoR delete writes through the version relation keep the __file spelling: the catalog scan and the fallback read them") {
    val wh = java.nio.file.Files.createTempDirectory("graft_dvpath_wh").toString
    CatalogTestSupport.registerFreshCatalog(spark, wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dvpath")
    fact.createOrReplaceTempView("dvpath_src")
    spark.sql("CREATE TABLE graft.dvpath.t AS SELECT * FROM dvpath_src")
    val b = s"$wh/dvpath/t"
    val total = fact.count()
    val victims = fact.select("invoice_no").distinct().orderBy("invoice_no")
      .limit(7).collect().map(_.getString(0)).toSeq
    val (deleted, v) = Manifests.deleteWhereMor(spark, b,
      col("invoice_no").isin(victims: _*))
    assert(deleted > 0 && Manifests.dvFiles(spark, b, v).nonEmpty)
    // the sidecars spell files exactly as a parquet read's
    // `_metadata.file_path` does: the raw key the fallback joins on
    val spelled = spark.read.parquet(Manifests.files(spark, b, v): _*)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0)).toSet
    val recorded = spark.read.parquet(Manifests.dvFiles(spark, b, v): _*)
      .select("__file").distinct().collect().map(_.getString(0)).toSet
    assert(recorded.subsetOf(spelled), s"$recorded not among $spelled")
    val live = total - deleted
    assert(spark.sql("SELECT * FROM graft.dvpath.t").count() === live)
    assert(spark.sql("SELECT * FROM graft.dvpath.t")
      .filter(col("invoice_no").isin(victims: _*)).count() === 0)
    spark.conf.set("graft.dv.indexMaxBytes", "1")
    try {
      assert(Manifests.readAt(spark, b, v).count() === live)
      assert(Manifests.readAt(spark, b, v)
        .filter(col("invoice_no").isin(victims: _*)).count() === 0)
      assert(spark.sql("SELECT * FROM graft.dvpath.t").count() === live)
    } finally spark.conf.unset("graft.dv.indexMaxBytes")
  }
}
