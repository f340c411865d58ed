package perfbench

import scala.collection.mutable
import scala.concurrent.{blocking, Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.etl.{Clean, Pipeline, Staging, Transform, Warehouse}
import graft.ext.{Dfs, Manifests}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The two workloads. Each is one closed loop with one client: the next
  * operation starts when the previous one returns. A window runs whole
  * query rounds or whole compaction periods, so every window sees the
  * same operation mix. */
object Workloads {

  /** Window rounds bi_queries runs however short `--seconds` is: one round
    * puts the median between two different queries, which moves it by
    * ~15% from run to run; two rounds halve that. */
  val BiMinRounds = 2

  /** The nightly job, run once cold at the start of bi_queries: it
    * publishes the warehouse the analysts then query. Untraced it is
    * `Pipeline.run`; traced, the layer-by-layer composition below. The
    * written warehouse is checked by run.py (row counts and the fact
    * hash against the oracle). */
  private def nightly(c: Ctx): Unit = {
    import c._
    val wh = s"$work/warehouse"
    c.op("nightly etl") {
      if (rec.tracing) tracedEtl(c, wh) else (Pipeline.run(spark, dir, wh), Map.empty[String, Long])
    }.foreach { case ((status, counts), s) =>
      out("etl_s") = s
      out("etl_outputs") = Seq(Map("path" -> wh, "status" -> status, "counts" -> counts))
    }
    out("fact_oracle") = SparkEntry.oracleSql("fact_sales")
  }

  /** The traced ETL run: the public calls `Warehouse.build` composes,
    * each materialized inside its own span (the dims overlapped as
    * `Warehouse` overlaps them), then the warehouse memo (which finds the
    * stages already cached), the parquet write, the checks and the run
    * summary. Returns the status and the stage row counts. */
  private def tracedEtl(c: Ctx, whDir: String): (String, Map[String, Long]) = {
    import c._
    def p(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
    val probe = graft.Tables.lineitem(spark, dir)
    def spread(df: DataFrame, key: String) = graft.Tables.spreadToCores(df, col(key), probe)
    def built(name: String, parent: Int)(df: => DataFrame): (DataFrame, Long) =
      rec.span(name, parent) { val d = p(df); (d, d.count()) }
    rec.span("etl.run") {
      val root = rec.current
      val (staging, nStaging) = built("staging", root)(spread(Staging.staging(spark, dir), "stock_code"))
      val (cleaned, nCleaned) = built("clean", root)(spread(Clean.cleaned(staging), "invoice_no"))
      val (dimP, dimC, dimD) = rec.span("keys") {
        val keys = rec.current
        def dim(name: String)(f: => DataFrame) = Future(blocking(built(name, keys)(f)._1))
        val fP = dim("keys.dim_product")(Transform.dimProduct(cleaned))
        val fC = dim("keys.dim_customer")(Transform.dimCustomer(cleaned))
        val fD = dim("keys.dim_date")(Transform.dimDate(cleaned))
        (Await.result(fP, Duration.Inf), Await.result(fC, Duration.Inf), Await.result(fD, Duration.Inf))
      }
      val (_, nFact) = built("transform.fact", root)(Transform.factSales(cleaned, dimP, dimC, dimD))
      rec.span("pipeline.warehouse") { Warehouse(spark, dir).fact.count() }
      rec.span("transform.write") { Transform.writeWarehouse(spark, dir, whDir) }
      rec.span("pipeline.checks") { Pipeline.checks(spark, dir).collect() }
      val status = rec.span("pipeline.meta") {
        Pipeline.runSummary(spark, dir).head().getAs[String]("status")
      }
      (status, Map("staging" -> nStaging, "cleaned" -> nCleaned, "fact" -> nFact))
    }
  }

  // ----------------------------------------------------------- bi_queries

  /** Set-up runs the nightly job, which leaves the warehouse cached. The
    * first round executes every query once (cold) and keeps its result
    * for the oracle check; the window then loops over the later
    * seed-shuffled rounds. Every execution collects its result, as a
    * client would. */
  def biQueries(c: Ctx): Unit = {
    import c._
    nightly(c)
    c.setupDone()
    val rounds = in.get("rounds").elements().asScala.map(strings).toSeq
    def run(n: String): Option[((Array[Row], StructType), Double)] =
      c.op(s"query $n") {
        rec.span(s"query.$n") {
          val df = rec.span("sparkentry.compose")(SparkEntry.queries(n)(spark, dir))
          (rec.span("execute")(df.collect()), df.schema)
        }
      }
    val firsts = rounds.head.flatMap(n => run(n).map(n -> _))
    out("cold_s") = firsts.map(_._2._2).sum
    out("oracle") = firsts.map { case (n, ((rows, schema), _)) =>
      val path = s"$work/oracle/$n"
      spark.createDataFrame(rows.toSeq.asJava, schema).write.parquet(path)
      Map("name" -> n, "sql" -> SparkEntry.oracleSql(n), "path" -> path)
    }
    c.openWindow()
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    var k = 1
    while (k < rounds.size && (k <= BiMinRounds || c.elapsed < seconds)) {
      rounds(k).foreach { n =>
        run(n).foreach { case ((rows, _), s) => samples += Map("name" -> n, "s" -> s, "rows" -> rows.length) }
      }
      k += 1
    }
    c.closeWindow(samples.size)
    out("queries") = samples.toSeq
    c.finish()
  }

  // ------------------------------------------------------------ table_dml

  /** Set-up commits the warehouse fact as a manifest table. Each cycle
    * then appends a small batch, deletes one invoice and merges a small
    * update batch, every `compact_every` cycles compacts (the window runs
    * whole periods of that many cycles), and after each commit reads
    * one invoice back and aggregates the whole table. The same operations
    * are applied to a plain DataFrame model. Once the window has closed,
    * the live rows are compared with the model both ways with
    * `exceptAll`, and every scan read with the model as it stood then. */
  def tableDml(c: Ctx): Unit = {
    import c._
    val fact = Warehouse(spark, dir).fact
    val base = s"$work/fact_table"
    Manifests.commitData(fact, base)
    val keys = strings(in.get("merge_keys"))
    val cycles = in.get("cycles").elements().asScala.toSeq
    val compactEvery = in.get("compact_every").asInt
    val targetFiles = spark.sparkContext.defaultParallelism
    val sources = cycles.flatMap(cy => strings(cy.get("append_from")) ++ strings(cy.get("merge")))
      .distinct
    require(fact.columns.head == "invoice_no", "fact layout changed: invoice_no must lead")
    val byInvoice: Map[String, Seq[Row]] =
      fact.filter(col("invoice_no").isin(sources: _*)).collect().toSeq.groupBy(_.getString(0))
    def local(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, fact.schema)
    def appendBatch(cy: com.fasterxml.jackson.databind.JsonNode): DataFrame =
      local(strings(cy.get("append_from")).zip(strings(cy.get("append_as"))).flatMap { case (src, as) =>
        byInvoice.getOrElse(src, Nil).map(r => Row.fromSeq(as +: r.toSeq.tail))
      })
    val price = fact.schema.fieldIndex("unit_price")
    val qty = fact.schema.fieldIndex("quantity")
    val total = fact.schema.fieldIndex("total_amount")
    def mergeBatch(cy: com.fasterxml.jackson.databind.JsonNode): DataFrame =
      local(strings(cy.get("merge")).flatMap(byInvoice.getOrElse(_, Nil)).map { r =>
        val p = r.getDecimal(price).add(java.math.BigDecimal.ONE)
        val v = r.toSeq.toArray
        v(price) = p
        v(total) = p.multiply(java.math.BigDecimal.valueOf(r.getInt(qty).toLong))
        Row.fromSeq(v.toSeq)
      })
    c.setupDone()

    var model: DataFrame = fact
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val commits = mutable.ArrayBuffer.empty[Map[String, Any]]
    // live deletion-vector sidecars just before each compaction
    val sidecars = mutable.ArrayBuffer.empty[Int]
    var ops = 0L
    def record(kind: String, s: Double): Unit = {
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
      ops += 1
    }
    def files(): Set[String] = {
      val v = Manifests.latestVersion(spark, base).get
      (Manifests.files(spark, base, v) ++ Manifests.dvFiles(spark, base, v)).map(Dfs.canonical).toSet
    }
    def fileBytes(paths: Set[String]): Long =
      paths.toSeq.map(f => Dfs.fs(spark, f).getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
    // every scan read's (row count, total) beside the model it should match
    val scans = mutable.ArrayBuffer.empty[(DataFrame, Row)]
    // a commit, then the two reads that follow every commit; `after` is
    // the model once the commit is applied
    def commit(kind: String, point: String, after: DataFrame)(body: => Long): Unit = {
      model = after
      val before = if (rec.tracing) files() else Set.empty[String]
      c.op(kind)(rec.span(s"manifests.$kind")(body)).foreach { case (changed, s) =>
        record(kind, s)
        if (rec.tracing) {
          val added = files() -- before
          commits += Map("kind" -> kind, "files_added" -> added.size,
            "bytes_added" -> fileBytes(added), "rows_changed" -> changed)
        }
      }
      c.op("point read") {
        rec.span("manifest_read.point") {
          Manifests.readLatest(spark, base).filter(col("invoice_no") === point).collect().length
        }
      }.foreach { case (rows, s) => record("point", s); commits += Map("kind" -> "point", "rows" -> rows) }
      c.op("scan read") {
        rec.span("manifest_read.scan") {
          Manifests.readLatest(spark, base).agg(count(lit(1)), sum(col("total_amount"))).head()
        }
      }.foreach { case (r, s) => record("scan", s); scans += (after -> r) }
    }
    def cycle(k: Int): Unit = {
      val cy = cycles(k)
      val points = strings(cy.get("point"))
      val app = appendBatch(cy)
      commit("append", points(0), model.unionByName(app)) { Manifests.append(app, base); app.count() }
      val victim = cy.get("delete").asText
      commit("delete_mor", points(1),
          model.filter(col("invoice_no") =!= victim || col("invoice_no").isNull)) {
        Manifests.deleteWhereMor(spark, base, col("invoice_no") === victim)._1
      }
      val upd = mergeBatch(cy)
      commit("merge_mor", points(2), model.join(upd.select(keys.map(col): _*), keys, "left_anti")
          .select(fact.columns.map(col): _*).unionByName(upd)) {
        Manifests.mergeMor(spark, base, upd, keys)._2
      }
      if (k > 0 && k % compactEvery == 0) {
        sidecars += Manifests.dvFiles(spark, base, Manifests.latestVersion(spark, base).get).size
        commit("compact", points(3), model) { Manifests.compact(spark, base, targetFiles); 0L }
      }
    }

    val (_, cold) = c.timed(cycle(0))
    out("cold_s") = cold
    c.openWindow()
    ops = 0L
    samples.clear()
    commits.clear()
    sidecars.clear()
    // whole compaction periods only, so every window sees the same mix
    var k = 1
    do { cycle(k); k += 1 }
    while (k < cycles.size && ((k - 1) % compactEvery != 0 || c.elapsed < seconds))
    c.closeWindow(ops)

    val live = Manifests.readLatest(spark, base).select(fact.columns.map(col): _*)
    val liveRows = live.count()
    val agree = live.exceptAll(model).isEmpty && model.exceptAll(live).isEmpty
    if (!agree) c.fail(samples.filter(s => isCommit(s._1)).values.map(_.size.toLong).sum,
      "table_dml: live rows differ from the DataFrame model")
    // all the models' aggregates in one job, tagged by read
    val expected = scans.zipWithIndex.map { case ((m, _), i) =>
      m.agg(count(lit(1)), sum(col("total_amount"))).withColumn("read", lit(i))
    }.reduceOption(_ unionByName _).map(_.collect()).getOrElse(Array.empty[Row])
    val wrongReads = expected.count { e =>
      val got = scans(e.getInt(2))._2
      got.getLong(0) != e.getLong(0) || got.get(1) != e.get(1)
    }
    if (wrongReads > 0) c.fail(wrongReads, s"table_dml: $wrongReads scan reads differ from the model")
    val tableBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(base)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size(_)).sum
    out("samples") = samples.map { case (k, v) => k -> v.toSeq }.toMap
    out("commits") = commits.toSeq
    out("live_rows") = liveRows
    out("table_bytes") = tableBytes
    out("dv_sidecars_live") = sidecars.toSeq
    c.finish()
  }

  def isCommit(kind: String): Boolean = kind != "point" && kind != "scan"
}
