package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: inflate a fixture directory N-fold on disk so Bench can be
  * run at ~10x the largest generated scale factor (memory-pressure cliffs
  * — persist spill, broadcast limits, shuffle partition sizing — appear
  * long before a real cluster would hit them).
  *
  * `sbt "runMain graft.Inflate <inDir> <outDir> [n=10]"`
  *
  * Shape: fact-sized tables (lineitem, orders, events) are duplicated with
  * join-consistent key offsets — copy i shifts l_orderkey/o_orderkey by
  * i * (maxOrderkey+1) so the lineitem⋈orders join cardinality scales
  * exactly linearly; dimension tables (part, customer, nation, region,
  * supplier) are copied as-is, so the fact:dim ratio grows 10x — the
  * realistic 100 TB shape (facts grow, dims don't). events offsets both
  * event_id and user_id (each copy is a fresh user population: session
  * row counts scale linearly, per-user state does not grow). documents
  * and embeddings offset their ids and perturb content per copy (a suffix
  * token / a small deterministic embedding shift), so the dedup and
  * similarity operators see realistic near-duplicate families across
  * copies rather than byte-identical clones.
  *
  * Everything is a single distributed scan per table (cross join against a
  * tiny copy-index range, offsets applied as expressions) — the tool
  * itself follows the same no-driver-loop rules as the library.
  */
object Inflate {

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = BenchHarness.onCores(cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // dims: copy as-is (facts grow, dims don't)
    for (t <- Seq("part", "customer", "nation", "region", "supplier"))
      write(read(t), t)

    /** One scan, n copies: cross join against the copy index, offsets as
      * expressions. The cross join inherits the (tiny) input's partitioning,
      * so repartition before writing — a single-file 10x table would give
      * every downstream scan exactly one task. */
    val outParts = cpus.toInt
    def inflated(t: String)(f: DataFrame => DataFrame): Unit = {
      val df = read(t).crossJoin(
        spark.range(n).select(col("id").as("_copy")))
      write(f(df).drop("_copy").repartition(outParts), t)
    }

    val orderUnit = read("lineitem").agg(max("l_orderkey")).head.getLong(0) + 1
    inflated("lineitem")(df =>
      df.withColumn("l_orderkey", col("l_orderkey") + col("_copy") * orderUnit))
    inflated("orders")(df =>
      df.withColumn("o_orderkey", col("o_orderkey") + col("_copy") * orderUnit))

    val ev = read("events")
    val eventUnit = ev.agg(max("event_id")).head.getLong(0) + 1
    val userUnit = ev.agg(max("user_id")).head.getLong(0) + 1
    inflated("events")(df => df
      .withColumn("event_id", col("event_id") + col("_copy") * eventUnit)
      .withColumn("user_id", col("user_id") + col("_copy") * userUnit))

    // doc_id offset stays clear of Dedup.corpusWithDups' +100k/+200k shifts
    inflated("documents")(df => df
      .withColumn("doc_id", col("doc_id") + col("_copy") * 10000000L)
      .withColumn("text",
        when(col("_copy") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" copy"), col("_copy"))))
      .withColumn("n_chars", length(col("text"))))

    val vecUnit = read("embeddings").agg(max("vec_id")).head.getLong(0) + 1
    inflated("embeddings")(df => df
      .withColumn("vec_id", col("vec_id") + col("_copy") * vecUnit)
      .withColumn("embedding",
        expr("""transform(embedding,
               |  (x, j) -> x + CAST(_copy AS FLOAT) *
               |    CAST(pmod(vec_id + j, 7) - 3 AS FLOAT) * CAST(0.001 AS FLOAT))""".stripMargin)))

    println(s"""{"inflated":"$outDir","n":$n}""")
    spark.stop()
  }
}
