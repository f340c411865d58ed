package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TransformSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val wh = Warehouse(spark, TestSpark.sf)

  test("fact count equals cleaned count (inner joins lose nothing by construction)") {
    assert(wh.fact.count() === wh.cleaned.count())
  }

  test("dim keys are unique, contiguous 1..n, and ordered by natural key") {
    for ((dim, key, natural) <- Seq(
        (wh.dimProduct, "product_key", "stock_code"),
        (wh.dimCustomer, "customer_key", "customer_id"),
        (wh.dimDate, "date_key", "date"))) {
      val n = dim.count()
      assert(dim.select(key).distinct().count() === n)
      val minMax = dim.agg(min(col(key)), max(col(key))).head()
      assert(minMax.getLong(0) === 1L && minMax.getLong(1) === n)
      // key order == natural-key order
      val rows = dim.orderBy(key).select(natural).collect().map(_.get(0).toString)
      assert(rows.sameElements(rows.sorted), s"$key not ordered by $natural")
    }
  }

  test("dim_date day_of_week uses the Postgres 0=Sunday convention (E5)") {
    val rows = wh.dimDate.select("date", "day_of_week").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getDate(0).toLocalDate
      val expected = d.getDayOfWeek.getValue % 7 // java: Mon=1..Sun=7 -> Sun=0
      assert(r.getInt(1) === expected, s"DOW mismatch on $d")
    }
  }

  test("null customers land on the UNKNOWN sentinel row (J2)") {
    val sentinelKey = wh.dimCustomer.filter(col("customer_id") === "UNKNOWN")
      .select("customer_key").head().getLong(0)
    val nullCustomers = wh.cleaned.filter(col("customer_id").isNull).count()
    val sentinelFacts = wh.fact.filter(col("customer_key") === sentinelKey).count()
    assert(nullCustomers > 0, "fixture injects null customers")
    assert(sentinelFacts === nullCustomers)
  }

  test("total_amount is exactly quantity * unit_price in DECIMAL (E1)") {
    val bad = wh.fact.filter(
      col("total_amount") =!= (col("quantity") * col("unit_price")).cast("decimal(12,2)"))
    assert(bad.count() === 0)
  }

  test("writeWarehouse roundtrip: partitioned fact reads back identically and prunes (S4/S6)") {
    val out = java.nio.file.Files.createTempDirectory("graft_wh").toString
    Transform.writeWarehouse(spark, TestSpark.sf, out)
    val back = spark.read.parquet(s"$out/fact_sales")
    assert(back.count() === wh.fact.count())
    // partition layout exists and a year predicate prunes to a subset
    val years = back.select("year").distinct().collect().map(_.getInt(0))
    assert(years.length > 1)
    val one = back.filter(col("year") === years.min).count()
    assert(one > 0 && one < back.count())
    // overwrite is idempotent (truncate-and-reload semantics)
    Transform.writeWarehouse(spark, TestSpark.sf, out)
    assert(spark.read.parquet(s"$out/fact_sales").count() === wh.fact.count())
  }

  // LAST in the suite: evicts the shared warehouse cache, so the suite's
  // pre-evict `wh` references must not be materialized after this point
  test("evict-then-reuse: a fresh Warehouse rebuilds with identical surrogate keys") {
    // materialize (quiescent point), snapshot, then evict
    val before = wh.dimProduct.orderBy("product_key")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val factBefore = wh.fact.count()
    graft.AppCache.evictAll(spark)
    // fresh frames via apply — the documented post-evict path
    val fresh = Warehouse(spark, TestSpark.sf)
    val after = fresh.dimProduct.orderBy("product_key")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.sameElements(before), "rebuilt dim keys differ from pre-evict keys")
    assert(fresh.fact.count() === factBefore)
    // and the rebuilt keys are still dense 1..n in natural-key order
    assert(after.map(_._1).sameElements(1L to after.length.toLong))
    assert(after.map(_._2).sameElements(after.map(_._2).sorted))
  }
}
