package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A metadata-RPC meter: every namenode-shaped call (status, listing,
  * open, create, rename, delete, mkdirs) bumps a counter, so a spec can
  * assert a resolution path costs O(1) calls instead of O(versions).
  * Lives on its own `graftcnt:` scheme so only protocol I/O routed
  * through [[Dfs]] is measured. */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import CountingFileSystem._
  override def getUri: java.net.URI = java.net.URI.create("graftcnt:///")
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    // RawLocalFileSystem.listStatus stats each child through this
    // method; a real namenode answers a listing in ONE call, so nested
    // statuses inside a counted listing are not separate RPCs
    if (!inListing.get()) ops.incrementAndGet()
    super.getFileStatus(p)
  }
  // RawLocalFileSystem answers exists() from java.io.File, bypassing
  // getFileStatus; on a namenode or object store it is a status RPC
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    if (!inListing.get()) ops.incrementAndGet()
    super.exists(p)
  }
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ops.incrementAndGet()
    inListing.set(true)
    try super.listStatus(p) finally inListing.set(false)
  }
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    ops.incrementAndGet()
    if (p.getName == "_manifest") manifestReads.incrementAndGet()
    // a sidecar PARQUET read (zone stats / partition tuples / blooms) —
    // the cost SidecarCache amortizes to zero for an already-planned
    // version; the tiny v<N>/_statsfile pointer files don't count
    val s = p.toString
    if ((s.contains("/stats_") || s.contains("/pv_") || s.contains("/bloom_"))
        && !p.getName.startsWith("_"))
      sidecarReads.incrementAndGet()
    // a DATA file open — the cost a metadata-only answer must avoid
    if (s.contains("/data_") && !p.getName.startsWith("_"))
      dataReads.incrementAndGet()
    // a deletion-vector SIDECAR open — the cost a cached DV index avoids
    if (s.contains("/dv_") && !p.getName.startsWith("_"))
      dvReads.incrementAndGet()
    super.open(p, bufferSize)
  }
  override def create(p: org.apache.hadoop.fs.Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  // the overload Dfs.writeBytes and createExclusive actually reach
  override def create(p: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    ops.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: org.apache.hadoop.fs.Path): Boolean = {
    ops.incrementAndGet(); super.mkdirs(p)
  }
}
object CountingFileSystem {
  val ops = new java.util.concurrent.atomic.AtomicLong(0)
  val manifestReads = new java.util.concurrent.atomic.AtomicLong(0)
  val sidecarReads = new java.util.concurrent.atomic.AtomicLong(0)
  val dataReads = new java.util.concurrent.atomic.AtomicLong(0)
  val dvReads = new java.util.concurrent.atomic.AtomicLong(0)
  val inListing: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
}

/** Fails every create of a `_bucketspec` sidecar while armed — the
  * crash point between a version's data/manifest and its commit
  * marker. Overrides the overload [[Dfs.writeBytes]] reaches. */
class FailingBucketSpecFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftbkt:///")
  override def create(p: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    if (FailingBucketSpecFileSystem.armed.get() && p.getName == "_bucketspec")
      throw new java.io.IOException(s"injected create failure: $p")
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
}
object FailingBucketSpecFileSystem {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class ManifestsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def base(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("commitData/readAt roundtrip; versions advance; marker-less manifest invisible") {
    import spark.implicits._
    val b = base("graft_man_rt")
    val v0 = Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "k"), b)
    val v1 = Manifests.commitData(
      (1 to 5).map(i => (i.toLong, 0)).toDF("id", "k"), b)
    assert(v0 === 0 && v1 === 1)
    assert(Manifests.readAt(spark, b, 0).count() === 100)
    assert(Manifests.readLatest(spark, b).count() === 5)
    // a crashed committer: manifest written, no _SUCCESS -> invisible
    Dfs.mkdirs(spark, s"$b/v7")
    Dfs.writeBytes(spark, s"$b/v7/_manifest", "file:/nope\n".getBytes("UTF-8"))
    assert(Manifests.latestVersion(spark, b) === Some(1))
    intercept[IllegalArgumentException](Manifests.files(spark, b, 7))
  }

  test("deleteWhere: atomic manifest swap — survivors exact, history intact, untouched files shared by reference") {
    import spark.implicits._
    val b = base("graft_man_del")
    // range-cluster by k so the delete key is contained in few files
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(5, col("k")), b)
    val before = Manifests.files(spark, b, 0)
    val (affected, total, nv) = Manifests.deleteWhere(spark, b, col("k") === 3)
    assert(nv === 1 && total === before.size)
    assert(affected >= 1 && affected < total,
      s"clustered key must touch a strict subset ($affected/$total)")
    // new version: survivors are exactly NOT(pred)
    val now = Manifests.readLatest(spark, b)
    assert(now.filter(col("k") === 3).count() === 0)
    assert(now.count() === 180)
    // history: the pre-delete version still reads complete
    assert(Manifests.readAt(spark, b, 0).count() === 200)
    // untouched files carried by reference — same path strings, no copy
    val after = Manifests.files(spark, b, 1)
    val shared = before.toSet.intersect(after.toSet)
    assert(shared.size === total - affected,
      s"every untouched file must be shared verbatim (${shared.size})")
  }

  test("deleteWhere: null delete keys survive; no-match predicate returns same version") {
    import spark.implicits._
    val b = base("graft_man_null")
    Manifests.commitData(
      Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "a"))
        .toDF("k", "s"), b)
    val (_, _, nv) = Manifests.deleteWhere(spark, b, col("k") === 1L)
    assert(nv === 1)
    val left = Manifests.readLatest(spark, b).collect()
      .map(r => Option(r.get(0)).map(_.toString).getOrElse("null")).sorted
    assert(left.toSeq === Seq("3", "null"), "null key must survive a delete")
    val (a2, _, nv2) = Manifests.deleteWhere(spark, b, col("k") === 999L)
    assert(a2 === 0 && nv2 === 1, "no-op delete must not burn a version")
  }

  test("updateWhere: strict-subset rewrite, set-exprs read the OLD row, null/no-match leave rows alone, history intact") {
    import spark.implicits._
    val b = base("graft_man_upd")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i.toLong, i.toLong * 2, i % 10))
        .toDF("id", "a", "b", "k")
        .repartitionByRange(5, col("k")), b)
    val before = Manifests.files(spark, b, 0)
    // swap a and b where k = 3: proves snapshot semantics — each set
    // expression must see the pre-update row, not the other's result
    val (rewritten, updated, nv) = Manifests.updateWhere(spark, b,
      col("k") === 3, Map("a" -> col("b"), "b" -> col("a")))
    assert(nv === 1 && updated === 20L)
    assert(rewritten >= 1 && rewritten < before.size,
      s"clustered key must touch a strict subset ($rewritten/${before.size})")
    val now = Manifests.readLatest(spark, b)
    assert(now.count() === 200)
    assert(now.filter(col("k") === 3 &&
      (col("a") =!= col("id") * 2 || col("b") =!= col("id"))).count() === 0,
      "updated rows must hold swapped values")
    assert(now.filter(col("k") =!= 3 &&
      (col("a") =!= col("id") || col("b") =!= col("id") * 2)).count() === 0,
      "non-matching rows must be byte-identical")
    // untouched files carried by reference; pre-update version intact
    val after = Manifests.files(spark, b, 1)
    assert(before.toSet.intersect(after.toSet).size === before.size - rewritten)
    assert(Manifests.readAt(spark, b, 0)
      .filter(col("k") === 3 && col("a") =!= col("id")).count() === 0)
    // no-match predicate burns no version; unknown column refuses
    assert(Manifests.updateWhere(spark, b, col("k") === 99,
      Map("a" -> lit(0L))) === ((0, 0L, 1)))
    intercept[IllegalArgumentException](Manifests.updateWhere(spark, b,
      col("k") === 3, Map("nope" -> lit(1))))
    // null predicate rows are left alone (CASE semantics)
    val bn = base("graft_man_updnull")
    // one file, so the MoR delete below is genuinely partial (a
    // per-row file would retire whole under full-file elision and
    // leave nothing vectored to refuse on)
    Manifests.commitData(Seq[(java.lang.Long, String)](
      (1L, "a"), (null, "b"), (3L, "c")).toDF("k", "s").coalesce(1), bn)
    Manifests.updateWhere(spark, bn, col("k") === 1,
      Map("s" -> lit("X")))
    val vals = Manifests.readLatest(spark, bn).collect()
      .map(r => Option(r.get(0)).map(_.toString).orNull -> r.getString(1)).toMap
    assert(vals("1") === "X" && vals(null) === "b" && vals("3") === "c")
    // a vectored version refuses copy-on-write update, like deleteWhere
    Manifests.deleteWhereMor(spark, bn, col("k") === 3)
    intercept[IllegalArgumentException](Manifests.updateWhere(spark, bn,
      col("k") === 1, Map("s" -> lit("Y"))))
  }

  test("vacuum: replaced files reclaimed, shared files survive, retained versions intact") {
    import spark.implicits._
    val b = base("graft_man_vac")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(5, col("k")), b)
    Manifests.deleteWhere(spark, b, col("k") === 3) // v1
    Manifests.deleteWhere(spark, b, col("k") === 7) // v2
    val v0Files = Manifests.files(spark, b, 0).map(Dfs.canonical).toSet
    val v2Files = Manifests.files(spark, b, 2).map(Dfs.canonical).toSet
    val (droppedVs, deletedFiles) = Manifests.vacuum(spark, b, keepLast = 1)
    assert(droppedVs === Seq(0, 1))
    assert(deletedFiles > 0, "replaced originals must actually be reclaimed")
    // every file referenced only by dropped versions is gone; every
    // retained-referenced file (including ones v0 SHARED with v2) stays
    v2Files.foreach(f => assert(Dfs.exists(spark, f), s"retained file deleted: $f"))
    v0Files.diff(v2Files).foreach(f =>
      assert(!Dfs.exists(spark, f), s"unreferenced file leaked: $f"))
    // the retained version still reads completely
    val now = Manifests.readLatest(spark, b)
    assert(now.count() === 160)
    assert(now.filter(col("k") === 3 || col("k") === 7).count() === 0)
    // history below the horizon is loud, and new commits land above
    intercept[IllegalArgumentException](Manifests.readAt(spark, b, 0))
    val (_, _, nv) = Manifests.deleteWhere(spark, b, col("k") === 5)
    assert(nv === 3 && Manifests.readLatest(spark, b).count() === 140)
  }

  test("compact: atomic file-count drop, row-exact content, old version readable until vacuumed") {
    import spark.implicits._
    val b = base("graft_man_cmp")
    Manifests.commitData(
      (1 to 500).map(i => (i.toLong, i % 7)).toDF("id", "k").repartition(32), b)
    assert(Manifests.files(spark, b, 0).size === 32)
    val (before, after, nv) = Manifests.compact(spark, b, 4)
    assert(before === 32 && after === 4 && nv === 1)
    val a = Manifests.readAt(spark, b, 0).collect().map(_.toSeq.toString).sorted
    val c = Manifests.readLatest(spark, b).collect().map(_.toSeq.toString).sorted
    assert(c.toSeq === a.toSeq, "compaction must be row-exact")
    // OPTIMIZE then VACUUM: the 32 fragments reclaim, the 4 survive
    val (dropped, reclaimed) = Manifests.vacuum(spark, b, keepLast = 1)
    assert(dropped === Seq(0) && reclaimed === 32)
    assert(Manifests.readLatest(spark, b).count() === 500)
  }

  test("merge: matched rows replaced, new keys inserted, untouched files shared by reference") {
    import spark.implicits._
    val b = base("graft_man_mrg")
    // range-cluster so the update keys live in a strict file subset
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10, s"old_$i")).toDF("id", "k", "s")
        .repartitionByRange(5, col("k")), b)
    val before = Manifests.files(spark, b, 0)
    val updates = Seq((3L, 99, "upd_3"), (7L, 99, "upd_7"), (1000L, 99, "new_1000"))
      .toDF("id", "k", "s")
    val (rewrote, nRows, nv) = Manifests.merge(spark, b, updates, Seq("id"))
    assert(nv === 1 && nRows === 3)
    assert(rewrote >= 1 && rewrote < before.size,
      s"clustered keys must touch a strict file subset ($rewrote/${before.size})")
    val now = Manifests.readLatest(spark, b)
    assert(now.count() === 201, "2 updates in place + 1 insert")
    assert(now.filter(col("s").startsWith("upd_")).count() === 2)
    assert(now.filter(col("id") === 1000L).count() === 1)
    assert(now.filter(col("id") === 3L && col("s") === "old_3").count() === 0)
    // history + sharing: pre-merge version intact, untouched files verbatim
    assert(Manifests.readAt(spark, b, 0).filter(col("s") === "old_3").count() === 1)
    val shared = before.toSet.intersect(Manifests.files(spark, b, 1).toSet)
    assert(shared.size === before.size - rewrote)
  }

  test("merge: duplicate source keys throw; null-key rows insert without matching") {
    import spark.implicits._
    val b = base("graft_man_mrgn")
    Manifests.commitData(
      Seq[(java.lang.Long, String)]((1L, "a"), (null, "b")).toDF("id", "s"), b)
    intercept[IllegalArgumentException](Manifests.merge(spark, b,
      Seq((1L, "x"), (1L, "y")).toDF("id", "s"), Seq("id")))
    // a null-key update row never matches anything — it inserts, and the
    // null-key target row survives
    val (_, _, nv) = Manifests.merge(spark, b,
      Seq[(java.lang.Long, String)]((null, "c")).toDF("id", "s"), Seq("id"))
    assert(nv === 1)
    val rows = Manifests.readLatest(spark, b).collect()
      .map(r => (Option(r.get(0)).map(_.toString).getOrElse("null"), r.getString(1)))
      .sortBy(_._2)
    assert(rows.toSeq === Seq(("1", "a"), ("null", "b"), ("null", "c")))
  }

  test("merge: pure-insert batch rewrites zero target files") {
    import spark.implicits._
    val b = base("graft_man_mrgi")
    Manifests.commitData((1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "s"), b)
    val before = Manifests.files(spark, b, 0)
    val (rewrote, _, nv) = Manifests.merge(spark, b,
      Seq((900L, "new")).toDF("id", "s"), Seq("id"))
    assert(rewrote === 0 && nv === 1)
    assert(before.toSet.subsetOf(Manifests.files(spark, b, 1).toSet),
      "every pre-merge file must carry by reference")
    assert(Manifests.readLatest(spark, b).count() === 51)
  }

  test("changesBetween: diff reads only non-shared files; inserts/deletes tagged; no-op diff is empty") {
    import spark.implicits._
    val b = base("graft_man_cdf")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10, s"s$i")).toDF("id", "k", "s")
        .repartitionByRange(5, col("k")), b)
    Manifests.deleteWhere(spark, b, col("k") === 3) // v1
    Manifests.merge(spark, b,
      Seq((5L, 99, "upd_5"), (2000L, 99, "new")).toDF("id", "k", "s"),
      Seq("id")) // v2
    // v0 -> v1: exactly the 20 deleted rows, tagged delete
    val d01 = Manifests.changesBetween(spark, b, 0, 1)
    assert(d01.filter(col("_change_type") === "insert").count() === 0)
    val dels = d01.filter(col("_change_type") === "delete")
    assert(dels.count() === 20 && dels.filter(col("k") === 3).count() === 20)
    // v1 -> v2: the update surfaces as delete+insert, the new row as insert
    val d12 = Manifests.changesBetween(spark, b, 1, 2).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3))).toSet
    assert(d12 === Set((5L, "s5", "delete"), (5L, "upd_5", "insert"),
      (2000L, "new", "insert")))
    // metadata pruning: the diff's scan touches only non-shared files
    val fa = Manifests.files(spark, b, 1).toSet
    val fb = Manifests.files(spark, b, 2).toSet
    val scanned = Manifests.changesBetween(spark, b, 1, 2)
      .inputFiles.map(Dfs.canonical).toSet
    assert(scanned.nonEmpty &&
      scanned.forall(f => !(fa.contains(f) && fb.contains(f))),
      s"diff must never read a file shared by both manifests")
    // identical versions: nothing read, nothing returned
    assert(Manifests.changesBetween(spark, b, 2, 2).count() === 0)
  }

  test("deleteWhereMor: zero files rewritten, vector applied on read, history intact, vectors accumulate disjointly") {
    import spark.implicits._
    val b = base("graft_man_mor")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(5, col("k")), b)
    val before = Manifests.files(spark, b, 0)
    val (n1, v1) = Manifests.deleteWhereMor(spark, b, col("k") === 3)
    assert(n1 === 20 && v1 === 1)
    // the whole point: the data files are IDENTICAL — only a sidecar landed
    assert(Manifests.files(spark, b, 1) === before,
      "merge-on-read must rewrite zero data files")
    assert(Manifests.dvFiles(spark, b, 1).nonEmpty)
    val now = Manifests.readLatest(spark, b)
    assert(now.count() === 180 && now.filter(col("k") === 3).count() === 0)
    assert(Manifests.readAt(spark, b, 0).count() === 200, "history intact")
    // second delete is range-ALIGNED with the layout: the file holding
    // only k∈{0,1} dies whole — full-file elision RETIRES it from the
    // manifest instead of writing a data-sized vector (no new sidecar:
    // the delete is purely manifest-shaped)
    val (n2, v2) = Manifests.deleteWhereMor(spark, b, col("k") < 2)
    assert(n2 === 40 && v2 === 2)
    assert(Manifests.files(spark, b, 2).size < before.size,
      "a fully-dead file must retire, not carry a whole-file vector")
    assert(Manifests.files(spark, b, 2).toSet.subsetOf(before.toSet),
      "surviving files carry by reference")
    assert(Manifests.dvFiles(spark, b, 2).size ===
      Manifests.dvFiles(spark, b, 1).size,
      "an aligned delete writes no new vectors")
    assert(Manifests.readLatest(spark, b).count() === 140)
    // a delete of already-deleted rows matches nothing live
    val (n3, v3) = Manifests.deleteWhereMor(spark, b, col("k") === 3)
    assert(n3 === 0 && v3 === 2, "dead rows must not re-delete or burn a version")
  }

  test("deleteWhereMor full-file elision: mixed full+partial footprint, vectors only the boundary; emptying delete keeps one vectored file") {
    import spark.implicits._
    val b = base("graft_man_mor_elide")
    // k∈0..9 range-clustered into 5 files of 2 key values each: a
    // k<3 delete kills file {0,1} WHOLE and file {2,3} in HALF
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(5, col("k")), b)
    val before = Manifests.files(spark, b, 0)
    val (n, v1) = Manifests.deleteWhereMor(spark, b, col("k") < 3)
    assert(n === 60 && v1 === 1)
    assert(Manifests.files(spark, b, 1).size === before.size - 1,
      "exactly the fully-dead file retires")
    assert(Manifests.dvFiles(spark, b, 1).size === 1,
      "exactly the boundary file gets a vector")
    val now = Manifests.readLatest(spark, b)
    assert(now.count() === 140 && now.filter(col("k") < 3).count() === 0)
    assert(Manifests.readAt(spark, b, 0).count() === 200, "history intact")
    // the feed across an eliding delete carries the SAME change rows a
    // pure-vector delete would: retired files' live rows arrive as
    // deletes beside the boundary vector's churn
    val feed = Manifests.changesBetween(spark, b, 0, 1)
    assert(feed.filter(col("_change_type") === "insert").count() === 0)
    assert(feed.filter(col("_change_type") === "delete").count() === 60)
    // a delete that empties the table cannot empty the manifest: one
    // fully-dead file stays behind, fully vectored, and the table
    // reads as zero rows
    val be = base("graft_man_mor_empty")
    Manifests.commitData(
      (1 to 40).map(i => (i.toLong, i % 2)).toDF("id", "k")
        .repartitionByRange(2, col("k")), be)
    val (ne, _) = Manifests.deleteWhereMor(spark, be, lit(true))
    assert(ne === 40)
    assert(Manifests.files(spark, be, 1).size === 1,
      "an emptying delete keeps exactly one (fully vectored) file")
    assert(Manifests.dvFiles(spark, be, 1).nonEmpty)
    assert(Manifests.readLatest(spark, be).count() === 0)
    assert(Manifests.readAt(spark, be, 0).count() === 40)
  }

  test("DV reads: the bitmap-index scan path and the anti-join fallback agree row-for-row") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_man_dvpaths").toString
    CatalogTestSupport.registerFreshCatalog(spark, wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dvp")
    (1 to 120).map(i => (i.toLong, i % 3, s"s$i")).toDF("id", "k", "s")
      .createOrReplaceTempView("dvp_src")
    val upserts = Seq(2L, 5L, 200L).map(i => (i, 9, s"m$i")).toDF("id", "k", "s")
    // two identical tables, so each path runs its own second delete
    val Seq(b, twin) = Seq("t", "u").map { t =>
      spark.sql(s"CREATE TABLE graft.dvp.$t AS SELECT * FROM dvp_src")
      val b = s"$wh/dvp/$t"
      Manifests.deleteWhereMor(spark, b, col("k") === 1) // partial everywhere
      Manifests.mergeMor(spark, b, upserts, Seq("id"))
      b
    }
    val v = Manifests.latestVersion(spark, b).get
    val dvs = Manifests.dvFiles(spark, b, v)
    assert(dvs.size >= 2, "the version must carry the delete's and the merge's vectors")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def reads() = Seq(
      rows(Manifests.readLatest(spark, b)),
      rows(Manifests.readAtWithPos(spark, b, v)),
      rows(spark.sql("SELECT * FROM graft.dvp.t")),
      rows(Manifests.changesBetween(spark, b, 0, v)))
    def deleteAgain(t: String) = {
      val (n, _) = Manifests.deleteWhereMor(spark, t, col("id") % 4 === 0)
      (n, rows(Manifests.readLatest(spark, t)))
    }
    assert(Manifests.dvIndex(spark, dvs).isDefined)
    val viaBitmap = reads()
    assert(viaBitmap.head.size === 81 &&
      viaBitmap.head.forall(r => !r.split('|')(1).equals("1")))
    val secondViaBitmap = deleteAgain(b)
    // zero budget forces the distributed anti-join — same rows exactly
    spark.conf.set("graft.dv.indexMaxBytes", "0")
    try {
      assert(Manifests.dvIndex(spark, dvs).isEmpty)
      val viaJoin = Seq(
        rows(Manifests.readAt(spark, b, v)),
        rows(Manifests.readAtWithPos(spark, b, v)),
        rows(spark.sql(s"SELECT * FROM graft.dvp.t VERSION AS OF $v")),
        rows(Manifests.changesBetween(spark, b, 0, v)))
      viaJoin.zip(viaBitmap).zipWithIndex.foreach { case ((j, i), n) =>
        assert(j === i, s"read $n: the fallback must produce the bitmap path's rows verbatim") }
      val secondViaJoin = deleteAgain(twin)
      assert(secondViaJoin === secondViaBitmap)
    } finally spark.conf.unset("graft.dv.indexMaxBytes")
    // a read of an already-read version runs only its scan job and
    // opens no sidecar: the index comes from the cached entries
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    val c = "graftcnt:" +
      java.nio.file.Files.createTempDirectory("graft_man_dvcnt").toString + "/t"
    Manifests.commitData(spark.table("dvp_src").repartition(3), c)
    Manifests.deleteWhereMor(spark, c, col("k") === 1)
    Manifests.mergeMor(spark, c, upserts, Seq("id"))
    assert(Manifests.readLatest(spark, c).count() === 81)
    val sc = spark.sparkContext
    def jobsOf(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.graft.ListenerShim.drain(sc)
      sc.addSparkListener(listener)
      try { f; org.apache.spark.graft.ListenerShim.drain(sc) }
      finally sc.removeSparkListener(listener)
      jobs.get
    }
    val dv0 = CountingFileSystem.dvReads.get()
    // collect() is one scan job; count() adds AQE's shuffle-map job on
    // any table, so it must cost what the clean version 0's count does
    assert(jobsOf(assert(Manifests.readLatest(spark, c).collect().length === 81)) === 1)
    assert(jobsOf(assert(Manifests.readLatest(spark, c).count() === 81)) ===
      jobsOf(assert(Manifests.readAt(spark, c, 0).count() === 120)))
    assert(CountingFileSystem.dvReads.get() === dv0,
      "a cached DV read must open no sidecar")
  }

  test("deleteWhereMor: null predicate rows survive; compact materializes vectors away") {
    import spark.implicits._
    val b = base("graft_man_mor_null")
    Manifests.commitData(
      Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "a"))
        .toDF("k", "s"), b)
    val (n, _) = Manifests.deleteWhereMor(spark, b, col("k") === 1L)
    assert(n === 1)
    val left = Manifests.readLatest(spark, b).collect()
      .map(r => Option(r.get(0)).map(_.toString).getOrElse("null")).sorted
    assert(left.toSeq === Seq("3", "null"), "null key must survive a MoR delete")
    // compact reads THROUGH the vector and publishes a vector-free version
    val (_, _, cv) = Manifests.compact(spark, b, 1)
    assert(Manifests.dvFiles(spark, b, cv).isEmpty,
      "compaction must materialize deletion vectors")
    assert(Manifests.readLatest(spark, b).count() === 2)
  }

  test("vectored version: merge and copy-on-write delete refuse; append carries vectors; vacuum reclaims superseded ones") {
    import spark.implicits._
    val b = base("graft_man_mor_ops")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i % 10, s"s$i")).toDF("id", "k", "s")
        .repartitionByRange(5, col("k")), b)
    Manifests.deleteWhereMor(spark, b, col("k") === 3) // v1
    // file-arithmetic ops assume every row in a file is live — refuse
    intercept[IllegalArgumentException](Manifests.merge(spark, b,
      Seq((5L, 99, "x")).toDF("id", "k", "s"), Seq("id")))
    intercept[IllegalArgumentException](
      Manifests.deleteWhere(spark, b, col("k") === 4))
    // append: new files land, existing vector carried by reference
    Manifests.appendBatch(
      (1001 to 1010).map(i => (i.toLong, 99, s"s$i")).toDF("id", "k", "s"),
      b, 0L) // v2
    assert(Manifests.dvFiles(spark, b, 2) === Manifests.dvFiles(spark, b, 1))
    val r = Manifests.readLatest(spark, b)
    assert(r.count() === 100 && r.filter(col("k") === 3).count() === 0)
    // compact (v3) supersedes the vector; vacuum to latest reclaims it
    Manifests.compact(spark, b, 2)
    val dvPaths = Manifests.dvFiles(spark, b, 2)
    val (_, _) = Manifests.vacuum(spark, b, keepLast = 1)
    assert(dvPaths.forall(p => !Dfs.exists(spark, p)),
      "superseded deletion vectors must be reclaimed")
    assert(Manifests.readLatest(spark, b).count() === 100)
  }

  test("changesBetween across a MoR delete: feed comes from vector churn, reads only touched files") {
    import spark.implicits._
    val b = base("graft_man_mor_cdf")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10, s"s$i")).toDF("id", "k", "s")
        .repartitionByRange(5, col("k")), b)
    Manifests.deleteWhereMor(spark, b, col("k") === 3) // v1
    val d01 = Manifests.changesBetween(spark, b, 0, 1)
    assert(d01.filter(col("_change_type") === "insert").count() === 0)
    val dels = d01.filter(col("_change_type") === "delete")
    assert(dels.count() === 20 && dels.filter(col("k") === 3).count() === 20)
    // pruning: no data file changed, so the only DATA read is the
    // file(s) the vector touches — clean files never appear in the scan
    val touched = spark.read
      .parquet(Manifests.files(spark, b, 0): _*)
      .filter(col("k") === 3)
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => Dfs.canonical(r.getString(0))).toSet
    val scanned = Manifests.changesBetween(spark, b, 0, 1)
      .inputFiles.map(Dfs.canonical).toSet
    val dataScanned = scanned.intersect(
      Manifests.files(spark, b, 0).map(Dfs.canonical).toSet)
    assert(dataScanned.nonEmpty && dataScanned.subsetOf(touched),
      s"vector-churn feed must read only vector-touched files ($dataScanned)")
    // across delete THEN append: feed shows both churn kinds
    Manifests.appendBatch(
      Seq((5000L, 99, "new")).toDF("id", "k", "s"), b, 0L) // v2
    val d12 = Manifests.changesBetween(spark, b, 1, 2).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(d12 === Set((5000L, "insert")))
    val d02 = Manifests.changesBetween(spark, b, 0, 2)
    assert(d02.filter(col("_change_type") === "delete").count() === 20)
    assert(d02.filter(col("_change_type") === "insert").count() === 1)
  }

  test("schema evolution: appended column recorded in manifest, old files null-fill, time travel keeps old schema") {
    import spark.implicits._
    val b = base("graft_man_evo")
    Manifests.commitData(
      (1 to 50).map(i => (i.toLong, s"s$i")).toDF("id", "s"), b)
    Manifests.appendBatch(
      (51 to 60).map(i => (i.toLong, s"s$i", i * 10)).toDF("id", "s", "extra"),
      b, 0L) // v1 evolves
    val now = Manifests.readLatest(spark, b)
    assert(now.columns.toSeq === Seq("id", "s", "extra"))
    assert(now.count() === 60)
    assert(now.filter(col("extra").isNull).count() === 50,
      "pre-evolution rows must null-fill the new column")
    assert(now.filter(col("extra") === 550).count() === 1)
    // time travel: v0 reads with ITS schema — the column doesn't exist yet
    assert(Manifests.readAt(spark, b, 0).columns.toSeq === Seq("id", "s"))
    // incompatible type change refuses
    intercept[IllegalArgumentException](Manifests.appendBatch(
      Seq(("oops", "x", 1)).toDF("id", "s", "extra"), b, 1L))
    // a batch MISSING a column also null-fills (additive union keeps it)
    Manifests.appendBatch(Seq((100L, 5)).toDF("id", "extra"), b, 2L)
    val all = Manifests.readLatest(spark, b)
    assert(all.columns.toSeq === Seq("id", "s", "extra"))
    assert(all.filter(col("id") === 100L && col("s").isNull).count() === 1)
  }

  test("schema evolution composes with deletion vectors and the change feed") {
    import spark.implicits._
    val b = base("graft_man_evo_dv")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(5, col("k")), b)
    Manifests.deleteWhereMor(spark, b, col("k") === 3) // v1: vector
    Manifests.appendBatch(
      Seq((1000L, 99, "tagged")).toDF("id", "k", "note"), b, 0L) // v2: evolves
    val now = Manifests.readLatest(spark, b)
    assert(now.columns.toSeq === Seq("id", "k", "note"))
    assert(now.count() === 91, "vector still applied under the evolved schema")
    assert(now.filter(col("k") === 3).count() === 0)
    // MoR delete on the evolved table, predicate on the NEW column:
    // old files null-fill note -> predicate null -> rows survive
    val (n, _) = Manifests.deleteWhereMor(spark, b, col("note") === "tagged")
    assert(n === 1)
    assert(Manifests.readLatest(spark, b).count() === 90)
    // feed across the evolution commit carries the union schema
    val d12 = Manifests.changesBetween(spark, b, 1, 2)
    assert(d12.columns.contains("note"))
    assert(d12.collect().map(r => (r.getLong(0), r.getString(3))).toSet ===
      Set((1000L, "insert")))
  }

  test("manifest stats: readWhere prunes by zone, appends stat only new files, rewrites re-stat only rewritten ones") {
    import spark.implicits._
    val b = base("graft_man_stats")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(5, col("k")), b)
    Manifests.analyze(spark, b, Seq("k")) // v1
    val all = Manifests.files(spark, b, 1).map(Dfs.canonical).toSet
    def prunedScan(lo: Int, hi: Int) =
      Manifests.readWhere(spark, b, Seq(("k", lo, hi)))
        .filter(col("k").between(lo, hi))
    val scanned = prunedScan(3, 4).inputFiles.map(Dfs.canonical).toSet
    assert(scanned.nonEmpty && scanned.subsetOf(all) && scanned.size < all.size,
      s"zone pruning must plan a strict subset (${scanned.size}/${all.size})")
    assert(prunedScan(3, 4).count() ===
      Manifests.readLatest(spark, b).filter(col("k").between(3, 4)).count())
    // append: stats grow by exactly the new files' rows
    val statsRows0 = spark.read.parquet(
      Manifests.statsOf(spark, b, 1).get._2: _*).count()
    Manifests.appendBatch(
      Seq((1000L, 99), (1001L, 99)).toDF("id", "k"), b, 0L) // v2
    val (keys2, sf2) = Manifests.statsOf(spark, b, 2).get
    assert(keys2 === Seq("k"))
    val added = Manifests.files(spark, b, 2).size - Manifests.files(spark, b, 1).size
    assert(spark.read.parquet(sf2: _*).count() === statsRows0 + added)
    val hot = prunedScan(99, 99)
    assert(hot.count() === 2)
    assert(hot.inputFiles.length === added,
      "a box hitting only the appended keys must read only the appended files")
    // MoR delete: same stats carried verbatim (files unchanged)
    Manifests.deleteWhereMor(spark, b, col("k") === 7) // v3
    assert(Manifests.statsOf(spark, b, 3).get._2 === sf2)
    assert(prunedScan(7, 7).count() === 0, "vector applies under the pruned read")
    // compact: full re-stat; pruning still correct on the new layout
    Manifests.compact(spark, b, 2) // v4
    assert(Manifests.statsOf(spark, b, 4).isDefined)
    assert(Manifests.statsOf(spark, b, 4).get._2 !== sf2)
    assert(prunedScan(3, 4).count() === 40)
    // vacuum: superseded stats parquet reclaimed with its versions
    Manifests.vacuum(spark, b, keepLast = 1)
    sf2.foreach(seg =>
      assert(!Dfs.exists(spark, seg), "superseded stats must be reclaimed"))
    assert(prunedScan(3, 4).count() === 40)
  }

  test("compact clusterBy: the same rewrite re-clusters, zones tighten from useless to strict-subset pruning") {
    import spark.implicits._
    val b = base("graft_man_optz")
    // hash-scattered layout: every file spans the whole key domain,
    // so zone maps exist but prune NOTHING — the small-file problem
    // and the clustering problem in one table
    Manifests.commitData(
      (1 to 400).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartition(8, col("id")), b)
    Manifests.analyze(spark, b, Seq("k")) // v1
    def prunedScan() = Manifests.readWhere(spark, b, Seq(("k", 3, 3)))
      .filter(col("k") === 3)
    val allBefore = Manifests.files(spark, b, 1).size
    assert(prunedScan().inputFiles.length === allBefore,
      "scattered layout: zones cover the full domain, nothing prunes")
    // one rewrite = compaction AND clustering AND re-stat
    val (before, after, nv) = Manifests.compact(spark, b, 4, Seq("k"))
    assert(before === 8 && after <= 4 && nv === 2)
    val allAfter = Manifests.files(spark, b, nv).size
    val planned = prunedScan().inputFiles.length
    assert(planned >= 1 && planned < allAfter,
      s"clustered layout must prune to a strict subset ($planned/$allAfter)")
    assert(prunedScan().count() === 40, "pruning is invisible to content")
    assert(Manifests.readLatest(spark, b).count() === 400)
  }

  test("optimistic commits: stale-parent rewrite refuses, racing appends both land, racing merges never lose an update") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val b = base("graft_man_occ")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, s"s$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")), b)
    val fs = Manifests.files(spark, b, 0)
    // two writers derive from v0; the second to commit must refuse —
    // its content cannot have seen the first's changes
    assert(Manifests.commit(spark, b, fs, VersionMeta(), parent = Some(0)) === 1)
    intercept[ConcurrentCommitException](
      Manifests.commit(spark, b, fs, VersionMeta(), parent = Some(0)))
    // appends commute: raced, both must land (retry re-derives
    // metadata). Identity-FREE appends race here: batch-id appends are
    // a sequential-per-writer protocol by contract (the txn ledger
    // drops an id at or below the app's high-water mark as a replay —
    // Delta's txn semantics — so racing ids 0 and 1 is a contract
    // violation, not a commuting-append case)
    val appends = Await.result(Future.sequence(Seq(0L, 1L).map(id =>
      Future(Manifests.append(
        Seq((1000L + id, s"new$id")).toDF("id", "s"), b)))), 2.minutes)
    assert(appends.toSet === Set(2, 3), s"both racing appends must land ($appends)")
    assert(Manifests.latestVersion(spark, b) === Some(3))
    val now = Manifests.readLatest(spark, b)
    assert(now.filter(col("id") >= 1000L).count() === 2)
    // racing merges: depending on timing both serialize or one refuses —
    // but a SUCCEEDED merge's update must never be silently dropped
    val outcomes = Await.result(Future.sequence(Seq(
      (5L, "m5"), (50L, "m50")).map { case (k, s0) =>
      Future(
        try Right(Manifests.merge(spark, b,
          Seq((k, s0)).toDF("id", "s"), Seq("id")))
        catch { case e: ConcurrentCommitException => Left(e) })
    }), 2.minutes)
    val after = Manifests.readLatest(spark, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq((5L, "m5"), (50L, "m50")).zip(outcomes).foreach {
      case ((k, s0), Right(_)) =>
        assert(after(k) === s0, s"merge of $k succeeded but its update is lost")
      case ((k, s0), Left(_)) =>
        assert(after(k) !== s0, s"merge of $k refused but its update landed")
    }
    assert(outcomes.exists(_.isRight), "at least one racing merge must succeed")
    assert(after.size === 102, "merges must not duplicate or drop rows")
  }

  test("WriteSerializable rebase: rewrites commute with disjoint appends; predicate/key overlap and non-append winners refuse") {
    import spark.implicits._
    val b = base("graft_man_rebase")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, if (i <= 50) "keep" else "drop"))
        .toDF("id", "s").repartitionByRange(4, col("id")), b)
    // winner: a pure append whose rows the delete predicate never matches
    assert(Manifests.appendBatch(
      Seq((1001L, "keep")).toDF("id", "s"), b, 0L) === Some(1))
    // loser: a delete derived from snapshot 0 — must REBASE, not refuse
    val (aff, _, nv) =
      Manifests.deleteWhere(spark, b, col("s") === "drop", asOf = Some(0))
    assert(aff > 0 && nv === 2)
    val now = Manifests.readLatest(spark, b).collect()
      .map(_.getLong(0)).toSet
    assert(!now.exists(id => id > 50 && id <= 100), "deleted rows stay deleted")
    assert(now.contains(1001L), "the concurrent append survives the rebase")
    assert(now.count(_ <= 50) === 50, "untouched rows carry")
    // the winner's file is carried BY REFERENCE into the rebased manifest
    val winnerAdded = Manifests.files(spark, b, 1).map(graft.ext.Dfs.canonical).toSet --
      Manifests.files(spark, b, 0).map(graft.ext.Dfs.canonical).toSet
    assert(winnerAdded.nonEmpty &&
      winnerAdded.subsetOf(Manifests.files(spark, b, 2).map(graft.ext.Dfs.canonical).toSet))
    // overlap: the appended row WOULD match the predicate → not
    // serializable → refuse
    assert(Manifests.appendBatch(
      Seq((2000L, "x")).toDF("id", "s"), b, 1L) === Some(3))
    intercept[ConcurrentCommitException](
      Manifests.deleteWhere(spark, b, col("id") >= 1000L, asOf = Some(2)))
    // non-append winner: a compact rewrote the table → a rewrite derived
    // below it refuses even with a disjoint predicate
    val vc = Manifests.compact(spark, b, 2)._3
    intercept[ConcurrentCommitException](
      Manifests.deleteWhere(spark, b, col("id") <= 10L, asOf = Some(vc - 1)))
    // UPDATE rebases the same way
    assert(Manifests.appendBatch(
      Seq((3000L, "app")).toDF("id", "s"), b, 2L) === Some(vc + 1))
    val (_, updated, uv) = Manifests.updateWhere(spark, b,
      col("s") === "keep", Map("s" -> lit("kept")), asOf = Some(vc))
    assert(updated === 51 && uv === vc + 2, s"($updated, $uv)") // 50 base keeps + appended 1001
    val afterUpd = Manifests.readLatest(spark, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterUpd.count(_._2 == "kept") === 51)
    assert(afterUpd(3000L) === "app", "appended row survives unmutated")
    // MERGE rebases when the appended keys are disjoint from the batch…
    assert(Manifests.appendBatch(
      Seq((4000L, "m")).toDF("id", "s"), b, 3L) === Some(uv + 1))
    val (_, _, mv) = Manifests.merge(spark, b,
      Seq((1L, "merged"), (9999L, "ins")).toDF("id", "s"), Seq("id"),
      asOf = Some(uv))
    assert(mv === uv + 2)
    val afterMerge = Manifests.readLatest(spark, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterMerge(1L) === "merged" && afterMerge(9999L) === "ins" &&
      afterMerge(4000L) === "m")
    // …and refuses when an appended key collides (both the update and
    // the insert decision would change)
    assert(Manifests.appendBatch(
      Seq((5000L, "z")).toDF("id", "s"), b, 4L) === Some(mv + 1))
    intercept[ConcurrentCommitException](
      Manifests.merge(spark, b, Seq((5000L, "clash")).toDF("id", "s"),
        Seq("id"), asOf = Some(mv)))
  }

  test("dropPartitions: partition-pure files retire by manifest arithmetic, boundary files rewrite, NULL partitions survive") {
    import spark.implicits._
    val b = base("graft_man_droppart")
    // range-clustered: each of the 3 files covers exactly one k
    Manifests.commitDataPartitioned(
      (1 to 300).map(i => (i.toLong, i % 3)).toDF("id", "k"), b,
      Seq("k"), filesPerWrite = 3)
    val before = Manifests.files(spark, b, 0).map(Dfs.canonical).toSet
    val (dropped, rewritten, nv) =
      Manifests.dropPartitions(spark, b, col("k") === 1)
    assert(nv === 1 && dropped >= 1 && rewritten === 0,
      s"pure layout must drop files whole ($dropped dropped, $rewritten rewritten)")
    val after = Manifests.files(spark, b, 1).map(Dfs.canonical).toSet
    assert(after.subsetOf(before), "metadata-only: no new data files")
    assert(Manifests.readLatest(spark, b).filter(col("k") === 1).count() === 0)
    assert(Manifests.readLatest(spark, b).count() === 200)
    // no-match predicate burns no version
    assert(Manifests.dropPartitions(spark, b, col("k") === 99) === ((0, 0, 1)))
    // off-partition column fails analysis loudly, never misclassifies
    intercept[org.apache.spark.sql.AnalysisException](
      Manifests.dropPartitions(spark, b, col("id") === 5L))
    // drop everything: the table empties but stays committed/readable
    val (_, _, nvAll) =
      Manifests.dropPartitions(spark, b, col("k").isin(0, 2))
    assert(nvAll === 2 && Manifests.readLatest(spark, b).count() === 0)
    // mixed layout: one file holds every partition → boundary rewrite
    val b2 = base("graft_man_droppart2")
    Manifests.commitDataPartitioned(
      (1 to 90).map(i => (i.toLong, i % 3)).toDF("id", "k"), b2,
      Seq("k"), filesPerWrite = 1)
    val (d2, r2, nv2) = Manifests.dropPartitions(spark, b2, col("k") === 1)
    assert(d2 === 0 && r2 === 1 && nv2 === 1)
    assert(Manifests.readLatest(spark, b2).count() === 60)
    assert(Manifests.readLatest(spark, b2).filter(col("k") === 1).count() === 0)
    // NULL partition value: unknown never deletes
    val b3 = base("graft_man_droppart3")
    Manifests.commitDataPartitioned(
      Seq[(Long, java.lang.Integer)]((1L, 1), (2L, null), (3L, 2))
        .toDF("id", "k"), b3, Seq("k"), filesPerWrite = 1)
    Manifests.dropPartitions(spark, b3, col("k") === 1)
    assert(Manifests.readLatest(spark, b3).select("id").collect()
      .map(_.getLong(0)).toSet === Set(2L, 3L), "NULL partition rows survive")
  }

  test("MoR delete rebases across disjoint appends — vectors stack on the winner's manifest; matching appended rows refuse") {
    import spark.implicits._
    val b = base("graft_man_morreb")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "k"), b)
    assert(Manifests.appendBatch(
      Seq((1000L, 99)).toDF("id", "k"), b, 0L) === Some(1))
    // derived from snapshot 0, committed over the append at v1
    val (deleted, nv) =
      Manifests.deleteWhereMor(spark, b, col("k") === 3, asOf = Some(0))
    assert(deleted === 10L && nv === 2)
    val now = Manifests.readLatest(spark, b)
    assert(now.count() === 91, "100 - 10 deleted + 1 appended")
    assert(now.filter(col("k") === 3).count() === 0)
    assert(now.filter(col("k") === 99).count() === 1, "append survives")
    // an appended row the predicate matches → not serializable → refuse
    assert(Manifests.appendBatch(
      Seq((2000L, 4)).toDF("id", "k"), b, 1L) === Some(3))
    intercept[ConcurrentCommitException](
      Manifests.deleteWhereMor(spark, b, col("k") === 4, asOf = Some(2)))
  }

  test("MoR update and merge rebase across disjoint appends; matching appended rows refuse") {
    import spark.implicits._
    val b = base("graft_man_morreb_um")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "k"), b)
    assert(Manifests.appendBatch(
      Seq((1000L, 99)).toDF("id", "k"), b, 0L) === Some(1))
    // an update derived from snapshot 0, committed over the append at v1
    val (_, updated, uv) = Manifests.updateWhereMor(spark, b,
      col("k") === 3, Map("k" -> lit(30)), asOf = Some(0))
    assert(updated === 10L && uv === 2)
    val afterUpdate = Manifests.readLatest(spark, b)
    assert(afterUpdate.count() === 101, "100 + 1 appended, updates in place")
    assert(afterUpdate.filter(col("k") === 3).count() === 0)
    assert(afterUpdate.filter(col("k") === 30).count() === 10)
    assert(afterUpdate.filter(col("k") === 99).count() === 1, "append survives")
    // a merge derived from v2, committed over an append at v3 whose
    // keys the batch does not share
    assert(Manifests.appendBatch(
      Seq((2000L, 98)).toDF("id", "k"), b, 1L) === Some(3))
    val (_, rows, mv) = Manifests.mergeMor(spark, b,
      Seq((5L, 50), (3000L, 7)).toDF("id", "k"), Seq("id"), asOf = Some(2))
    assert(rows === 2L && mv === 4)
    val afterMerge = Manifests.readLatest(spark, b)
    assert(afterMerge.count() === 103, "101 + 1 appended + 1 inserted")
    assert(afterMerge.filter(col("id") === 5L).select("k").as[Int]
      .collect().toSeq === Seq(50))
    assert(afterMerge.filter(col("id") === 2000L).count() === 1,
      "append survives")
    // an appended row the update predicate matches → refuse
    assert(Manifests.appendBatch(
      Seq((4000L, 4)).toDF("id", "k"), b, 2L) === Some(5))
    intercept[ConcurrentCommitException](Manifests.updateWhereMor(spark, b,
      col("k") === 4, Map("k" -> lit(40)), asOf = Some(4)))
    // an appended row sharing a merge key → refuse
    assert(Manifests.appendBatch(
      Seq((6000L, 6)).toDF("id", "k"), b, 3L) === Some(6))
    intercept[ConcurrentCommitException](Manifests.mergeMor(spark, b,
      Seq((6000L, 60)).toDF("id", "k"), Seq("id"), asOf = Some(5)))
    assert(Manifests.latestVersion(spark, b) === Some(6),
      "a refused commit burns no version")
    assert(Manifests.updateWhereMor(spark, b, col("k") === -1,
      Map("k" -> lit(0))) === ((0, 0L, 6)), "no match burns no version")
  }

  test("history and timestamp time travel: versions resolve by commit time, version order wins on ties") {
    import spark.implicits._
    val b = base("graft_man_asof")
    Manifests.commitData(Seq((1L, "v0")).toDF("id", "s"), b)
    Manifests.commitData(Seq((1L, "v1")).toDF("id", "s"), b)
    // pin the RECORDED commit stamps (`_counts` line 5 — the
    // authoritative instant since r16; mtime is only the legacy
    // fallback) so the test needs no sleeps and exercises exact
    // boundaries
    def stamp(v: Int, t: Long) = {
      val p = s"$b/v$v/_counts"
      val ls = new String(Dfs.readBytes(spark, p), "UTF-8")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toBuffer
      while (ls.size < 5) ls += "0"
      ls(4) = t.toString
      Dfs.writeBytes(spark, p, ls.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    stamp(0, 1000000L); stamp(1, 2000000L)
    assert(Manifests.history(spark, b).map(h => (h._1, h._2)) ===
      Seq((0, 1000000L), (1, 2000000L)))
    assert(Manifests.versionAsOf(spark, b, 999999L) === None)
    assert(Manifests.versionAsOf(spark, b, 1000000L) === Some(0))
    assert(Manifests.versionAsOf(spark, b, 1999999L) === Some(0))
    assert(Manifests.versionAsOf(spark, b, 5000000L) === Some(1))
    assert(Manifests.readAsOf(spark, b, 1500000L).select("s")
      .collect().map(_.getString(0)).toSeq === Seq("v0"))
    intercept[RuntimeException](Manifests.readAsOf(spark, b, 0L))
    // a skewed clock stamps v1 EARLIER than v0: version order is
    // authoritative — asking for v0's instant must not resurrect v0
    // over the later v1 that qualifies at the same cutoff
    stamp(1, 500000L)
    assert(Manifests.versionAsOf(spark, b, 1000000L) === Some(1))
  }

  test("vacuumOlderThan: age-based retention keeps the latest and every younger version, suffix-conservative under skew") {
    import spark.implicits._
    val b = base("graft_man_vage")
    (0 to 3).foreach(i =>
      Manifests.commitData(Seq((i.toLong, s"v$i")).toDF("id", "s"), b))
    def stamp(v: Int, t: Long) = {
      val p = s"$b/v$v/_SUCCESS"
      Dfs.fs(spark, p).setTimes(new org.apache.hadoop.fs.Path(p), t, -1)
    }
    stamp(0, 1000L); stamp(1, 2000L); stamp(2, 3000L); stamp(3, 4000L)
    // horizon between v1 and v2: v0,v1 expire, v2,v3 retained
    val (dropped, _) = Manifests.vacuumOlderThan(spark, b, 2500L)
    assert(dropped === Seq(0, 1))
    assert(Manifests.readAt(spark, b, 2).count() === 1)
    intercept[IllegalArgumentException](Manifests.files(spark, b, 1))
    // horizon beyond everything: latest always survives
    val (dropped2, _) = Manifests.vacuumOlderThan(spark, b, Long.MaxValue)
    assert(dropped2 === Seq(2))
    assert(Manifests.readLatest(spark, b).select("s")
      .collect().map(_.getString(0)).toSeq === Seq("v3"))
    // skew: an old-stamped version AFTER a young one is kept (suffix
    // retention never collects above the first young version)
    val b2 = base("graft_man_vskew")
    (0 to 2).foreach(i =>
      Manifests.commitData(Seq((i.toLong, s"v$i")).toDF("id", "s"), b2))
    def stamp2(v: Int, t: Long) = {
      val p = s"$b2/v$v/_SUCCESS"
      Dfs.fs(spark, p).setTimes(new org.apache.hadoop.fs.Path(p), t, -1)
    }
    stamp2(0, 1000L); stamp2(1, 9000L); stamp2(2, 1500L)
    val (dropped3, _) = Manifests.vacuumOlderThan(spark, b2, 2000L)
    assert(dropped3 === Seq(0),
      "v2 is old-stamped but sits above young v1 — must survive")
    assert(Manifests.readAt(spark, b2, 1).count() === 1)
  }

  test("vacuum minAge guard: young versions are not collectable under keepLast; aged ones collect; conf default honored") {
    import spark.implicits._
    val b = base("graft_man_vguard")
    (0 to 2).foreach(i =>
      Manifests.commitData(Seq((i.toLong, s"v$i")).toDF("id", "s"), b))
    // all three versions committed seconds ago: a keepLast=1 vacuum with
    // an in-flight-reader horizon refuses to collect any of them
    val (refused, n0) = Manifests.vacuum(spark, b, keepLast = 1,
      minAgeMillis = Some(3600L * 1000))
    assert(refused.isEmpty && n0 === 0,
      "versions younger than the horizon must survive a keepLast-only vacuum")
    assert(Manifests.readAt(spark, b, 0).count() === 1)
    // the same horizon through the session conf (deployment default)
    spark.conf.set("graft.vacuum.minAgeMillis", (3600L * 1000).toString)
    try {
      val (refused2, _) = Manifests.vacuum(spark, b, keepLast = 1)
      assert(refused2.isEmpty)
    } finally spark.conf.unset("graft.vacuum.minAgeMillis")
    // age v0/v1 beyond the horizon: now keepLast=1 collects exactly them
    def stamp(v: Int, t: Long) = {
      val p = s"$b/v$v/_SUCCESS"
      Dfs.fs(spark, p).setTimes(new org.apache.hadoop.fs.Path(p), t, -1)
    }
    stamp(0, 1000L); stamp(1, 2000L)
    val (dropped, _) = Manifests.vacuum(spark, b, keepLast = 1,
      minAgeMillis = Some(3600L * 1000))
    assert(dropped === Seq(0, 1))
    assert(Manifests.readLatest(spark, b).select("s")
      .collect().map(_.getString(0)).toSeq === Seq("v2"))
  }

  test("changesBetweenKeyed: both-sided keys pair as update images, one-sided stay insert/delete") {
    import spark.implicits._
    val b = base("graft_man_cdf")
    Manifests.commitData(
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "s"), b)
    // one merge carrying an update (k=2) and an insert (k=100)
    Manifests.merge(spark, b,
      Seq((2L, "v2new"), (100L, "brand_new")).toDF("k", "s"), Seq("k"))
    val feed = Manifests.changesBetweenKeyed(spark, b, 0, 1, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set(
      (2L, "v2", "update_preimage"),
      (2L, "v2new", "update_postimage"),
      (100L, "brand_new", "insert")))
    // a pure delete hop stays a plain delete
    Manifests.deleteWhere(spark, b, col("k") === 3)
    val feed2 = Manifests.changesBetweenKeyed(spark, b, 1, 2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(feed2 === Set((3L, "delete")))
  }

  test("changesBetweenKeyed: duplicate keys on one side refuse; null keys pass through plain") {
    import spark.implicits._
    val b = base("graft_man_cdfdup")
    Manifests.commitData(Seq((1L, "a")).toDF("k", "s"), b)
    // a whole-table replace whose new image repeats k=1: unpairable
    Manifests.commitData(Seq((1L, "x"), (1L, "y")).toDF("k", "s"), b)
    val e = intercept[IllegalArgumentException](
      Manifests.changesBetweenKeyed(spark, b, 0, 1, Seq("k")).collect())
    assert(e.getMessage.contains("duplicate keys"))
    // null keys never pair: a deleted null-key row is a plain delete
    val b2 = base("graft_man_cdfnull")
    Manifests.commitData(
      Seq[(java.lang.Long, String)]((1L, "keep"), (null, "gone"))
        .toDF("k", "s"), b2)
    Manifests.deleteWhere(spark, b2, col("s") === "gone")
    val feed = Manifests.changesBetweenKeyed(spark, b2, 0, 1, Seq("k"))
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getString(2)))
    assert(feed.toSet === Set((None, "gone", "delete")))
  }

  test("changesBetweenKeyed: identical null-key rows keep multiset multiplicity") {
    import spark.implicits._
    // two INDISTINGUISHABLE null-key rows both die: the feed must emit
    // BOTH deletes (null keys group privately, never merge) — the edge
    // the keyed pairing's per-row null discriminator exists for
    val b = base("graft_man_cdfnull2")
    Manifests.commitData(
      Seq[(java.lang.Long, String)]((null, "dup"), (null, "dup"), (1L, "keep"))
        .toDF("k", "s"), b)
    Manifests.deleteWhere(spark, b, col("s") === "dup")
    val feed = Manifests.changesBetweenKeyed(spark, b, 0, 1, Seq("k"))
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getString(2)))
    assert(feed.length === 2)
    assert(feed.toSet === Set((None, "dup", "delete")))
  }

  test("restore: rolls back as a NEW version, history intact, files by reference, undoable") {
    import spark.implicits._
    val b = base("graft_man_restore")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(5, col("k")), b)
    Manifests.deleteWhere(spark, b, col("k") < 5) // the "bad" write
    assert(Manifests.readLatest(spark, b).count() === 50)
    val rv = Manifests.restore(spark, b, 0)
    assert(rv === 2)
    // content is v0's exactly, and nothing was copied: same file paths
    assert(Manifests.readLatest(spark, b).count() === 100)
    assert(Manifests.files(spark, b, 2) === Manifests.files(spark, b, 0))
    // history kept the bad version resolvable and tagged the restore
    assert(Manifests.readAt(spark, b, 1).count() === 50)
    assert(Manifests.tagOf(spark, b, 2) === Some("restore:v0"))
    // a restore is itself restorable: undo the undo
    assert(Manifests.restore(spark, b, 1) === 3)
    assert(Manifests.readLatest(spark, b).count() === 50)
    // restore carries deletion vectors: a MoR table restores exactly
    val b2 = base("graft_man_restmor")
    Manifests.commitData((1 to 40).map(i => (i.toLong, i % 4)).toDF("id", "k"), b2)
    Manifests.deleteWhereMor(spark, b2, col("k") === 0)
    Manifests.commitData(Seq((999L, 9)).toDF("id", "k"), b2) // clobber
    Manifests.restore(spark, b2, 1)
    assert(Manifests.readLatest(spark, b2).count() === 30)
  }

  test("shallowClone: zero-copy fork; histories independent; clone vacuum never reaches source files") {
    import spark.implicits._
    val src = base("graft_man_clsrc")
    val dst = base("graft_man_cldst") + "/t" // empty subdir target
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "k"), src)
    Manifests.deleteWhere(spark, src, col("k") === 0)
    val cv = Manifests.shallowClone(spark, src, dst, 1)
    assert(cv === 0)
    // clone content = source@v1, by reference (same paths)
    assert(Manifests.readLatest(spark, dst).count() === 90)
    assert(Manifests.files(spark, dst, 0) === Manifests.files(spark, src, 1))
    // diverge: write to the clone — source untouched
    Manifests.deleteWhere(spark, dst, col("k") === 1)
    assert(Manifests.readLatest(spark, dst).count() === 80)
    assert(Manifests.readLatest(spark, src).count() === 90)
    // compact the clone (all-local files now), then vacuum it down to
    // the latest version: the dropped clone versions referenced SOURCE
    // files, and the out-of-root guard must leave them alive
    Manifests.compact(spark, dst, 2)
    val (dropped, _) = Manifests.vacuum(spark, dst, keepLast = 1)
    assert(dropped.nonEmpty)
    assert(Manifests.readLatest(spark, dst).count() === 80)
    assert(Manifests.readLatest(spark, src).count() === 90,
      "clone vacuum must never delete the source table's files")
    assert(Manifests.readAt(spark, src, 0).count() === 100)
    // refuses to clone onto an existing table
    intercept[IllegalArgumentException](
      Manifests.shallowClone(spark, src, dst, 0))
  }

  test("compactSmall: packs only the small-file backlog, healthy files carried by reference") {
    import spark.implicits._
    val b = base("graft_man_binpack")
    // one healthy file + a drip of 6 tiny appends (the streaming shape)
    Manifests.commitData(
      (1 to 20000).map(i => (i.toLong, s"payload_$i")).toDF("id", "s")
        .coalesce(1), b)
    (1 to 6).foreach(i => Manifests.appendBatch(
      Seq((100000L + i, s"drip_$i")).toDF("id", "s"), b, i.toLong))
    val v = Manifests.latestVersion(spark, b).get
    val before = Manifests.files(spark, b, v)
    val bigFile = Manifests.files(spark, b, 0).head
    val (packed, written, nv) =
      Manifests.compactSmall(spark, b, smallBytes = 64 * 1024,
        targetBytes = 128 * 1024 * 1024)
    assert(packed === 6 && written === 1)
    val after = Manifests.files(spark, b, nv)
    assert(after.contains(graft.ext.Dfs.canonical(bigFile)),
      "the healthy file must survive by reference")
    assert(after.size === before.size - packed + written)
    assert(Manifests.readLatest(spark, b).count() === 20006)
    // below the threshold of 2 qualifying files: no version burned
    val (p2, w2, v2) = Manifests.compactSmall(spark, b, 64 * 1024,
      128 * 1024 * 1024)
    assert(p2 === 0 && w2 === 0 && v2 === nv)
  }

  test("historyDf/filesDf: the table's own metadata as queryable DataFrames") {
    import spark.implicits._
    val b = base("graft_man_meta")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(4, col("k")), b)
    Manifests.analyze(spark, b, Seq("k"))
    // sidecar layout invariant: one DV file per data file the delete
    // touches — computed from the data, not from task parallelism
    def touchedBy(pred: org.apache.spark.sql.Column): Int =
      spark.read.parquet(Manifests.files(spark, b, 1): _*)
        .select(col("k"), col("id"), col("_metadata.file_path").as("f"))
        .filter(pred).select("f").distinct().count().toInt
    val t1 = touchedBy(col("k") === 3)
    Manifests.deleteWhereMor(spark, b, col("k") === 3)
    val h = Manifests.historyDf(spark, b).orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
    assert(h.forall(_.getInt(3) === 4)) // n_files constant: no rewrite
    assert(t1 >= 1)
    assert(h.map(_.getInt(4)).toSeq === Seq(0, 0, t1)) // one sidecar per touched file
    val f = Manifests.filesDf(spark, b, 2)
    assert(f.count() === 4)
    // the stats join surfaces zone bounds for every file
    assert(f.filter(col("k_min").isNull || col("k_max").isNull).count() === 0)
    assert(f.filter(col("size_bytes") <= 0).count() === 0)
    // a second, scattered delete: vectors accumulate, and the sidecar
    // count stays exactly (files touched by delete 1) + (by delete 2)
    val t2 = touchedBy(col("k") =!= 3 && col("id") % 7 === 0)
    assert(t2 > 1, "fixture: the scattered predicate must span files")
    Manifests.deleteWhereMor(spark, b, col("id") % 7 === 0)
    assert(Manifests.dvFiles(spark, b, 3).size === t1 + t2)
    assert(Manifests.readLatest(spark, b).count() ===
      100 - 10 - (1 to 100).count(i => i % 7 == 0 && i % 10 != 3))
  }

  test("manifest protocol end to end on a non-file: scheme") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    val b = "graftfs:" + java.nio.file.Files.createTempDirectory("graft_man_fs").toString
    Manifests.commitData((1 to 50).map(i => (i.toLong, i % 5)).toDF("id", "k"), b)
    val (affected, total, nv) = Manifests.deleteWhere(spark, b, col("k") === 2)
    assert(nv === 1 && affected >= 1)
    assert(Manifests.readLatest(spark, b).count() === 40)
    assert(Manifests.readAt(spark, b, 0).count() === 50)
  }

  test("latestVersion is O(1) RPCs and historyDf manifest-free on a 120-commit table; stale/garbage/vacuumed hints degrade to the listing") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    val b = "graftcnt:" +
      java.nio.file.Files.createTempDirectory("graft_man_many").toString + "/t"
    Manifests.commitData((1 to 20).map(i => (i.toLong, i % 5)).toDF("id", "k"), b)
    // 119 metadata-only commits: same files carried by reference — the
    // thousand-commit table shape, built in seconds
    val fs0 = Manifests.files(spark, b, 0)
    (1 to 119).foreach(i =>
      Manifests.commit(spark, b, fs0, VersionMeta(), parent = Some(i - 1)))
    def rpcs(f: => Unit): Long = {
      val s = CountingFileSystem.ops.get(); f
      CountingFileSystem.ops.get() - s
    }
    // fresh hint: one read + one verify + one listing + zero probes —
    // the bound must NOT scale with the 120 versions (the old
    // resolution probed _SUCCESS once per version: >120 calls here)
    val n = rpcs(assert(Manifests.latestVersion(spark, b) === Some(119)))
    assert(n <= 12, s"latestVersion cost $n metadata RPCs on a 120-version table")
    // DESCRIBE HISTORY is O(versions) tiny reads but ZERO manifest
    // parses: counts come from the per-version _counts summary
    val mBefore = CountingFileSystem.manifestReads.get()
    val h = Manifests.historyDf(spark, b).collect()
    assert(h.length === 120)
    assert(h.forall(_.getInt(3) === fs0.size))
    assert(CountingFileSystem.manifestReads.get() === mBefore,
      "historyDf must not re-read manifests")
    // stale hint (points low): probing above it recovers the truth
    Dfs.writeBytes(spark, s"$b/_latest", "5\n".getBytes("UTF-8"))
    assert(Manifests.latestVersion(spark, b) === Some(119))
    // garbage hint: unreadable content degrades to the listing
    Dfs.writeBytes(spark, s"$b/_latest", "bogus".getBytes("UTF-8"))
    assert(Manifests.latestVersion(spark, b) === Some(119))
    // hint above any committed version (e.g. its target was vacuumed):
    // verification fails, listing answers
    Dfs.writeBytes(spark, s"$b/_latest", "999\n".getBytes("UTF-8"))
    assert(Manifests.latestVersion(spark, b) === Some(119))
    // the next commit heals the pointer
    val v120 = Manifests.commit(spark, b, fs0, VersionMeta(), parent = Some(119))
    assert(v120 === 120)
    assert(rpcs(assert(Manifests.latestVersion(spark, b) === Some(120))) <= 12)
  }

  test("partition-spec evolution is pinned: a second partitioned commit refuses without overwrite; with it, each version prunes by ITS recorded spec") {
    import spark.implicits._
    val b = base("graft_man_specevo")
    Manifests.commitDataPartitioned(
      (1 to 90).map(i => (i.toLong, i % 3, s"c${i % 2}")).toDF("id", "k", "c"),
      b, Seq("k"), filesPerWrite = 3)
    assert(Manifests.partitionedBy(spark, b, 0).get._1 === Seq("k"))
    // a live table refuses a silent re-partition (Delta's refusal shape)
    val ex = intercept[IllegalArgumentException](
      Manifests.commitDataPartitioned(
        (1 to 10).map(i => (i.toLong, 0, "cX")).toDF("id", "k", "c"),
        b, Seq("c"), filesPerWrite = 2))
    assert(ex.getMessage.contains("overwrite"))
    assert(Manifests.latestVersion(spark, b) === Some(0), "refusal burns no version")
    // deliberate re-partition: the new version carries the NEW spec...
    Manifests.commitDataPartitioned(
      (1 to 60).map(i => (i.toLong, i % 3, s"c${i % 2}")).toDF("id", "k", "c"),
      b, Seq("c"), filesPerWrite = 2, overwrite = true)
    assert(Manifests.partitionedBy(spark, b, 1).get._1 === Seq("c"))
    assert(Manifests.readLatest(spark, b).count() === 60)
    // ...and partition DML under the new spec classifies by it
    val (d, r, nv) = Manifests.dropPartitions(spark, b, col("c") === "c1")
    assert(nv === 2 && d >= 1 && r === 0)
    assert(Manifests.readLatest(spark, b).filter(col("c") === "c1").count() === 0)
    // time travel still answers under the OLD spec (its own _partcols)
    assert(Manifests.partitionedBy(spark, b, 0).get._1 === Seq("k"))
    assert(Manifests.readAt(spark, b, 0).count() === 90)
  }

  test("a DML derived from a vacuumed snapshot refuses loudly instead of committing a recycled version below latest") {
    import spark.implicits._
    val b = base("graft_man_stale")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 10)).toDF("id", "k")
        .repartitionByRange(5, col("k")), b)
    Manifests.deleteWhere(spark, b, col("k") === 3) // v1
    Manifests.deleteWhere(spark, b, col("k") === 7) // v2
    val (dropped, _) = Manifests.vacuum(spark, b, keepLast = 1)
    assert(dropped === Seq(0, 1))
    // _claims/v1 was reclaimed with version 1 — a delete derived from
    // snapshot 0 could now WIN the claim for version 1 and "commit"
    // below latest=2: readers would never see it (silent lost update).
    // The commit-side guard must surface this as a conflict instead.
    intercept[Exception] {
      // the stale snapshot may already fail at the read (its manifest is
      // vacuumed) — either way, nothing may succeed silently
      Manifests.deleteWhere(spark, b, col("k") === 5, asOf = Some(0))
    }
    assert(Manifests.latestVersion(spark, b) === Some(2),
      "no recycled version below latest may appear")
    assert(Manifests.readLatest(spark, b).count() === 160,
      "latest content must be untouched by the stale writer")
  }

  test("stale-claim guard: a parented commit that wins a reclaimed claim below latest refuses") {
    import spark.implicits._
    val b = base("graft_man_staleclaim")
    Manifests.commitData((1 to 50).map(i => (i.toLong, i % 5)).toDF("id", "k"), b)
    val fs0 = Manifests.files(spark, b, 0)
    Manifests.commit(spark, b, fs0, VersionMeta(), parent = Some(0)) // v1
    Manifests.commit(spark, b, fs0, VersionMeta(), parent = Some(1)) // v2
    // simulate vacuum's claim reclamation without dropping the versions:
    // the guard must hold even when only the CLAIM was recycled
    Dfs.delete(spark, s"$b/_claims/v1")
    intercept[ConcurrentCommitException](
      Manifests.commit(spark, b, fs0, VersionMeta(), parent = Some(0)))
    assert(Manifests.latestVersion(spark, b) === Some(2))
  }

  test("bloom index is segmented: appends add a new-files-only segment, rewrites compact, lookups stay exact") {
    import spark.implicits._
    val b = base("graft_man_bloomseg")
    Manifests.commitData(
      (1 to 300).map(i => (i.toLong, s"inv_$i")).toDF("id", "inv")
        .repartition(4), b)
    Manifests.analyzeBloom(spark, b, Seq("inv")) // v1: one segment
    Manifests.analyze(spark, b, Seq("id")) // v2: zone stats, one segment
    val (_, segs1) = Manifests.bloomOf(spark, b, 1).get
    assert(segs1.size === 1)
    val seg1Rows = spark.read.parquet(segs1.head).count()
    // two appends: each adds ONE segment covering only its own files
    Manifests.appendBatch(
      Seq((1001L, "inv_1001")).toDF("id", "inv").coalesce(1), b, 1L)
    Manifests.appendBatch(
      Seq((1002L, "inv_1002")).toDF("id", "inv").coalesce(1), b, 2L)
    val v = Manifests.latestVersion(spark, b).get
    val (_, segs) = Manifests.bloomOf(spark, b, v).get
    assert(segs.size === 3, s"expected 3 segments, got ${segs.size}")
    // the zone-stats sidecar segments the same way (1 ANALYZE + 2 appends)
    assert(Manifests.statsOf(spark, b, v).get._2.size === 3)
    assert(segs.head === segs1.head, "the base segment carries by reference")
    segs.tail.foreach { s =>
      assert(spark.read.parquet(s).count() === 1,
        "an append's segment covers ONLY its new files — bloom bytes " +
          "written are proportional to the append, not the table")
    }
    assert(spark.read.parquet(segs: _*).count() === seg1Rows + 2)
    // the segmented index still answers: ManifestFileIndex probes the
    // union of segments (exactness spot-checked through the reader)
    val rel = spark.read.format("manifest").load(b)
    assert(rel.filter(col("inv") === "inv_1002").count() === 1)
    assert(rel.filter(col("inv") === "inv_150").count() === 1)
    // a rewrite compacts the lists back to one segment
    Manifests.deleteWhere(spark, b, col("id") === 5L)
    val v2 = Manifests.latestVersion(spark, b).get
    assert(Manifests.bloomOf(spark, b, v2).get._2.size === 1,
      "rewrites compact the segment list")
    assert(Manifests.statsOf(spark, b, v2).get._2.size === 1)
    val rel2 = spark.read.format("manifest").load(b)
    assert(rel2.filter(col("inv") === "inv_1002").count() === 1)
    assert(rel2.filter(col("inv") === "inv_5").count() === 0)
  }

  test("vacuum sweeps never-referenced attempt residue (orphan sidecars/data dirs), age-guarded") {
    import spark.implicits._
    val b = base("graft_man_orphan")
    Manifests.commitData((1 to 100).map(i => (i.toLong, i % 5)).toDF("id", "k"), b)
    Manifests.deleteWhere(spark, b, col("k") === 2) // v1 (so vacuum has work)
    // plant the residue a lost rebase attempt leaves: sidecar + data dirs
    // referenced by NO version
    Seq("stats_orphan1", "pv_orphan1", "bloom_orphan1", "data_orphan1")
      .foreach { d =>
        Dfs.mkdirs(spark, s"$b/$d")
        Dfs.writeBytes(spark, s"$b/$d/part-0.parquet", Array[Byte](1, 2, 3))
      }
    Thread.sleep(50) // age the orphans past a 0-ms guard
    val live0 = Manifests.files(spark, b, 0).map(Dfs.canonical).toSet
    Manifests.vacuum(spark, b, keepLast = 2) // retains v0 and v1
    Seq("stats_orphan1", "pv_orphan1", "bloom_orphan1", "data_orphan1")
      .foreach(d => assert(!Dfs.exists(spark, s"$b/$d"), s"orphan $d must be swept"))
    // everything any retained version references survives
    live0.foreach(f => assert(Dfs.exists(spark, f), s"live file swept: $f"))
    assert(Manifests.readAt(spark, b, 0).count() === 100)
    assert(Manifests.readLatest(spark, b).count() === 80)
    // age guard: a FRESH dir (possibly an in-flight commit) survives a
    // vacuum with a retention window
    Dfs.mkdirs(spark, s"$b/stats_inflight")
    Manifests.vacuum(spark, b, keepLast = 2,
      minAgeMillis = Some(60 * 60 * 1000L))
    assert(Dfs.exists(spark, s"$b/stats_inflight"),
      "a young dir may be an in-flight commit's output — never swept")
  }

  test("CHECK constraints: add validates the table once, every write validates only its rows, violations refuse atomically") {
    import spark.implicits._
    val b = base("graft_man_check")
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, Some(i % 10): Option[Int]))
        .toDF("id", "qty"), b)
    // adding a constraint the EXISTING data violates refuses (qty 0
    // rows exist), burning nothing
    intercept[ConstraintViolationException](
      Manifests.addConstraint(spark, b, "qty_pos", "qty > 0"))
    assert(Manifests.latestVersion(spark, b) === Some(0))
    // a satisfiable one lands as a metadata-only version
    val v1 = Manifests.addConstraint(spark, b, "qty_nonneg", "qty >= 0")
    assert(Manifests.constraintsOf(spark, b, v1) ===
      Seq("qty_nonneg" -> "qty >= 0"))
    assert(Manifests.tagOf(spark, b, v1) === Some("constraint:add:qty_nonneg"))
    // a valid append lands and CARRIES the constraint forward
    Manifests.append(Seq((200L, Some(5): Option[Int])).toDF("id", "qty"), b)
    val v2 = Manifests.latestVersion(spark, b).get
    assert(Manifests.constraintsOf(spark, b, v2).nonEmpty)
    // NULL passes — SQL CHECK semantics: violation means FALSE, not
    // not-TRUE
    Manifests.append(
      Seq((250L, Option.empty[Int])).toDF("id", "qty"), b)
    val v3 = Manifests.latestVersion(spark, b).get
    // a violating append refuses BEFORE any commit attempt: no version
    // burned, table unchanged, residue is ordinary sweepOrphans fare
    intercept[ConstraintViolationException](
      Manifests.append(Seq((300L, Some(-1): Option[Int]))
        .toDF("id", "qty"), b))
    assert(Manifests.latestVersion(spark, b) === Some(v3))
    assert(Manifests.readLatest(spark, b).count() === 102)
    // the SQL write path runs the same appendTagged — same refusal
    intercept[Exception](Seq((301L, Some(-2): Option[Int]))
      .toDF("id", "qty").write.format("manifest").mode("append").save(b))
    assert(Manifests.latestVersion(spark, b) === Some(v3))
    // UPDATE can mint violating values through SET — refused
    intercept[ConstraintViolationException](
      Manifests.updateWhere(spark, b, col("id") === 200L,
        Map("qty" -> lit(-5))))
    assert(Manifests.latestVersion(spark, b) === Some(v3))
    // merge updates are new row images — refused when violating
    intercept[ConstraintViolationException](
      Manifests.merge(spark, b,
        Seq((200L, Some(-3): Option[Int])).toDF("id", "qty"), Seq("id")))
    // an overwrite REPLACES data but inherits the constraint set — and
    // is validated against it
    intercept[ConstraintViolationException](
      Manifests.commitData(
        Seq((1L, Some(-1): Option[Int])).toDF("id", "qty"), b))
    Manifests.commitData(
      Seq((1L, Some(1): Option[Int])).toDF("id", "qty"), b)
    val v4 = Manifests.latestVersion(spark, b).get
    assert(Manifests.constraintsOf(spark, b, v4) ===
      Seq("qty_nonneg" -> "qty >= 0"))
    // drop is metadata-only; the formerly violating write then lands
    Manifests.dropConstraint(spark, b, "qty_nonneg")
    Manifests.append(
      Seq((500L, Some(-1): Option[Int])).toDF("id", "qty"), b)
    assert(Manifests.readLatest(spark, b)
      .filter(col("qty") < 0).count() === 1)
    // history kept the old constraint sets for audit
    assert(Manifests.constraintsOf(spark, b, v4).nonEmpty)
    // a shallow clone carries the source's constraints at the cloned
    // version (v4 still had the constraint)
    val dst = base("graft_man_check_clone") + "/t"
    Manifests.shallowClone(spark, b, dst, v4)
    assert(Manifests.constraintsOf(spark, dst, 0) ===
      Seq("qty_nonneg" -> "qty >= 0"))
    intercept[ConstraintViolationException](
      Manifests.append(Seq((600L, Some(-9): Option[Int]))
        .toDF("id", "qty"), dst))
  }

  test("dropColumn: metadata-only narrow; time travel keeps the column; tombstone blocks re-add; overwrite clears it") {
    import spark.implicits._
    val b = base("graft_man_dropcol")
    Manifests.commitData(
      (1 to 50).map(i => (i.toLong, i % 5, s"s$i")).toDF("id", "k", "s"), b)
    val v1 = Manifests.dropColumn(spark, b, "s")
    // readers stop seeing the column — API and relation alike — while
    // the manifest lists the SAME files (zero bytes moved)
    assert(Manifests.readLatest(spark, b).columns.toSeq === Seq("id", "k"))
    assert(spark.read.format("manifest").load(b).columns.toSeq ===
      Seq("id", "k"))
    assert(Manifests.files(spark, b, v1) === Manifests.files(spark, b, 0))
    assert(Manifests.tagOf(spark, b, v1) === Some("drop-column:s"))
    // time travel shows the column at versions that recorded it
    assert(Manifests.readAt(spark, b, 0).columns.contains("s"))
    assert(Manifests.readAt(spark, b, 0)
      .filter(col("s") === "s7").count() === 1)
    // appends without the column land; re-introducing it refuses (its
    // bytes still live in retained files — resurrection hazard)
    Manifests.append(Seq((100L, 1)).toDF("id", "k"), b)
    assert(Manifests.readLatest(spark, b).count() === 51)
    intercept[IllegalArgumentException](
      Manifests.append(Seq((101L, 1, "boo")).toDF("id", "k", "s"), b))
    // guards: unknown column, last column, constraint-referenced column
    intercept[Exception](Manifests.dropColumn(spark, b, "nope"))
    Manifests.addConstraint(spark, b, "k_nonneg", "k >= 0")
    intercept[IllegalArgumentException](Manifests.dropColumn(spark, b, "k"))
    Manifests.dropConstraint(spark, b, "k_nonneg")
    // a partition column cannot be dropped — the recorded spec
    // classifies by it
    val bp = base("graft_man_dropcol_part")
    Manifests.commitDataPartitioned(
      (1 to 20).map(i => (i.toLong, i % 2)).toDF("id", "p"), bp, Seq("p"))
    intercept[IllegalArgumentException](Manifests.dropColumn(spark, bp, "p"))
    // a full overwrite replaces every physical file — tombstones clear,
    // the name is free again
    Manifests.commitData(Seq((1L, 1, "fresh")).toDF("id", "k", "s"), b)
    assert(Manifests.readLatest(spark, b).columns.contains("s"))
    Manifests.append(Seq((2L, 2, "again")).toDF("id", "k", "s"), b)
    assert(Manifests.readLatest(spark, b).count() === 2)
  }

  test("renameColumn: metadata-only era-composed reads; chains compose; tombstones + guards; compact clears the events") {
    import spark.implicits._
    val b = base("graft_man_rencol")
    Manifests.commitData(
      (1 to 50).map(i => (i.toLong, i % 5, s"s$i")).toDF("id", "k", "s"), b)
    val v1 = Manifests.renameColumn(spark, b, "s", "label")
    // metadata-only: the SAME files under a renamed recorded schema,
    // and the pre-rename bytes surface under the new name (a null-fill
    // here is the bug this whole design exists to prevent)
    assert(Manifests.files(spark, b, v1) === Manifests.files(spark, b, 0))
    assert(Manifests.readLatest(spark, b).columns.toSeq ===
      Seq("id", "k", "label"))
    assert(Manifests.readLatest(spark, b)
      .filter(col("label") === "s7").count() === 1)
    assert(Manifests.readLatest(spark, b)
      .filter(col("label").isNull).count() === 0)
    assert(Manifests.tagOf(spark, b, v1) === Some("rename-column:s:label"))
    // time travel shows each version under its own name
    assert(Manifests.readAt(spark, b, 0).columns.toSeq ===
      Seq("id", "k", "s"))
    assert(Manifests.readAt(spark, b, 0)
      .filter(col("s") === "s7").count() === 1)
    // a post-rename append lands under the new name; both eras read
    Manifests.append(Seq((100L, 1, "fresh")).toDF("id", "k", "label"), b)
    val mixed = Manifests.readLatest(spark, b)
    assert(mixed.count() === 51)
    assert(mixed.filter(col("label") === "fresh").count() === 1)
    assert(mixed.filter(col("label").isNull).count() === 0)
    // a rename CHAIN composes: label→tag maps era-0 files s→label→tag
    Manifests.renameColumn(spark, b, "label", "tag")
    val chained = Manifests.readLatest(spark, b)
    assert(chained.columns.toSeq === Seq("id", "k", "tag"))
    assert(chained.filter(col("tag") === "s7").count() === 1)
    assert(chained.filter(col("tag") === "fresh").count() === 1)
    assert(chained.filter(col("tag").isNull).count() === 0)
    // both old names are tombstoned: appends and ADD COLUMN reusing
    // them refuse (their bytes live on in pre-rename files)
    intercept[IllegalArgumentException](
      Manifests.append(Seq((101L, 1, "boo")).toDF("id", "k", "s"), b))
    intercept[IllegalArgumentException](Manifests.addColumn(spark, b,
      "label", org.apache.spark.sql.types.StringType))
    // guards: unknown source, live target, tombstoned target, no-op
    intercept[IllegalArgumentException](
      Manifests.renameColumn(spark, b, "nope", "x"))
    intercept[IllegalArgumentException](
      Manifests.renameColumn(spark, b, "k", "tag"))
    intercept[IllegalArgumentException](
      Manifests.renameColumn(spark, b, "k", "s"))
    intercept[IllegalArgumentException](
      Manifests.renameColumn(spark, b, "k", "k"))
    // a partition column renames as a METADATA commit (r18): the spec
    // rebinds the source name and the tuple sidecar re-keys — files
    // untouched, classification intact under the new name
    val bp = base("graft_man_rencol_p")
    Manifests.commitDataPartitioned(
      (1 to 20).map(i => (i.toLong, i % 2)).toDF("id", "p"), bp, Seq("p"))
    val bpFiles = Manifests.files(spark, bp, 0)
    Manifests.renameColumn(spark, bp, "p", "q")
    val bpv = Manifests.latestVersion(spark, bp).get
    assert(Manifests.files(spark, bp, bpv) === bpFiles)
    assert(Manifests.partitionedBy(spark, bp, bpv).get._1 === Seq("q"))
    // ...nor a constraint-referenced one (the recorded predicate text
    // would silently stop matching)
    Manifests.addConstraint(spark, b, "k_nonneg", "k >= 0")
    intercept[IllegalArgumentException](
      Manifests.renameColumn(spark, b, "k", "kk"))
    Manifests.dropConstraint(spark, b, "k_nonneg")
    // the V1 relation is a pure file scan — it refuses while events
    // live, and compact() (a full rewrite) self-heals them away
    intercept[IllegalArgumentException](
      spark.read.format("manifest").load(b).count())
    Manifests.compact(spark, b, 2)
    val latest = Manifests.latestVersion(spark, b).get
    assert(!Manifests.hasLiveRenames(spark, b, latest))
    // ...while the emptied events persist as pure name history (the
    // change-feed catch-up alias mapping)
    assert(Manifests.renamesOf(spark, b, latest)
      .map(e => (e.from, e.to)) === Seq("s" -> "label", "label" -> "tag"))
    assert(Manifests.renamesOf(spark, b, latest)
      .forall(_.preFiles.isEmpty))
    val healed = spark.read.format("manifest").load(b)
    assert(healed.filter(col("tag") === "s7").count() === 1)
    assert(healed.count() === 51)
  }

  test("renameColumn: DML, stats and the change feed read through eras") {
    import spark.implicits._
    val b = base("graft_man_rendml")
    Manifests.commitData(
      (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "s"), b)
    Manifests.renameColumn(spark, b, "s", "txt") // v1
    // CoW UPDATE with predicate AND set on the new name must hit and
    // rewrite pre-rename rows (null-filled reads would miss them all)
    val (updFiles, updRows, _) = Manifests.updateWhere(spark, b,
      col("txt") === "v7", Map("txt" -> lit("V7")))
    assert(updFiles >= 1 && updRows === 1L)
    assert(Manifests.readLatest(spark, b)
      .filter(col("txt") === "V7").count() === 1)
    // CoW DELETE on the new name
    Manifests.deleteWhere(spark, b, col("txt") === "v8")
    assert(Manifests.readLatest(spark, b).count() === 39)
    // MoR DELETE: the vector addresses pre-rename files positionally
    val (morDeleted, _) = Manifests.deleteWhereMor(spark, b,
      col("txt") === "v9")
    assert(morDeleted === 1L)
    val live = Manifests.readLatest(spark, b)
    assert(live.count() === 38)
    assert(live.filter(col("txt").isNull).count() === 0)
    assert(live.filter(col("txt") === "v10").count() === 1)
    // ANALYZE post-rename re-indexes the column under its NEW name
    // from pre-rename files' bytes (rename had narrowed the keys away)
    assert(Manifests.statsOf(spark, b,
      Manifests.latestVersion(spark, b).get).forall(!_._1.contains("txt")))
    val av = Manifests.analyze(spark, b, Seq("txt"))
    assert(Manifests.statsOf(spark, b, av).exists(_._1 === Seq("txt")))
    // the change feed across the rename boundary emits under the END
    // schema: pre-rename rows era-map to the new name, so the v0
    // insert image of id=7 carries its real value
    val feed = Manifests.changesBetween(spark, b, 0,
      Manifests.latestVersion(spark, b).get)
    assert(feed.columns.toSet === Set("id", "txt", "_change_type"))
    assert(feed.filter(col("_change_type") === "delete" &&
      col("txt") === "v7").count() === 1)
    assert(feed.filter(col("_change_type") === "insert" &&
      col("txt") === "V7").count() === 1)
    assert(feed.filter(col("txt").isNull).count() === 0)
  }

  test("widenColumn: metadata-only type widening; mixed-era reads; time travel; guards") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val b = base("graft_man_widcol")
    Manifests.commitData(
      (1 to 40).map(i => (i.toLong, i, i.toFloat / 2)).toDF("id", "n", "x"),
      b)
    val v1 = Manifests.widenColumn(spark, b, "n", LongType)
    // metadata-only: the SAME files under a widened recorded schema,
    // and the narrow-era bytes surface with their real values — the
    // parquet reader's native promotion, no rewrite, no era machinery
    assert(Manifests.files(spark, b, v1) === Manifests.files(spark, b, 0))
    val df = Manifests.readLatest(spark, b)
    assert(df.schema("n").dataType === LongType)
    assert(df.filter(col("n") === 7L).count() === 1)
    assert(df.agg(sum("n")).head.getLong(0) === (1 to 40).map(_.toLong).sum)
    assert(Manifests.tagOf(spark, b, v1) === Some("widen-column:n:bigint"))
    // a post-widening append carries a value only the wide type holds
    Manifests.append(Seq((100L, 3000000007L, 1.5f)).toDF("id", "n", "x"), b)
    val mixed = Manifests.readLatest(spark, b)
    assert(mixed.count() === 41)
    assert(mixed.filter(col("n") > Int.MaxValue.toLong).count() === 1)
    // float→double stacks on the same table; 7/2 is exact in both types
    Manifests.widenColumn(spark, b, "x", DoubleType)
    val d2 = Manifests.readLatest(spark, b)
    assert(d2.schema("x").dataType === DoubleType)
    assert(d2.filter(col("x") === 3.5d).count() === 1)
    // time travel shows each version under its own narrower type
    assert(Manifests.readAt(spark, b, 0).schema("n").dataType ===
      IntegerType)
    assert(Manifests.readAt(spark, b, 0).schema("x").dataType === FloatType)
    // CoW UPDATE on the widened table reads the mixed eras and rewrites
    // matched files under the wide type
    val (updFiles, updRows, _) = Manifests.updateWhere(spark, b,
      col("n") === 7L, Map("n" -> lit(4000000009L)))
    assert(updFiles >= 1 && updRows === 1L)
    assert(Manifests.readLatest(spark, b)
      .filter(col("n") === 4000000009L).count() === 1)
    // guards: narrowing, same type, unknown column, non-numeric target,
    // partition column
    intercept[IllegalArgumentException](
      Manifests.widenColumn(spark, b, "n", IntegerType))
    intercept[IllegalArgumentException](
      Manifests.widenColumn(spark, b, "n", LongType))
    intercept[RuntimeException](
      Manifests.widenColumn(spark, b, "nope", LongType))
    intercept[IllegalArgumentException](
      Manifests.widenColumn(spark, b, "id", StringType))
    val bp = base("graft_man_widcol_p")
    Manifests.commitDataPartitioned(
      (1 to 20).map(i => (i.toLong, i % 2)).toDF("id", "p"), bp, Seq("p"))
    intercept[IllegalArgumentException](
      Manifests.widenColumn(spark, bp, "p", LongType))
  }

  test("widenColumn: stats keys narrow (skipping pauses, never lies); decimal widening honors the digit rule") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val b = base("graft_man_widstats")
    Manifests.commitData(
      (1 to 60).map(i => (i.toLong, i % 6)).toDF("id", "k")
        .repartitionByRange(3, col("k")), b)
    Manifests.analyze(spark, b, Seq("id", "k"))
    val v = Manifests.latestVersion(spark, b).get
    assert(Manifests.statsOf(spark, b, v).exists(_._1.toSet ===
      Set("id", "k")))
    // widening k drops ONLY its stats key — the per-file extrema were
    // recorded under the old type; id keeps skipping
    Manifests.widenColumn(spark, b, "k", LongType)
    val v2 = Manifests.latestVersion(spark, b).get
    assert(Manifests.statsOf(spark, b, v2).exists(_._1 === Seq("id")))
    // the hazard the key-list contract guards: an append now stats
    // only the surviving keys, so older segments' typed k-extrema and
    // the new segment's null-filled ones coexist — a box on the
    // narrowed column must NOT prune (null extrema would read as
    // "prunable" and the appended rows would silently vanish)
    Manifests.append(Seq((1000L, 42L)).toDF("id", "k"), b)
    assert(Manifests.readWhere(spark, b, Seq(("k", 40L, 50L)))
      .filter(col("k").between(40L, 50L)).count() === 1,
      "a box on a narrowed-out stats key must fall back to the full read")
    // re-ANALYZE re-indexes under the wide type
    Manifests.analyze(spark, b, Seq("id", "k"))
    val v3 = Manifests.latestVersion(spark, b).get
    assert(Manifests.statsOf(spark, b, v3).exists(_._1.toSet ===
      Set("id", "k")))
    assert(Manifests.readLatest(spark, b)
      .filter(col("k") === 3L).count() === 10)
    // decimal: integral digits may only grow, fractional never shrink
    assert(Manifests.isWideningConversion(
      DecimalType(10, 2), DecimalType(14, 2)))
    assert(Manifests.isWideningConversion(
      DecimalType(10, 2), DecimalType(14, 4)))
    assert(!Manifests.isWideningConversion(
      DecimalType(10, 2), DecimalType(10, 2)))
    assert(!Manifests.isWideningConversion(
      DecimalType(10, 2), DecimalType(11, 4)))
    assert(!Manifests.isWideningConversion(
      DecimalType(10, 2), DecimalType(9, 1)))
  }

  test("setColumnNullability: stats-covered SET NOT NULL proves with zero data opens; the bit is enforced; uncovered tighten falls back to the scan") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    val b = "graftcnt:" + java.nio.file.Files
      .createTempDirectory("graft_man_nn").toString + "/t"
    Manifests.commitData(
      (1 to 100).map(i => (i.toLong, s"s$i")).toDF("id", "s")
        .repartition(4), b)
    Manifests.analyze(spark, b, Seq("s"))
    def dataOpens(f: => Unit): Long = {
      val s0 = CountingFileSystem.dataReads.get(); f
      CountingFileSystem.dataReads.get() - s0
    }
    // ANALYZE covers every file with s_nulls = 0: the proof folds
    // sidecar rows — no data file opens on a 100-file or 100 TB table
    assert(dataOpens {
      Manifests.setColumnNullability(spark, b, "s", nullable = false): Unit
    } === 0L, "a stats-covered SET NOT NULL must not open data files")
    val v = Manifests.latestVersion(spark, b).get
    assert(!Manifests.schemaOf(spark, b, v).get.apply("s").nullable)
    // the recorded bit is a real contract: a null append refuses like
    // a CHECK violation, a clean append lands
    intercept[ConstraintViolationException](Manifests.append(
      Seq((200L, null: String)).toDF("id", "s"), b))
    Manifests.append(Seq((201L, "ok")).toDF("id", "s"), b)
    assert(Manifests.readLatest(spark, b).count() === 101)
    // DROP NOT NULL relaxes, the null lands; re-tightening now must
    // fall past the stats (which honestly count the null) to the scan
    // proof, and refuse
    Manifests.setColumnNullability(spark, b, "s", nullable = true)
    Manifests.append(Seq((202L, null: String)).toDF("id", "s"), b)
    assert(Manifests.readLatest(spark, b)
      .filter(col("s").isNull).count() === 1)
    intercept[IllegalArgumentException](
      Manifests.setColumnNullability(spark, b, "s", nullable = false))
    // no-op flips refuse; unknown column refuses
    intercept[IllegalArgumentException](
      Manifests.setColumnNullability(spark, b, "s", nullable = true))
    intercept[RuntimeException](
      Manifests.setColumnNullability(spark, b, "nope", nullable = false))
  }

  test("renameColumn: restore and clone carry the self-contained era story") {
    import spark.implicits._
    // restore to a PRE-rename version revives the old name and clears
    // the event + tombstone: appends under the old name land again
    val b = base("graft_man_renrest")
    Manifests.commitData(Seq((1L, "x")).toDF("id", "s"), b)
    Manifests.renameColumn(spark, b, "s", "txt")
    val rv = Manifests.restore(spark, b, 0)
    assert(Manifests.readLatest(spark, b).columns.toSeq === Seq("id", "s"))
    assert(Manifests.renamesOf(spark, b, rv).isEmpty)
    assert(Manifests.droppedOf(spark, b, rv).isEmpty)
    Manifests.append(Seq((2L, "y")).toDF("id", "s"), b)
    assert(Manifests.readLatest(spark, b)
      .filter(col("s") === "x").count() === 1)
    // a clone of a RENAMED version carries the event verbatim (its
    // pre-file list is self-contained — no reference to the source's
    // version history), so era reads work even after the source's
    // history is gone
    val src = base("graft_man_renclone")
    val dst = base("graft_man_renclone_d") + "/t"
    Manifests.commitData(Seq((1L, "deep")).toDF("id", "s"), src)
    val cv = Manifests.renameColumn(spark, src, "s", "txt")
    Manifests.shallowClone(spark, src, dst, cv)
    assert(Manifests.renamesOf(spark, dst, 0).nonEmpty)
    assert(Manifests.readLatest(spark, dst)
      .filter(col("txt") === "deep").count() === 1)
    // and the tombstone rode along: re-adding the old name refuses
    intercept[IllegalArgumentException](
      Manifests.append(Seq((2L, "boo")).toDF("id", "s"), dst))
  }

  test("restore/clone carry version-accurate constraints and tombstones; newline predicates normalize") {
    import spark.implicits._
    // (1) restore rolls the CONSTRAINT SET back with the data: a CHECK
    // added after v0 must not ride a restore to v0 — the resurrected
    // pre-constraint rows would silently violate a live invariant
    val b = base("graft_man_restmeta")
    Manifests.commitData(Seq((1L, -5), (2L, 3)).toDF("id", "qty"), b)
    Manifests.deleteWhere(spark, b, col("qty") < 0)
    Manifests.addConstraint(spark, b, "qty_nonneg", "qty >= 0")
    val rv = Manifests.restore(spark, b, 0)
    assert(Manifests.readLatest(spark, b).count() === 2)
    assert(Manifests.constraintsOf(spark, b, rv).isEmpty)
    Manifests.append(Seq((3L, -1)).toDF("id", "qty"), b) // legal again

    // (2) restore to a pre-dropColumn version revives the column AND
    // clears the stale tombstone: appends carrying it land again
    val b2 = base("graft_man_resttomb")
    Manifests.commitData(Seq((1L, 1, "x")).toDF("id", "k", "s"), b2)
    Manifests.dropColumn(spark, b2, "s")
    val r2 = Manifests.restore(spark, b2, 0)
    assert(Manifests.readLatest(spark, b2).columns.contains("s"))
    assert(Manifests.droppedOf(spark, b2, r2).isEmpty)
    Manifests.append(Seq((2L, 2, "y")).toDF("id", "k", "s"), b2)
    assert(Manifests.readLatest(spark, b2).count() === 2)

    // (3) a shallow clone of a tombstoned version CARRIES the tombstone:
    // its v0 references files whose bytes still hold the dropped column,
    // so a re-adding append must refuse on the clone exactly as on the
    // source (the clone has no parent chain to inherit through)
    val src = base("graft_man_clonetomb")
    val dst = base("graft_man_clonetomb_d") + "/t"
    Manifests.commitData(Seq((1L, 1, "x")).toDF("id", "k", "s"), src)
    val dv = Manifests.dropColumn(spark, src, "s")
    Manifests.shallowClone(spark, src, dst, dv)
    assert(Manifests.droppedOf(spark, dst, 0) === Seq("s"))
    intercept[IllegalArgumentException](
      Manifests.append(Seq((2L, 2, "boo")).toDF("id", "k", "s"), dst))
    Manifests.append(Seq((2L, 2)).toDF("id", "k"), dst)
    assert(Manifests.readLatest(spark, dst).count() === 2)

    // (4) an embedded newline in a predicate (formatted SQL) must not
    // corrupt the one-record-per-line constraint store: it normalizes
    // to spaces and every later write still reads the set cleanly
    val b3 = base("graft_man_ckln")
    Manifests.commitData(Seq((1L, 5)).toDF("id", "qty"), b3)
    val cv = Manifests.addConstraint(spark, b3, "qty_pos", "qty\n  > 0")
    assert(Manifests.constraintsOf(spark, b3, cv) ===
      Seq("qty_pos" -> "qty   > 0"))
    Manifests.append(Seq((2L, 7)).toDF("id", "qty"), b3)
    intercept[ConstraintViolationException](
      Manifests.append(Seq((3L, 0)).toDF("id", "qty"), b3))

    // (5) planner statistics are version-accurate too: a restore brings
    // back the target's histograms (none at v0), and a clone, a branch
    // and a fast-forward carry the source's histograms with its NDV
    val b4 = base("graft_man_resthist")
    Manifests.commitData(
      (1 to 40).map(i => (i.toLong, i % 17)).toDF("id", "k"), b4)
    Manifests.analyze(spark, b4, Seq("k"))
    val hv = Manifests.analyzeHistograms(spark, b4, Seq("k"))
    val hist = Manifests.histOf(spark, b4, hv)
    assert(hist.nonEmpty && Manifests.ndvOf(spark, b4, hv) === Map("k" -> 17L))
    val r4 = Manifests.restore(spark, b4, 0)
    assert(Manifests.histOf(spark, b4, r4).isEmpty)
    assert(Manifests.histRowsOf(spark, b4, r4).isEmpty)
    assert(Manifests.ndvOf(spark, b4, r4).isEmpty)
    val back = Manifests.restore(spark, b4, hv)
    assert(Manifests.histOf(spark, b4, back) === hist)
    val d4 = base("graft_man_clonehist_d") + "/t"
    Manifests.shallowClone(spark, b4, d4, hv)
    assert(Manifests.histOf(spark, d4, 0) === hist)
    assert(Manifests.histRowsOf(spark, d4, 0) ===
      Manifests.histRowsOf(spark, b4, hv))
    assert(Manifests.ndvOf(spark, d4, 0) === Map("k" -> 17L))
    Manifests.createBranch(spark, b4, "audit")
    val bb = Manifests.branchBaseOf(b4, "audit")
    assert(Manifests.histOf(spark, bb, 0) === hist)
    assert(Manifests.ndvOf(spark, bb, 0) === Map("k" -> 17L))
    val bh = Manifests.analyzeHistograms(spark, bb, Seq("k"), numBins = 4)
    val ff = Manifests.fastForward(spark, b4, "audit")
    assert(Manifests.histOf(spark, b4, ff) === Manifests.histOf(spark, bb, bh))
    assert(Manifests.histOf(spark, b4, ff) !== hist)
  }

  private def manifestText(b: String, v: Int): String =
    new String(Dfs.readBytes(spark, s"$b/v$v/_manifest"), "UTF-8")

  private def isDelta(b: String, v: Int): Boolean =
    manifestText(b, v).linesIterator.map(_.trim).find(_.nonEmpty)
      .exists(_.startsWith("@delta"))

  test("delta manifests: appends and DDL write O(diff) bytes; every read face resolves the chain exactly") {
    import spark.implicits._
    val b = base("graft_man_dlog")
    // bootstrap: 8 range-clustered files, flat by definition
    Manifests.commitData(
      (1 to 800).map(i => (i.toLong, i % 8)).toDF("id", "k")
        .repartitionByRange(8, col("k")), b)
    assert(!isDelta(b, 0))
    val n0 = Manifests.files(spark, b, 0).size
    assert(n0 >= 4, s"range-clustered bootstrap must spread files ($n0)")
    val flatBytes = manifestText(b, 0).length
    // three appends of one file each: each manifest is a delta of
    // exactly (directive + 1 add line), not a re-listing of the table
    (1 to 3).foreach { i =>
      Manifests.append(
        Seq((1000L + i, 99)).toDF("id", "k").repartition(1), b)
      assert(isDelta(b, i), s"append v$i must delta-encode")
      val lines = manifestText(b, i).linesIterator
        .map(_.trim).filter(_.nonEmpty).toSeq
      assert(lines.head === s"@delta ${i - 1}")
      assert(lines.tail.forall(_.startsWith("+")) && lines.tail.size === 1,
        s"append v$i must record exactly its one new file: $lines")
      assert(manifestText(b, i).length < flatBytes / 3)
    }
    // metadata-only DDL: a ZERO-line delta (directive only)
    val vAdd = Manifests.addColumn(spark, b, "note",
      org.apache.spark.sql.types.StringType)
    assert(manifestText(b, vAdd).trim === s"@delta ${vAdd - 1}")
    // ...and so is every other metadata-only DDL
    Seq[(String, () => Int)](
      "widen" -> (() => Manifests.widenColumn(spark, b, "k",
        org.apache.spark.sql.types.LongType)),
      "drop not null" -> (() =>
        Manifests.setColumnNullability(spark, b, "id", nullable = true)),
      "comment" -> (() => Manifests.commentColumn(spark, b, "note", "memo")),
      "rename" -> (() => Manifests.renameColumn(spark, b, "note", "memo")),
      "drop" -> (() => Manifests.dropColumn(spark, b, "memo")),
      "add constraint" -> (() =>
        Manifests.addConstraint(spark, b, "k_nonneg", "k >= 0")),
      "drop constraint" -> (() =>
        Manifests.dropConstraint(spark, b, "k_nonneg"))
    ).foreach { case (ddl, run) =>
      val v = run()
      assert(manifestText(b, v).trim === s"@delta ${v - 1}",
        s"$ddl must write a zero-line delta")
    }
    // resolution: every version reads its exact row set through the chain
    assert(Manifests.readAt(spark, b, 0).count() === 800)
    (1 to 3).foreach(i =>
      assert(Manifests.readAt(spark, b, i).count() === 800 + i))
    assert(Manifests.readLatest(spark, b).count() === 803)
    assert(Manifests.files(spark, b, vAdd).size === n0 + 3)
    // the resolved order equals what a flat write would have recorded:
    // carried files keep base order, each append lands at the end
    val resolved = Manifests.files(spark, b, 3)
    assert(resolved.take(n0) === Manifests.files(spark, b, 0))
    // a CoW rewrite rides the delta too: removes + adds, still exact
    val (affected, total, vDel) = Manifests.deleteWhere(spark, b, col("k") === 3)
    assert(affected >= 1 && affected < total,
      s"clustered key must touch a strict subset ($affected/$total)")
    assert(isDelta(b, vDel))
    val delLines = manifestText(b, vDel).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    assert(delLines.count(_.startsWith("-")) === affected,
      s"each affected file must retire as one '-' line: $delLines")
    assert(Manifests.readLatest(spark, b).filter(col("k") === 3).count() === 0)
    assert(Manifests.readAt(spark, b, 3).filter(col("k") === 3).count() === 100)
  }

  test("delta manifests: the chain caps at graft.manifest.maxChain and a MoR delete's file retire is a pure '-' delta") {
    import spark.implicits._
    val b = base("graft_man_dcap")
    spark.conf.set("graft.manifest.maxChain", "2")
    try {
      // round-robin: exactly 10 non-empty bootstrap files
      Manifests.commitData(
        (1 to 100).map(i => (i.toLong, i % 4)).toDF("id", "k")
          .repartition(10), b)
      (1 to 5).foreach(i => Manifests.append(
        Seq((1000L + i, 99)).toDF("id", "k").repartition(1), b))
      // depths: v1=1, v2=2, v3 would be 3 > cap -> flat, v4=1, v5=2
      assert(isDelta(b, 1) && isDelta(b, 2))
      assert(!isDelta(b, 3), "the capped commit must flatten")
      assert(isDelta(b, 4) && isDelta(b, 5))
      assert(Manifests.readLatest(spark, b).count() === 105)
    } finally spark.conf.unset("graft.manifest.maxChain")
    // a whole-file MoR delete (k=99 lives ONLY in the appended files)
    // retires them as '-' lines — no re-listing, no new vectors
    // (full-file elision composing with the delta encoding)
    val (deleted, _) = Manifests.deleteWhereMor(spark, b, col("k") === 99)
    val v6 = Manifests.latestVersion(spark, b).get
    assert(deleted === 5)
    assert(isDelta(b, v6))
    val lines = manifestText(b, v6).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    assert(lines.tail.size === 5 && lines.tail.forall(_.startsWith("-")),
      s"an aligned MoR delete is removes-only: $lines")
    assert(Manifests.readLatest(spark, b).count() === 100)
  }

  test("change feed: zone stats prune the content diff to overlapping file pairs; disjoint files skip the exceptAll; results identical") {
    import spark.implicits._
    val b = base("graft_man_cfzone")
    // one pure file per k cluster; stats on the cluster key
    Manifests.commitData(
      (1 to 400).map(i => (i.toLong, i % 4)).toDF("id", "k")
        .repartitionByRange(4, col("k")), b) // v0
    Manifests.analyze(spark, b, Seq("k"))    // v1 (metadata-only)
    // one surgical rewrite (k=1 partial — boundary pair) plus one pure
    // retire (k=2 whole — no counterpart on the other side)
    Manifests.deleteWhere(spark, b,
      (col("k") === 1 && col("id") % 2 === 0) || col("k") === 2) // v2
    val fa = Manifests.files(spark, b, 1).map(Dfs.canonical)
    val fb = Manifests.files(spark, b, 2).map(Dfs.canonical)
    val onlyA = fa.filterNot(fb.toSet)
    val onlyB = fb.filterNot(fa.toSet)
    assert(onlyB.size === 1, "exactly the k=1 file was rewritten")
    val (aOv, aDis, bOv, bDis) =
      Manifests.overlapPartition(spark, b, 1, 2, onlyA, onlyB)
    assert(bDis.isEmpty && bOv === onlyB)
    assert(aOv.size === 1,
      "only the old k=1 file can cancel against the new one")
    assert(aDis.size === onlyA.size - 1,
      "the retired k=2 file (and any other disjoint cluster) must " +
        "skip the exceptAll entirely")
    // the stats-pruned feed is row-identical to the full-compare
    // semantics: exactly the deleted rows, tagged delete
    val feed = Manifests.changesBetween(spark, b, 1, 2)
      .select("id", "k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val want = (1 to 400).filter(i =>
      (i % 4 == 1 && i % 2 == 0) || i % 4 == 2)
      .map(i => (i.toLong, i % 4, "delete")).toSet
    assert(feed === want)
    // and a stats-less twin (no analyze) produces the same rows via
    // the unpruned path — the pruning is a plan change, not a
    // semantics change
    val b2 = base("graft_man_cfzone2")
    Manifests.commitData(
      (1 to 400).map(i => (i.toLong, i % 4)).toDF("id", "k")
        .repartitionByRange(4, col("k")), b2)
    Manifests.deleteWhere(spark, b2,
      (col("k") === 1 && col("id") % 2 === 0) || col("k") === 2)
    val feed2 = Manifests.changesBetween(spark, b2, 0, 1)
      .select("id", "k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(feed2 === want)
  }

  test("change feed: string zone bounds compare in UTF-8 order — supplementary characters never fake disjointness") {
    import spark.implicits._
    val b = base("graft_man_cfutf8")
    // U+E000 is a single UTF-16 code unit ABOVE the surrogate range;
    // U+1F600 encodes as a surrogate pair BELOW it in UTF-16 order but
    // ABOVE it in UTF-8 byte order — the exact divergence between
    // Java's String.compareTo and the UTF8String order Spark recorded
    // the min/max under. A UTF-16 compare would prove the rewritten
    // pair disjoint and emit the carried row as phantom delete+insert.
    Manifests.commitData(
      Seq("\uE000", "\uD83D\uDE00").toDF("s").repartition(1), b) // v0
    Manifests.analyze(spark, b, Seq("s"))                        // v1
    Manifests.deleteWhere(spark, b, col("s") === "\uD83D\uDE00") // v2
    val fa = Manifests.files(spark, b, 1).map(Dfs.canonical)
    val fb = Manifests.files(spark, b, 2).map(Dfs.canonical)
    val onlyA = fa.filterNot(fb.toSet)
    val onlyB = fb.filterNot(fa.toSet)
    val (aOv, aDis, bOv, bDis) =
      Manifests.overlapPartition(spark, b, 1, 2, onlyA, onlyB)
    assert(aDis.isEmpty && bDis.isEmpty && aOv === onlyA && bOv === onlyB,
      "the rewritten pair overlaps in UTF-8 bound order — it must " +
        "reach the cancelling diff")
    val feed = Manifests.changesBetween(spark, b, 1, 2)
      .select("s", "_change_type").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(feed === Set(("\uD83D\uDE00", "delete")),
      "the carried-identical U+E000 row must cancel, not surface as " +
        "a phantom update")
  }

  test("changesBetween: duplicate-row multiplicity is exact through the one-shuffle diff") {
    import spark.implicits._
    val b = base("graft_man_cfdup")
    // v0: "dup" ×3, "solo" ×1 — v1 drops ONE dup copy, keeps solo,
    // adds "new" ×2: min(na,nb) copies cancel per distinct row, the
    // excess emits once per copy (exceptAll's multiset rule in both
    // directions through the single signed-count aggregate)
    Manifests.commitData(
      (Seq.fill(3)(("dup", 1)) :+ (("solo", 2)))
        .toDF("s", "k").repartition(1), b)
    Manifests.commitData(
      (Seq.fill(2)(("dup", 1)) ++ Seq.fill(2)(("new", 3)) :+ (("solo", 2)))
        .toDF("s", "k").repartition(1), b)
    val feed = Manifests.changesBetween(spark, b, 0, 1)
      .select("s", "_change_type").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts = feed.groupBy(identity).view.mapValues(_.length).toMap
    assert(counts === Map(("dup", "delete") -> 1, ("new", "insert") -> 2),
      s"multiset excess must be exact, got: $counts")
  }

  test("parquet checkpoint manifests: a 100k-file log resolves cold in under a second off the checkpoint, memo-hits free, delta commits stay O(diff)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcnt.impl", classOf[CountingFileSystem].getName)
    val tmp = java.nio.file.Files.createTempDirectory("graft_man_cp").toString
    val b = s"graftcnt:$tmp/t"
    // synthetic 100k-file log: the manifest layer never opens data
    // files, so the paths need not exist — this is the 800k-file-table
    // shape at test scale
    val fake = (1 to 100000).map(i =>
      f"graftcnt:$tmp/t/data_seed/part-$i%06d-feedface.snappy.parquet")
    Manifests.commit(spark, b, fake, VersionMeta())
    // the text manifest is a one-line proxy; the list is PARQUET
    val proxy = new String(Dfs.readBytes(spark, s"$b/v0/_manifest"), "UTF-8")
    assert(proxy.startsWith("@parquet "), proxy.take(80))
    assert(proxy.length < 200, "the proxy must be O(1) bytes")
    val cpDir = proxy.split(' ')(1)
    val cpBytes = Dfs.dataFiles(spark, s"$b/v0/$cpDir")
      .map(_.getLen).sum
    val textBytes = fake.map(_.length + 1).sum
    assert(cpBytes * 5 < textBytes,
      s"checkpoint must compress path data ≥5× (got $cpBytes vs $textBytes)")
    // COLD resolve (fresh-process memo) reads the checkpoint, not an
    // O(table) text file, and lands under the 1 s budget
    def coldResolve(): (Long, Seq[String]) = {
      Manifests.filesMemo.evict(spark)
      val t0 = System.nanoTime()
      val fs = Manifests.files(spark, b, 0)
      ((System.nanoTime() - t0) / 1000000L, fs)
    }
    val (t1, r1) = coldResolve()
    val (t2, r2) = coldResolve() // min of two: first may pay lazy init
    assert(r1.size === 100000 && r2.size === 100000)
    assert(r1.toSet === fake.map(Dfs.canonical).toSet)
    assert(math.min(t1, t2) < 1000,
      s"cold 100k-file resolve took ${math.min(t1, t2)} ms")
    // memo hit: zero manifest opens
    val mBefore = CountingFileSystem.manifestReads.get()
    assert(Manifests.files(spark, b, 0).size === 100000)
    assert(CountingFileSystem.manifestReads.get() === mBefore,
      "a memoized resolve must not re-open the manifest")
    // a delta commit on the checkpointed base stays O(diff) WRITE and
    // resolves through the checkpoint
    val extra = s"graftcnt:$tmp/t/data_seed/part-extra-feedface.snappy.parquet"
    val v1 = Manifests.commit(spark, b, fake :+ extra, VersionMeta(),
      parent = Some(0), delta = Some((Seq(extra), Seq.empty)))
    val m1 = new String(Dfs.readBytes(spark, s"$b/v$v1/_manifest"), "UTF-8")
    assert(m1.startsWith("@delta 0"), m1.take(60))
    assert(m1.length < 300, "a one-file append writes O(diff) manifest bytes")
    assert(Manifests.files(spark, b, v1).size === 100001)
  }

  test("delta manifests: vacuum flattens the floor survivor before reclaiming its bases; chains never dangle") {
    import spark.implicits._
    val b = base("graft_man_dvac")
    Manifests.commitData(
      (1 to 200).map(i => (i.toLong, i % 4)).toDF("id", "k")
        .repartition(4, col("k")), b)
    (1 to 4).foreach(i => Manifests.append(
      Seq((1000L + i, 99)).toDF("id", "k").repartition(1), b))
    assert((1 to 4).forall(isDelta(b, _)))
    // keepLast=2 -> floor v3: its chain reaches v0..v2, all reclaimed
    val (droppedVs, _) = Manifests.vacuum(spark, b, keepLast = 2)
    assert(droppedVs === Seq(0, 1, 2))
    assert(!isDelta(b, 3),
      "the floor survivor must be flattened before its bases vanish")
    assert(isDelta(b, 4), "above the floor the chain is intact")
    assert(Manifests.readAt(spark, b, 3).count() === 203)
    assert(Manifests.readLatest(spark, b).count() === 204)
    // the flattened version reports depth 0: a fresh append chains on it
    Manifests.append(Seq((2000L, 99)).toDF("id", "k").repartition(1), b)
    val v5 = Manifests.latestVersion(spark, b).get
    assert(isDelta(b, v5) && Manifests.readLatest(spark, b).count() === 205)
    // interrupted-flatten crash window: `_manifest` gone, `.flat`
    // holding the complete content — reads recover (and finish the
    // swap), never FileNotFound on a committed version
    val m = s"$b/v$v5/_manifest"
    Dfs.writeBytes(spark, s"$m.flat", Dfs.readBytes(spark, m))
    Dfs.delete(spark, m)
    // the recovering reader is a FRESH process (the crashed writer is
    // gone) — its resolved-manifest memo starts empty
    Manifests.filesMemo.evict(spark)
    assert(Manifests.readLatest(spark, b).count() === 205)
    assert(Dfs.exists(spark, m), "recovery completes the interrupted swap")
  }

  test("transaction ledger: batch replay no-ops even after DML rewrote its files; sequential-id contract; plain inserts keep no identity") {
    import spark.implicits._
    val b = base("graft_man_txn")
    Manifests.commitData(
      (1 to 50).map(i => (i.toLong, "seed")).toDF("id", "src"), b)
    val batch1 = (100 to 104).map(i => (i.toLong, "b1")).toDF("id", "src")
    assert(Manifests.appendBatch(batch1, b, 1L).isDefined)
    // immediate replay: marker and ledger agree — no-op
    assert(Manifests.appendBatch(batch1, b, 1L).isEmpty)
    // a CoW DELETE rewrites batch 1's rows away: its file PATHS leave
    // the manifest, which blinds a path-marker replay scan outright
    Manifests.deleteWhere(spark, b, col("src") === "b1")
    assert(Manifests.readLatest(spark, b).count() === 50)
    assert(Manifests.appendBatch(batch1, b, 1L).isEmpty,
      "a replayed batch must no-op even after its files were rewritten away")
    assert(Manifests.readLatest(spark, b).count() === 50)
    // an id at or below the high-water mark is a replay by the
    // sequential-ids streaming contract — refused, no file-list scan
    assert(Manifests.appendBatch(
      batch1.withColumn("src", lit("b0")), b, 0L).isEmpty)
    // the next id lands and the ledger advances with it
    assert(Manifests.appendBatch(
      (200 to 204).map(i => (i.toLong, "b2")).toDF("id", "src"), b, 2L)
      .isDefined)
    val latest = Manifests.latestVersion(spark, b).get
    assert(Manifests.txnsOf(spark, b, latest) === Map("b:batch" -> 2L))
    // a SECOND writer app keeps its own sequence: its batch 0 lands
    // even though app "batch" is already at high-water 2
    assert(Manifests.appendBatch(
      Seq((300L, "q2")).toDF("id", "src"), b, 0L, appId = "q2").isDefined)
    assert(Manifests.txnsOf(spark, b,
      Manifests.latestVersion(spark, b).get) ===
      Map("b:batch" -> 2L, "b:q2" -> 0L))
    // plain inserts carry NO replay identity: the same frame appends twice
    Manifests.append(Seq((900L, "x")).toDF("id", "src"), b)
    Manifests.append(Seq((900L, "x")).toDF("id", "src"), b)
    assert(Manifests.readLatest(spark, b)
      .filter(col("id") === 900).count() === 2)
    // ...and the ledger rode through them untouched
    assert(Manifests.txnsOf(spark, b,
      Manifests.latestVersion(spark, b).get) ===
      Map("b:batch" -> 2L, "b:q2" -> 0L))
  }

  test("transaction ledger: a batch appId colliding with another namespace's bare key never reads that writer's high-water mark") {
    import spark.implicits._
    val b = base("graft_man_txn_ns")
    // cdcApply owns the bare "cdc" ledger line and pushes it to 5
    (0L to 5L).foreach { i =>
      assert(Manifests.cdcApply(
        Seq((i, s"cdc$i")).toDF("k", "v"), b, Seq("k"), i).isDefined)
    }
    assert(Manifests.txnsOf(spark, b,
      Manifests.latestVersion(spark, b).get) === Map("cdc" -> 5L))
    // a batch appender whose appId is ALSO "cdc" keys "b:cdc" — its
    // fresh batch 1 is NOT a replay of cdcApply's independent sequence;
    // the pre-namespace fallback must not read the reserved bare key
    // and silently drop it (that would be data loss)
    assert(Manifests.appendBatch(
      Seq((100L, "batch1")).toDF("k", "v"), b, 1L, appId = "cdc").isDefined,
      "appendBatch(appId=\"cdc\") batch 1 must land despite cdcApply's " +
        "bare 'cdc' high-water mark of 5")
    assert(Manifests.readLatest(spark, b)
      .filter(col("v") === "batch1").count() === 1)
    // its own sequence still dedupes normally
    assert(Manifests.appendBatch(
      Seq((100L, "batch1")).toDF("k", "v"), b, 1L, appId = "cdc").isEmpty)
    assert(Manifests.txnsOf(spark, b,
      Manifests.latestVersion(spark, b).get) ===
      Map("cdc" -> 5L, "b:cdc" -> 1L))
  }

  test("transaction ledger retention: idle appIds tombstone at the horizon, a retired writer's replay REFUSES loudly, tombstones age out bounded") {
    import spark.implicits._
    val b = base("graft_man_txn_ret")
    Manifests.commitData(Seq((1L, "seed")).toDF("id", "src"), b)
    assert(Manifests.appendBatch(
      Seq((10L, "b1")).toDF("id", "src"), b, 1L, appId = "ephemeral")
      .isDefined)
    try {
      // a GENEROUS horizon first: the entry carries and dedupes
      spark.conf.set("graft.txn.retentionMillis", "600000")
      spark.conf.set("graft.txn.tombstoneRetentionMillis", "600000")
      Manifests.append(Seq((20L, "x")).toDF("id", "src"), b)
      assert(Manifests.txnsOf(spark, b,
        Manifests.latestVersion(spark, b).get)
        .contains("b:ephemeral"))
      assert(Manifests.appendBatch(
        Seq((10L, "b1")).toDF("id", "src"), b, 1L, appId = "ephemeral")
        .isEmpty, "in-horizon replay still no-ops")
      // shrink the horizon below inter-commit latency: the next
      // commit retires the idle entry…
      spark.conf.set("graft.txn.retentionMillis", "1")
      Manifests.append(Seq((21L, "x")).toDF("id", "src"), b)
      val lv = Manifests.latestVersion(spark, b).get
      assert(!Manifests.txnsOf(spark, b, lv).contains("b:ephemeral"),
        "an idle appId must leave the live ledger at the horizon")
      // …and a late replay REFUSES loudly instead of double-appending
      val rowsBefore = Manifests.readLatest(spark, b).count()
      val e = intercept[Throwable](Manifests.appendBatch(
        Seq((10L, "b1")).toDF("id", "src"), b, 1L, appId = "ephemeral"))
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
      assert(chain(e).contains("retired"), chain(e))
      assert(Manifests.readLatest(spark, b).count() === rowsBefore,
        "a refused replay must not have appended")
      // a FRESH appId (the documented resume path) starts cleanly
      assert(Manifests.appendBatch(
        Seq((30L, "b2")).toDF("id", "src"), b, 0L, appId = "ephemeral2")
        .isDefined)
      // the tombstone itself ages out after its own horizon — growth
      // is bounded: one line per retired appId for a bounded window
      spark.conf.set("graft.txn.tombstoneRetentionMillis", "1")
      Thread.sleep(5)
      Manifests.append(Seq((22L, "x")).toDF("id", "src"), b)
      val (live, dead) = Manifests.txnEntriesOf(spark, b,
        Manifests.latestVersion(spark, b).get)
      assert(!dead.contains("b:ephemeral"),
        "tombstones must not accumulate forever")
      assert(!live.contains("b:ephemeral"))
    } finally {
      spark.conf.unset("graft.txn.retentionMillis")
      spark.conf.unset("graft.txn.tombstoneRetentionMillis")
    }
  }

  test("updateWhereMor: vector + append with zero raw rewrites; stacks on existing vectors where CoW refuses; aligned files retire; constraints hold") {
    import spark.implicits._
    val b = base("graft_man_updmor")
    // one file per k, deterministically (bootstrap + three appends)
    def part(k: Int) = (1 to 400).filter(_ % 4 == k)
      .map(i => (i.toLong, k, 10L)).toDF("id", "k", "qty").repartition(1)
    Manifests.commitData(part(0), b)
    (1 to 3).foreach(k => Manifests.append(part(k), b))
    Manifests.addConstraint(spark, b, "qty_pos", "qty > 0")
    // a MoR delete first: multiples of 10 live only in k∈{0,2} files
    val (d, vDel) = Manifests.deleteWhereMor(spark, b, col("id") % 10 === 0)
    assert(d === 40)
    val dvBefore = Manifests.dvFiles(spark, b, vDel).size
    assert(dvBefore >= 1)
    // the CoW UPDATE refuses on the vectored table (its raw-file
    // rewrite would resurrect the deleted rows)...
    intercept[IllegalArgumentException](Manifests.updateWhere(
      spark, b, col("k") === 1, Map("qty" -> lit(99L))))
    // ...the MoR UPDATE reads THROUGH the vectors instead. (a) aligned:
    // the k=1 file fully matches — retired + images, no new vector
    val filesBefore = Manifests.files(spark, b, vDel)
    val (t1, r1, vU1) = Manifests.updateWhereMor(spark, b,
      col("k") === 1, Map("qty" -> (col("qty") + 5L)))
    assert(t1 === 1 && r1 === 100)
    assert(Manifests.dvFiles(spark, b, vU1).size === dvBefore,
      "an aligned MoR update writes no new vectors (full-file elision)")
    val filesAfter = Manifests.files(spark, b, vU1)
    assert(filesBefore.toSet.diff(filesAfter.toSet).size === 1,
      "exactly the fully-matched file retires")
    assert(filesAfter.toSet.diff(filesBefore.toSet).nonEmpty,
      "the new images land as appended files")
    val now = Manifests.readLatest(spark, b)
    assert(now.count() === 360)
    assert(now.filter(col("k") === 1)
      .agg(min("qty"), max("qty")).head.getLong(0) === 15L)
    assert(now.filter(col("k") =!= 1)
      .filter(col("qty") =!= 10L).count() === 0)
    // (b) spread: four rows across four files — vectors STACK on the
    // delete's (id=101 now lives in an image file from step (a))
    val (t2, r2, vU2) = Manifests.updateWhereMor(spark, b,
      col("id").isin(2L, 101L, 204L, 303L),
      Map("qty" -> (col("qty") * 2L)))
    assert(r2 === 4 && t2 >= 1)
    assert(Manifests.dvFiles(spark, b, vU2).size > dvBefore,
      "a partial MoR update stacks vectors on the existing ones")
    val after = Manifests.readLatest(spark, b)
    assert(after.count() === 360)
    assert(after.filter(col("id") === 101L).head.getLong(2) === 30L)
    assert(after.filter(col("id") === 2L).head.getLong(2) === 20L)
    // time travel: each version reads its own state
    assert(Manifests.readAt(spark, b, vU1)
      .filter(col("id") === 2L).head.getLong(2) === 10L)
    // SET expressions minting constraint violations refuse, version-free
    val vNow = Manifests.latestVersion(spark, b).get
    intercept[ConstraintViolationException](Manifests.updateWhereMor(
      spark, b, col("k") === 3, Map("qty" -> lit(-1L))))
    assert(Manifests.latestVersion(spark, b).get === vNow)
    // compact() materializes vectors and the content is unchanged
    Manifests.compact(spark, b, 4)
    assert(Manifests.readLatest(spark, b).count() === 360)
    assert(Manifests.dvFiles(spark, b,
      Manifests.latestVersion(spark, b).get).isEmpty)
  }

  test("mergeMor: matched rows vector out, the whole batch appends; null keys insert; dup keys throw; aligned files retire") {
    import spark.implicits._
    val b = base("graft_man_mrgmor")
    // java.lang.Long ids: the recorded schema stays NULLABLE so the
    // null-key insert below is admitted (enforced NOT NULL is its own
    // test — updateWhereMor's covers the refusal face)
    def part(k: Int) = (1 to 400).filter(_ % 4 == k)
      .map(i => (java.lang.Long.valueOf(i.toLong), k, 10L))
      .toDF("id", "k", "qty").repartition(1)
    Manifests.commitData(part(0), b)
    (1 to 3).foreach(k => Manifests.append(part(k), b))
    // stack a vector first — the CoW merge refuses on it
    val (d, vDel) = Manifests.deleteWhereMor(spark, b, col("id") % 10 === 0)
    assert(d === 40)
    val dvBefore = Manifests.dvFiles(spark, b, vDel).size
    intercept[IllegalArgumentException](Manifests.merge(spark, b,
      Seq((101L, 1, 77L)).toDF("id", "k", "qty"), Seq("id")))
    // MoR merge: one matched update, one insert, one null-key insert
    val upd = Seq[(java.lang.Long, Integer, java.lang.Long)](
      (101L, 1, 77L), (9999L, 9, 1L), (null, 9, 2L))
      .toDF("id", "k", "qty")
    val (t1, r1, v1) = Manifests.mergeMor(spark, b, upd, Seq("id"))
    assert(r1 === 3 && t1 === 1)
    assert(Manifests.dvFiles(spark, b, v1).size > dvBefore,
      "a partial match stacks a vector")
    val now = Manifests.readLatest(spark, b)
    assert(now.count() === 362) // 360 live + insert + null-key insert
    assert(now.filter(col("id") === 101L).count() === 1)
    assert(now.filter(col("id") === 101L).head.getLong(2) === 77L)
    assert(now.filter(col("id").isNull).count() === 1)
    // duplicate update keys refuse before any write
    intercept[IllegalArgumentException](Manifests.mergeMor(spark, b,
      Seq((7L, 1, 1L), (7L, 1, 2L)).toDF("id", "k", "qty"), Seq("id")))
    // an update batch covering EVERY live row of the k=2 file retires
    // it (full-file elision) — no new vector
    val k2live = Manifests.readLatest(spark, b)
      .filter(col("k") === 2 && col("id") =!= 9999L && col("id").isNotNull)
      .select("id").as[Long].collect().sorted
    val dvNow = Manifests.dvFiles(spark, b, v1).size
    val filesBefore = Manifests.files(spark, b, v1)
    val big = k2live.toSeq.map(i => (i, 2, 55L)).toDF("id", "k", "qty")
    val (_, _, v2) = Manifests.mergeMor(spark, b, big, Seq("id"))
    assert(Manifests.dvFiles(spark, b, v2).size === dvNow,
      "a fully-matched file retires instead of vectoring")
    assert(filesBefore.toSet.diff(Manifests.files(spark, b, v2).toSet)
      .nonEmpty, "the k=2 file left the manifest")
    val after = Manifests.readLatest(spark, b)
    assert(after.count() === 362)
    assert(after.filter(col("k") === 2 && col("qty") === 55L).count()
      === k2live.length)
    // time travel intact across the whole MoR lineage
    assert(Manifests.readAt(spark, b, vDel).count() === 360)
  }

  test("cdcApply: the ledger keeps replay idempotent across intervening commits") {
    import spark.implicits._
    val b = base("graft_man_cdctxn")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    assert(Manifests.cdcApply(b0, b, Seq("k"), 0L).isDefined)
    val b1 = Seq((2L, "b2"), (3L, "c")).toDF("k", "s")
    assert(Manifests.cdcApply(b1, b, Seq("k"), 1L).isDefined)
    // an intervening commit changes the latest TAG — the old probe
    // (latestTag == cdc_batch_1) would re-merge batch 1 here
    Manifests.append(Seq((9L, "z")).toDF("k", "s"), b)
    val vBefore = Manifests.latestVersion(spark, b).get
    assert(Manifests.cdcApply(b1, b, Seq("k"), 1L).isEmpty,
      "a replayed CDC batch must no-op across intervening commits")
    assert(Manifests.latestVersion(spark, b).get === vBefore,
      "the replay must not burn a version")
    assert(Manifests.readLatest(spark, b).count() === 4)
  }

  test("reserved compaction tags refuse on user commits: the change feed keys dataChange=false on them") {
    import spark.implicits._
    val b = java.nio.file.Files
      .createTempDirectory("graft_man_tag").toString + "/t"
    Manifests.commitData((1 to 10).map(i => (i, s"r$i")).toDF("id", "v"), b)
    val files = Manifests.files(spark, b, 0)
    // a user tag equal to a compaction tag would make changesAt serve
    // this DATA-CHANGING commit as an empty feed step — refused
    Seq("compact", "compact-small", "autocompact").foreach { t =>
      val e = intercept[Exception] {
        Manifests.commit(spark, b, files, VersionMeta(), tag = Some(t),
          parent = Some(Manifests.latestVersion(spark, b).get))
      }
      assert(e.getMessage.contains("reserved"), s"$t: ${e.getMessage}")
    }
    // the internal compaction path still writes the tag (and the feed
    // serves its step empty — CdfProvenanceSpec pins that)
    Manifests.append((11 to 20).map(i => (i, s"r$i")).toDF("id", "v"), b)
    val (_, _, cv) = Manifests.compact(spark, b, 1)
    assert(Manifests.tagOf(spark, b, cv) === Some("compact"))
  }

  test("a bucketed bootstrap whose bucket-spec write fails leaves no committed version") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftbkt.impl", classOf[FailingBucketSpecFileSystem].getName)
    val b = "graftbkt:" + java.nio.file.Files
      .createTempDirectory("graft_man_bktfail").toString + "/t"
    val df = (1 to 40).map(i => (i.toLong, i % 4)).toDF("id", "k")
    FailingBucketSpecFileSystem.armed.set(true)
    try intercept[java.io.IOException](
      Manifests.commitDataBucketed(df, b, Seq("k"), 4))
    finally FailingBucketSpecFileSystem.armed.set(false)
    // the spec is part of the record, written before `_SUCCESS`: the
    // failed call published nothing a reader could see unbucketed
    assert(Manifests.latestVersion(spark, b).isEmpty)
    val v = Manifests.commitDataBucketed(df, b, Seq("k"), 4)
    assert(Manifests.latestVersion(spark, b) === Some(v))
    assert(Manifests.bucketSpecOf(spark, b, v) === Some((4, Seq("k"), Nil)))
    assert(Manifests.meta(spark, b, v).bucketSpec ===
      Manifests.bucketSpecOf(spark, b, v))
  }

  test("meta round-trips every sidecar: re-committing a version's record as a metadata-only carry reads back equal") {
    import spark.implicits._
    val b = base("graft_man_metart")
    Manifests.commitDataPartitioned(
      (1 to 60).map(i => (i.toLong, i % 3, i % 7, s"s$i", s"t$i", i * 1.5))
        .toDF("id", "p", "k", "s", "t", "x"), b, Seq("p"), filesPerWrite = 3)
    Manifests.analyze(spark, b, Seq("id", "k"))
    Manifests.analyzeBloom(spark, b, Seq("k"))
    Manifests.analyzeHistograms(spark, b, Seq("x"))
    Manifests.evolvePartitions(spark, b, Seq("p", "k"))
    Manifests.addConstraint(spark, b, "id_pos", "id > 0")
    Manifests.dropColumn(spark, b, "s")
    Manifests.renameColumn(spark, b, "t", "label")
    Manifests.deleteWhereMor(spark, b, col("id") === 5L)
    Manifests.appendBatch(
      Seq((100L, 1, 3, "t100", 7.5)).toDF("id", "p", "k", "label", "x"),
      b, 0L)
    val v = Manifests.latestVersion(spark, b).get
    val m = Manifests.meta(spark, b, v)
    assert(m.dv.nonEmpty && m.schema.isDefined && m.stats.isDefined &&
      m.partValues.isDefined && m.partHistory.nonEmpty &&
      m.blooms.isDefined && m.constraints.nonEmpty && m.dropped.nonEmpty &&
      m.renames.nonEmpty && m.ndv.nonEmpty && m.ndvKmv.nonEmpty &&
      m.hist.nonEmpty && m.histRows.isDefined,
      s"the source version must carry every sidecar kind: $m")
    assert(Manifests.txnsOf(spark, b, v).nonEmpty)
    val nv = Manifests.commit(spark, b, Manifests.files(spark, b, v), m,
      parent = Some(v), tag = Some("carry"),
      delta = Some((Seq.empty, Seq.empty)))
    assert(Manifests.meta(spark, b, nv) === m)
    // the record composes the single-sidecar readers' own decoding
    assert(Manifests.dvFiles(spark, b, nv) === m.dv)
    assert(Manifests.schemaOf(spark, b, nv) === m.schema)
    assert(Manifests.statsOf(spark, b, nv) === m.stats)
    assert(Manifests.partitionedBy(spark, b, nv) === m.partValues)
    assert(Manifests.partitionHistory(spark, b, nv) === m.partHistory)
    assert(Manifests.partSemOf(spark, b, nv) === m.partSem)
    assert(Manifests.bloomOf(spark, b, nv) === m.blooms)
    assert(Manifests.constraintsOf(spark, b, nv) === m.constraints)
    assert(Manifests.droppedOf(spark, b, nv) === m.dropped)
    assert(Manifests.renamesOf(spark, b, nv) === m.renames)
    assert(Manifests.ndvOf(spark, b, nv) === m.ndv)
    assert(Manifests.ndvKmvOf(spark, b, nv) === m.ndvKmv)
    assert(Manifests.histOf(spark, b, nv) === m.hist)
    assert(Manifests.histRowsOf(spark, b, nv) === m.histRows)
    assert(Manifests.txnsOf(spark, b, nv) === Manifests.txnsOf(spark, b, v))
    assert(Manifests.readAt(spark, b, nv).count() ===
      Manifests.readAt(spark, b, v).count())
    // a version that was never committed fails loudly
    intercept[IllegalArgumentException](Manifests.meta(spark, b, nv + 5))
  }
}
