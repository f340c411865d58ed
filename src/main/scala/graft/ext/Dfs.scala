package graft.ext

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The ONE place this library touches a filesystem for its storage
  * protocols (version markers, commit claims, file swaps, scratch
  * dirs). Everything goes through `org.apache.hadoop.fs.FileSystem`
  * resolved per-path from the session's Hadoop configuration, so the
  * same code runs against `file:`, `hdfs:`, `s3a:`, `viewfs:` — i.e.
  * wherever a 100 TB table actually lives — not just the driver's
  * local disk. `java.io.File` never appears on a protocol path
  * (DfsSpec proves it by running a full snapshot/delete flow through a
  * non-`file:` scheme that `java.io` cannot resolve).
  *
  * Scale notes: each helper is one namenode/object-store metadata RPC
  * (list, exists, rename, create) — no data movement happens here; the
  * data path stays Spark's own committers. [[createExclusive]] is the
  * compare-and-swap primitive (atomic create-if-absent on HDFS and
  * local; conditional-put on modern object stores) that
  * [[Snapshots.commit]] builds its concurrent-writer claim on. */
object Dfs {

  private def conf(spark: SparkSession) = spark.sessionState.newHadoopConf()

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(conf(spark))

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def mkdirs(spark: SparkSession, path: String): Boolean =
    fs(spark, path).mkdirs(new Path(path))

  /** Children of `path`; empty when the directory is missing. */
  def list(spark: SparkSession, path: String): Seq[FileStatus] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) f.listStatus(p).toSeq else Seq.empty
  }

  /** Child names of `path` in ONE listing RPC; empty when missing. */
  def names(spark: SparkSession, path: String): Set[String] =
    try fs(spark, path).listStatus(new Path(path)).map(_.getPath.getName).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  /** Visible data part-files under a directory (the reader's view:
    * dotfiles and `_`-prefixed metadata are not data). */
  def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] =
    list(spark, path).filter { s =>
      val n = s.getPath.getName
      s.isFile && n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }

  /** [[dataFiles]] but RECURSIVE: the split-by-partition writer lands
    * part files under per-tuple subdirectories before flattening, and
    * the flatten step lists them here. Same visibility contract as
    * [[dataFiles]] (dotfiles and `_`-prefixed names are not data). */
  def dataFilesDeep(spark: SparkSession, path: String): Seq[FileStatus] = {
    val it = fs(spark, path).listFiles(new Path(path), /* recursive = */ true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (s.isFile && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")) buf += s
    }
    buf.toSeq
  }

  /** Hadoop rename — atomic on HDFS and local FS; fails (returns false
    * → we throw) rather than clobbering an existing destination. */
  def rename(spark: SparkSession, src: String, dst: String): Unit = {
    val f = fs(spark, src)
    require(f.rename(new Path(src), new Path(dst)),
      s"rename failed: $src -> $dst")
  }

  def delete(spark: SparkSession, path: String, recursive: Boolean = false): Boolean =
    fs(spark, path).delete(new Path(path), recursive)

  /** One monitor per claim path: the create-no-overwrite primitive is
    * an atomic namenode op on HDFS (and a conditional put on modern
    * object stores), but Hadoop's LOCAL filesystems implement it as
    * check-then-create — two same-process claimers could both pass.
    * Same-JVM claimers serialize here; cross-process exclusivity is
    * the filesystem's own contract. */
  private val claimLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Atomic create-if-absent: true iff this caller created `path`
    * (an empty marker file). The CAS primitive for commit claims —
    * exactly one of N concurrent callers wins a given path. */
  def createExclusive(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val p = new Path(path)
    f.mkdirs(p.getParent)
    val lock = claimLocks.computeIfAbsent(
      f.makeQualified(p).toString, _ => new Object)
    lock.synchronized {
      if (f.exists(p)) false
      else try { f.create(p, /* overwrite = */ false).close(); true }
      catch { case _: java.io.IOException => false }
    }
  }

  /** [[createExclusive]] with a payload: the claim and the content
    * write happen under the same per-path monitor, so same-JVM racers
    * never observe a claimed-but-empty file. Cross-process, the
    * filesystem's create-no-overwrite is the claim and a crash before
    * the content lands leaves an empty file — callers treat that as
    * unambiguous residue (no committed payload is ever empty). True
    * iff this caller created the file. */
  def createExclusiveWithContent(spark: SparkSession, path: String,
      bytes: Array[Byte]): Boolean = {
    val f = fs(spark, path)
    val p = new Path(path)
    f.mkdirs(p.getParent)
    val lock = claimLocks.computeIfAbsent(
      f.makeQualified(p).toString, _ => new Object)
    lock.synchronized {
      if (f.exists(p)) false
      else {
        // losing the create race is a normal `false`; a failure while
        // WRITING the payload is an I/O error that must surface — and
        // must not leave a partial file behind, which would read as a
        // live (garbage) payload and block every later create.
        // Only an already-exists outcome is the lost race: a generic
        // transient I/O failure must SURFACE, not masquerade as
        // "another writer won" (the caller would then misreport it as
        // "ref already exists"). Some filesystems signal the race with
        // a bare IOException — the post-check on existence tells the
        // two apart.
        val out =
          try f.create(p, /* overwrite = */ false)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              return false
            case _: java.nio.file.FileAlreadyExistsException =>
              return false
            case e: java.io.IOException =>
              if (f.exists(p)) return false else throw e
          }
        try { out.write(bytes); out.close(); true }
        catch {
          case e: java.io.IOException =>
            try out.close() catch { case _: java.io.IOException => () }
            try f.delete(p, false)
            catch { case _: java.io.IOException => () }
            throw e
        }
      }
    }
  }

  /** Create (or truthfully report) an empty marker file — the
    * idempotent "this one-time build is done" flag the fixture
    * roundtrips gate on. */
  def touch(spark: SparkSession, path: String): Unit = {
    if (!exists(spark, path)) createExclusive(spark, path)
  }

  /** Filesystem modification time of `path` in epoch millis. */
  def mtime(spark: SparkSession, path: String): Long =
    fs(spark, path).getFileStatus(new Path(path)).getModificationTime

  /** (mtime, length) of `path` in ONE metadata RPC; None when the
    * path is missing — existence probe and stamp for the price of a
    * single getFileStatus. */
  def statOf(spark: SparkSession, path: String): Option[(Long, Long)] =
    try {
      val st = fs(spark, path).getFileStatus(new Path(path))
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Parquet footer record count — one footer read, no data pages.
    * The EXACT row bound a byte size cannot give (RLE/delta encoding
    * packs millions of sorted positions into kilobytes). None when the
    * footer is unreadable — callers treat that as "not small". */
  def parquetRecords(spark: SparkSession, path: String): Option[Long] =
    try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(path), conf(spark)))
      try Some(r.getRecordCount) finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  def writeBytes(spark: SparkSession, path: String, bytes: Array[Byte]): Unit = {
    val out = fs(spark, path).create(new Path(path), /* overwrite = */ true)
    try out.write(bytes) finally out.close()
  }

  def readBytes(spark: SparkSession, path: String): Array[Byte] = {
    val in = fs(spark, path).open(new Path(path))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  /** One canonical spelling for a file path: `input_file_name()`
    * yields percent-encoded `scheme://` URIs while [[list]] yields
    * Hadoop `scheme:/` path strings — set operations across the two
    * sources need both mapped here first. */
  def canonical(path: String): String =
    new Path(new java.net.URI(path)).toString

  /** The FULLY qualified spelling (scheme + authority + absolute path)
    * of `path` under the session's Hadoop conf — the spelling to use
    * for "is this file under that directory?" prefix checks, where
    * [[canonical]]'s two inputs may still differ on scheme presence
    * (`/tmp/x` vs `file:/tmp/x`). One metadata-free resolution, no
    * RPC. */
  def qualified(spark: SparkSession, path: String): String = {
    val p = new Path(new java.net.URI(path))
    fs(spark, path).makeQualified(p).toString
  }

  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Scratch root for persisted indexes / fixture dumps: local tmp by
    * default, any Hadoop scheme via GRAFT_SCRATCH (a deployment points
    * this at the table's filesystem so index commits are cluster-
    * visible, not driver-local). */
  def scratchBase: String =
    sys.env.getOrElse("GRAFT_SCRATCH", sys.props("java.io.tmpdir"))

  /** A fresh unique directory under [[scratchBase]]. */
  def scratchDir(spark: SparkSession, prefix: String): String = {
    val d = s"$scratchBase/${prefix}_${spark.sparkContext.applicationId}_${scratchSeq.getAndIncrement()}"
    mkdirs(spark, d)
    d
  }

  /** One stamp per BUILD of the library: the newest class-file mtime
    * under this class's code source. Shared-fixture paths embed it, so
    * any recompile invalidates the whole cross-process fixture tier
    * (fixture content depends on code all over the repo — a manual
    * version constant would serve stale content the day someone forgets
    * to bump it), while the processes of one gate — Verify, Bench, the
    * driver's replays — run the same build and REUSE each other's
    * fixtures instead of rebuilding every lineage per JVM. */
  lazy val codeEpoch: String = {
    val stamp = scala.util.Try {
      val loc = java.nio.file.Paths.get(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      if (java.nio.file.Files.isDirectory(loc)) {
        val walk = java.nio.file.Files.walk(loc)
        try {
          var mx = 0L
          val it = walk.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (java.nio.file.Files.isRegularFile(p))
              mx = math.max(mx,
                java.nio.file.Files.getLastModifiedTime(p).toMillis)
          }
          mx
        } finally walk.close()
      } else java.nio.file.Files.getLastModifiedTime(loc).toMillis
    }.getOrElse(0L)
    java.lang.Long.toHexString(stamp)
  }

  /** Dataset half of a shared-fixture key: a hash of the source dir's
    * full canonical path plus a content fingerprint (name/length/mtime
    * of its top-level entries). Basename alone collides across
    * scale-factor roots ending in the same leaf, and a dataset
    * regenerated in place without a recompile would otherwise serve
    * stale fixtures to Bench (which, unlike Verify, has no oracle hash
    * to catch it). Memoized per (application, dataset). */
  private val datasetKeys =
    graft.AppCache.namespace[String, String]("dfs.dataset_keys")
  def datasetKey(spark: SparkSession, d: String): String =
    datasetKeys(spark, d) {
      val q = qualified(spark, d)
      val fp = scala.util.Try {
        fs(spark, q).listStatus(new Path(q)).toSeq
          .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
          .sorted.mkString(",")
      }.getOrElse("")
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$q|$fp".getBytes("UTF-8"))
        .take(6).map(b => f"$b%02x").mkString
    }

  /** Build-once gate for a fixture shared ACROSS processes: the
    * `_done` marker means "built and immutable — read freely"; the
    * `_claim` file is the cross-process mutex (one builder, everyone
    * else waits on the marker). A failed build deletes its half-built
    * dirs and releases the claim so a retry can rebuild instead of
    * hanging every later run. `paths` lists EVERY directory the body
    * writes (some fixtures build several); the first is the
    * marker/claim anchor. */
  def buildOnce(spark: SparkSession, paths: String*)
      (build: => Unit): Unit = {
    val anchor = paths.head
    val marker = s"${anchor}_done"
    val claim = s"${anchor}_claim"
    val deadline = System.currentTimeMillis() + 30L * 60 * 1000
    while (!exists(spark, marker)) {
      if (createExclusive(spark, claim)) {
        try { build; touch(spark, marker) }
        catch { case e: Throwable =>
          paths.foreach(p =>
            scala.util.Try(delete(spark, p, recursive = true)))
          scala.util.Try(delete(spark, claim))
          throw e
        }
        return
      }
      // another process claimed the build — wait for its marker. If
      // the claim vanishes without a marker the builder FAILED (its
      // catch deletes the claim): loop back and take over the claim
      // instead of spinning out the full deadline. A builder that
      // died without cleanup leaves a stale claim; fail with the
      // remedy rather than spin forever.
      while (!exists(spark, marker) && exists(spark, claim)) {
        require(System.currentTimeMillis() < deadline,
          s"timed out waiting for fixture $anchor — a concurrent " +
            s"builder likely died; delete $claim and re-run")
        Thread.sleep(500)
      }
    }
  }
}
