package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thrown when an optimistic commit finds its read-base is no longer
  * the latest version: another writer committed first, and publishing
  * content derived from the stale base would silently drop their
  * changes (a lost update). The caller re-reads and re-runs. */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** Thrown when a write would land rows that violate a table CHECK
  * constraint ([[Manifests.addConstraint]]), or when adding a
  * constraint the existing data already violates. The refusing write
  * burns no version; its orphaned data files are
  * [[Manifests.sweepOrphans]] residue like any other lost attempt. */
final class ConstraintViolationException(msg: String)
  extends RuntimeException(msg)

/** Manifest-based snapshots — the missing piece between [[Snapshots]]
  * (atomic, but each version is a COMPLETE directory, so publishing a
  * version that changes 0.1% of a 100 TB table copies the other 99.9%)
  * and [[Deletes]] (rewrites only affected files, but mutates in place,
  * so table-wide atomicity and time travel are lost). Here a version is
  * a MANIFEST: a tiny file listing the data files that make up the
  * table, while the data files themselves are immutable and live where
  * they were first written. Publishing a surgical change writes only
  * the new files plus one manifest; unchanged files are carried BY
  * REFERENCE into the next version — the Delta/Iceberg log shape,
  * rebuilt on plain parquet.
  *
  * Protocol (all I/O through [[Dfs]], any Hadoop scheme):
  *  - data files: immutable parquet anywhere on the table's filesystem
  *    (convention: `base/data_*`);
  *  - version `i` is `base/v<i>/_manifest` (one absolute file URI per
  *    line) gated by `base/v<i>/_SUCCESS` — the marker creation IS the
  *    commit point, a crash before it leaves an invisible version;
  *  - a manifest may be DELTA-ENCODED against its parent: a first line
  *    `@delta <p>` followed by `+<uri>` / `-<uri>` lines means "version
  *    p's files, minus the `-` lines, plus the `+` lines (appended in
  *    order)". An append to an N-file table then writes O(appended)
  *    manifest bytes, not O(N) — the Delta-log shape (actions per
  *    commit, checkpoints to bound replay): chains are capped at
  *    `graft.manifest.maxChain` (default 16, 0 disables) links before a
  *    commit flattens, full rewrites (compact/overwrite) always write
  *    flat, and vacuum flattens the retention-floor version before
  *    reclaiming the chain below it, so resolution never dangles;
  *  - a version's TABLE METADATA (vectors, schema, zone/partition/bloom
  *    sidecars, constraints, tombstones, renames, planner statistics,
  *    bucket spec) is one [[VersionMeta]] record: [[meta]] reads it from
  *    one listing of `v<i>/`, [[commit]] writes it whole before the
  *    marker. One carry rule: a commit derived from version p starts
  *    from `meta(p).carried` and overrides only what it changes; a
  *    bootstrap or overwrite starts from the latest version's
  *    `tableLevel` part;
  *  - version numbers are won via the same `_claims` CAS as
  *    [[Snapshots.commit]], so concurrent committers land as distinct
  *    versions;
  *  - a reader resolves the manifest (one small file read) and scans
  *    the listed parquet directly — full pushdown/pruning, no
  *    indirection on the data path.
  *
  * [[deleteWhere]] is why this exists: the 100 TB right-to-be-forgotten
  * is "rewrite the affected 0.01% of files, publish a manifest that
  * swaps them in" — one distributed job for all rewrites (no driver
  * pool, no per-file jobs), table-wide atomic (readers see the old
  * version until the marker lands), history intact (the pre-delete
  * version still resolves — audit "what did we store?" and prove "it
  * is gone now" against adjacent versions), and zero bytes copied for
  * untouched files. ManifestsSpec pins each property. */
object Manifests {

  private val vPattern = "v(\\d+)".r

  /** Latest-version resolution in O(1) RPCs, not O(versions) — the
    * `_last_checkpoint` idea: every commit records its version in a
    * tiny `base/_latest` file AFTER the `_SUCCESS` marker lands. The
    * pointer is a HINT, never the truth (a writer can crash between
    * marker and pointer; two finishing commits can write it out of
    * order): a reader verifies the hinted version is committed, then
    * probes only the versions ABOVE it from one directory listing,
    * descending, stopping at the first committed one. Fresh hint ⇒
    * one read + one verify + one listing + zero probes, regardless of
    * how many thousand commits the table has taken; stale or absent
    * hint ⇒ the listing-based resolution this method always falls
    * back to. ManifestsSpec pins the RPC bound through a counting
    * filesystem over a 100-version table. */
  def latestVersion(spark: SparkSession, base: String): Option[Int] = {
    val hint = latestHint(spark, base)
    val floor = hint.getOrElse(-1)
    Dfs.list(spark, base)
      .flatMap(_.getPath.getName match {
        case vPattern(n) if n.toInt > floor => Some(n.toInt)
        case _ => None
      })
      .sorted(Ordering[Int].reverse)
      .find(n => Dfs.exists(spark, s"$base/v$n/_SUCCESS"))
      .orElse(hint)
  }

  /** The `_latest` pointer, verified against its `_SUCCESS` marker;
    * None when absent, unreadable, or pointing at an uncommitted (or
    * vacuumed) version — every failure mode degrades to the listing. */
  private def latestHint(spark: SparkSession, base: String): Option[Int] =
    try {
      if (!Dfs.exists(spark, s"$base/_latest")) None
      else {
        val h = new String(Dfs.readBytes(spark, s"$base/_latest"), "UTF-8").trim.toInt
        if (Dfs.exists(spark, s"$base/v$h/_SUCCESS")) Some(h) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Best-effort monotonic advance of the `_latest` hint. Losing a
    * race (two commits finishing out of order overwrite each other)
    * only leaves the hint LOW, which readers recover from by probing
    * above it; a failed write must never fail the commit the hint
    * merely advertises. */
  private def advanceHint(spark: SparkSession, base: String, v: Int): Unit =
    try {
      if (!latestHint(spark, base).exists(_ >= v))
        Dfs.writeBytes(spark, s"$base/_latest", s"$v\n".getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Files of version `v` (absolute URIs, manifest order), resolving
    * delta-encoded manifests through their parent chain: the chain is
    * walked down to its flat base (≤ maxChain links by construction),
    * then each layer's removes/adds apply oldest-first — removed files
    * drop, added files append, so the resolved order is exactly what a
    * flat write of the same list would have recorded. */
  /** Resolved-manifest memo: a committed version's FILE LIST is
    * immutable (flatten changes representation, never content), so the
    * memo key only needs to survive the one mutation that can reuse a
    * (base, version) pair — DROP TABLE + recreate at the same location
    * — which the `_manifest` file's (mtime, length) disambiguates
    * (an in-process drop additionally evicts `base`'s entries; the
    * marker alone can tie within the filesystem's mtime granularity).
    * A flatten rewrites `_manifest` and so changes the key — that's a
    * harmless cache miss, never a stale hit. Bounded clear-all cache: past 4M resolved paths
    * (a few 100TB-scale lists, ~100 B × 800k paths each) it clears long
    * before it threatens the driver heap, while a session touching many
    * SMALL tables never thrashes; entries rebuild on the next resolve. */
  private[graft] val filesMemo = graft.AppCache
    .namespace[(String, Int, Long, Long), Seq[String]]("manifests.files",
      bound = 4000000L, weigh = _.size.toLong)

  private def filesMemoKey(spark: SparkSession, base: String,
      n: Int): Option[(String, Int, Long, Long)] =
    // ONE metadata RPC per probe: stat the manifest itself. Keying on
    // the manifest (not `_SUCCESS`) is safe — a memo entry only exists
    // after a successful resolve, and an uncached resolve still
    // enforces the commit marker loudly in lines(). During a flatten's
    // crash window `_manifest` may be momentarily absent (`.flat`
    // recovery serves reads) — the resolve just runs uncached.
    Dfs.statOf(spark, s"$base/v$n/_manifest").map { case (mt, len) =>
      (base, n, mt, len)
    }

  def files(spark: SparkSession, base: String, v: Int): Seq[String] = {
    def lines(n: Int): Seq[String] = {
      require(Dfs.exists(spark, s"$base/v$n/_SUCCESS"),
        s"version $n was never committed under $base")
      val raw = new String(manifestBytes(spark, base, n), "UTF-8")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      raw.headOption match {
        // a CHECKPOINTED manifest (Delta's parquet-checkpoint shape):
        // the text file is a one-line proxy and the list itself is a
        // parquet file beside it — ~10-20× fewer bytes for path data
        // (shared-prefix dictionary + snappy), so an 800k-file chain
        // base costs a few MB to resolve cold, not ~80 MB of text
        case Some(parquetDirective(dir, cnt)) =>
          val rows = spark.read.parquet(s"$base/v$n/$dir")
            .collect().map(_.getString(0)).toSeq
          require(rows.size == cnt.toInt,
            s"manifest checkpoint $dir under $base/v$n resolves " +
              s"${rows.size} files, expected $cnt — corrupt checkpoint")
          rows
        case _ => raw
      }
    }
    def resolve(n: Int): Seq[String] = {
      var layers = List.empty[Seq[String]] // oldest-first after the walk
      var cur = lines(n)
      var memoBase: Option[Seq[String]] = None
      var hops = 0
      while (memoBase.isEmpty &&
          cur.headOption.exists(_.startsWith("@delta"))) {
        hops += 1
        require(hops <= 100000,
          s"manifest delta chain under $base/v$n never reaches a flat base")
        val p = cur.head match {
          case deltaDirective(d) => d.toInt
          case h => sys.error(s"malformed manifest directive in $base: $h")
        }
        layers = cur.tail :: layers
        // an already-resolved ancestor short-circuits the walk: an
        // append-heavy chain re-resolves in O(new layers), not O(chain)
        memoBase = filesMemoKey(spark, base, p)
          .flatMap(filesMemo.peek(spark, _))
        if (memoBase.isEmpty) cur = lines(p)
      }
      val baseList = memoBase.getOrElse(cur)
      if (layers.isEmpty) baseList
      else {
        val out = scala.collection.mutable.LinkedHashSet.empty[String]
        out ++= baseList
        layers.foreach(_.foreach { l =>
          if (l.startsWith("+")) out += l.substring(1)
          else if (l.startsWith("-")) out -= l.substring(1)
          else sys.error(s"malformed delta manifest line in $base: $l")
        })
        out.toSeq
      }
    }
    filesMemoKey(spark, base, v) match {
      case Some(key) => filesMemo(spark, key)(resolve(v))
      case None => resolve(v) // loud "never committed" from lines(v)
    }
  }

  private val deltaDirective = "@delta (\\d+)".r
  private val parquetDirective = "@parquet (\\S+) (\\d+)".r

  /** The bytes a FLAT manifest stores for `resolved`: plain text below
    * `graft.manifest.checkpointThreshold` (default 10k files), a
    * one-line `@parquet <dir> <count>` proxy above it with the list
    * checkpointed as parquet inside the version dir (UUID-named, so
    * racing flattens never collide; the loser's dir is vacuum-collected
    * residue). The checkpoint lands fully BEFORE the proxy line is
    * returned to any caller, so every crash window resolves. */
  private def flatManifestBytes(spark: SparkSession, base: String,
      v: Int, resolved: Seq[String]): Array[Byte] = {
    val threshold = spark.conf
      .getOption("graft.manifest.checkpointThreshold")
      .map(_.toInt).getOrElse(10000)
    if (resolved.size < threshold)
      resolved.mkString("", "\n", "\n").getBytes("UTF-8")
    else {
      val dir = s"_cp_${java.util.UUID.randomUUID().toString.take(8)}"
      spark.createDataset(resolved)(org.apache.spark.sql.Encoders.STRING)
        .toDF("path").coalesce(1)
        .write.mode("errorifexists").parquet(s"$base/v$v/$dir")
      s"@parquet $dir ${resolved.size}\n".getBytes("UTF-8")
    }
  }

  /** Read `v`'s manifest, completing an interrupted [[flattenManifest]]
    * if one is found mid-swap: the flat replacement is fully written to
    * `_manifest.flat` BEFORE `_manifest` is touched, so a crash between
    * the delete and the rename leaves the `.flat` file as the (already
    * complete) truth — serve it and finish the rename opportunistically. */
  private def manifestBytes(spark: SparkSession, base: String,
      v: Int): Array[Byte] = {
    val main = s"$base/v$v/_manifest"
    if (Dfs.exists(spark, main)) Dfs.readBytes(spark, main)
    else {
      // recovery itself can race: another reader may complete the
      // rename between our exists-check and the flat read — on ANY
      // failure here, re-check the main file (the winner installed it,
      // byte-identical) before declaring the version corrupt
      val flat = s"$main.flat"
      try {
        val bytes = Dfs.readBytes(spark, flat)
        try Dfs.rename(spark, flat, main)
        catch { case scala.util.control.NonFatal(_) => () }
        bytes
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (Dfs.exists(spark, main)) Dfs.readBytes(spark, main)
          else throw new IllegalStateException(
            s"version $v of $base has no manifest (corrupt version dir)", e)
      }
    }
  }

  /** The version a delta-encoded manifest resolves through, None for a
    * flat manifest. */
  private def chainBaseOf(spark: SparkSession, base: String,
      v: Int): Option[Int] =
    new String(manifestBytes(spark, base, v), "UTF-8")
      .linesIterator.map(_.trim).find(_.nonEmpty).collect {
        case deltaDirective(n) => n.toInt
      }

  /** Raw `_counts` lines of `v` (empty when absent/unreadable):
    * 0 = data files, 1 = DV files, 2 = added bytes, 3 = delta-chain
    * depth (absent ⇒ flat). */
  private def countsRaw(spark: SparkSession, base: String,
      v: Int): Seq[String] =
    try {
      if (!Dfs.exists(spark, s"$base/v$v/_counts")) Seq.empty
      else new String(Dfs.readBytes(spark, s"$base/v$v/_counts"), "UTF-8")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Rewrite `v`'s manifest flat (resolved list, identical order) and
    * zero its recorded chain depth — the vacuum pre-pass that keeps
    * delta chains from dangling across a reclaim, and the repair any
    * maintenance path may apply (a flat manifest is always valid). */
  private def flattenManifest(spark: SparkSession, base: String,
      v: Int): Unit = {
    if (chainBaseOf(spark, base, v).isEmpty) return
    val resolved = files(spark, base, v)
    // crash-safe swap: the complete flat list lands in `.flat` FIRST,
    // so the delete→rename window can only ever expose a state
    // [[manifestBytes]] recovers from (no `_manifest`, full `.flat`)
    val main = s"$base/v$v/_manifest"
    val tmp = s"$main.flat"
    Dfs.writeBytes(spark, tmp, flatManifestBytes(spark, base, v, resolved))
    Dfs.delete(spark, main)
    // a concurrent reader's recovery may win the rename inside this
    // window — identical bytes (both from tmp), so "already installed"
    // is success, not failure
    try Dfs.rename(spark, tmp, main)
    catch {
      case scala.util.control.NonFatal(e) =>
        if (!Dfs.exists(spark, main)) throw e
    }
    try {
      val ls = countsRaw(spark, base, v).toBuffer
      if (ls.nonEmpty) {
        while (ls.size < 4) ls += "0"
        ls(3) = "0"
        Dfs.writeBytes(spark, s"$base/v$v/_counts",
          ls.mkString("", "\n", "\n").getBytes("UTF-8"))
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Publish `dataFiles` as the next version; returns it. The version
    * number is won via the `_claims` CAS before anything is written;
    * the `_SUCCESS` marker lands only after the manifest and every
    * sidecar are fully written, so readers never resolve a partial
    * version. An optional `tag` (e.g. a micro-batch id) is recorded
    * beside the manifest and readable via [[latestTag]] — the hook
    * idempotent writers key replay detection on.
    *
    * `meta` is the version's table metadata, written whole
    * ([[VersionMeta]]). Callers build it by the ONE carry rule: a
    * commit derived from version p passes `meta(p).carried` with only
    * the fields it changes overridden; a bootstrap or overwrite passes
    * the latest version's `tableLevel` part ([[overwriteMeta]]), and a
    * first commit an empty record. Commit itself applies only the
    * per-commit events: the `tag`, the transaction ledger (`txn`,
    * `txnMergeFrom`), a new rename event (`addRename`), the change-feed
    * classification (`cdcUpd`), and the pruning of tombstones and
    * rename events against the new schema and file list.
    *
    * `parent` is the optimistic-concurrency contract: `Some(p)` means
    * "this content was DERIVED from version p" — the commit claims
    * exactly p+1 and throws [[ConcurrentCommitException]] if another
    * writer got there first, because publishing would drop that
    * writer's changes (a merge basing on p cannot survive a rewrite
    * that landed at p+1: it still references the files the rewrite
    * replaced). `None` means the content depends on no read state
    * (a bootstrap or whole-table overwrite): any free number serves,
    * later versions simply supersede earlier ones. Append-shaped
    * writers re-derive their metadata and retry on conflict
    * ([[appendBatch]]); rewriting writers surface the exception. */
  def commit(spark: SparkSession, base: String, dataFiles: Seq[String],
      meta: VersionMeta, parent: Option[Int] = None,
      tag: Option[String] = None,
      delta: Option[(Seq[String], Seq[String])] = None,
      txn: Option[(String, Long)] = None,
      txnMergeFrom: Option[(String, Int)] = None,
      addRename: Option[(String, String)] = None,
      cdcUpd: Option[Seq[String]] = None,
      preservesContent: Boolean = false): Int = {
    require(dataFiles.nonEmpty, "refusing to commit an empty manifest")
    // the compaction tags double as the change feed's dataChange=false
    // signal ([[changesAt]]): a USER-supplied tag that collides would
    // silently serve a data-changing commit as an empty feed step —
    // only the internal compaction paths (preservesContent) may write
    // them
    require(preservesContent ||
        !tag.exists(contentPreservingTags.contains),
      s"commit tag '${tag.getOrElse("")}' is reserved for " +
        "content-preserving compactions (the change feed serves those " +
        "versions empty) — pick a different tag")
    val v = parent match {
      case Some(p) =>
        val want = p + 1
        if (!Dfs.createExclusive(spark, s"$base/_claims/v$want"))
          throw new ConcurrentCommitException(
            s"version $want of $base was claimed by another writer while " +
              s"this commit was derived from version $p — re-read and re-run")
        // winning the claim is necessary but NOT sufficient: vacuum
        // reclaims `_claims` entries below its retention floor, so a DML
        // derived from an asOf snapshot that has since been vacuumed past
        // could win a RECYCLED number below latest — its commit would
        // "succeed" while being invisible at latest (a silent lost
        // update, resurrecting an expired version dir). The claimed
        // number must still be ahead of the whole table; a stale
        // snapshot enters the rebase/refuse path like any other loser.
        if (latestVersion(spark, base).exists(_ >= want))
          throw new ConcurrentCommitException(
            s"version $want of $base is not ahead of the table — the " +
              s"snapshot $p this commit derived from has been superseded " +
              "(and its claim likely vacuumed); re-read and re-run")
        want
      case None =>
        var n = latestVersion(spark, base).map(_ + 1).getOrElse(0)
        while (!Dfs.createExclusive(spark, s"$base/_claims/v$n")) n += 1
        n
    }
    Dfs.mkdirs(spark, s"$base/v$v")
    def write(name: String, text: String): Unit =
      Dfs.writeBytes(spark, s"$base/v$v/$name", text.getBytes("UTF-8"))
    def lines(ls: Seq[String]): String = ls.mkString("", "\n", "\n")
    // `delta` is a WRITE-FORMAT hint from callers that know their list
    // is parent's ± a small diff (appends, metadata-only DDL, surgical
    // rewrites): dataFiles stays the source of truth, the hint only
    // lets the manifest record O(diff) bytes instead of O(table). It is
    // taken exactly when the arithmetic checks out against the parent's
    // recorded count (a legacy parent without one writes flat), the
    // chain stays under `graft.manifest.maxChain`, and the diff is
    // actually smaller than the flat list.
    val deltaWrite: Option[(Int, Seq[String], Seq[String], Int)] =
      delta.flatMap { case (adds, removes) =>
        parent.filter(_ >= 0).flatMap { p =>
          val maxChain = spark.conf.getOption("graft.manifest.maxChain")
            .map(_.toInt).getOrElse(16)
          val raw = countsRaw(spark, base, p)
          val depth = raw.lift(3)
            .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(0) + 1
          val pCount = raw.headOption
            .flatMap(s => scala.util.Try(s.toInt).toOption)
          if (depth <= maxChain &&
              pCount.contains(dataFiles.size - adds.size + removes.size) &&
              adds.size + removes.size < dataFiles.size) {
            // the arithmetic can balance while the SETS disagree (a
            // caller whose adds/removes are inconsistent with dataFiles
            // would persist a manifest resolving to a DIFFERENT list
            // than the committed one — silent corruption): verify the
            // applied diff reproduces dataFiles exactly before trusting
            // the hint; a mismatched hint falls back to a flat write,
            // which is always correct. files(p) is the memoized parent
            // listing the caller just derived from — set arithmetic on
            // in-memory strings, no extra I/O.
            val resolved = scala.collection.mutable.LinkedHashSet
              .empty[String]
            resolved ++= files(spark, base, p)
            removes.foreach(r => resolved -= Dfs.canonical(r))
            adds.foreach(a => resolved += Dfs.canonical(a))
            if (resolved == dataFiles.map(Dfs.canonical).toSet)
              Some((p, adds, removes, depth))
            else None
          } else None
        }
      }
    deltaWrite match {
      case Some((p, adds, removes, _)) =>
        write("_manifest", lines(s"@delta $p" +:
          (removes.map(f => "-" + Dfs.canonical(f)) ++
            adds.map(f => "+" + Dfs.canonical(f)))))
      case None =>
        Dfs.writeBytes(spark, s"$base/v$v/_manifest",
          flatManifestBytes(spark, base, v, dataFiles.map(Dfs.canonical)))
    }
    if (meta.dv.nonEmpty) write("_deletes", lines(meta.dv.map(Dfs.canonical)))
    meta.schema.foreach(s => write("_schema", s.json))
    meta.stats.foreach { case (keys, segs) =>
      write("_statskeys", lines(keys))
      write("_statsfile", lines(segs.map(Dfs.canonical)))
    }
    meta.partValues.foreach { case (cols, segs) =>
      write("_partcols", lines(cols))
      write("_partvalues", lines(segs.map(Dfs.canonical)))
      // PARTITION-SPEC HISTORY (Iceberg's partition evolution): after an
      // [[evolvePartitions]] commit, files written under a PREVIOUS spec
      // keep planning under the tuples that spec recorded — each legacy
      // group is `spec1,spec2|seg1,seg2` (specs are comma-free by
      // grammar), pruning intersects the per-group survivor sets, and
      // SPJ/metadata proofs degrade to the CURRENT group's coverage
      // (restored by OPTIMIZE, whose full rewrite re-derives every file
      // under the current spec). Dropped when the commit records no
      // partitioning at all.
      if (meta.partHistory.nonEmpty)
        write("_parthistory", lines(meta.partHistory.map { case (cs, ss) =>
          s"${cs.mkString(",")}|${ss.map(Dfs.canonical).mkString(",")}" }))
      // TUPLE-SEMANTICS version (`_partsem`): which derivation rules the
      // version's recorded partition tuples were computed under. 1 = the
      // pre-UTC era (time transforms derived in the writer's SESSION
      // zone — builds before the UTC re-pin); 2 = UTC-pinned (Iceberg
      // semantics, current). A commit that carries ANY prior segments or
      // history groups forward keeps its ancestor's version (tuples of
      // both eras coexist in its sidecars), so only full re-derivations
      // (commitDataPartitioned, compact/OPTIMIZE) set an upgrade.
      // Consumers treat sem < current as UNTRUSTED for TZ-sensitive
      // fields: pruning and exact-DML lowering refuse those conjuncts
      // and SPJ reports unknown — conservative plans, never wrong rows;
      // OPTIMIZE restores full speed (the ADVICE-r17 wrong-results class).
      write("_partsem", meta.partSem.toString)
    }
    meta.blooms.foreach { case (cols, segs) =>
      write("_bloomkeys", lines(cols))
      write("_bloomfile", lines(segs.map(Dfs.canonical)))
    }
    // CHECK constraints are TABLE metadata that rides every version —
    // an overwrite landing on a live table keeps them too
    // ([[VersionMeta.tableLevel]]), so it cannot silently shed the
    // table's invariants (Delta's behavior)
    if (meta.constraints.nonEmpty)
      write("_constraints",
        lines(meta.constraints.map { case (n, p) => s"$n\t$p" }))
    // planner statistics, one `col \t value` line per column, sorted:
    // NDV estimates (ANALYZE-time approx_count_distinct, like Spark's
    // own ANALYZE TABLE column stats — tolerated stale across commits,
    // refreshed by the next ANALYZE, never consulted for correctness),
    // the mergeable k-minimum-values sketches an APPEND folds its batch
    // into ([[appendWrittenFiles]]), and equi-height HISTOGRAMS
    // (`col \t height \t lo:hi:ndv;…`, refreshed by ANALYZE FOR
    // HISTOGRAM) with the live row count they were built over — the
    // freshness anchor serving damps stale selectivity with
    def statLines[A](m: Map[String, A])(render: A => String): String =
      lines(m.toSeq.sortBy(_._1)
        .filterNot { case (c, _) =>
          c.exists(ch => ch == '\t' || ch == '\n' || ch == '\r') }
        .map { case (c, a) => s"$c\t${render(a)}" })
    if (meta.ndv.nonEmpty) write("_ndv", statLines(meta.ndv)(_.toString))
    if (meta.ndvKmv.nonEmpty)
      write("_ndvkmv", statLines(meta.ndvKmv)(_.mkString(",")))
    if (meta.hist.nonEmpty) {
      write("_hist", statLines(meta.hist) { case (h, bins) =>
        s"$h\t${bins.map { case (lo, hi, n) => s"$lo:$hi:$n" }.mkString(";")}"
      })
      meta.histRows.foreach(n => write("_histrows", n.toString))
    }
    // CDF update classification (graft.cdf.updateImages): `P\t<file>`
    // postimage data files, `D\t<file>` update-rowId sidecars. NOT
    // inherited — per-version event data like the tag; PRESENCE (even
    // empty) certifies this version's update info is complete, which
    // is what lets the per-version feed branch tag its residue as
    // plain delete/insert. Written before `_SUCCESS` like every
    // sibling, so no reader ever sees the version without it.
    cdcUpd.foreach(ls => write("_cdcupd", lines(ls)))
    // the transaction ledger (Delta's `txn` action): appId -> highest
    // batch/epoch id whose append COMMITTED — one line per writer app,
    // inherited by every commit from the parent, or for a bootstrap or
    // overwrite from the superseded latest, so a streaming sink's
    // replay detection survives a concurrent table rewrite. Idempotent
    // writers consult this instead of scanning the file list for their
    // path marker, which is O(files) — and silently WRONG once a later
    // DML rewrites the batch's files away (the paths vanish, the scan
    // misses, the replay double-appends).
    // RETENTION (Delta's setTransactionRetentionDuration shape,
    // applied here because versions are immutable — the ledger can
    // only change by inheritance, and every live table commits): with
    // `graft.txn.retentionMillis` set, an appId untouched for longer
    // than the horizon retires to a TOMBSTONE (`!app<TAB>expiredAt`)
    // instead of silently vanishing — a late replay from a retired
    // writer REFUSES loudly ([[replayedIn]]) rather than
    // double-appending, which is strictly safer than Delta's
    // vanish-and-double-append. Tombstones themselves age out after
    // `graft.txn.tombstoneRetentionMillis` (default 10× the horizon),
    // so an ephemeral CI appId costs one ledger line for a bounded
    // window, then nothing.
    val nowMs = System.currentTimeMillis()
    val retention = spark.conf.getOption("graft.txn.retentionMillis")
      .map(_.toLong)
    val (effTxns, effDead): (Map[String, (Long, Long)], Map[String, Long]) = {
      val (live0, dead0) = parent.filter(_ >= 0)
        .orElse(latestVersion(spark, base).filter(_ < v))
        .map(txnEntriesOf(spark, base, _))
        .getOrElse((Map.empty[String, (Long, Long)], Map.empty[String, Long]))
      // legacy two-field lines carry no stamp: stamp them NOW (the
      // clock restarts — conservative, never premature expiry)
      val live1 = live0.view.mapValues { case (id, ts) =>
        (id, if (ts < 0) nowMs else ts) }.toMap
      val live2 = txn.fold(live1) { case (app, id) =>
        live1.updated(app,
          (math.max(id, live1.get(app).map(_._1).getOrElse(Long.MinValue)),
            nowMs))
      }
      // merge ANOTHER table-version's ledger in (fast-forward: the
      // published branch head's replay records must survive the
      // publish, or an idempotent writer that streamed into the branch
      // double-appends against main). Live entries keep the MAX
      // high-water per appId; tombstones carry unless the app is live
      // on either side (a live entry is fresher knowledge).
      val (live3, dead0b) = txnMergeFrom match {
        case None => (live2, dead0)
        case Some((b2, v2)) =>
          val (ml, md) = txnEntriesOf(spark, b2, v2)
          val l = ml.foldLeft(live2) { case (acc, (app, (id, _))) =>
            if (acc.get(app).exists(_._1 >= id)) acc
            else acc.updated(app, (id, nowMs))
          }
          val d = md.foldLeft(dead0) { case (acc, (app, t)) =>
            acc.updated(app, math.max(t, acc.getOrElse(app, Long.MinValue)))
          } -- l.keySet
          (l, d)
      }
      retention match {
        case Some(r) =>
          val tombR = spark.conf
            .getOption("graft.txn.tombstoneRetentionMillis")
            .map(_.toLong).getOrElse(10L * r)
          val (expired, kept) = live3.partition { case (_, (_, ts)) =>
            nowMs - ts > r }
          val dead1 = dead0b.filter { case (_, t) => nowMs - t <= tombR } ++
            expired.map { case (a, _) => a -> nowMs }
          (kept, dead1 -- txn.map(_._1))
        case None => (live3, dead0b)
      }
    }
    // every writer entry point sanitizes its appId, so a key can never
    // carry the field/line separators — enforce that here (the single
    // write site) so a FUTURE unsanitized entry point cannot produce a
    // line the right-anchored parser would mis-split into the wrong
    // (appId, high-water) pair and turn into a silent replay-drop
    (effTxns.keysIterator ++ effDead.keysIterator).foreach(a =>
      require(!a.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"ledger appId may not contain tab/newline: '$a'"))
    if (effTxns.nonEmpty || effDead.nonEmpty)
      write("_txns", lines(
        effTxns.toSeq.sortBy(_._1).map { case (a, (i, ts)) =>
          s"$a\t$i\t$ts" } ++
          effDead.toSeq.sortBy(_._1).map { case (a, t) => s"!$a\t$t" }))
    // a tombstone only guards a name ABSENT from the recorded schema;
    // if this commit's schema carries the name live (a restore to a
    // pre-drop version), the stale tombstone would refuse legitimate
    // appends of a column every reader already sees — prune it
    val effDropped: Seq[String] = meta.schema match {
      case Some(s) => meta.dropped.filterNot(s.fieldNames.contains)
      case None => meta.dropped
    }
    if (effDropped.nonEmpty) write("_dropped", lines(effDropped))
    // rename events SELF-PRUNE: an event's pre-file list keeps only its
    // intersection with the new manifest, so a full rewrite
    // (compact/overwrite-region chain) empties it and every
    // physical-name detour (era grouping, the V1-scan refusals)
    // switches itself back off. The EMPTIED event is kept as a one-line
    // name-history record — a change-feed catch-up over pre-rename
    // versions still needs the old→new mapping to align its rows to a
    // post-rename reader schema. An event whose new name left the
    // recorded schema (drop, or a restore to a pre-rename version) IS
    // dropped whole: no reader can request the column it maps.
    lazy val canonFiles = dataFiles.map(Dfs.canonical).toSet
    val candidates = meta.renames.map(e =>
      e.copy(preFiles = e.preFiles.filter(canonFiles.contains))) ++
      addRename.map { case (from, to) =>
        RenameEvent(v, from, to, dataFiles.map(Dfs.canonical)) }.toSeq
    val effRenames: Seq[RenameEvent] = candidates.zipWithIndex
      .filter { case (e, i) =>
        // schema-liveness follows the CHAIN — including the event this
        // very commit adds: a→b→c keeps the (a,b) event alive through
        // `c`; only when the column's FINAL name left the schema is
        // the whole chain dead
        meta.schema.forall { s =>
          var n = e.to
          candidates.drop(i + 1).foreach(l => if (l.from == n) n = l.to)
          s.fieldNames.contains(n)
        }
      }.map(_._1)
    if (effRenames.nonEmpty)
      write("_renames", lines(effRenames.flatMap(e =>
        s"=${e.v}\t${e.from}\t${e.to}" +: e.preFiles)))
    meta.bucketSpec.foreach { case (n, keys, sortBy) =>
      write("_bucketspec",
        lines(Seq(n.toString, keys.mkString(","), sortBy.mkString(","))))
    }
    tag.foreach(write("_tag", _))
    // summary counts land BEFORE the marker, so they exist for every
    // committed version: DESCRIBE HISTORY reads this tiny file, not the
    // manifest itself. Line 3 is the version's ADDED bytes (files not in
    // the parent manifest) — the streaming source's byte-based admission
    // control reads it instead of statusing data files per trigger; -1
    // records "unknown" (a file was unreachable at commit time), which
    // admission treats as cap-exceeding, conservatively.
    val addedBytes: Long =
      try {
        // a delta commit declares its adds — they are the added files
        // by contract, so the parent manifest is never re-read for them
        val added: Seq[String] = deltaWrite match {
          case Some((_, adds, _, _)) => adds.map(Dfs.canonical)
          case None =>
            val prev: Set[String] = parent.filter(_ >= 0)
              .map(p => files(spark, base, p).map(Dfs.canonical).toSet)
              .getOrElse(Set.empty)
            dataFiles.map(Dfs.canonical).filterNot(prev)
        }
        added.map(f => Dfs.fs(spark, f)
          .getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
      } catch { case scala.util.control.NonFatal(_) => -1L }
    // line 4 is the delta-chain depth (0 = flat) — the O(1) read the
    // NEXT delta commit prices its chain against; line 5 is the COMMIT
    // TIMESTAMP (epoch millis, stamped by the committing writer, not
    // filesystem mtime) — `_commit_timestamp` provenance for the
    // change feed and the authoritative instant for TIMESTAMP AS OF
    write("_counts", s"${dataFiles.size}\n${meta.dv.size}\n$addedBytes\n${
      deltaWrite.map(_._4).getOrElse(0)}\n$nowMs\n")
    Dfs.touch(spark, s"$base/v$v/_SUCCESS")
    advanceHint(spark, base, v)
    v
  }

  /** Version `v`'s whole [[VersionMeta]] record. Which sidecars exist
    * comes from ONE listing of `v<N>/`, not one existence probe per
    * sidecar; each present one is then read once through the decoder
    * its single-sidecar reader ([[schemaOf]], [[dvFiles]], …) uses.
    * Throws, like [[dvFiles]], on a version that was never committed. */
  def meta(spark: SparkSession, base: String, v: Int): VersionMeta = {
    val sc = new Sidecars(spark, base, v, Some(Dfs.names(spark, s"$base/v$v")))
    VersionMeta(dvFiles(sc), schemaOf(sc), statsOf(sc), partitionedBy(sc),
      partitionHistory(sc), partSemOf(sc), bloomOf(sc), constraintsOf(sc),
      droppedOf(sc), renamesOf(sc), ndvOf(sc), ndvKmvOf(sc), histOf(sc),
      histRowsOf(sc), bucketSpecOf(sc))
  }

  /** The record a bootstrap or whole-table overwrite starts from: the
    * `latest` version's [[VersionMeta.tableLevel]] part, empty on a
    * table with no committed version. */
  private def overwriteMeta(spark: SparkSession, base: String,
      latest: Option[Int]): VersionMeta =
    latest.fold(VersionMeta())(meta(spark, base, _).tableLevel)

  /** The sidecar files of one version, by name — what every
    * single-sidecar reader decodes from. Without a listing each `has`
    * is one existence probe, so a lone reader pays exactly one probe
    * per file it asks about; [[meta]] lists the version dir once and
    * answers every `has` from that listing. */
  private final class Sidecars(spark: SparkSession, val base: String,
      val v: Int, listed: Option[Set[String]] = None) {
    def has(n: String): Boolean =
      listed.fold(Dfs.exists(spark, s"$base/v$v/$n"))(_.contains(n))
    def text(n: String): String =
      new String(Dfs.readBytes(spark, s"$base/v$v/$n"), "UTF-8")
    def lines(n: String): Seq[String] =
      text(n).split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def probe(spark: SparkSession, base: String, v: Int): Sidecars =
    new Sidecars(spark, base, v)

  /** The table schema version `v` was committed with, if recorded.
    * Schema lives in the MANIFEST, not the files — a reader never
    * sweeps 100k parquet footers (`mergeSchema`) to learn that one
    * append added a column; old files null-fill missing columns via
    * the explicit reader schema, per parquet's own contract. */
  def schemaOf(spark: SparkSession, base: String,
      v: Int): Option[org.apache.spark.sql.types.StructType] =
    schemaOf(probe(spark, base, v))
  private def schemaOf(
      sc: Sidecars): Option[org.apache.spark.sql.types.StructType] =
    if (!sc.has("_schema")) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(sc.text("_schema"))
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Zone-map file statistics recorded in the manifest — the
    * Iceberg-style data-skipping half of the table format. Version
    * metadata carries the indexed column names plus a pointer to a
    * stats parquet (one row per data file: min/max/null-count per key,
    * [[Skipping.buildStats]]'s shape), so a selective read answers
    * "which files can match?" from manifest metadata without opening a
    * single data footer. Maintained INCREMENTALLY by every write path:
    * appends stat only the new files, merge-on-read deletes carry
    * stats untouched (zones stay conservatively wide over deleted
    * rows), rewrites re-stat only the rewritten files. */
  /** The version's zone-map stats, if committed with any: (indexed
    * keys, sidecar parquet SEGMENT paths). Segmented like the bloom
    * index ([[bloomOf]]): appends add a segment covering only their new
    * files, so per-append sidecar writes are ∝ appended files instead
    * of O(table files); rewrites and ANALYZE compact back to one. */
  def statsOf(spark: SparkSession, base: String,
      v: Int): Option[(Seq[String], Seq[String])] =
    statsOf(probe(spark, base, v))
  private def statsOf(sc: Sidecars): Option[(Seq[String], Seq[String])] =
    if (!sc.has("_statsfile")) None
    else Some((sc.lines("_statskeys"), sc.lines("_statsfile")))

  /** Per-column approximate distinct counts recorded by the last
    * ANALYZE (HyperLogLog++, rsd 2%) — the NDV half of the version's
    * planner statistics. ESTIMATES by contract: inherited across
    * commits like constraints (so they drift with appends, exactly as
    * Spark's own catalog column stats do) and never consulted by any
    * correctness path — only reported through the DSv2
    * `SupportsReportStatistics` face for CBO join estimation. */
  def ndvOf(spark: SparkSession, base: String, v: Int): Map[String, Long] =
    ndvOf(probe(spark, base, v))
  private def ndvOf(sc: Sidecars): Map[String, Long] =
    if (!sc.has("_ndv")) Map.empty
    else sc.lines("_ndv")
      .flatMap(_.split("\t") match {
        case Array(c, n) => scala.util.Try(c -> n.toLong).toOption
        case _ => None
      }).toMap

  /** KMV sketch size: ~1/sqrt(k-2) relative error ≈ 3% — inside the
    * band ANALYZE's own HLL (rsd 2%) promises, and 8 KB of state per
    * column regardless of cardinality. */
  private[graft] val ndvKmvK = 1024

  /** The per-column k-minimum-values NDV sketches of version `v` —
    * the MERGEABLE companion of [[ndvOf]]'s point estimates: each
    * entry is the (sorted, ≤ k) smallest distinct portable 60-bit
    * hashes of the column's non-null values. An append folds its
    * batch's sketch in with set arithmetic (union, keep k smallest) —
    * the property a bare count can never offer — so NDV estimates
    * stay inside the sketch's error band across any number of appends
    * with no re-ANALYZE. Empty for never-analyzed tables and versions
    * predating the sidecar. */
  def ndvKmvOf(spark: SparkSession, base: String,
      v: Int): Map[String, Seq[Long]] =
    ndvKmvOf(probe(spark, base, v))
  private def ndvKmvOf(sc: Sidecars): Map[String, Seq[Long]] =
    if (!sc.has("_ndvkmv")) Map.empty
    else sc.lines("_ndvkmv")
      .flatMap(_.split("\t") match {
        case Array(c, hs) => scala.util.Try(
          c -> hs.split(",").iterator.filter(_.nonEmpty)
            .map(_.toLong).toSeq).toOption
        case _ => None
      }).toMap

  /** Standard KMV estimate over a sorted ≤k-min-hash sketch: exact
    * when the sketch is not full, else (k-1) * H / h_k with H = 2^60
    * (the [[graft.operators.Dedup.fastHash60]] range). */
  private def kmvEstimate(hashes: Seq[Long]): Long =
    if (hashes.size < ndvKmvK) hashes.size.toLong
    else math.max(hashes.size.toLong,
      ((ndvKmvK - 1).toDouble * math.pow(2, 60) / hashes.last.toDouble)
        .toLong)

  /** The k smallest distinct portable hashes of each `key` in `df` —
    * ONE job for ALL keys, skew-free: each column's hashes filter at
    * an ADMISSION THRESHOLD (only hashes that could possibly enter the
    * bottom-k survive the scan stage), the tiny residue distincts and
    * takes its per-column bottom-k. Exactness argument: survivors are
    * EVERY distinct hash ≤ the threshold, so when a column's survivors
    * reach k, the k smallest survivors ARE the k smallest overall.
    * When a FINITE threshold leaves fewer than k survivors the
    * bottom-k cannot be proven complete from the residue:
    * `exactWhenShort=true` (ANALYZE, which builds sketches standalone)
    * falls back to an exact per-column TakeOrdered pass (per-partition
    * heaps + driver merge — bounded memory, never a single-task
    * full-column sort); `false` (appends, whose threshold is the
    * parent sketch's k-th value) keeps the short residue — a full
    * parent sketch provably rejects anything above it, so the
    * candidates ARE complete for the merge.
    *
    * A column `df` lacks contributes an empty sketch; null values hash
    * to null and drop. Values hash through their STRING form:
    * deterministic per value, type-agnostic (ANSI allows
    * string→binary where e.g. bigint→binary refuses), and the sketch
    * only ever compares against itself — no cross-engine contract. */
  private def kmvSketchOf(df: DataFrame, keys: Seq[String],
      thresholds: Map[String, Long],
      exactWhenShort: Boolean): Map[String, Seq[Long]] = {
    val spark = df.sparkSession
    val present = keys.filter(df.columns.contains)
    if (present.isEmpty) return keys.map(_ -> Seq.empty[Long]).toMap
    def hashOf(k: String) = graft.operators.Dedup.fastHash60(spark,
      col(s"`$k`").cast("string"))
    def tOf(k: String) = thresholds.getOrElse(k, Long.MaxValue)
    val gated = array(present.map(k =>
      when(hashOf(k) <= lit(tOf(k)), hashOf(k))): _*)
    import org.apache.spark.sql.expressions.Window
    val mins = df.select(posexplode(gated).as(Seq("__i", "__h")))
      .filter(col("__h").isNotNull)
      .distinct()
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__i").orderBy("__h")))
      .filter(col("__rn") <= ndvKmvK)
      .select("__i", "__h").collect()
    val byIdx: Map[Int, Seq[Long]] = mins.groupBy(_.getInt(0))
      .view.mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    keys.map { k =>
      val i = present.indexOf(k)
      k -> (if (i < 0) Seq.empty[Long]
      else {
        val got = byIdx.getOrElse(i, Seq.empty[Long])
        if (got.size >= ndvKmvK || tOf(k) == Long.MaxValue ||
            !exactWhenShort) got
        else df.filter(col(s"`$k`").isNotNull)
          .select(hashOf(k).as("h")).distinct()
          .orderBy("h").limit(ndvKmvK)
          .collect().map(_.getLong(0)).toSeq
      })
    }.toMap
  }

  /** Union-merge two KMV sketches: distinct hashes, k smallest. */
  private def kmvMerge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
    (a ++ b).distinct.sorted.take(ndvKmvK)

  private def statsFor(spark: SparkSession, data: Seq[String],
      keys: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      renames: Seq[RenameEvent] = Nil): DataFrame =
    Skipping.buildStats(
      eraRead(spark, renames, data, schema),
      keys.map(k => k -> col(k)))

  private def writeStats(spark: SparkSession, base: String,
      st: DataFrame): String = {
    val dir = s"$base/stats_${java.util.UUID.randomUUID().toString.take(8)}"
    st.write.mode("errorifexists").parquet(dir)
    dir
  }

  /** Carry stats across a rewrite: keep the rows of untouched files,
    * re-stat only the rewritten ones. Metadata-sized throughout;
    * rewrites already pay data I/O, so the segment list compacts back
    * to one here. */
  private def statsAfterRewrite(spark: SparkSession, base: String,
      cur: Option[(Seq[String], Seq[String])],
      untouched: Seq[String], rewritten: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType])
      : Option[(Seq[String], Seq[String])] =
    cur.map { case (keys, segs) =>
      val st = spark.read.parquet(segs: _*)
      val unt = untouched.map(Dfs.canonical).toSet
      val keepRaw = st.select("file").collect().map(_.getString(0))
        .filter(f => unt.contains(Dfs.canonical(f))).toSeq
      val keepDf = spark.createDataset(keepRaw)(
        org.apache.spark.sql.Encoders.STRING).toDF("file")
      // allowMissingColumns: a pre-`_sum` segment unions with a fresh
      // one null-filled — a null per-file sum on a not-all-null file
      // reads as "stat missing" and disables only the SUM proof
      val merged = st.join(keepDf, Seq("file"), "left_semi")
        .unionByName(statsFor(spark, rewritten, keys, schema),
          allowMissingColumns = true)
      (keys, Seq(writeStats(spark, base, merged)))
    }

  /** ANALYZE: stat every file of the latest version for `keys` and
    * publish as the next version (same data, vectors, schema). Stats
    * are computed over raw files, not vector-applied — conservative
    * and exactly as valid for pruning. The same pass additionally
    * records per-column NDV estimates (approx_count_distinct over the
    * LIVE read, vectors applied — the value the optimizer wants) into
    * the version's `_ndv` sidecar for [[ndvOf]]. */
  def analyze(spark: SparkSession, base: String, keys: Seq[String]): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val fs = files(spark, base, v)
    val m = meta(spark, base, v).carried
    val dir = writeStats(spark, base,
      statsFor(spark, fs, keys, m.schema, m.renames))
    val ndvs: Map[String, Long] =
      if (keys.isEmpty) Map.empty
      else {
        val row = readAt(spark, base, v, m).agg(
          approx_count_distinct(col(s"`${keys.head}`"), 0.02),
          keys.tail.map(k => approx_count_distinct(col(s"`$k`"), 0.02)): _*)
          .head
        keys.zipWithIndex.map { case (k, i) => k -> row.getLong(i) }.toMap
      }
    // the mergeable KMV state alongside the HLL point estimates — what
    // lets every later APPEND fold its batch in and keep NDV inside the
    // sketch's error band with no re-ANALYZE (conf-gated: a deployment
    // that re-ANALYZEs on schedule can skip the per-append fold)
    val sketches: Map[String, Seq[Long]] =
      if (keys.isEmpty || !ndvIncremental(spark)) Map.empty
      else {
        // admission thresholds from the fresh HLL estimates: uniform
        // hashes put the k-th smallest near 2^60·k/ndv, so 32× that
        // admits the true bottom-k with enormous slack while cutting
        // a near-unique column's shuffle by ~ndv/(32k); a threshold
        // that still proves short falls back to exact (exactWhenShort)
        val ts = ndvs.map { case (k, n) =>
          k -> (if (n <= 32L * ndvKmvK) Long.MaxValue
          else (math.pow(2, 60) * 32.0 * ndvKmvK / n).toLong)
        }
        kmvSketchOf(readAt(spark, base, v, m), keys, ts,
          exactWhenShort = true)
      }
    commit(spark, base, fs, m.copy(stats = Some((keys, Seq(dir))),
        ndv = m.ndv ++ ndvs, ndvKmv = m.ndvKmv ++ sketches),
      parent = Some(v), delta = Some((Seq.empty, Seq.empty)))
  }

  /** Per-append NDV sketch maintenance switch (default on): ANALYZE
    * records the KMV state, appends fold their batch into it. */
  private def ndvIncremental(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.ndv.incremental").forall(_.toBoolean)

  /** Fold per-append histograms into `_hist` (default on) — the
    * histogram twin of `graft.ndv.incremental`. Off restores the
    * inherit-verbatim + freshness-damp behavior. */
  private def histIncremental(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.hist.incremental").forall(_.toBoolean)

  /** The version's equi-height histograms, if recorded:
    * column → (bin height in rows, bins as (lo, hi, ndv) in the
    * column's CBO double projection — numeric value, date days,
    * timestamp micros: the exact domain Spark's own `ANALYZE … FOR
    * COLUMNS` histograms use, so the connector-served copy estimates
    * identically). */
  /** Live rows at the last `ANALYZE … FOR HISTOGRAM`, if recorded —
    * the freshness anchor the statistics face damps stale histogram
    * selectivity with. None on pre-freshness tables (served as
    * "fresh", today's behavior). */
  def histRowsOf(spark: SparkSession, base: String, v: Int): Option[Long] =
    histRowsOf(probe(spark, base, v))
  private def histRowsOf(sc: Sidecars): Option[Long] =
    if (!sc.has("_histrows")) None
    else scala.util.Try(sc.text("_histrows").trim.toLong).toOption

  def histOf(spark: SparkSession, base: String, v: Int)
      : Map[String, (Double, Seq[(Double, Double, Long)])] =
    histOf(probe(spark, base, v))
  private def histOf(
      sc: Sidecars): Map[String, (Double, Seq[(Double, Double, Long)])] =
    if (!sc.has("_hist")) Map.empty
    else sc.lines("_hist")
      .flatMap { line =>
        line.split("\t") match {
          case Array(c, h, bins) => scala.util.Try((c, (h.toDouble,
            bins.split(";").iterator.filter(_.nonEmpty).map { b =>
              val p = b.split(":")
              (p(0).toDouble, p(1).toDouble, p(2).toLong)
            }.toSeq))).toOption
          case _ => None
        }
      }.toMap

  /** ANALYZE … FOR HISTOGRAM — the selectivity tier NDV cannot give:
    * per-column EQUI-HEIGHT histograms over the LIVE rows (vectors
    * applied), `numBins` bins bounded by approximate quantiles with
    * per-bin NDV from one `ApproxCountDistinctForIntervals` pass —
    * exactly Spark's own `spark.sql.statistics.histogram.enabled`
    * construction, persisted in the manifest's sidecar tier instead
    * of a metastore. Two jobs per ANALYZE regardless of table size
    * (a quantile sketch pass + one interval-NDV aggregation); the
    * result is a few hundred doubles per column, inherited by every
    * later commit until the next ANALYZE.
    *
    * Why it matters at scale: uniform-NDV estimation prices every key
    * of a skewed column identically (1/ndv); a 95%-hot key then looks
    * broadcastable when it is 95% of the table. The histogram prices
    * each VALUE by the bins it occupies, so the optimizer can tell
    * the hot key from a rare one — the broadcast/join-order decision
    * flips to the right plan (ManifestStatsSpec pins it, with the
    * estimate-vs-actual numbers). Defined over numeric, date and
    * timestamp columns (Spark's own histogram domain). */
  def analyzeHistograms(spark: SparkSession, base: String,
      keys: Seq[String], numBins: Int = 64): Int = {
    require(keys.nonEmpty, "histogram ANALYZE needs at least one column")
    require(numBins >= 2 && numBins <= 4096, s"bad numBins $numBins")
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    val (hists, liveRows) =
      histogramsOf(spark, readAt(spark, base, v, m), keys, numBins)
    commit(spark, base, files(spark, base, v),
      m.copy(hist = m.hist ++ hists, histRows = liveRows.orElse(m.histRows)),
      parent = Some(v), delta = Some((Seq.empty, Seq.empty)))
  }

  /** The histogram computation under [[analyzeHistograms]] over an
    * arbitrary frame — also the per-APPEND pass that feeds
    * [[HistogramMerge]]: (per-column equi-height histograms, total row
    * count). Columns with no non-null rows are omitted. */
  private def histogramsOf(spark: SparkSession, live: DataFrame,
      keys: Seq[String], numBins: Int)
      : (Map[String, (Double, Seq[(Double, Double, Long)])], Option[Long]) = {
    val resolver = spark.sessionState.analyzer.resolver
    import org.apache.spark.sql.types._
    def proj(k: String): Column = {
      val f = live.schema.fields.find(f => resolver(f.name, k))
        .getOrElse(sys.error(s"no column '$k' in the frame"))
      f.dataType match {
        case _: NumericType => col(s"`${f.name}`").cast(DoubleType)
        case DateType => datediff(col(s"`${f.name}`"),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast(DoubleType)
        case TimestampType | TimestampNTZType =>
          unix_micros(col(s"`${f.name}`").cast(TimestampType))
            .cast(DoubleType)
        case dt => sys.error(s"histograms are defined over " +
          s"numeric/date/timestamp columns — '$k' is ${dt.catalogString}")
      }
    }
    val projected = live.select(keys.zipWithIndex.map { case (k, i) =>
      proj(k).as(s"__h$i") }: _*)
    val probs = (0 to numBins).map(_.toDouble / numBins).toArray
    // one quantile-sketch pass over every column together
    val bounds: Seq[Array[Double]] = projected.stat.approxQuantile(
      keys.indices.map(i => s"__h$i").toArray, probs, 0.001).toSeq
    // one interval-NDV + count pass: per column, the NDV of each
    // quantile-bounded bin (Spark's AnalyzeColumnCommand expression)
    val aggs: Seq[Column] = keys.indices.flatMap { i =>
      if (bounds(i) == null || bounds(i).isEmpty) Seq.empty
      else {
        val ep = org.apache.spark.sql.catalyst.expressions.Literal
          .create(bounds(i), ArrayType(DoubleType))
        val child = org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute(s"__h$i")
        Seq(org.apache.spark.sql.graft.ColumnShim.column(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .ApproxCountDistinctForIntervals(child, ep, 0.05)
            .toAggregateExpression()).as(s"__ndv$i"),
          count(col(s"__h$i")).as(s"__n$i"))
      }
    }
    if (aggs.isEmpty) (Map.empty, None)
    else {
      // the freshness anchor rides the same single aggregation pass
      val row = projected.agg(aggs.head,
        (aggs.tail :+ count(lit(1)).as("__histn")): _*).head
      (keys.zipWithIndex.flatMap { case (k, i) =>
        if (bounds(i) == null || bounds(i).isEmpty) None
        else {
          val ndvs = row.getAs[scala.collection.Seq[Long]](s"__ndv$i")
          val n = row.getAs[Long](s"__n$i")
          if (n == 0L) None
          else Some(k -> (n.toDouble / numBins,
            (0 until numBins).map(b =>
              (bounds(i)(b), bounds(i)(b + 1),
                math.max(1L, ndvs(b)))).toSeq))
        }
      }.toMap, Some(row.getAs[Long]("__histn")))
    }
  }

  /** Stats-pruned read: plan only the files whose zones can satisfy
    * every `lo <= key <= hi` conjunct — plus any file the stats do not
    * cover (conservative). Pruning drops a file only when provably
    * empty for the box; the caller still applies the exact row
    * predicate, which also pushes down into the surviving scans. */
  def readWhere(spark: SparkSession, base: String,
      box: Seq[(String, Any, Any)]): DataFrame = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    statsOf(spark, base, v) match {
      case None => readAt(spark, base, v)
      case Some((keys, segs)) =>
        // the KEY LIST is the stats contract: a column narrowed out of
        // it (rename/widen) may keep stale typed extrema in older
        // segments while appended segments null-fill them — pruning on
        // a non-key column would read those nulls as "prunable" and
        // silently lose the appended files' rows. Non-key box
        // components simply don't prune (conservative, never wrong).
        val effBox = box.filter(b => keys.contains(b._1))
        if (effBox.isEmpty) return readAt(spark, base, v)
        val st = spark.read.parquet(segs: _*)
        val cand = Skipping.candidateFiles(st, effBox).map(Dfs.canonical).toSet
        val covered = st.select("file").collect()
          .map(r => Dfs.canonical(r.getString(0))).toSet
        val keep = files(spark, base, v).filter { f =>
          val c = Dfs.canonical(f)
          cand.contains(c) || !covered.contains(c)
        }
        if (keep.isEmpty) readAt(spark, base, v).limit(0)
        else liveRead(spark, keep, dvFiles(spark, base, v),
          schemaOf(spark, base, v), renamesOf(spark, base, v))
    }
  }

  /** Additive schema evolution: new columns append, existing columns
    * must keep their type (a silent INT→STRING rewrite would corrupt
    * every reader — refuse, like Delta without overwriteSchema). */
  private[ext] def evolveSchema(
      old: org.apache.spark.sql.types.StructType,
      add: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val byName = old.fields.map(f => f.name -> f).toMap
    add.fields.foreach(f => byName.get(f.name).foreach(o =>
      require(o.dataType == f.dataType,
        s"column ${f.name}: incompatible type evolution " +
          s"${o.dataType.simpleString} -> ${f.dataType.simpleString}")))
    // an evolution-added field records NULLABLE regardless of the
    // batch's own flag: every pre-evolution file null-fills it, so a
    // non-null bit here would be a false contract (and the recorded
    // bit IS enforced — see enforceConstraints). SET NOT NULL can
    // tighten it later, with proof.
    org.apache.spark.sql.types.StructType(
      old.fields ++ add.fields.filterNot(f => byName.contains(f.name))
        .map(_.copy(nullable = true)))
  }

  /** The union schema two versions' READERS share (the change-feed
    * range endpoints): identical names keep their type unless the two
    * sides differ by a lossless widening ([[isWideningConversion]]), in
    * which case the WIDER type wins — both eras' files read under it
    * natively via the parquet reader's type promotion. Anything else
    * refuses (the [[evolveSchema]] contract: a type rewrite never
    * happens silently). Append-time evolution stays STRICT on purpose:
    * a type-mismatched append would write mixed-typed stats segments —
    * widening is an explicit DDL step ([[widenColumn]]). */
  private[graft] def unionWiden(
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val aNames = a.fields.map(_.name).toSet
    val merged = a.fields.map { o =>
      b.fields.find(_.name == o.name) match {
        case Some(n) if n.dataType == o.dataType => o
        case Some(n) if isWideningConversion(o.dataType, n.dataType) =>
          o.copy(dataType = n.dataType)
        case Some(n) if isWideningConversion(n.dataType, o.dataType) => o
        case Some(n) => sys.error(s"column ${o.name}: incompatible " +
          s"type evolution ${o.dataType.simpleString} -> " +
          s"${n.dataType.simpleString}")
        case None => o
      }
    }
    org.apache.spark.sql.types.StructType(
      merged ++ b.fields.filterNot(f => aNames.contains(f.name)))
  }

  /** Deletion-vector sidecar files of version `v` (absolute URIs);
    * empty when the version carries none. Each sidecar is a tiny
    * parquet of `(__file, __pos)` rows marking deleted positions in
    * otherwise-untouched data files (see [[deleteWhereMor]]). */
  def dvFiles(spark: SparkSession, base: String, v: Int): Seq[String] =
    dvFiles(probe(spark, base, v))
  private def dvFiles(sc: Sidecars): Seq[String] = {
    require(sc.has("_SUCCESS"),
      s"version ${sc.v} was never committed under ${sc.base}")
    if (!sc.has("_deletes")) Seq.empty else sc.lines("_deletes")
  }

  /** The version's CDF update classification, when its write recorded
    * one (`graft.cdf.updateImages`): (postimage data files, update-
    * rowId sidecar files). `Some((Nil, Nil))` — marker present, lists
    * empty — still certifies the version's update info is COMPLETE (a
    * DELETE-only or insert-only statement); `None` means the version
    * was written without the flag and the feed must fall back to the
    * content diff for it. */
  def cdcOf(spark: SparkSession, base: String,
      v: Int): Option[(Seq[String], Seq[String])] =
    if (!Dfs.exists(spark, s"$base/v$v/_cdcupd")) None
    else {
      val lines = new String(
        Dfs.readBytes(spark, s"$base/v$v/_cdcupd"), "UTF-8")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      Some((
        lines.collect { case l if l.startsWith("P\t") => l.drop(2) },
        lines.collect { case l if l.startsWith("D\t") => l.drop(2) }))
    }

  /** The committed tag of version `v`, if any. */
  def tagOf(spark: SparkSession, base: String, v: Int): Option[String] =
    if (Dfs.exists(spark, s"$base/v$v/_tag"))
      Some(new String(Dfs.readBytes(spark, s"$base/v$v/_tag"), "UTF-8"))
    else None

  /** The latest committed version's tag, if any. */
  def latestTag(spark: SparkSession, base: String): Option[String] =
    latestVersion(spark, base).flatMap(tagOf(spark, base, _))

  /** The transaction ledger version `v` carries: writer appId → the
    * highest batch/epoch id committed for it (empty for pre-ledger
    * versions — consumers fall back to the path-marker scan). A ledger
    * that EXISTS but cannot be read or parsed throws rather than
    * reporting "no ledger": a silent empty here would re-admit a
    * replayed batch as new — duplicated rows, the exact corruption the
    * ledger exists to prevent. */
  def txnsOf(spark: SparkSession, base: String, v: Int): Map[String, Long] =
    txnEntriesOf(spark, base, v)._1.view.mapValues(_._1).toMap

  /** The parsed ledger: LIVE appId → (high-water id, last-touched
    * millis) and TOMBSTONED appId → expired-at millis. Line formats:
    * `app<TAB>id<TAB>ts` (current), `app<TAB>id` (legacy — ts = -1,
    * stamped at next inheritance), `!app<TAB>ts` (tombstone). The one
    * parser every ledger consumer rides — format changes stay here. */
  private[graft] def txnEntriesOf(spark: SparkSession, base: String,
      v: Int): (Map[String, (Long, Long)], Map[String, Long]) =
    if (!Dfs.exists(spark, s"$base/v$v/_txns")) (Map.empty, Map.empty)
    else {
      val live = Map.newBuilder[String, (Long, Long)]
      val dead = Map.newBuilder[String, Long]
      new String(Dfs.readBytes(spark, s"$base/v$v/_txns"), "UTF-8")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .foreach { l =>
          if (l.startsWith("!")) {
            val i = l.lastIndexOf('\t')
            require(i > 1, s"malformed _txns tombstone in $base/v$v: '$l'")
            dead += l.substring(1, i) -> l.substring(i + 1).toLong
          } else {
            val parts = l.split('\t')
            def num(s: String) = scala.util.Try(s.toLong).toOption
            (if (parts.length >= 3) num(parts(parts.length - 1))
              .zip(num(parts(parts.length - 2))) else None) match {
              case Some((ts, id)) =>
                live += parts.dropRight(2).mkString("\t") -> (id, ts)
              case None =>
                val i = l.lastIndexOf('\t')
                require(i > 0, s"malformed _txns line in $base/v$v: '$l'")
                live += l.substring(0, i) -> (l.substring(i + 1).toLong, -1L)
            }
          }
        }
      (live.result(), dead.result())
    }

  /** Stage new data files under a fresh `data_<uuid>` directory of
    * `base` and list them, filesystem-qualified (the spelling every
    * manifest's set arithmetic compares by). The caller shapes the
    * frame — its partitioning decides the files; `split` = (specs, n)
    * writes through [[writeSplitByTuple]] instead, one file per
    * partition tuple. Nothing is published: files a writer stages and
    * never commits are [[sweepOrphans]] residue. */
  private def stageData(base: String, shaped: DataFrame,
      split: Option[(Seq[String], Int)] = None): Seq[String] = {
    val dir = s"$base/data_${java.util.UUID.randomUUID().toString.take(8)}"
    split match {
      case Some((specs, n)) => writeSplitByTuple(shaped, dir, specs, n)
      case None => shaped.write.mode("errorifexists").parquet(dir)
    }
    Dfs.dataFiles(shaped.sparkSession, dir).map(_.getPath.toString)
  }

  /** Stage ONE empty data file from version `v`'s recorded schema (its
    * first file's footer when none is recorded) — the file an emptied
    * table's manifest needs, built from metadata without a data scan. */
  private def stageEmpty(spark: SparkSession, base: String,
      v: Int): Seq[String] = {
    val s = schemaOf(spark, base, v)
      .getOrElse(spark.read.parquet(files(spark, base, v).head).schema)
    stageData(base, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s).coalesce(1))
  }

  /** Bootstrap: write `df` as a fresh immutable data directory and
    * commit its part files as the next version. `recordSchema`
    * overrides the RECORDED schema (names and types must match the
    * data; used by the catalog to record DECLARED nullability instead
    * of the incoming query's inferred bits — a VALUES plan's fields
    * arrive non-nullable, and plan-derived nullability cannot be
    * relaxed by projection). */
  def commitData(df: DataFrame, base: String,
      recordSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Int = {
    val spark = df.sparkSession
    recordSchema.foreach { rs =>
      require(rs.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        "recordSchema must match the data's names and types")
    }
    val fs = stageData(base, df)
    // an overwrite on a live table must still honor its constraints
    val latest = latestVersion(spark, base)
    enforceConstraints(spark, base, latest, fs, Some(df.schema),
      overwrite = true)
    commit(spark, base, fs, overwriteMeta(spark, base, latest)
      .copy(schema = Some(recordSchema.getOrElse(df.schema))))
  }

  /** Bootstrap a BUCKETED table: rows are hash-partitioned on `keys`
    * into `numBuckets` files whose names carry Spark's bucket-id suffix,
    * and the (keys, n) spec is recorded in the version metadata. A
    * relation read ([[graft.sources.manifest.DefaultSource]]) then
    * exposes the spec as a `BucketSpec`, and Catalyst treats the scan
    * as already hash-partitioned on the keys: joins and aggregations
    * between tables bucketed the same way run with ZERO exchange — at
    * 100 TB the repeated fact⋈dim shuffle is pre-paid once, here.
    *
    * This works because `repartition(n, keys)` and bucketing use the
    * SAME partition function (`pmod(murmur3(keys), n)`), so output
    * partition i contains exactly bucket i's rows; the file rename
    * only makes that explicit in the name Spark's reader parses
    * (`BucketingUtils.getBucketId`). Rewriting writes (delete, merge,
    * update, compact) and appends do NOT carry the spec forward: their
    * output files are not bucket-shaped, and a wrong spec would give
    * silently wrong joins — losing the no-shuffle property is the safe
    * failure. Re-bucket with a fresh [[commitDataBucketed]]. */
  def commitDataBucketed(df: DataFrame, base: String,
      keys: Seq[String], numBuckets: Int, sortBy: Seq[String] = Nil): Int = {
    require(keys.nonEmpty && numBuckets > 0)
    val spark = df.sparkSession
    // sortBy makes the buckets SORTED buckets: each bucket is one file
    // (repartition -> one output partition per bucket) written in key
    // order, the spec records the ordering, and the scan reports it —
    // so a sort-merge join on the keys skips its SortExecs too: the
    // join runs exchange-free AND sort-free, a pure streamed merge
    val shaped = df.repartition(numBuckets, keys.map(col): _*)
    val written = stageData(base,
      if (sortBy.isEmpty) shaped
      else shaped.sortWithinPartitions(sortBy.map(col): _*))
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    // listing paths are filesystem-qualified, the spelling every other
    // write path's set arithmetic compares by — and so are their renames
    val renamed = written.map { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val name = path.getName
      // part-<partitionIdx>-<uuid>...: partition idx IS the bucket id
      val bucket = name.split("-")(1).toInt
      val dot = name.indexOf('.')
      val withId = name.substring(0, dot) +
        BucketingUtils.bucketIdToString(bucket) + name.substring(dot)
      // fail loudly if a committer naming change ever breaks the parse:
      // a mis-assigned bucket id would mean silently wrong exchange-free
      // joins, the one failure mode this layout must never admit
      require(BucketingUtils.getBucketId(withId).contains(bucket),
        s"bucket-id rename drifted from Spark's parser: $name -> $withId")
      require(bucket < numBuckets,
        s"parsed bucket id $bucket out of range for $numBuckets buckets ($name)")
      val to = new org.apache.hadoop.fs.Path(path.getParent, withId).toString
      Dfs.rename(spark, f, to)
      to
    }
    val latest = latestVersion(spark, base)
    enforceConstraints(spark, base, latest, renamed, Some(df.schema),
      overwrite = true)
    // the spec is part of the record, so it lands before `_SUCCESS`:
    // a failed write leaves no visible version missing its layout
    commit(spark, base, renamed, overwriteMeta(spark, base, latest).copy(
      schema = Some(df.schema),
      bucketSpec = Some((numBuckets, keys, sortBy))))
  }

  /** The recorded bucket layout of version `v`, if that version was
    * written by [[commitDataBucketed]]: (numBuckets, keys, sortCols). */
  def bucketSpecOf(spark: SparkSession, base: String,
      v: Int): Option[(Int, Seq[String], Seq[String])] =
    bucketSpecOf(probe(spark, base, v))
  private def bucketSpecOf(
      sc: Sidecars): Option[(Int, Seq[String], Seq[String])] =
    if (!sc.has("_bucketspec")) None
    else {
      val lines = sc.text("_bucketspec").split("\n")
      def cols(i: Int) =
        if (lines.length <= i) Seq.empty
        else lines(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      Some((lines(0).trim.toInt, cols(1), cols(2)))
    }

  /** The version's partition metadata, if committed with any:
    * (partition column names, path of the partition-values parquet —
    * one row per (file, distinct partition tuple) the file contains). */
  def partitionedBy(spark: SparkSession, base: String,
      v: Int): Option[(Seq[String], Seq[String])] =
    partitionedBy(probe(spark, base, v))
  private def partitionedBy(
      sc: Sidecars): Option[(Seq[String], Seq[String])] =
    if (!sc.has("_partcols")) None
    else Some((sc.lines("_partcols"), sc.lines("_partvalues")))

  /** The CURRENT partition-tuple semantics version: 2 = time
    * transforms UTC-pinned (Iceberg's TZ-free definition). Version 1
    * is the pre-UTC era, whose month/year/day tuples over TIMESTAMP
    * sources were derived in the writer's session zone. */
  val PartSemCurrent = 2

  /** The tuple-SEMANTICS version of `v`'s recorded partition tuples
    * (`_partsem`). Absent marker on a PARTITIONED version means the
    * table predates the marker — the pre-UTC era, version 1; an
    * unpartitioned version has no tuples to distrust and reports
    * current. Consumers refuse TZ-sensitive lowering/SPJ below
    * [[PartSemCurrent]] ([[PartField.tzSensitive]]). */
  def partSemOf(spark: SparkSession, base: String, v: Int): Int =
    partSemOf(probe(spark, base, v))
  private def partSemOf(sc: Sidecars): Int =
    if (sc.has("_partsem")) sc.text("_partsem").trim.toInt
    else if (sc.has("_partcols")) 1
    else PartSemCurrent

  /** False when `v`'s recorded tuples predate UTC semantics AND the
    * spec carries a TZ-sensitive field ([[PartField.tzSensitive]]) —
    * tuple-exact consumers (SPJ purity, dynamic-overwrite region
    * discovery) must then refuse rather than mix eras. Unknown source
    * types count sensitive, conservatively. */
  def partTuplesTrusted(spark: SparkSession, base: String, v: Int,
      pcols: Seq[String]): Boolean =
    partSemOf(spark, base, v) >= PartSemCurrent || {
      val resolver = spark.sessionState.analyzer.resolver
      val sch = schemaOf(spark, base, v)
      PartitionTransforms.parseAll(pcols).forall { f =>
        f.isIdentity || f.transform == "bucket" ||
          f.transform == "truncate" ||
          sch.flatMap(_.fields.find(x => resolver(x.name, f.source)))
            .exists(x => !f.tzSensitive(x.dataType))
      }
    }

  /** LEGACY partition-spec groups of version `v` (oldest first): files
    * written before an [[evolvePartitions]] keep planning under the
    * tuples THEIR spec recorded. Each group is (specs, sidecar segment
    * paths); the CURRENT group is [[partitionedBy]]. Empty on tables
    * that never evolved — the pre-evolution world, byte-identical. */
  def partitionHistory(spark: SparkSession, base: String,
      v: Int): Seq[(Seq[String], Seq[String])] =
    partitionHistory(probe(spark, base, v))
  private def partitionHistory(
      sc: Sidecars): Seq[(Seq[String], Seq[String])] =
    if (!sc.has("_parthistory")) Seq.empty
    else sc.lines("_parthistory")
      .flatMap { line =>
        line.split("\\|") match {
          case Array(cols, segs) => Some((
            cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
            segs.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
          case _ => None
        }
      }.toSeq

  /** EVOLVE THE PARTITION SPEC (Iceberg's `ALTER TABLE ... ADD/REPLACE
    * PARTITION FIELD`, the thing a growing table outlives its CTAS spec
    * for — daily becomes hourly the day the volume demands it): a
    * METADATA-ONLY commit — same files, same vectors, zero data jobs —
    * that records `newSpecs` as the spec FUTURE writes derive tuples
    * under, while every existing file keeps planning under the spec it
    * was written with (the old current group moves to `_parthistory`
    * and pruning intersects the per-group survivor sets). Consequences,
    * by construction:
    *
    *  - source-column predicates keep pruning BOTH eras exactly — each
    *    group lowers under its own spec;
    *  - the SPJ purity proof and metadata-only aggregates/DML degrade
    *    to "current group covers every file", i.e. they come back the
    *    moment OPTIMIZE ([[compact]]) rewrites the table under one
    *    spec — maintenance restores what evolution suspended;
    *  - an evolve to the SAME spec is a no-op (returns the current
    *    version, burns nothing).
    *
    * Works on unpartitioned tables too (the files before the evolve
    * simply carry no tuples and are never pruned — conservative). */
  def evolvePartitions(spark: SparkSession, base: String,
      newSpecs: Seq[String]): Int = {
    require(newSpecs.nonEmpty,
      "evolvePartitions needs at least one partition field — there is " +
        "no un-partition evolution (compact() under no spec instead)")
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    val sch = m.schema.getOrElse(
      spark.read.parquet(files(spark, base, v).head).schema)
    PartitionTransforms.validateAll(newSpecs, sch,
      spark.sessionState.analyzer.resolver)
    val old = m.partValues
    // same-spec short-circuit on the PARSED fields, not raw strings: a
    // semantically identical spec re-spelled (spacing, case of a bare
    // column vs the resolver's) must not burn a version whose empty
    // current group degrades SPJ and metadata DML until an OPTIMIZE
    val resolver = spark.sessionState.analyzer.resolver
    def sameField(a: PartField, b: PartField): Boolean =
      a.transform == b.transform && a.param == b.param &&
        resolver(a.source, b.source)
    if (old.exists { o =>
      val of = PartitionTransforms.parseAll(o._1)
      val nf = PartitionTransforms.parseAll(newSpecs)
      of.size == nf.size && of.zip(nf).forall((sameField _).tupled)
    }) return v
    // the new current group starts EMPTY: a zero-row sidecar carrying
    // the new tuple schema, so every downstream consumer (pruning,
    // purity folds, rewrites) reads it unchanged — existing files are
    // simply uncovered by the current group (kept by pruning, failing
    // the exactness proofs) until appends/OPTIMIZE populate it
    val seg = writeEmptyPartValues(spark, base, newSpecs, sch)
    commit(spark, base, files(spark, base, v),
      m.copy(partValues = Some((newSpecs, Seq(seg))),
        partHistory = m.partHistory ++ old.toSeq),
      parent = Some(v), tag = Some("evolve-partitions"),
      delta = Some((Seq.empty, Seq.empty)))
  }

  /** A zero-row partition-values sidecar under `cols`' tuple schema —
    * the empty current group an [[evolvePartitions]] commit starts
    * with. `repartition(1)` forces one (empty) part file so schemaless
    * readers of the segment still resolve. */
  private def writeEmptyPartValues(spark: SparkSession, base: String,
      cols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): String = {
    val dir = s"$base/pv_${java.util.UUID.randomUUID().toString.take(8)}"
    val resolver = spark.sessionState.analyzer.resolver
    val fields = PartitionTransforms.parseAll(cols).map { f =>
      val srcType = schema.fields.find(x => resolver(x.name, f.source))
        .map(_.dataType).getOrElse(sys.error(
          s"partition spec ${f.spec}: source column '${f.source}' is " +
            "not in the schema"))
      org.apache.spark.sql.types.StructField(
        f.tupleName, f.outputType(srcType))
    }
    val sch = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType) +: fields)
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      .repartition(1)
      .write.mode("errorifexists").parquet(dir)
    dir
  }

  /** One distributed scan: the distinct partition tuples each of
    * `data`'s files contains, written as a tiny parquet keyed by file
    * path. Metadata-sized output: a row per (file, tuple) — with a
    * clustered write that is ~1 tuple per file. `cols` are partition
    * SPECS ([[PartitionTransforms]]): identity fields record the raw
    * column under its own name, transformed fields record the DERIVED
    * value (`months(ts)` → `ts_month`) — the values pruning and SPJ
    * group files by. */
  private def writePartValues(spark: SparkSession, base: String,
      data: Seq[String], cols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): String = {
    val dir = s"$base/pv_${java.util.UUID.randomUUID().toString.take(8)}"
    val df = schema.fold(spark.read)(spark.read.schema(_)).parquet(data: _*)
    df.select(input_file_name().as("file") +:
        tupleColumns(df.schema, cols): _*)
      .distinct()
      .write.mode("errorifexists").parquet(dir)
    dir
  }

  /** The spec list's tuple-derivation columns over a frame carrying the
    * source columns, each aliased to its sidecar tuple name. */
  private def tupleColumns(
      schema: org.apache.spark.sql.types.StructType,
      specs: Seq[String]): Seq[Column] =
    PartitionTransforms.parseAll(specs).map { f =>
      val srcType = schema.fields.find(_.name == f.source)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(f.source)))
        .map(_.dataType).getOrElse(sys.error(
          s"partition spec ${f.spec}: source column '${f.source}' is " +
            "not in the data schema"))
      f.tupleColumn(srcType).as(f.tupleName)
    }

  /** Carry partition metadata across a rewrite: keep the tuples of
    * untouched files, re-derive only the rewritten ones — the same
    * incremental contract as [[statsAfterRewrite]]. */
  private def partValuesAfterRewrite(spark: SparkSession, base: String,
      cur: Option[(Seq[String], Seq[String])],
      untouched: Seq[String], rewritten: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType])
      : Option[(Seq[String], Seq[String])] =
    cur.map { case (cols, segs) =>
      val pv = spark.read.parquet(segs: _*)
      val unt = untouched.map(Dfs.canonical).toSet
      val keepRaw = pv.select("file").distinct().collect()
        .map(_.getString(0)).filter(f => unt.contains(Dfs.canonical(f))).toSeq
      val keepDf = spark.createDataset(keepRaw)(
        org.apache.spark.sql.Encoders.STRING).toDF("file")
      val kept = pv.join(keepDf, Seq("file"), "left_semi")
      val merged =
        if (rewritten.isEmpty) kept
        else kept.unionByName(spark.read.parquet(
          writePartValues(spark, base, rewritten, cols, schema)): DataFrame)
      val dir = s"$base/pv_${java.util.UUID.randomUUID().toString.take(8)}"
      merged.write.mode("errorifexists").parquet(dir)
      (cols, Seq(dir))
    }

  /** The per-file bloom index recorded at version `v`, if any:
    * (indexed keys, sidecar parquet SEGMENT paths). Each segment holds
    * one row per data file with a serialized bloom filter per key
    * (`<k>_bloom` BINARY) — Delta's bloom-filter-index shape: the
    * pruning lever for EQUALITY on a high-cardinality key whose
    * values scatter across every file, where min/max zones admit
    * everything.
    *
    * The index is SEGMENTED (append-only, Iceberg-manifest-list shape):
    * at the default 1<<20 bits a row is ~128 KB per file per key, so
    * rewriting one merged sidecar per append would write O(files) bloom
    * bytes per single-file append — O(n²) cumulative. Instead an append
    * adds a segment covering ONLY its new files ([[appendBatch]]), and
    * rewrites/ANALYZE compact the list back to one segment. Readers
    * union the segments; rows are disjoint by construction (a data file
    * appears in exactly one segment of a version's list). */
  def bloomOf(spark: SparkSession, base: String,
      v: Int): Option[(Seq[String], Seq[String])] =
    bloomOf(probe(spark, base, v))
  private def bloomOf(sc: Sidecars): Option[(Seq[String], Seq[String])] =
    if (!sc.has("_bloomfile")) None
    else Some((sc.lines("_bloomkeys"), sc.lines("_bloomfile")))

  /** One bloom filter per (data file, key): one column-pruned scan,
    * map-side-merged by bitwise OR (Spark's own BloomFilterAggregate —
    * codegen, fixed `graft.bloom.bits` size regardless of cardinality,
    * so the exchange carries bits/8 bytes per file per key). Rows hash
    * with xxhash64 over the column's native type; the probe side
    * hashes its literal identically, so membership is exact up to the
    * filter's false-positive rate — false negatives impossible, which
    * is the contract pruning needs. Files can carry different filter
    * sizes across versions (each row is self-contained), so resizing
    * the conf never invalidates an existing index. */
  private def buildBlooms(spark: SparkSession, data: Seq[String],
      keys: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      renames: Seq[RenameEvent] = Nil): DataFrame = {
    graft.functions.BloomExprs.register(spark)
    val bits = spark.conf.getOption("graft.bloom.bits")
      .map(_.toLong).getOrElse(1L << 20)
    val est = spark.conf.getOption("graft.bloom.items")
      .map(_.toLong).getOrElse(bits / 16)
    eraRead(spark, renames, data, schema)
      .select(input_file_name().as("file") +: keys.map(col): _*)
      .groupBy("file")
      .agg(
        expr(s"bloom_agg(xxhash64(`${keys.head}`), ${est}L, ${bits}L)")
          .as(s"${keys.head}_bloom"),
        keys.tail.map(k =>
          expr(s"bloom_agg(xxhash64(`$k`), ${est}L, ${bits}L)")
            .as(s"${k}_bloom")): _*)
  }

  private def writeBlooms(spark: SparkSession, base: String,
      bl: DataFrame): String = {
    val dir = s"$base/bloom_${java.util.UUID.randomUUID().toString.take(8)}"
    bl.write.mode("errorifexists").parquet(dir)
    dir
  }

  /** Carry the bloom index across a rewrite: keep untouched files'
    * rows, rebuild only the rewritten ones — [[statsAfterRewrite]]'s
    * incremental contract. Rewrites already pay data I/O, so this is
    * also where the segment list COMPACTS back to one. */
  private def bloomsAfterRewrite(spark: SparkSession, base: String,
      cur: Option[(Seq[String], Seq[String])],
      untouched: Seq[String], rewritten: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType])
      : Option[(Seq[String], Seq[String])] =
    cur.map { case (keys, segs) =>
      val bl = spark.read.parquet(segs: _*)
      val unt = untouched.map(Dfs.canonical).toSet
      val keepRaw = bl.select("file").collect()
        .map(_.getString(0)).filter(f => unt.contains(Dfs.canonical(f))).toSeq
      val keepDf = spark.createDataset(keepRaw)(
        org.apache.spark.sql.Encoders.STRING).toDF("file")
      // project to the LIVE keys' columns: a rename/drop narrows the
      // key list but the old segments still carry the retired key's
      // bloom column, and a bare union with the fresh (narrow) build
      // would fail on the column mismatch
      val kept = bl.join(keepDf, Seq("file"), "left_semi")
        .select(col("file") +: keys.map(k => col(s"`${k}_bloom`")): _*)
      val merged =
        if (rewritten.isEmpty) kept
        else kept.unionByName(buildBlooms(spark, rewritten, keys, schema))
      (keys, Seq(writeBlooms(spark, base, merged)))
    }

  /** `m` carried across a copy-on-write rewrite read under `schema`:
    * zone stats, partition tuples and blooms keep their `untouched`
    * rows and re-derive only the `rewritten` files (each compacting to
    * one segment), and the version publishes no vectors — the rewrite
    * paths either refuse vectored input or materialize it. */
  private def afterRewrite(spark: SparkSession, base: String,
      m: VersionMeta, untouched: Seq[String], rewritten: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): VersionMeta =
    m.copy(dv = Nil, schema = schema,
      stats = statsAfterRewrite(spark, base, m.stats, untouched, rewritten,
        schema),
      partValues = partValuesAfterRewrite(spark, base, m.partValues,
        untouched, rewritten, schema),
      blooms = bloomsAfterRewrite(spark, base, m.blooms, untouched,
        rewritten, schema))

  /** `m` extended by freshly appended `newFiles` read under `schema`:
    * existing zone-stat, partition-tuple and bloom SEGMENTS carry by
    * reference and each tier gains one segment covering only the new
    * files, so per-append sidecar writes are ∝ appended files, never
    * the table (a merged sidecar would be O(files) per append, O(n²)
    * cumulative at ~128 KB per file per bloom key). */
  private def withAppended(spark: SparkSession, base: String,
      m: VersionMeta, newFiles: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): VersionMeta =
    if (newFiles.isEmpty) m
    else m.copy(
      stats = m.stats.map { case (keys, segs) =>
        (keys, segs :+ writeStats(spark, base,
          statsFor(spark, newFiles, keys, schema))) },
      partValues = m.partValues.map { case (cols, segs) =>
        (cols, segs :+ writePartValues(spark, base, newFiles, cols, schema)) },
      blooms = m.blooms.map { case (keys, segs) =>
        (keys, segs :+ writeBlooms(spark, base,
          buildBlooms(spark, newFiles, keys, schema))) })

  /** ANALYZE ... FOR BLOOM: build the per-file bloom index for `keys`
    * over the latest version and publish it as the next version (data,
    * vectors, schema, zone stats, partition metadata all carried BY
    * REFERENCE — the one rewrite is the sidecar). Every subsequent
    * write maintains the index incrementally: appends bloom only the
    * new files, rewrites rebuild only the rewritten ones, MoR deletes
    * and restores carry it verbatim (a vector hides rows but a bloom
    * false positive just means one pruned-in file — conservative,
    * never wrong). */
  def analyzeBloom(spark: SparkSession, base: String,
      keys: Seq[String]): Int = {
    require(keys.nonEmpty, "bloom ANALYZE needs at least one key")
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val fs = files(spark, base, v)
    val m = meta(spark, base, v).carried
    val dir = writeBlooms(spark, base,
      buildBlooms(spark, fs, keys, m.schema, m.renames))
    commit(spark, base, fs, m.copy(blooms = Some((keys, Seq(dir)))),
      parent = Some(v), delta = Some((Seq.empty, Seq.empty)))
  }

  /** Bootstrap a PARTITIONED table — the manifest twin of Hive/Delta
    * `PARTITIONED BY`, in the ICEBERG shape: partition columns stay IN
    * the data files (no path-encoded values, no schema surgery), and
    * the manifest records per file the distinct partition tuples it
    * contains. A partition predicate then prunes files from manifest
    * metadata alone — before zone maps, before any data footer — which
    * is how a date-partitioned 100 TB table answers "last week only"
    * reading a handful of files. The write range-clusters rows by the
    * partition columns so each file covers ~one tuple; pruning power
    * degrades gracefully (never correctness) if the clustering is
    * loose, because the metadata is derived from file CONTENT, not
    * from the layout promise. Every rewrite path maintains the
    * metadata incrementally ([[partValuesAfterRewrite]]); appends
    * derive tuples for the new files only. */
  /** Session opt-in for the partition-SPLIT physical layout
    * (`graft.write.splitByPartition`): every data file holds exactly
    * ONE partition tuple — Delta and Iceberg's layout, where a file
    * never straddles a partition boundary. The default (range-
    * clustered, possibly mixed boundary files) stays for existing
    * tables; split layout is what makes a version satisfy the
    * storage-partitioned-join purity proof
    * ([[ManifestFileIndex.purePartitionTuples]]), which is checked —
    * never assumed — at scan time, so mixing layouts across versions
    * degrades SPJ conservatively, not wrongly. */
  private def splitByPartition(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.write.splitByPartition")
      .exists(_.toBoolean)

  /** Partition-split write via the stock writer's dynamic-partition
    * machinery: the partition columns are DUPLICATED under alias names
    * and `partitionBy` is given the aliases, so the writer splits
    * files at tuple boundaries (directory per tuple) while the REAL
    * columns stay in the data — the manifest's reader contract keeps
    * partition values in the files, Iceberg-style. The nested layout
    * is then FLATTENED by per-file rename (one metadata RPC per file,
    * the same order as the write's own commit renames), so downstream
    * paths see the flat directory every other write produces and
    * partition-column inference can never fire on `alias=value` path
    * segments. `repartition(cols)` co-locates each tuple in one task
    * first: ~one file per tuple, not one per (task, tuple). */
  private def writeSplitByTuple(df: DataFrame, dir: String,
      partCols: Seq[String], n: Int): Unit = {
    val spark = df.sparkSession
    // overwrite semantics, like the plain writers here: a retried
    // attempt must not trip over a partial earlier landing
    if (Dfs.exists(spark, dir)) Dfs.delete(spark, dir, recursive = true)
    // the split key is the TUPLE value (transform-derived for hidden
    // partitioning) — a monthly-partitioned write splits at month
    // boundaries, a bucketed one at bucket boundaries
    val tuples = tupleColumns(df.schema, partCols)
    val aliases = tuples.zipWithIndex.map { case (_, i) => s"__gp_$i" }
    val tmp = s"$dir/_split"
    val dup = tuples.zip(aliases).foldLeft(df) {
      case (d, (c, a)) => d.withColumn(a, c) }
    dup.repartition(n, tuples: _*)
      .sortWithinPartitions(tuples: _*)
      .write.mode("errorifexists").partitionBy(aliases: _*).parquet(tmp)
    Dfs.dataFilesDeep(spark, tmp).zipWithIndex.foreach { case (st, i) =>
      Dfs.rename(spark, st.getPath.toString,
        s"$dir/p${i}_${st.getPath.getName}")
    }
    Dfs.delete(spark, tmp, recursive = true)
  }

  def commitDataPartitioned(df: DataFrame, base: String,
      partCols: Seq[String], filesPerWrite: Int = 0,
      overwrite: Boolean = false,
      recordSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Int = {
    require(partCols.nonEmpty, "partitioned commit needs partition columns")
    val spark = df.sparkSession
    PartitionTransforms.validateAll(partCols, df.schema,
      spark.sessionState.analyzer.resolver)
    // PARTITION-SPEC EVOLUTION is pinned, not accidental (Delta's refusal
    // shape): each version records its own spec (`_partcols`), so a
    // whole-table overwrite MAY legitimately re-partition — but only when
    // the caller says so. Without `overwrite`, a second partitioned
    // commit against a live table either silently shadowed the old data
    // (same spec — probably meant appendBatch) or changed the spec out
    // from under readers who saw one table with two partitioning stories.
    // Time travel keeps working either way: every retained version prunes
    // by the spec IT recorded.
    latestVersion(spark, base).foreach { v =>
      require(overwrite,
        s"$base already has committed version $v — a partitioned commit " +
          "REPLACES the table (its manifest lists only the new files). " +
          "Pass overwrite=true to re-partition deliberately, or use " +
          "appendBatch, which derives tuples for appended files under " +
          "the recorded spec.")
    }
    val n = if (filesPerWrite > 0) filesPerWrite
      else spark.sessionState.conf.numShufflePartitions
    val files =
      if (splitByPartition(spark)) stageData(base, df, Some((partCols, n)))
      else {
        // cluster by the TUPLE values so each file covers ~one tuple —
        // under a transform spec that means month/bucket clustering, not
        // raw source clustering (which for bucket would scatter)
        val tuples = tupleColumns(df.schema, partCols)
        stageData(base, df.repartitionByRange(n, tuples: _*)
          .sortWithinPartitions(tuples: _*))
      }
    val latest = latestVersion(spark, base)
    enforceConstraints(spark, base, latest, files, Some(df.schema),
      overwrite = true)
    commit(spark, base, files, overwriteMeta(spark, base, latest).copy(
      schema = Some(recordSchema.getOrElse(df.schema)),
      partValues = Some((partCols,
        Seq(writePartValues(spark, base, files, partCols, Some(df.schema))))),
      // a whole-table re-partition derives EVERY file under the new
      // spec: any evolution history of the superseded table is moot —
      // and every tuple is current-semantics by construction
      partHistory = Nil, partSem = PartSemCurrent))
  }

  /** Data rows tagged with their physical address: parquet's hidden
    * `_metadata` struct gives the file path and the row's position
    * within it — stable coordinates because data files are immutable.
    * The anchor every deletion-vector operation joins on. */
  private def withPos(df: DataFrame): DataFrame =
    df.select(col("*"), col("_metadata.file_path").as("__file"),
      col("_metadata.row_index").as("__pos"))

  /** Read `data` with deletion vectors `dvs` applied: one file scan
    * whose parquet reader drops the deleted positions
    * ([[graft.sources.manifest.DvParquetFileFormat]] over [[dvIndex]]).
    * `keepPos` adds each live row's `__file`/`__pos`. Live column
    * renames (the era read aliases pre-rename files' physical names)
    * and an index past its budget or over an unreadable footer take
    * the distributed anti-join instead, always correct and never
    * memory-bound: one collect of the distinct touched files, then a
    * `(__file, __pos)` anti-join of only those files' rows. */
  private def liveRead(spark: SparkSession, data: Seq[String],
      dvs: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      renames: Seq[RenameEvent] = Nil,
      keepPos: Boolean = false)
      : DataFrame = {
    def rd(fs: Seq[String], pos: Boolean = keepPos) =
      eraRead(spark, renames, fs, schema, withPositions = pos)
    if (dvs.isEmpty) return rd(data)
    val index =
      if (renames.exists(_.preFiles.nonEmpty)) None
      else dvIndex(spark, dvs, Some(data.map(Dfs.canonical).toSet))
    index match {
      case Some(dv) =>
        val df = spark.baseRelationToDataFrame(
          graft.sources.manifest.DefaultSource.filesRelation(spark, data, schema, dv))
        if (keepPos) withPos(df) else df
      case None =>
        val dv = spark.read.schema(DvSchema).parquet(dvs: _*)
        val dvRawFiles = dv.select("__file").distinct().collect()
          .map(_.getString(0))
        val touched = dvRawFiles.map(Dfs.canonical).toSet
        val (hit, clean) = data.partition(f => touched.contains(Dfs.canonical(f)))
        if (hit.isEmpty) rd(data)
        else {
          val hitCanon = hit.map(Dfs.canonical).toSet
          val dvHitRaw = dvRawFiles.filter(r => hitCanon.contains(Dfs.canonical(r)))
          val dvHit =
            if (dvHitRaw.length == dvRawFiles.length) dv
            else dv.filter(col("__file").isin(dvHitRaw.toIndexedSeq: _*))
          val applied = antiJoin(rd(hit, pos = true), dvHit)
          val shed = if (keepPos) applied else applied.drop("__file", "__pos")
          if (clean.isEmpty) shed else shed.unionByName(rd(clean))
        }
    }
  }

  /** `rows` (carrying `__file`, `__pos`) less the positions `dv`
    * records, in `rows`' own column order — the index path's shape. */
  private def antiJoin(rows: DataFrame, dv: DataFrame): DataFrame =
    rows.join(dv, Seq("__file", "__pos"), "left_anti")
      .select(rows.columns.map(c => col(s"`$c`")).toSeq: _*)

  /** The schema the write path gives every deletion-vector sidecar —
    * stating it skips a footer read for schema inference. */
  private val DvSchema = "__file STRING, __pos BIGINT"

  /** One deletion-vector sidecar as the driver holds it: its footer
    * record count, and — read on first use, with parquet-hadoop on the
    * driver, no Spark job — its positions per raw `__file` spelling. A
    * sidecar is immutable and UUID-named, so the entry never goes
    * stale; a version over the index budget reads footers only. */
  private final class DvSidecar(val records: Long, read: () => Map[String, Array[Long]]) {
    lazy val positions: Map[String, Array[Long]] = read()
  }

  /** Per-sidecar entries, weighed by position count: a cleared
    * namespace just re-reads footers and positions on next use. */
  private val dvSidecars = graft.AppCache.namespace[String, DvSidecar](
    "manifests.dv_sidecars", bound = 16L << 20, weigh = _.records + 1)

  /** The entries of `dvs`, or None when any footer is unreadable. A
    * cached entry opens no file; a miss reads the footer only. */
  private def dvEntries(spark: SparkSession, dvs: Seq[String])
      : Option[Seq[DvSidecar]] = {
    val es = dvs.map { p =>
      val k = Dfs.canonical(p)
      dvSidecars.peek(spark, k).orElse(Dfs.parquetRecords(spark, p).map { n =>
        val conf = spark.sessionState.newHadoopConf()
        val e = new DvSidecar(n, () => readDvSidecar(conf, p))
        dvSidecars.put(spark, k, e)
        e
      })
    }
    if (es.forall(_.isDefined)) Some(es.flatten) else None
  }

  private def readDvSidecar(conf: org.apache.hadoop.conf.Configuration,
      path: String): Map[String, Array[Long]] = {
    val r = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport,
        new org.apache.hadoop.fs.Path(path))
      .withConf(conf).build()
    val buf = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
    try {
      var g = r.read()
      while (g != null) {
        buf.getOrElseUpdate(g.getString("__file", 0),
          new scala.collection.mutable.ArrayBuilder.ofLong) += g.getLong("__pos", 0)
        g = r.read()
      }
    } finally r.close()
    buf.iterator.map { case (f, b) => (f, b.result()) }.toMap
  }

  /** Raw `__file` spelling → every position the sidecars record for it
    * (a multiset: the same position in two sidecars appears twice). */
  private def positionsOf(es: Seq[DvSidecar]): Map[String, Array[Long]] =
    es.flatMap(_.positions).groupBy(_._1).map { case (f, ps) =>
      f -> ps.flatMap(_._2).toArray }

  private def dvIndexMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.dv.indexMaxBytes")
      .map(_.toLong).getOrElse(64L << 20)

  /** The deletion-vector index of a sidecar set, the one the parquet
    * readers apply: canonical data-file path → deleted-position bitmap
    * words, the OR-merge of the per-sidecar entries (raw `__file`
    * spellings of one file merge), restricted to `scope`'s files
    * (canonical paths) when given. None past the `graft.dv.indexMaxBytes`
    * budget (default 64 MB) or when a footer is unreadable, and the
    * caller takes its anti-join fallback. The budget bounds both costs:
    * the driver build (8 bytes a position, every sidecar's footer
    * count, checked before any position is read) and the shipped
    * bitmap bytes (the max-position span of each kept file); a
    * position past 2³¹ also falls back. */
  private[graft] def dvIndex(spark: SparkSession, dvs: Seq[String],
      scope: Option[Set[String]] = None)
      : Option[Map[String, Array[Long]]] = {
    val maxBytes = dvIndexMaxBytes(spark)
    dvEntries(spark, dvs).filter(_.map(_.records).sum <= maxBytes / 8)
      .flatMap { es =>
        val pos = positionsOf(es).toSeq.groupBy(e => Dfs.canonical(e._1))
          .collect { case (f, ps) if scope.forall(_.contains(f)) =>
            f -> ps.flatMap(_._2) }
        val mx = pos.map { case (f, ps) => f -> ps.max }
        if (mx.valuesIterator.map(_ / 8 + 64).sum > maxBytes ||
            mx.valuesIterator.exists(_ >= Int.MaxValue)) None
        else Some(pos.map { case (f, ps) =>
          val bs = new java.util.BitSet(mx(f).toInt + 1)
          ps.foreach(p => bs.set(p.toInt))
          f -> bs.toLongArray
        })
      }
  }

  /** `dv_contains(__file, __pos)` over `bits` (raw spellings): the
    * codegen'd membership probe — one bit test per row, no join, no
    * shuffle — that selects the change feed's churned rows. */
  private def dvProbe(bits: Iterable[(String, java.util.BitSet)]): Column = {
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.util.BitSet]
    bits.foreach { case (f, bs) =>
      m.put(org.apache.spark.unsafe.types.UTF8String.fromString(f), bs) }
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(graft.functions.DvContains(
      ColumnShim.expression(col("__file")),
      ColumnShim.expression(col("__pos")),
      new graft.functions.DvIndex(m)))
  }

  /** Both directions of a signed DV-churn diff (columns __file, __pos,
    * __imb; sign +1 = position only in the range's end, -1 = only in
    * its start) indexed in ONE stats pass + ONE collect: per direction,
    * the touched-file list (raw-path canonical, unsorted-set semantics,
    * returned sorted) and the bitmap membership probe under the same
    * per-direction byte budget and fallback contract as
    * [[dvIndex]] (None = over budget, caller semi-joins).
    * Directions with no churned positions are absent from the map. */
  private[graft] def dvChurnIndex(spark: SparkSession, imb: DataFrame,
      local: Option[Map[(Int, String), Seq[Long]]] = None)
      : Map[Int, (Seq[String], Option[Column])] = {
    val dirCol = signum(col("__imb")).cast("int").as("__dir")
    // when the caller already cancelled the churn DRIVER-side (small
    // feeds — position count certified by sidecar footer metadata),
    // `local` carries the netted (dir, file) -> positions map and this
    // runs ZERO jobs; otherwise stats-first over the distributed
    // imbalance, positions collected only for in-budget directions.
    val stats: Seq[(Int, String, Long, Long)] = local match {
      case Some(m) =>
        m.toSeq.map { case ((dir, f), ps) => (dir, f, ps.max, ps.size.toLong) }
      case None => imb.groupBy(col("__file"), dirCol)
        .agg(max(col("__pos")).as("mx"), count(lit(1)).as("n")).collect()
        .map(r => (r.getInt(1), r.getString(0), r.getLong(2), r.getLong(3)))
        .toSeq
    }
    if (stats.isEmpty) return Map.empty
    val maxBytes = dvIndexMaxBytes(spark)
    val byDir = stats.groupBy(_._1)
    // same two-cost budget as dvIndex, per direction
    val inBudget = byDir.map { case (dir, rows) =>
      dir -> !(rows.map(_._3 / 8 + 64).sum > maxBytes ||
        rows.map(_._4).sum > maxBytes / 8 ||
        rows.exists(_._3 >= Int.MaxValue))
    }
    val okDirs = inBudget.filter(_._2).keys.toSeq
    val bitmaps = scala.collection.mutable.Map.empty[Int,
      scala.collection.mutable.Map[String, java.util.BitSet]]
    if (okDirs.nonEmpty) {
      val posRows: Iterable[(Int, String, Seq[Long])] = local match {
        case Some(m) =>
          m.collect { case ((dir, f), ps) if okDirs.contains(dir) =>
            (dir, f, ps) }
        case None => imb.filter(signum(col("__imb")).cast("int")
            .isin(okDirs: _*))
          .groupBy(col("__file"), dirCol)
          .agg(collect_list(col("__pos")).as("ps")).collect()
          .map(r => (r.getInt(1), r.getString(0), r.getSeq[Long](2))).toSeq
      }
      posRows.foreach { case (dir, f, ps) =>
        val bs = new java.util.BitSet()
        ps.foreach(p => bs.set(p.toInt))
        bitmaps.getOrElseUpdate(dir, scala.collection.mutable.Map.empty)
          .put(f, bs)
      }
    }
    byDir.map { case (dir, rows) =>
      val touched = rows.map(t => Dfs.canonical(t._2)).distinct.sorted.toSeq
      val probe =
        if (!inBudget(dir)) None
        else Some(dvProbe(bitmaps.getOrElse(dir, Map.empty)))
      dir -> ((touched, probe))
    }
  }

  /** The live rows of version `v`: the version's batch relation
    * ([[graft.sources.manifest.DefaultSource.relationAt]], the one
    * `spark.read.format("manifest")` serves), one parquet file scan
    * whose reader drops the deleted positions of a vectored version
    * and whose listing prunes files by partition, zone map and bloom
    * on pushed filters. A version with live column renames or a DV
    * index past its budget reads through [[liveRead]]'s era read or
    * anti-join instead. */
  def readAt(spark: SparkSession, base: String, v: Int): DataFrame =
    readAt(spark, base, v, meta(spark, base, v))

  /** [[readAt]] through `v`'s already-read record `m`. */
  private def readAt(spark: SparkSession, base: String, v: Int,
      m: VersionMeta, keepPos: Boolean = false): DataFrame =
    graft.sources.manifest.DefaultSource.relationAt(spark, base, v, m) match {
      case Some(r) =>
        val df = spark.baseRelationToDataFrame(r)
        if (keepPos) withPos(df) else df
      case None => liveRead(spark, files(spark, base, v), m.dv, m.schema,
        m.renames, keepPos)
    }

  /** [[readAt]] with the row-identity columns kept: every live row
    * carries `__file` (the data file's `_metadata.file_path` spelling)
    * and `__pos` (its physical position in that file) — the rowId pair
    * the merge-on-read tier keys deletion vectors on. Serves the
    * metadata-column face (`_file`/`_pos`) on read paths that cannot
    * ride the columnar DV scan (live renames, blown bitmap budget). */
  private[graft] def readAtWithPos(spark: SparkSession, base: String,
      v: Int): DataFrame =
    readAt(spark, base, v, meta(spark, base, v), keepPos = true)

  def readLatest(spark: SparkSession, base: String): DataFrame =
    readAt(spark, base, latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base")))

  /** DESCRIBE HISTORY: every committed version with its commit wall
    * time and tag, ascending. The commit time is the `_SUCCESS`
    * marker's filesystem mtime — stamped by the filesystem at the
    * atomic publish instant, so it needs no clock of its own and is
    * exactly as trustworthy as the commit protocol itself. Listing
    * cost is one directory scan + one status per version: metadata,
    * never data. */
  def history(spark: SparkSession, base: String): Seq[(Int, Long, Option[String])] =
    Dfs.list(spark, base)
      .flatMap(_.getPath.getName match {
        case vPattern(n) if Dfs.exists(spark, s"$base/v$n/_SUCCESS") => Some(n.toInt)
        case _ => None
      })
      .sorted
      .map(v => (v, commitTimestampOf(spark, base, v), tagOf(spark, base, v)))

  /** The commit's wall-clock instant (epoch millis): the timestamp the
    * committing writer RECORDED in the version payload (`_counts` line
    * 5) — not filesystem mtime, which a copy/restore/rsync rewrites.
    * Legacy versions (pre-record) fall back to the `_SUCCESS` marker's
    * mtime, which was the previous best answer. */
  def commitTimestampOf(spark: SparkSession, base: String, v: Int): Long =
    countsRaw(spark, base, v).lift(4)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(Dfs.mtime(spark, s"$base/v$v/_SUCCESS"))

  /** The bytes version `v`'s commit ADDED to the table (sizes of files
    * not carried from the parent manifest), recorded at commit time.
    * None when unrecorded (legacy version) or unknown (-1). */
  def addedBytesOf(spark: SparkSession, base: String, v: Int): Option[Long] =
    try {
      if (!Dfs.exists(spark, s"$base/v$v/_counts")) None
      else new String(Dfs.readBytes(spark, s"$base/v$v/_counts"), "UTF-8")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
        .lift(2).map(_.toLong).filter(_ >= 0)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The (n data files, n deletion-vector files) summary recorded at
    * commit time — one 2-line read instead of re-reading the manifest
    * and delete list. None only for versions committed before the
    * `_counts` record existed. */
  def countsOf(spark: SparkSession, base: String, v: Int): Option[(Int, Int)] =
    try {
      if (!Dfs.exists(spark, s"$base/v$v/_counts")) None
      else {
        val ls = new String(Dfs.readBytes(spark, s"$base/v$v/_counts"), "UTF-8")
          .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
        Some((ls(0).toInt, ls(1).toInt))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[history]] as a DataFrame — DESCRIBE HISTORY for manifest tables:
    * one row per committed version with its commit time, tag, and file
    * counts. Metadata-sized AND manifest-free: the counts come from the
    * per-version `_counts` summary, so a thousand-commit history costs
    * a thousand tiny-file reads, never a thousand manifest parses
    * (legacy versions without the summary fall back to the manifest). */
  def historyDf(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    history(spark, base).map { case (v, t, tag) =>
      val (nf, ndv) = countsOf(spark, base, v).getOrElse(
        (files(spark, base, v).size, dvFiles(spark, base, v).size))
      (v, new java.sql.Timestamp(t), tag, nf, ndv,
        bucketSpecOf(spark, base, v).isDefined)
    }.toDF("version", "committed_at", "tag", "n_files", "n_dv_files", "bucketed")
  }

  /** The files of a version as a DataFrame — DESCRIBE DETAIL's file
    * listing: path and size, left-joined with the version's zone-map
    * stats when recorded, so "which files, how big, covering what key
    * ranges" is one metadata query. */
  def filesDf(spark: SparkSession, base: String, v: Int): DataFrame = {
    import spark.implicits._
    val fs = files(spark, base, v).map { f =>
      (Dfs.canonical(f),
        Dfs.fs(spark, f).getFileStatus(
          new org.apache.hadoop.fs.Path(f)).getLen)
    }.toDF("file", "size_bytes")
    statsOf(spark, base, v) match {
      case None => fs
      case Some((_, segs)) =>
        val st = spark.read.parquet(segs: _*)
          .withColumn("file", expr("reflect('java.lang.String', 'valueOf', file)"))
        // canonicalize the stats table's input_file_name() spelling so
        // the join key matches the listing's Hadoop path strings
        val canon = udf((s: String) => Dfs.canonical(s))
        fs.join(st.withColumn("file", canon(col("file"))), Seq("file"), "left")
    }
  }

  /** Timestamp time travel: the latest version whose commit landed at
    * or before `tsMillis` — "the table as of last Tuesday 09:00",
    * resolved against commit times rather than version numbers. None
    * when the table did not exist yet. Monotonicity caveat shared with
    * every mtime-based format: version order is authoritative, so the
    * scan takes the HIGHEST qualifying version even if a skewed clock
    * recorded a later version with an earlier stamp. */
  def versionAsOf(spark: SparkSession, base: String,
      tsMillis: Long): Option[Int] =
    history(spark, base).filter(_._2 <= tsMillis) match {
      case Seq() => None
      case hs => Some(hs.map(_._1).max)
    }

  /** Read the table as of a wall-clock instant ([[versionAsOf]]). */
  def readAsOf(spark: SparkSession, base: String, tsMillis: Long): DataFrame =
    readAt(spark, base, versionAsOf(spark, base, tsMillis).getOrElse(
      sys.error(s"$base has no version committed at or before $tsMillis")))

  /** Small-file compaction through the manifest protocol — the
    * OPTIMIZE to [[vacuum]]'s VACUUM: rewrite the current version's
    * files into `targetFiles` right-sized ones and publish the result
    * as the next version. Unlike [[Layout.compact]] (which writes a
    * new directory a caller must swap in), the publish is atomic and
    * the pre-compaction version remains readable until vacuumed —
    * compaction never risks the table. Content is row-exact by
    * construction (one repartition, no filter).
    *
    * `clusterBy` turns the rewrite into OPTIMIZE + CLUSTER: the same
    * one-shuffle job range-partitions and sorts by the keys instead of
    * hashing, so each output file covers a narrow key range and the
    * re-statted zone maps ([[statsAfterRewrite]]) make [[readWhere]]
    * prune tightly — compaction and re-clustering are the same rewrite,
    * paid once. (For genuinely multi-dimensional predicates, cluster by
    * a precomputed Morton column via [[graft.functions.ZOrder2]], as
    * [[Layout.writeClustered]] does — range-on-zkey composes here
    * unchanged.) Returns (files before, files after, new version). */
  def compact(spark: SparkSession, base: String,
      targetFiles: Int, clusterBy: Seq[String] = Nil): (Int, Int, Int) = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val cur = files(spark, base, v)
    // reads through the version's deletion vectors, so compaction is
    // also the MATERIALIZE step: the rewritten files carry no deleted
    // rows and the new version carries no vectors
    val m = meta(spark, base, v).carried
    val live = readAt(spark, base, v, m)
    val rewritten = (clusterBy, m.partValues.map(_._1)) match {
      // a PARTITIONED table compacts at tuple boundaries by default
      // (Delta/Iceberg OPTIMIZE never merges across partitions): each
      // output file holds exactly one partition tuple, so compaction
      // RESTORES the storage-partitioned-join purity proof — a table
      // whose default range-clustered writes left mixed boundary files
      // becomes SPJ-eligible by OPTIMIZE, not only by opt-in split
      // writes. `targetFiles` bounds the shuffle parallelism; the
      // split lands ~one file per live tuple.
      case (Nil, Some(specs)) =>
        stageData(base, live, Some((specs, math.max(1, targetFiles))))
      case (Nil, None) =>
        stageData(base, live.repartition(targetFiles))
      case (cols, _) =>
        stageData(base, live.repartitionByRange(targetFiles, cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*))
    }
    // tagged content-preserving (Delta's OPTIMIZE dataChange=false):
    // the live row multiset is unchanged by construction (vectors
    // materialize rows that were already logically deleted in earlier
    // versions), so the change feed serves this step EMPTY instead of
    // paying a whole-table content diff that provably nets to zero
    val nv = commit(spark, base, rewritten,
      afterRewrite(spark, base, m, Seq.empty, rewritten, Some(live.schema))
        // the full rewrite re-derived EVERY file under the current spec:
        // evolution history is spent — dropping it is what RESTORES the
        // SPJ purity proof and the metadata-only tiers after an evolve,
        // and every tuple is current-semantics again (the OPTIMIZE that
        // upgrades a pre-UTC table)
        .copy(partHistory = Nil, partSem = PartSemCurrent),
      parent = Some(v), tag = Some("compact"), preservesContent = true)
    (cur.size, rewritten.size, nv)
  }

  /** Merge-on-read surgical delete — the O(deleted rows) twin of
    * [[deleteWhere]]'s O(affected files) copy-on-write: instead of
    * rewriting every file the predicate touches, write a DELETION
    * VECTOR — a tiny parquet sidecar of `(file, position)` pairs — and
    * publish a version whose manifest carries the SAME data files plus
    * the vector. Zero data bytes move; a reader drops the vectored
    * positions inside its parquet scan ([[liveRead]] over
    * [[graft.sources.manifest.DvParquetFileFormat]]), untouched files
    * stream through unchanged. The Delta/Iceberg v2 position-delete
    * shape, rebuilt on plain parquet via `_metadata.row_index`.
    *
    * Contract (matches [[deleteWhere]], pinned by ManifestsSpec):
    * null predicate rows survive; a predicate matching nothing burns
    * no version; successive deletes accumulate vectors (each computed
    * over LIVE rows only, so vectors never overlap); [[compact]]
    * materializes vectors away; [[vacuum]] reclaims superseded ones.
    * FULL-FILE ELISION (Delta's invariant): a file whose every live
    * row matches is retired from the manifest, never vectored — a
    * vector covering the whole file is just a file drop paid at read
    * time forever. Only boundary files (some rows match, some
    * survive) get vectors, so a clustered whole-partition delete is
    * manifest-shaped and the reader's position filtering covers the
    * boundary, not the partition ([[commitMor]] owns the split).
    * The write-amplification trade: MoR makes deletes cheap and reads
    * of the vectored files pay a per-row position check until the
    * next compaction — the right side of the trade when deletes are
    * frequent and small (CDC, right-to-be-forgotten) on a 100 TB table.
    *
    * Sidecar LAYOUT is a table invariant, not a task-parallelism
    * accident: exactly ONE sidecar file per touched data file, rows
    * grouped by the data file they address ([[LiveReader.writeVectors]]).
    * Grouping uses an exact
    * per-file partitioner over the collected touched-file list (DV
    * metadata, bounded by the delete footprint) — a hash
    * `repartition(col("__file"))` would make the count deterministic
    * but could still fold two data files into one sidecar on a bucket
    * collision, and the per-file grouping is what lets a reader (or a
    * future per-file vector compaction) address one data file's
    * deletes without scanning every sidecar. Returns
    * (rows deleted, new version).
    *
    * `asOf` pins the snapshot (defaults to latest); losing the version
    * race rebases across concurrent pure appends whose rows the
    * predicate never matches ([[rebaseLoop]]) — the vectors address
    * only snapshot-era files, which every winner carried untouched, so
    * the rebased commit is the serial result verbatim. */
  def deleteWhereMor(spark: SparkSession, base: String,
      pred: Column, asOf: Option[Int] = None): (Long, Int) = {
    val v = asOf.orElse(latestVersion(spark, base))
      .getOrElse(sys.error(s"no committed version under $base"))
    val lr = new LiveReader(spark, base, v)
    val hit = coalesce(pred, lit(false))
    // Per-file accounting in ONE map-side-combined pass: live rows per
    // file and how many of them the predicate matches (null predicate
    // values SURVIVE — same contract as deleteWhere). Only the
    // genuinely PARTIAL files are re-read to emit positions
    // (file-pruned second pass over the boundary).
    val perFile = lr.accounting(lr.liveOf(lr.cur),
      sum(when(hit, 1L).otherwise(0L)))
    // an appended file can never be retired, so on rebase the
    // subtraction commutes with the appends exactly like deleteWhere's
    (perFile.map(_._3).sum, commitMor(lr, perFile, Right(Seq.empty),
      Left(_.filter(hit)),
      added => lr.rd(added).filter(hit).limit(1).count() > 0))
  }

  /** Per-version live-read scaffolding shared by the whole MoR DML
    * tier ([[deleteWhereMor]], [[updateWhereMor]], [[mergeMor]],
    * [[commitDeltaWrite]]) and its commit core [[commitMor]]: `rd`
    * reads files under the version's eras and recorded schema,
    * `liveOf` reads the live rows with their `__file`/`__pos` the way
    * [[readAtWithPos]] does, `accounting` and `withTotals` count per
    * file the live and matched rows that split retire-vs-vector, and
    * `writeVectors` writes the sidecars. One definition of the live
    * arithmetic for every MoR writer. */
  private final class LiveReader(val spark: SparkSession, val base: String,
      val v: Int) {
    val cur: Seq[String] = files(spark, base, v)
    private val m = meta(spark, base, v)
    val sch: Option[org.apache.spark.sql.types.StructType] = m.schema
    def rd(fs: Seq[String], pos: Boolean = false): DataFrame =
      eraRead(spark, m.renames, fs, sch, withPositions = pos)
    def liveOf(fs: Seq[String]): DataFrame =
      if (fs == cur) readAt(spark, base, v, m, keepPos = true)
      else liveRead(spark, fs, m.dv, sch, m.renames, keepPos = true)
    /** The snapshot's files whose canonical path `keep` holds. */
    def pick(keep: String => Boolean): Seq[String] =
      cur.filter(f => keep(Dfs.canonical(f)))
    /** The record a commit derived from `parent` starts from — the
      * snapshot's own, already read, unless a rebase moved past it. */
    def carriedAt(parent: Int): VersionMeta =
      (if (parent == v) m else meta(spark, base, parent)).carried
    /** The sidecars vectoring out the live rows `hit` keeps from the
      * `partial` files (canonical paths): exactly ONE sidecar file per
      * touched data file, the layout [[deleteWhereMor]] documents. */
    def writeVectors(partial: Set[String])(hit: DataFrame => DataFrame)
        : Seq[String] = {
      val vecFiles = pick(partial)
      if (vecFiles.isEmpty) return Seq.empty
      val dvRows = hit(liveOf(vecFiles)).select(col("__file"), col("__pos"))
      val touched = partial.toArray.sorted
      val index = spark.sparkContext.broadcast(touched.zipWithIndex.toMap)
      val shaped = dvRows.rdd
        .map(r => (index.value(Dfs.canonical(r.getString(0))), r))
        .partitionBy(new org.apache.spark.Partitioner {
          override def numPartitions: Int = touched.length
          override def getPartition(key: Any): Int = key.asInstanceOf[Int]
        })
        .map(_._2)
      val dir = s"$base/dv_${java.util.UUID.randomUUID().toString.take(8)}"
      spark.createDataFrame(shaped, dvRows.schema)
        .write.mode("errorifexists").parquet(dir)
      Dfs.dataFiles(spark, dir).map(_.getPath.toString)
    }
    /** The per-file accounting [[commitMor]] takes, in ONE
      * map-side-combined pass over `rows` (live rows with `__file`):
      * (canonical file, live rows, `matched`) for every file `matched`
      * counts a row of. */
    def accounting(rows: DataFrame, matched: Column): Seq[(String, Long, Long)] =
      rows.groupBy("__file")
        .agg(count(lit(1)).as("__total"), matched.as("__matched"))
        .filter(col("__matched") > 0)
        .collect()
        .map(r => (Dfs.canonical(r.getString(0)), r.getLong(1), r.getLong(2)))
        .toSeq
    /** `matched` (canonical file → matched live rows) as that accounting, with each file's live total from
      * one file-pruned pass over the matched files only. A file with
      * no live row left counts 0 live rows, so it vectors. */
    def withTotals(matched: Map[String, Long]): Seq[(String, Long, Long)] = {
      val fs = pick(matched.contains)
      val totals =
        if (fs.isEmpty) Map.empty[String, Long]
        else liveOf(fs).groupBy("__file").count()
          .collect().map(r => (Dfs.canonical(r.getString(0)), r.getLong(1)))
          .toMap
      matched.toSeq.sorted.map { case (f, n) => (f, totals.getOrElse(f, 0L), n) }
    }
  }

  /** The merge-on-read commit core — [[commitRewrite]]'s twin, and the
    * one publish path of the four MoR writers ([[deleteWhereMor]],
    * [[updateWhereMor]], [[mergeMor]], [[commitDeltaWrite]]), each of
    * which keeps only its discovery pass and its images. Given the
    * per-file accounting `(canonical file, live rows, matched rows)`
    * of the snapshot's touched files, it:
    *
    *  - stages the new row images: `Left((frame, rows))` writes under a
    *    fresh data dir sized by ROWS, not touched-file count (≈1M rows
    *    per output file, capped at the session's parallelism — a spread
    *    update of a few rows in each of 1,000 files lands as one file, a
    *    50M-row insert-heavy batch keeps cluster parallelism);
    *    `Right(files)` adopts files the engine already wrote;
    *  - splits RETIRE (every live row matched — FULL-FILE ELISION) from
    *    VECTOR (some rows matched). An empty manifest is
    *    unrepresentable (and an empty table should stay readable): when
    *    the statement kills every live row of every file and appends
    *    nothing, one fully-dead file stays behind fully-vectored;
    *  - validates the images against CHECK constraints and NOT NULL;
    *  - writes the vectors for the partial set (`Left(hit)`: the live
    *    rows `hit` keeps, via [[LiveReader.writeVectors]]) or adopts the
    *    engine's sidecars (`Right`), all of them or — when no file stays
    *    partial — none;
    *  - commits survivors + images with the snapshot's vectors plus
    *    this statement's, rebasing across concurrent pure appends that
    *    clear `conflictsWith` ([[rebaseLoop]]). The images extend the
    *    sidecars like an append ([[withAppended]], derived per attempt
    *    from that attempt's parent).
    *
    * Nothing matched and nothing appended burns no version: the
    * snapshot's number returns. */
  private def commitMor(lr: LiveReader, perFile: Seq[(String, Long, Long)],
      images: Either[(DataFrame, Long), Seq[String]],
      vectors: Either[DataFrame => DataFrame, Seq[String]],
      conflictsWith: Seq[String] => Boolean,
      tag: Option[String] = None, txn: Option[(String, Long)] = None,
      cdcUpd: Option[Seq[String]] = None): Int = {
    import lr.{spark, base, v, sch}
    if (perFile.isEmpty && images.fold(_._2 == 0L, _.isEmpty)) return v
    val newFiles = images match {
      case Left((frame, rows)) =>
        stageData(base, frame.repartition(math.max(1,
          math.min(spark.sparkContext.defaultParallelism,
            math.ceil(rows / 1000000.0).toInt))))
      case Right(written) => written
    }
    val (fullE, partialE) = perFile.partition { case (_, t, n) => n == t }
    var full = fullE.map(_._1).toSet
    var partial = partialE.map(_._1).toSet
    if (newFiles.isEmpty && partial.isEmpty && full.size == lr.cur.size) {
      val keep = full.min
      full -= keep; partial += keep
    }
    enforceConstraints(spark, base, Some(v), newFiles, sch)
    val written = vectors match {
      case Left(hit) => lr.writeVectors(partial)(hit)
      case Right(sidecars) => if (partial.nonEmpty) sidecars else Seq.empty
    }
    rebaseLoop(spark, base, v, conflictsWith) { parent =>
      val (retired, kept) = files(spark, base, parent)
        .partition(f => full.contains(Dfs.canonical(f)))
      val m = lr.carriedAt(parent)
      commit(spark, base, kept ++ newFiles,
        withAppended(spark, base, m, newFiles, sch)
          .copy(dv = m.dv ++ written),
        parent = Some(parent), tag = tag,
        delta = Some((newFiles, retired)), txn = txn, cdcUpd = cdcUpd)
    }
  }

  /** Merge-on-read UPDATE — [[updateWhere]]'s O(changed rows) twin and
    * the missing leg of the MoR tier beside [[deleteWhereMor]]: the
    * matched rows' OLD images are deletion-vectored out of their files
    * (which carry by reference, bytes untouched) and their NEW images
    * append as fresh files — ONE atomic commit, Iceberg's
    * merge-on-read UPDATE shape. An UPDATE touching 100 rows of a
    * 100 TB table writes one small vector sidecar plus one small data
    * file. Because nothing rewrites raw files, it composes with
    * EXISTING vectors (reads through them, stacks its own on top)
    * where the CoW twin must refuse ("compact() first" — its raw-file
    * rewrite would resurrect previously vectored rows). Files whose
    * every live row matches are RETIRED outright (the full-file
    * elision invariant); only boundary files get vectors. SET
    * expressions read the OLD row; null predicate values leave the
    * row alone; new images are validated against CHECK constraints
    * and NOT NULL like any append. Returns (files touched, rows
    * updated, new version). */
  def updateWhereMor(spark: SparkSession, base: String,
      pred: Column, set: Map[String, Column],
      asOf: Option[Int] = None): (Int, Long, Int) = {
    require(set.nonEmpty, "UPDATE with an empty SET list is a no-op")
    val v = asOf.orElse(latestVersion(spark, base))
      .getOrElse(sys.error(s"no committed version under $base"))
    val lr = new LiveReader(spark, base, v)
    val live = lr.liveOf(lr.cur)
    set.keys.foreach(k => require(
      live.columns.contains(k) && k != "__file" && k != "__pos",
      s"UPDATE sets unknown column '$k' — updates cannot add columns"))
    val hit = coalesce(pred, lit(false))
    // discovery is a PUSHED filter over the live read (row-group skips
    // apply where the predicate translates), counting matches per
    // file; the live TOTALS — needed only to split retire-vs-vector —
    // come from a second, file-pruned pass over the affected files
    val matched = live.filter(hit).groupBy("__file").count()
      .collect().map(r => (Dfs.canonical(r.getString(0)), r.getLong(1)))
      .toMap
    if (matched.isEmpty) return (0, 0L, v) // no match: no version
    val perFile = lr.withTotals(matched)
    val updated = matched.values.sum
    // the NEW images: matched LIVE rows with the SET applied — read
    // from the AFFECTED files only (every match lives there), derived
    // from snapshot v before the commit loop, like every rewrite
    val fields = live.schema.fields
      .filterNot(f => f.name == "__file" || f.name == "__pos")
    val images = lr.liveOf(lr.pick(matched.contains)).filter(hit)
      .select(fields.map { f =>
        set.get(f.name)
          .fold(col(s"`${f.name}`"))(_.cast(f.dataType))
          .as(f.name)
      }.toSeq: _*)
    (perFile.size, updated, commitMor(lr, perFile, Left((images, updated)),
      Left(_.filter(hit)),
      added => lr.rd(added).filter(hit).limit(1).count() > 0))
  }

  /** The row count of a MERGE update batch, refusing duplicate keys —
    * both from ONE aggregate over the batch (rows per key reduced to
    * the largest group and the total). Null keys group together, as
    * in SQL GROUP BY, so two null-key rows count as a duplicate. An
    * empty batch counts 0 and passes. */
  private def mergeBatchRows(updates: DataFrame, keyCols: Seq[String]): Long = {
    val r = updates.groupBy(keyCols.map(col): _*).count()
      .agg(max("count"), sum("count")).head()
    require(r.isNullAt(0) || r.getLong(0) <= 1,
      s"updates carry duplicate keys on (${keyCols.mkString(", ")}) — " +
        "the merge result would depend on source row order")
    if (r.isNullAt(1)) 0L else r.getLong(1)
  }

  /** Merge-on-read MERGE (upsert) — [[merge]]'s O(changed rows) twin
    * and the last leg of the MoR DML tier beside [[deleteWhereMor]]
    * and [[updateWhereMor]]: matched TARGET rows are deletion-vectored
    * out of their files and the ENTIRE update batch (matched updates
    * plus inserts) appends as fresh files — one atomic commit,
    * Iceberg's merge-on-read MERGE shape. Composes with EXISTING
    * vectors (reads through them, stacks its own) where the CoW twin
    * refuses ("compact() first"). Same contract edges as [[merge]]:
    * duplicate update keys throw; null keys never match (a null-key
    * update row inserts, null-key target rows survive); fully-matched
    * files RETIRE instead of vectoring; new images validate against
    * CHECK constraints and NOT NULL. Returns (files touched, update
    * rows, new version). */
  def mergeMor(spark: SparkSession, base: String, updates: DataFrame,
      keyCols: Seq[String], tag: Option[String] = None,
      asOf: Option[Int] = None,
      txn: Option[(String, Long)] = None): (Int, Long, Int) = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val v = asOf.orElse(latestVersion(spark, base))
      .getOrElse(sys.error(s"no committed version under $base"))
    val batchRows = mergeBatchRows(updates, keyCols)
    if (batchRows == 0L) return (0, 0L, v)
    val lr = new LiveReader(spark, base, v)
    val keys = updates.select(keyCols.map(col): _*)
    // discovery in ONE pass, [[deleteWhereMor]]'s per-file accounting:
    // live rows per file and how many of them a key of the batch
    // matches, through an outer join against the (dup-checked, so
    // row-preserving) key batch — column-pruned to the keys by
    // Catalyst, broadcast when the batch is small; null update keys
    // never match (SQL join equality)
    val perFile = lr.accounting(lr.liveOf(lr.cur)
      .join(keys.withColumn("__hit", lit(true)), keyCols, "left_outer"),
      count(col("__hit")))
    // the whole update batch lands as new files, aligned to the
    // RECORDED schema (order and types) — a missing column throws
    // rather than null-filling silently
    val fields = lr.sch.map(_.fields.toSeq)
      .getOrElse(updates.schema.fields.toSeq)
    val images = updates.select(fields.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
    (perFile.size, batchRows, commitMor(lr, perFile,
      Left((images, batchRows)), Left(_.join(keys, keyCols, "left_semi")),
      added => lr.rd(added)
        .select(keyCols.map(col): _*)
        .join(keys, keyCols, "left_semi").limit(1).count() > 0,
      tag = tag, txn = txn))
  }

  /** Publish a [[org.apache.spark.sql.connector.write.SupportsDelta]]
    * write — the commit half of native merge-on-read SQL DML: the
    * engine's tasks already streamed DELETE rowIds into `dvWritten`
    * sidecar parquet and INSERT/REINSERT images into `dataWritten`,
    * and [[commitMor]] turns them into ONE atomic manifest commit with
    * the exact invariants of the procedural MoR tier:
    *
    *  - FULL-FILE ELISION (Delta's invariant): a file whose every
    *    live row is deleted RETIRES from the manifest instead of
    *    carrying a data-sized vector — decided by one file-pruned
    *    accounting pass over only the files the deletes touch;
    *  - constraint enforcement on the appended images (CHECK +
    *    NOT NULL, like any append);
    *  - OCC: rebases over concurrent pure appends, refusing when an
    *    appended row matches `conflict` (or always, when the command
    *    condition was not capturable — conservative);
    *  - O(diff) delta-manifest accounting and incremental
    *    stats/partition/bloom segments for the new images.
    *
    * Deletes are counted DISTINCT per (file, pos): the engine may
    * legally emit a duplicate action for the same row; the bitmap
    * dedups and so must the elision arithmetic. The statement's
    * sidecars are adopted as written — all of them while some touched
    * file stays partial, none when every touched file retires (their
    * rows then address retired files only); callers' crashed residue
    * is `sweepOrphans` fodder as usual. Returns (rows deleted,
    * version). */
  private[graft] def commitDeltaWrite(spark: SparkSession, base: String,
      snapshot: Int, dvWritten: Seq[String], dataWritten: Seq[String],
      tag: Option[String], conflict: Option[Column],
      cdc: Option[(Seq[String], Seq[String])] = None): (Long, Int) = {
    if (dvWritten.isEmpty && dataWritten.isEmpty)
      return (0L, snapshot)
    val lr = new LiveReader(spark, base, snapshot)
    val delPerFile: Map[String, Long] =
      if (dvWritten.isEmpty) Map.empty
      else spark.read.parquet(dvWritten: _*)
        .groupBy("__file").agg(countDistinct(col("__pos")).as("n"))
        .collect()
        .map(r => (Dfs.canonical(r.getString(0)), r.getLong(1))).toMap
    require(delPerFile.keySet.subsetOf(lr.cur.map(Dfs.canonical).toSet),
      s"delta write against $base@v$snapshot references files outside " +
        "the snapshot — the scan and the write disagree on the file set")
    (delPerFile.values.sum, commitMor(lr, lr.withTotals(delPerFile),
      Right(dataWritten), Right(dvWritten),
      added => conflict.map(c =>
        lr.rd(added).filter(coalesce(c, lit(false))).limit(1).count() > 0)
        .getOrElse(true),
      tag = tag,
      cdcUpd = cdc.map { case (post, updDv) =>
        post.map(f => s"P\t${Dfs.canonical(f)}") ++
          updDv.map(f => s"D\t${Dfs.canonical(f)}") }))
  }

  /** GC — the companion every log-based format ships: [[deleteWhere]]
    * replaces files by reference, so the replaced bytes leak until
    * something reclaims them. Drops every version below the
    * newest-`keepLast` floor, then deletes the data files those
    * versions referenced UNLESS a retained manifest still references
    * them (shared files survive — reference counting by set
    * difference, all of it manifest-sized metadata). Claims below the
    * floor are swept like [[Snapshots.vacuum]]. Orphaned data
    * directories from committers that crashed before their manifest
    * landed are deliberately NOT collected here: distinguishing a
    * crashed writer from an in-flight one requires age-based retention
    * (mtime horizons), not set arithmetic — a deployment runs that as
    * a separate, clock-aware janitor. Returns (versions dropped, data
    * files deleted). */
  /** `minAgeMillis` is the in-flight-reader guard — the classic table-
    * format TOCTOU: a reader resolves version v, then vacuum collects v
    * a second later, and the reader's scan throws mid-query on missing
    * files. Delta solves it with retention duration ≥ max query time;
    * same contract here: versions whose commit is younger than
    * `minAgeMillis` are NOT collectable regardless of `keepLast` (the
    * floor clamps down to the oldest retained-by-age version), so a
    * keepLast-only vacuum of a table someone just read refuses to pull
    * those versions out from under them. The default comes from the
    * session conf `graft.vacuum.minAgeMillis` (0 when unset — local
    * tests and fixtures collect immediately; a deployment sets it to
    * its max expected query duration). */
  def vacuum(spark: SparkSession, base: String,
      keepLast: Int = 2, minAgeMillis: Option[Long] = None): (Seq[Int], Int) = {
    require(keepLast >= 1, s"keepLast must retain at least the latest ($keepLast)")
    val committed = committedVersions(spark, base)
    if (committed.isEmpty) return (Seq.empty, 0)
    val byCount = committed.takeRight(keepLast).head
    val minAge = minAgeMillis.getOrElse(
      spark.conf.getOption("graft.vacuum.minAgeMillis").map(_.toLong).getOrElse(0L))
    val floor0 =
      if (minAge <= 0L) byCount
      else {
        val horizon = System.currentTimeMillis() - minAge
        // oldest version still inside the protected window (suffix
        // retention, conservative under clock skew like vacuumOlderThan)
        val byAge = committed
          .find(v => Dfs.mtime(spark, s"$base/v$v/_SUCCESS") > horizon)
          .getOrElse(committed.last)
        math.min(byCount, byAge)
      }
    // named refs pin history: a tagged version (or a branch's fork
    // point) stays readable until its ref drops — Iceberg's
    // retention-by-reference rule
    val floor = refFloor(spark, base).fold(floor0)(math.min(floor0, _))
    val r = reclaimBelow(spark, base, committed, floor)
    // separate ledger: r counts version-referenced files, the sweep
    // counts never-referenced attempt residue
    sweepOrphans(spark, base, minAge)
    r
  }

  /** Reclaim table-root payload dirs (`data_*`/`dv_*`/`stats_*`/`pv_*`/
    * `bloom_*`) that NO committed version references — the residue of
    * lost rebase attempts, which derive fresh sidecars (and the
    * rewrite's data dir) BEFORE the version CAS and orphan them on a
    * retry or refusal. [[reclaimBelow]] cannot reach these: it deletes
    * only what a DROPPED version referenced, and a never-committed
    * attempt referenced its output from nowhere. Age-guarded like
    * vacuum itself: a dir younger than `minAgeMillis` may belong to an
    * IN-FLIGHT commit whose version has not materialized yet, so it
    * survives — run vacuum with a retention window in concurrent
    * deployments (the r8 age-guard contract). Returns dirs deleted. */
  def sweepOrphans(spark: SparkSession, base: String,
      minAgeMillis: Long): Int = {
    val horizon = System.currentTimeMillis() - math.max(0L, minAgeMillis)
    // parent-referenced published files keep their payload dirs alive
    // on a branch base, exactly like reclaimBelow keeps the files
    val live = (committedVersions(spark, base)
      .flatMap(v => files(spark, base, v) ++ dvFiles(spark, base, v) ++
        statsOf(spark, base, v).toSeq.flatMap(_._2) ++
        partitionedBy(spark, base, v).toSeq.flatMap(_._2) ++
        // legacy spec groups' tuple sidecars are live references too
        partitionHistory(spark, base, v).flatMap(_._2) ++
        bloomOf(spark, base, v).toSeq.flatMap(_._2) ++
        cdcOf(spark, base, v).toSeq.flatMap(_._2)) ++
      publishedPins(spark, base))
      .map(f => rootSegment(spark, base, f)).flatten.toSet
    val payload = "^(data|dv|stats|pv|bloom|cdc)_.*".r
    // a REF-LESS branch directory (dropRef while main still referenced
    // its files) is payload too: once vacuum retires the last
    // referencing version, nothing points at it and it sweeps. A LIVE
    // branch (ref present) is never touched — its files are referenced
    // by the branch's own manifests, which main cannot see.
    val branchPat = "^branch_(.*)$".r
    def sweepable(n: String): Boolean = n match {
      case branchPat(bn) =>
        scala.util.Try(refOf(spark, base, bn).isEmpty).getOrElse(false)
      case _ => payload.matches(n)
    }
    val dead = Dfs.list(spark, base)
      .filter(st => sweepable(st.getPath.getName))
      .filterNot(st => live.contains(st.getPath.getName))
      .filter(st => st.getModificationTime < horizon)
    dead.foreach(st => Dfs.delete(spark, st.getPath.toString, recursive = true))
    dead.size
  }

  /** The path component directly under `base` that `ref` lives in (a
    * data file's parent dir, a sidecar dir itself), or None for a ref
    * outside the table root (shallow-clone sources stay untouched). */
  private def rootSegment(spark: SparkSession, base: String,
      ref: String): Option[String] = {
    val root = Dfs.qualified(spark, base) + "/"
    val q = Dfs.qualified(spark, ref)
    if (!q.startsWith(root)) None
    else q.stripPrefix(root).split("/").headOption.filter(_.nonEmpty)
  }

  /** Age-based retention — the VACUUM ... RETAIN form: drop every
    * version whose commit landed at or before `horizonMillis`, always
    * keeping the latest. The floor is the FIRST version younger than
    * the horizon (suffix retention), so under clock skew the sweep
    * stays conservative: a young version behind an old-stamped one is
    * kept, never the reverse made collectable. Time travel and the
    * streaming source resolve only retained versions afterwards —
    * exactly the trade Delta documents for its retention window. */
  def vacuumOlderThan(spark: SparkSession, base: String,
      horizonMillis: Long): (Seq[Int], Int) = {
    val committed = committedVersions(spark, base)
    if (committed.isEmpty) return (Seq.empty, 0)
    val floor0 = committed
      .find(v => Dfs.mtime(spark, s"$base/v$v/_SUCCESS") > horizonMillis)
      .getOrElse(committed.last)
    // ref-pinned versions survive age-based retention too
    val floor = refFloor(spark, base).fold(floor0)(math.min(floor0, _))
    val r = reclaimBelow(spark, base, committed, floor)
    // attempt residue older than the horizon is past the same protection
    // window the versions get — sweep it with the equivalent age
    sweepOrphans(spark, base,
      math.max(0L, System.currentTimeMillis() - horizonMillis))
    r
  }

  private def committedVersions(spark: SparkSession, base: String): Seq[Int] =
    Dfs.list(spark, base)
      .flatMap(_.getPath.getName match {
        case vPattern(n) if Dfs.exists(spark, s"$base/v$n/_SUCCESS") => Some(n.toInt)
        case _ => None
      }).sorted

  /** The data files ADDED by committed versions in `(p, latest]`, iff
    * every one of those versions was a pure append: removed nothing,
    * left deletion vectors untouched, kept the schema byte-identical to
    * version `p`'s. `None` means some winner rewrote table state (DML,
    * compaction, schema evolution, MoR delete) — a rewrite derived from
    * `p` cannot commute with it. Never-committed holes in the version
    * sequence (crashed claimants) contributed no content and are
    * skipped. Metadata-sized: manifest set arithmetic only, no data
    * reads. */
  private def pureAppendedSince(spark: SparkSession, base: String,
      p: Int, latest: Int): Option[Seq[String]] =
    try {
      var prev = files(spark, base, p).map(Dfs.canonical).toSet
      val dv0 = dvFiles(spark, base, p).map(Dfs.canonical).toSet
      val sch0 = schemaOf(spark, base, p).map(_.json)
      val added = Seq.newBuilder[String]
      for (w <- committedVersions(spark, base).filter(w => w > p && w <= latest)) {
        val cur = files(spark, base, w).map(Dfs.canonical).toSet
        if (!prev.subsetOf(cur)) return None
        if (dvFiles(spark, base, w).map(Dfs.canonical).toSet != dv0) return None
        if (schemaOf(spark, base, w).map(_.json) != sch0) return None
        added ++= (cur -- prev).toSeq.sorted
        prev = cur
      }
      Some(added.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Commit a copy-on-write rewrite derived from snapshot version
    * `snapshot`, REBASING across concurrent appends when serial
    * equivalence is proved — the WriteSerializable half of the OCC
    * protocol (Delta's isolation-level shape). On losing the version
    * CAS, the loser asks two questions instead of giving up:
    *
    *  1. did every winner only APPEND? ([[pureAppendedSince]] — a
    *     concurrent rewrite, vector change, or schema evolution still
    *     refuses, conservatively);
    *  2. can the appended rows conflict with this rewrite?
    *     (`conflictsWith` over the appended files only — the delete/
    *     update form scans them for predicate matches with parquet
    *     pushdown, the merge form semi-joins them against the update
    *     keys; cost is proportional to the CONCURRENTLY APPENDED bytes,
    *     never the table).
    *
    * If both answers clear, the rebased manifest is literally the
    * serial result (appends, then the rewrite): winners' files carry
    * into the untouched set, the rewrite's output replaces its touched
    * set, and stats/partition metadata re-derive only for the rewritten
    * files. Appended files are checked ONCE across retries. Bounded by
    * `graft.occ.maxRebases` (default 3); a conflict or a non-append
    * winner throws [[ConcurrentCommitException]] exactly as before. */
  private def commitRewrite(spark: SparkSession, base: String,
      snapshot: Int, touched: Set[String], rewritten: Seq[String],
      tag: Option[String],
      conflictsWith: Seq[String] => Boolean,
      txn: Option[(String, Long)] = None): Int = {
    rebaseLoop(spark, base, snapshot, conflictsWith) { parent =>
      val (replaced, untouched) = files(spark, base, parent)
        .map(Dfs.canonical).partition(touched)
      // a rebased parent differs from the snapshot by pure appends
      // only, so its recorded schema is the snapshot's byte for byte
      val m = meta(spark, base, parent).carried
      commit(spark, base, untouched ++ rewritten,
        afterRewrite(spark, base, m, untouched, rewritten, m.schema),
        parent = Some(parent), tag = tag,
        delta = Some((rewritten, replaced)), txn = txn)
    }
  }

  /** Publish a group-replacing rewrite derived from `snapshot`: the
    * next manifest carries `snapshot`'s files minus `touched` plus
    * `rewritten` — the commit primitive behind SQL row-level DML
    * (DELETE/UPDATE/MERGE through the DSv2 catalog), where Spark's own
    * rewrite plan produced the replacement files and the connector only
    * swaps them in. The new row images are validated against the
    * table's CHECK constraints (cost ∝ rewritten bytes); stats,
    * partition tuples and blooms re-derive for the rewritten files only
    * and carry by reference for the rest. `conflictsWith` gates the
    * commuting-append rebase exactly as in [[deleteWhere]]; the default
    * refuses every concurrent commit (strictly serializable — the safe
    * stance when the caller cannot re-check its predicate). A rewrite
    * whose result would be an EMPTY table publishes one empty file
    * constructed from the recorded schema, never scanning data. */
  def replaceFiles(spark: SparkSession, base: String, snapshot: Int,
      touched: Set[String], rewritten: Seq[String],
      tag: Option[String] = None,
      conflictsWith: Seq[String] => Boolean = _ => true): Int = {
    val sch = schemaOf(spark, base, snapshot)
    enforceConstraints(spark, base, Some(snapshot), rewritten, sch)
    val untouched = files(spark, base, snapshot).map(Dfs.canonical)
      .filterNot(touched)
    val effRewritten =
      if (rewritten.nonEmpty || untouched.nonEmpty) rewritten
      // drop-everything edge: an empty manifest is unrepresentable
      else stageEmpty(spark, base, snapshot)
    commitRewrite(spark, base, snapshot, touched, effRewritten, tag,
      conflictsWith)
  }

  /** The retry skeleton under [[commitRewrite]] and [[commitMor]]:
    * run `attempt(parent)` starting from `snapshot`; on losing the CAS,
    * advance `parent` to the latest version iff every winner was a pure
    * append whose files clear `conflictsWith` — each appended file is
    * checked exactly once across retries. */
  private def rebaseLoop(spark: SparkSession, base: String, snapshot: Int,
      conflictsWith: Seq[String] => Boolean)(attempt: Int => Int): Int = {
    val maxRebases = spark.conf.getOption("graft.occ.maxRebases")
      .map(_.toInt).getOrElse(3)
    var parent = snapshot
    var rebases = 0
    var cleared = Set.empty[String]
    while (true) {
      try return attempt(parent)
      catch {
        case e: ConcurrentCommitException =>
          rebases += 1
          if (rebases > maxRebases) throw e
          val latest = latestVersion(spark, base).getOrElse(throw e)
          // claim taken but nothing committed above us: a crashed or
          // in-flight claimant, not a rebase target — surface as-is
          if (latest <= parent) throw e
          val added = pureAppendedSince(spark, base, parent, latest)
            .getOrElse(throw new ConcurrentCommitException(
              s"a concurrent writer rewrote $base past version $parent — " +
                "this rewrite's snapshot cannot commute with it; " +
                "re-read and re-run"))
          val fresh = added.filterNot(cleared)
          if (fresh.nonEmpty && conflictsWith(fresh))
            throw new ConcurrentCommitException(
              s"a concurrent append to $base added rows this rewrite's " +
                "predicate or keys would have touched — committing would " +
                "not be serializable; re-read and re-run")
          cleared ++= fresh
          parent = latest
      }
    }
    sys.error("unreachable: rebaseLoop always returns or throws")
  }

  private def reclaimBelow(spark: SparkSession, base: String,
      committed: Seq[Int], floor: Int): (Seq[Int], Int) = {
    // a delta-encoded survivor may chain through a version below the
    // floor; flatten it FIRST, while its bases still exist, so the
    // reclaim can never leave a manifest that resolves into thin air.
    // Ascending order suffices: a delta's base is its direct parent, so
    // once the lowest crossing survivor is flat, everything above it
    // chains only through survivors. The O(1) `_counts` depth line
    // gates the check — a recorded-flat (or pre-delta) version never
    // pays a manifest read here, so vacuum on a long-history table
    // reads directives only for the handful of delta survivors.
    committed.filter(_ >= floor).sorted.foreach { v =>
      val raw = countsRaw(spark, base, v)
      val depth = raw.lift(3)
        .flatMap(s => scala.util.Try(s.toInt).toOption)
        .getOrElse(if (raw.nonEmpty) 0 else -1) // 3-line counts predate deltas
      if (depth != 0 && chainBaseOf(spark, base, v).exists(_ < floor))
        flattenManifest(spark, base, v)
    }
    // deletion-vector and stats sidecars are reference-counted exactly
    // like data files: superseded ones die with their versions, those
    // a retained manifest still references survive
    def refs(v: Int) = files(spark, base, v) ++ dvFiles(spark, base, v) ++
      statsOf(spark, base, v).toSeq.flatMap(_._2) ++
      partitionedBy(spark, base, v).toSeq.flatMap(_._2) ++
      // legacy spec groups reference their own tuple sidecars — a
      // retained post-evolve version still PLANS with them
      partitionHistory(spark, base, v).flatMap(_._2) ++
      bloomOf(spark, base, v).toSeq.flatMap(_._2) ++
      cdcOf(spark, base, v).toSeq.flatMap(_._2) // update-rowId sidecars
    // a published branch head lives by reference on the PARENT table:
    // when this base IS a branch directory, files main still points at
    // are live regardless of what the branch's own history retires
    val keepFiles = committed.filter(_ >= floor)
      .flatMap(refs).map(Dfs.canonical).toSet ++ publishedPins(spark, base)
    val droppedCommitted = committed.filter(_ < floor)
    // never delete a file outside this table's own directory: a shallow
    // clone's manifests reference the SOURCE table's files, and a
    // clone's vacuum must not reach across and destroy them (the same
    // rule Delta's VACUUM applies — reclaim only under the table root)
    val root = Dfs.qualified(spark, base) + "/"
    val dropFiles = droppedCommitted
      .flatMap(refs).map(Dfs.canonical).toSet
      .diff(keepFiles)
      .filter(f => Dfs.qualified(spark, f).startsWith(root))
    // recursive: a dropped reference may be a stats DIRECTORY
    dropFiles.foreach(f => Dfs.delete(spark, f, recursive = true))
    // version dirs below the floor — committed (expired) or marker-less
    // (crashed before _SUCCESS, manifest unreadable/absent) — go whole
    val dropDirs = Dfs.list(spark, base)
      .flatMap(_.getPath.getName match {
        case vPattern(n) if n.toInt < floor => Some(n.toInt)
        case _ => None
      }).sorted
    dropDirs.foreach(v => Dfs.delete(spark, s"$base/v$v", recursive = true))
    Dfs.list(spark, s"$base/_claims")
      .foreach(_.getPath.getName match {
        case vPattern(n) if n.toInt < floor =>
          Dfs.delete(spark, s"$base/_claims/v$n")
        case _ => ()
      })
    (dropDirs.toSeq, dropFiles.size)
  }

  /** Copy-on-write MERGE (upsert) as a manifest swap — the table-format
    * MERGE INTO: update rows whose key matches an `updates` row are
    * replaced by it, unmatched `updates` rows are inserted, and every
    * other target row survives untouched. The plan is [[deleteWhere]]'s
    * shape with the source joined in: one discovery scan (key semi-join
    * against the update keys — AQE broadcasts the key side when the
    * batch is small, the common case) finds the affected files; ONE
    * distributed job rewrites `affected ∖ matched ∪ updates` into a
    * fresh data directory; the manifest carries untouched files by
    * reference. A 100-row upsert against a 100 TB table rewrites only
    * the files those 100 keys live in.
    *
    * Contract edges, each pinned by ManifestsSpec:
    *  - duplicate keys in `updates` THROW (the result would depend on
    *    row order — the same refusal Delta/Iceberg MERGE makes);
    *  - null keys never match (SQL join equality), so a null-key update
    *    row inserts and null-key target rows always survive;
    *  - a pure insert batch (no key matches) rewrites zero target files.
    * Returns (files rewritten, rows inserted-or-updated, new version).
    *
    * `asOf` pins the snapshot (defaults to latest); the commit rebases
    * across concurrent appends that share NO key with `updates`
    * ([[commitRewrite]] — key overlap would change both the update and
    * the insert decisions, so it refuses). */
  def merge(spark: SparkSession, base: String, updates: DataFrame,
      keyCols: Seq[String], tag: Option[String] = None,
      asOf: Option[Int] = None,
      txn: Option[(String, Long)] = None): (Int, Long, Int) = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val v = asOf.orElse(latestVersion(spark, base))
      .getOrElse(sys.error(s"no committed version under $base"))
    require(dvFiles(spark, base, v).isEmpty,
      s"version $v carries deletion vectors — compact($base) first to " +
        "materialize them; merge's file arithmetic assumes every row " +
        "in a data file is live")
    val cur = files(spark, base, v).map(Dfs.canonical)
    val batchRows = mergeBatchRows(updates, keyCols)
    val keys = updates.select(keyCols.map(col): _*)
    val ren = renamesOf(spark, base, v)
    def rd(fs: Seq[String]) =
      eraRead(spark, ren, fs, schemaOf(spark, base, v))
    // input_file_name() is pinned to the target scan by projecting it
    // BELOW the join — the update batch is often itself a file source
    // (Spark refuses the expression when two sources could answer it)
    val affected = rd(cur)
      .select(keyCols.map(col) :+ input_file_name().as("__file"): _*)
      .join(keys, keyCols, "left_semi")
      .select(col("__file"))
      .distinct().collect().map(r => Dfs.canonical(r.getString(0))).toSet
    val survivors =
      if (affected.isEmpty) updates
      else rd(affected.toSeq)
        .join(keys, keyCols, "left_anti")
        .unionByName(updates)
    val rewritten = stageData(base,
      survivors.repartition(math.max(1, affected.size)))
    // merged-in updates and inserts are new row images — validate them
    enforceConstraints(spark, base, Some(v), rewritten,
      schemaOf(spark, base, v))
    val nv = commitRewrite(spark, base, v, affected, rewritten, tag,
      added => rd(added)
        .select(keyCols.map(col): _*)
        .join(keys, keyCols, "left_semi").limit(1).count() > 0,
      txn = txn)
    (affected.size, batchRows, nv)
  }

  /** Exactly-once CDC apply — one upsert micro-batch against the table,
    * keyed by `batchId` for replay detection: the batch id is committed
    * as the version's tag, and a replay whose id matches the LATEST tag
    * skips (foreachBatch replays only the last uncommitted batch, so one
    * tag of lookback is exactly enough). A merge replayed after a crash
    * between commit and checkpoint would otherwise burn a version on a
    * content-identical rewrite — with the tag it does nothing at all.
    * Bootstraps an empty table from the first batch. Duplicate keys
    * within a batch throw ([[merge]]'s contract); ordering ACROSS
    * batches is the stream's own guarantee. Returns the committed
    * version, if the batch was not a replay. */
  def cdcApply(batch: DataFrame, base: String, keyCols: Seq[String],
      batchId: Long): Option[Int] = {
    val spark = batch.sparkSession
    val tag = s"cdc_batch_$batchId"
    // the transaction ledger is the durable replay record: the
    // latest-TAG probe alone goes blind the moment any other commit
    // (maintenance, another writer) lands between a batch and its
    // replay — the ledger survives every intervening commit
    latestVersion(spark, base).foreach { v =>
      val (liveLedger, deadLedger) = txnEntriesOf(spark, base, v)
      // a RETIRED cdc identity refuses loudly: replaying an old batch
      // after newer ones merged would regress keys, and the expired
      // high-water mark can no longer tell old from new
      if (deadLedger.contains("cdc")) refuseExpired("cdc", base)
      if (liveLedger.get("cdc").exists(_._1 >= batchId)) return None
    }
    if (latestTag(spark, base).contains(tag)) return None
    if (batch.isEmpty) return None
    latestVersion(spark, base) match {
      case None =>
        val dir = s"$base/data_batch_$batchId"
        batch.write.mode("overwrite").parquet(dir)
        try Some(commit(spark, base,
          Dfs.dataFiles(spark, dir).map(_.getPath.toString),
          VersionMeta(schema = Some(batch.schema)), parent = Some(-1),
          tag = Some(tag), txn = Some(("cdc", batchId))))
        catch {
          // lost the bootstrap race: the table exists now — merge instead
          case _: ConcurrentCommitException =>
            cdcApply(batch, base, keyCols, batchId)
        }
      case Some(_) =>
        val (_, _, nv) = merge(spark, base, batch, keyCols, Some(tag),
          txn = Some(("cdc", batchId)))
        Some(nv)
    }
  }

  /** Idempotent batch append — the commit primitive behind the
    * exactly-once streaming sink ([[graft.streaming.Streams.manifestSink]]).
    * foreachBatch delivers at-least-once; exactly-once comes from the
    * MANIFEST being the batch-done record: batch `i`'s data directory is
    * named `data_batch_<i>`, and an append first checks whether the
    * latest manifest already references that directory — a replayed
    * batch that finds its files committed does nothing. The crash
    * windows resolve cleanly: crash before the data write replays from
    * scratch; crash after the write but before the commit leaves an
    * unreferenced directory the replay overwrites; crash after the
    * commit is the already-committed case. Empty batches are skipped
    * (no version burned). Assumes the streaming query is the table's
    * only concurrent WRITER (Spark guarantees batch ids are sequential
    * per query; cross-writer conflict detection is a transaction
    * protocol this library does not implement — readers are always
    * safe). Replay detection is the transaction LEDGER first (appId →
    * high-water batch id, O(1), survives later DML rewriting the
    * batch's files), the path-marker scan as pre-ledger fallback; an
    * id at or below the app's high-water mark is a replay by the
    * sequential-ids contract. `appId` scopes that identity (and the
    * batch's data directory) per writer application: two streaming
    * queries appending into the same table each pass a stable, unique
    * id and keep independent sequences; the default keeps the classic
    * single-writer assumption. Returns the committed version, if any. */
  def appendBatch(batch: DataFrame, base: String, batchId: Long,
      appId: String = "batch"): Option[Int] = {
    val clean = appId.replaceAll("[^a-zA-Z0-9_-]", "_")
    // a lossy sanitization must not collide two DISTINCT writer
    // identities onto one ledger line ("a.b" vs "a:b" — shared replay
    // suppression would silently drop the second writer's batches):
    // disambiguate with a stable hash of the original. The "b:" prefix
    // namespaces batch appenders away from cdcApply's "cdc" key and
    // the streaming sink's query tags.
    val safe = if (clean == appId) clean
      else s"${clean}_${(appId.hashCode & 0x7fffffff).toHexString}"
    appendTagged(batch, base, s"data_${safe}_$batchId",
      txn = Some(("b:" + safe, batchId)))
  }

  /** One-shot OCC append — the batch-DML face of [[appendBatch]] (the
    * `df.write.format("manifest").mode("append")` / INSERT INTO path):
    * same commuting-append retry loop, same incremental schema/stats/
    * partition/bloom maintenance, but tagged with a fresh unique id, so
    * there is no replay identity — each call appends once. Returns the
    * committed version ([[appendBatch]]'s None cases collapse to the
    * current latest: an empty frame appends nothing). */
  def append(df: DataFrame, base: String): Int = {
    val spark = df.sparkSession
    appendTagged(df, base,
      s"data_ins_${java.util.UUID.randomUUID().toString.take(8)}")
      .orElse(latestVersion(spark, base))
      .getOrElse(sys.error("empty append cannot bootstrap a table — " +
        "commit a first version with commitData"))
  }

  private def appendTagged(batch: DataFrame, base: String,
      tag: String, txn: Option[(String, Long)] = None): Option[Int] = {
    val spark = batch.sparkSession
    // an empty micro-batch still writes a zero-row part file — skip it
    // BEFORE writing so no version (or directory) is burned
    if (batch.isEmpty) return None
    val marker = s"/$tag/"
    // replay + evolution/tombstone pre-checks against the CURRENT
    // latest BEFORE any bytes land (the commit loop re-checks against
    // whatever latest it actually lands on)
    val pre = latestVersion(spark, base)
    if (pre.exists(v => replayedIn(spark, base, v, txn, Some(marker))))
      return None
    pre.flatMap(schemaOf(spark, base, _))
      .foreach(old => evolveSchema(old, batch.schema))
    pre.map(droppedOf(spark, base, _)).getOrElse(Seq.empty)
      .foreach(d => require(!batch.schema.fieldNames.contains(d),
        s"column '$d' was dropped from $base and its bytes remain in " +
          "retained files — re-adding it would resurrect old values; " +
          "use a new name or overwrite the table"))
    val dir = s"$base/$tag"
    // split-layout appends keep the SPJ purity proof alive across
    // INSERTs: when the session opts in and the table records partition
    // columns the batch actually carries, the appended files split at
    // tuple boundaries like the bootstrap did (flattened — dataFiles'
    // flat listing below sees them either way)
    val splitCols = pre.flatMap(v => partitionedBy(spark, base, v))
      .map(_._1)
      .filter(_ => splitByPartition(spark))
      .filter(cs => cs.nonEmpty && PartitionTransforms.sources(cs)
        .forall(batch.columns.contains))
    splitCols match {
      case Some(cols) =>
        writeSplitByTuple(batch, dir, cols,
          spark.sessionState.conf.numShufflePartitions)
      case None => batch.write.mode("overwrite").parquet(dir)
    }
    val newFiles = Dfs.dataFiles(spark, dir).map(_.getPath.toString)
    if (newFiles.isEmpty) return None
    appendWrittenFiles(spark, base, newFiles, batch.schema, Some(marker),
      txn = txn)
  }

  /** Has the (appId, id) batch already committed into version `v`?
    * The ledger answers authoritatively once the app has ANY entry
    * (id at or below the recorded high-water mark = replay — batch
    * ids are sequential per writer, Spark's streaming contract); a
    * ledger-less app (pre-ledger table, plain inserts) falls back to
    * the path-marker scan of the manifest. */
  /** Refuse-loudly guard for a RETIRED writer identity: once the
    * retention policy tombstones an appId, a late batch from it can no
    * longer be told apart from a replay (the high-water mark is gone)
    * — silently appending risks a DOUBLE-APPLY, silently dropping
    * risks data loss. The only safe answer is a loud stop: the
    * operator resumes under a fresh appId (new sequence) or re-runs
    * with a longer `graft.txn.retentionMillis`. */
  private def refuseExpired(app: String, base: String): Nothing =
    sys.error(s"writer app '$app' was retired from $base's transaction " +
      "ledger by graft.txn.retentionMillis — a batch from it cannot be " +
      "distinguished from a replay; resume with a fresh appId (new " +
      "sequence) or raise the retention horizon")

  private def replayedIn(spark: SparkSession, base: String, v: Int,
      txn: Option[(String, Long)], marker: Option[String]): Boolean =
    txn.flatMap { case (app, id) =>
      val (liveLedger, deadLedger) = txnEntriesOf(spark, base, v)
      if (deadLedger.contains(app)) refuseExpired(app, base)
      val ledger = liveLedger.view.mapValues(_._1).toMap
      // tables written before the "b:" namespace recorded the bare
      // appId — consult it too, so an upgrade never forgets a
      // committed batch (forgetting = the replay double-appends). But
      // the fallback must never read ANOTHER writer's line: "cdc" is
      // cdcApply's key and "q<uuid>" a streaming sink's — a batch
      // appender whose appId collides with those would read an
      // independent high-water mark and silently DROP fresh batches
      // as replays (data loss, the worse failure). Reserved shapes
      // skip the fallback; a genuine pre-namespace line under one of
      // them can at worst double-append (visible, recoverable).
      ledger.get(app).orElse {
        val bare = app.stripPrefix("b:")
        if (bare == "cdc" || bare.matches("q[0-9a-fA-F-]{36}")) None
        else if (deadLedger.contains(bare)) refuseExpired(bare, base)
        else ledger.get(bare)
      }.map(_ >= id)
    }.getOrElse(
      marker.exists(m => files(spark, base, v).exists(_.contains(m))))

  /** Append ALREADY-WRITTEN immutable files as the next version — the
    * files-level core under [[appendTagged]] and the DSv2 STREAMING
    * write (whose tasks stream parquet directly, so there is no
    * DataFrame to hand the batch API). Appends COMMUTE, so a
    * concurrent commit is not a conflict: only the metadata derivation
    * (file list, union schema, carried vectors, sidecar segments)
    * re-derives against the new latest and retries. `replayMarker`
    * makes the commit idempotent: if the latest manifest already
    * references a path containing the marker, this batch landed and
    * the call no-ops (the exactly-once contract both sinks key on). */
  private[graft] def appendWrittenFiles(spark: SparkSession, base: String,
      newFiles: Seq[String],
      batchSchema: org.apache.spark.sql.types.StructType,
      replayMarker: Option[String],
      bootstrapPartCols: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None): Option[Int] = {
    def attempt(remaining: Int, validated: Boolean): Option[Int] = {
      val prev = latestVersion(spark, base)
      val replayed = prev.exists(v =>
        replayedIn(spark, base, v, txn, replayMarker))
      if (replayed) return None
      // the record this append extends: the latest version's — or, for
      // a BOOTSTRAP (no previous version) of a table whose CREATE
      // declared partition columns, an empty one carrying that spec,
      // without which a streaming-first table would silently lose
      // metadata-only partition DML and pruning forever
      val m = prev.fold(VersionMeta(partValues =
          Some((bootstrapPartCols, Seq.empty[String])).filter(_._1.nonEmpty)))(
        meta(spark, base, _).carried)
      // additive schema evolution: a batch may bring new columns; the
      // union schema is recorded in the manifest so readers null-fill
      // the old files without a footer sweep (a type conflict REFUSES)
      val tableSchema = m.schema match {
        case None => batchSchema
        case Some(old) => evolveSchema(old, batchSchema)
      }
      // a tombstoned (dropped) column must not come back through
      // additive evolution: the retained files still hold its old
      // physical bytes, and re-adding the name would resurrect them
      m.dropped.foreach(d => require(!batchSchema.fieldNames.contains(d),
        s"column '$d' was dropped from $base and its bytes remain in " +
          "retained files — re-adding it would resurrect old values; " +
          "use a new name or overwrite the table"))
      // CHECK constraints validate the new rows ONCE, when they land
      // (retries re-derive metadata only; the data never changes)
      if (!validated) enforceConstraints(spark, base, prev, newFiles,
        Some(tableSchema))
      val cur = prev.map(files(spark, base, _)).getOrElse(Seq.empty)
      // NDV maintenance: when the table carries a KMV sketch (ANALYZE
      // under graft.ndv.incremental), fold the BATCH's sketch in — one
      // TakeOrdered job per analyzed column over the appended files
      // only — and serve the re-estimated NDV. Cost ∝ batch, state 8 KB
      // per column; without this the inherited point estimate drifts
      // arbitrarily far below truth as appends accumulate.
      val ndvMeta: Option[(Map[String, Long], Map[String, Seq[Long]])] =
        Some(m.ndvKmv).filter(_.nonEmpty)
          .filter(_ => ndvIncremental(spark)).map { parentKmv =>
            val batchDf = eraRead(spark, Nil, newFiles, Some(tableSchema))
            // a FULL parent sketch rejects any hash above its k-th
            // value by construction, so that value is an EXACT
            // admission threshold for the batch — steady-state appends
            // ship a handful of candidate hashes, not the batch's
            // distinct set (short residue is complete here, unlike
            // ANALYZE's estimated thresholds)
            val ts = parentKmv.collect {
              case (c, s) if s.size >= ndvKmvK => c -> s.last }
            val fresh = kmvSketchOf(batchDf, parentKmv.keys.toSeq, ts,
              exactWhenShort = false)
            val merged = parentKmv.map { case (c, old) =>
              c -> kmvMerge(old, fresh.getOrElse(c, Seq.empty)) }
            // a not-yet-full sketch is EXACT; a full one estimates —
            // never report less than the pre-append estimate (appends
            // cannot shrink NDV)
            val est = merged.map { case (c, hs) =>
              c -> math.max(kmvEstimate(hs), m.ndv.getOrElse(c, 0L)) }
            (m.ndv ++ est, merged)
          }
      // HISTOGRAM maintenance (the `_hist` twin of the KMV fold): when
      // the table carries histograms, compute the BATCH's own
      // equi-height histogram (one quantile + interval-NDV pass over
      // the appended files only — cost ∝ batch) and fold it into the
      // inherited one ([[HistogramMerge.merge]], driver-side O(bins)).
      // The `_histrows` anchor advances with the fold, so per-value
      // pricing stays SHARP as the table grows — no re-ANALYZE, and
      // the freshness damp is left to the shapes no fold can see
      // (deletes; `graft.hist.incremental=false`). Folds only when
      // every histogram column got a batch histogram — a partial fold
      // under one shared anchor would leave the unfolded columns
      // claiming a freshness they no longer have.
      val histMeta: Option[(Map[String, (Double, Seq[(Double, Double,
          Long)])], Long)] =
        if (m.hist.isEmpty || m.histRows.isEmpty ||
            !histIncremental(spark)) None
        else {
          val batchDf = eraRead(spark, Nil, newFiles, Some(tableSchema))
          val byBins = m.hist.groupBy(_._2._2.size)
          val folded = byBins.toSeq.map { case (nb, cols) =>
            histogramsOf(spark, batchDf, cols.keys.toSeq, nb)
          }
          val batchHists = folded.flatMap(_._1).toMap
          val batchRows = folded.flatMap(_._2).reduceOption(_ max _)
          if (batchRows.isEmpty ||
              !m.hist.keys.forall(batchHists.contains)) None
          else Some((m.hist.map { case (c, h) =>
            c -> HistogramMerge.merge(h, batchHists(c)) },
            m.histRows.get + batchRows.get))
        }
      // deletion vectors stay valid across an append (they address
      // existing files only) — carried by reference like the data
      try Some(commit(spark, base, cur ++ newFiles,
        withAppended(spark, base, m, newFiles, Some(tableSchema)).copy(
          schema = Some(tableSchema),
          ndv = ndvMeta.fold(m.ndv)(_._1),
          ndvKmv = ndvMeta.fold(m.ndvKmv)(_._2),
          hist = histMeta.fold(m.hist)(_._1),
          histRows = histMeta.map(_._2).orElse(m.histRows)),
        parent = Some(prev.getOrElse(-1)),
        delta = Some((newFiles, Seq.empty)), txn = txn))
      catch {
        case e: ConcurrentCommitException =>
          if (remaining == 0) throw e
          // a retry is only useful once the table ADVANCED past the
          // snapshot this attempt derived from — the claim loser would
          // otherwise spin through every retry inside one winner's
          // commit window (claim taken, _SUCCESS not yet landed), which
          // an 8-writer stress reliably triggers. Bounded wait, then
          // re-derive against the new latest.
          val deadline = System.currentTimeMillis() + 30000L
          while (latestVersion(spark, base) == prev &&
              System.currentTimeMillis() < deadline)
            Thread.sleep(20)
          attempt(remaining - 1, validated = true)
      }
    }
    val committed = attempt(remaining = 10, validated = false)
    // policy pass AFTER the append committed: auto-compaction never
    // delays or fails the write it follows
    if (committed.isDefined) maybeAutoCompact(spark, base)
    committed
  }

  /** Auto-compaction — Delta's `autoCompact`, the policy half the r14
    * write-distribution work left manual: per-statement clustering
    * stops ONE write from fragmenting, but a table taking hourly
    * streaming epochs still accumulates a small file per partition per
    * trigger until someone runs OPTIMIZE. With
    * `graft.autocompact.minFiles = N` set, every successful append
    * checks its table's live small-file census and bin-packs any
    * PARTITION whose small-file count reached N — scoped: only that
    * partition's small files rewrite (one OCC follow-on commit per hot
    * partition), every healthy file and every untouched partition
    * carries by reference. Unpartitioned tables (or layouts without
    * the one-tuple-per-file purity proof) fall back to table-wide
    * small-file packing, which is already reference-carrying for
    * healthy files.
    *
    * Knobs mirror [[compactSmall]]: `graft.autocompact.smallBytes`
    * (default 32 MB) bounds "small", `graft.autocompact.targetBytes`
    * (default 128 MB) sizes outputs. Off unless minFiles is set.
    * Contract edges: a VECTORED version skips (materializing vectors
    * is [[compact]]'s deliberate call, not a policy side effect); a
    * lost OCC race or any other failure logs and moves on — the
    * append already committed, and the census re-fires on the next
    * one. Census + scoping are manifest/sidecar arithmetic only; the
    * rewrite cost is ∝ the hot partition's small-file backlog. */
  /** Immutable-file size memo for the auto-compact census: data files
    * are never rewritten in place (every write lands a fresh path), so
    * a (canonical path → length) entry is valid for the application's
    * lifetime. Keeps the per-append census at O(new files) metadata
    * RPCs instead of O(table) — the doc'd "manifest/sidecar arithmetic
    * only" promise. Crudely bounded: a pathological many-table process
    * resets rather than growing without limit. */
  private val fileSizeCache = graft.AppCache
    .namespace[String, Long]("manifests.file_sizes", bound = 262144)

  private def sizeOfCached(spark: SparkSession, f: String): Long = {
    val k = Dfs.canonical(f)
    fileSizeCache.peek(spark, k).getOrElse(Dfs.statOf(spark, f).map(_._2) match {
      // a MISS (transient FS error, listing race) is never cached: a
      // permanent 0 would misclassify a large file as small in every
      // future census on this JVM and re-"compact" it pointlessly.
      // The census treats the unknown file as small-for-now (0),
      // which at worst includes it in one rewrite — bounded, and the
      // next census re-stats it.
      case None => 0L
      case Some(v) => fileSizeCache.put(spark, k, v); v
    })
  }

  private def maybeAutoCompact(spark: SparkSession, base: String): Unit = {
    val minFilesStr = spark.conf.getOption("graft.autocompact.minFiles")
      .getOrElse(return)
    // EVERYTHING below the conf probe sits inside the guard — a
    // malformed knob (or any failure) must never fail the append this
    // policy pass follows
    try {
      val minFiles = minFilesStr.toInt
      val v = latestVersion(spark, base).getOrElse(return)
      if (dvFiles(spark, base, v).nonEmpty) return
      val smallBytes = spark.conf.getOption("graft.autocompact.smallBytes")
        .map(_.toLong).getOrElse(32L << 20)
      val targetBytes = spark.conf.getOption("graft.autocompact.targetBytes")
        .map(_.toLong).getOrElse(128L << 20)
      val cur0 = files(spark, base, v)
      // phase 1 — cheap census: sizes from the immutable-file memo
      // (misses are the freshly-appended files after the first pass);
      // a table with no possible hot group exits before paying any
      // per-file index construction
      val sized: Map[String, Long] = cur0.map(f =>
        Dfs.canonical(f) -> sizeOfCached(spark, f)).toMap
      if (sized.values.count(_ < smallBytes) < minFiles) return
      // phase 2 — partition scoping via the recorded tuples when the
      // purity proof holds; otherwise one table-wide group
      val groups: Seq[Seq[String]] =
        new ManifestFileIndex(spark, base, v).purePartitionTuples match {
          case Some((_, tuples)) =>
            cur0.groupBy(f => tuples.get(Dfs.canonical(f))).values.toSeq
          case None => Seq(cur0)
        }
      // one OCC follow-on commit per hot partition, each derived from
      // the version the previous one produced — a concurrent commit
      // loses the claim cleanly (caught below), never half-rebases
      var snap = v
      var curFiles = cur0
      groups.foreach { g =>
        val small = g.filter(f => sized(Dfs.canonical(f)) < smallBytes)
        if (small.size >= minFiles) {
          val nOut = math.max(1, math.ceil(
            small.map(f => sized(Dfs.canonical(f))).sum.toDouble /
              targetBytes).toInt)
          val m = meta(spark, base, snap).carried
          // a single-tuple group rewrites to single-tuple outputs, so
          // the SPJ purity proof survives the policy pass — and when
          // the proof does NOT hold (the table-wide group of a
          // partitioned table with mixed boundary files), the rewrite
          // splits its outputs at tuple boundaries, so the policy
          // CREATES purity for every file it touches instead of
          // cementing the mixed layout
          val rd0 = eraRead(spark, m.renames, small, m.schema)
          val rewritten = m.partValues.map(_._1) match {
            case Some(specs) if groups.lengthCompare(1) == 0 =>
              stageData(base, rd0, Some((specs, math.max(nOut, 1))))
            case _ => stageData(base, rd0.repartition(nOut))
          }
          val smallSet = small.map(Dfs.canonical).toSet
          val untouched = curFiles.filterNot(f =>
            smallSet.contains(Dfs.canonical(f)))
          val nv = commit(spark, base, untouched ++ rewritten,
            afterRewrite(spark, base, m, untouched, rewritten, m.schema),
            parent = Some(snap), tag = Some("autocompact"),
            preservesContent = true, delta = Some((rewritten, small)))
          snap = nv
          curFiles = untouched ++ rewritten
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        // best-effort by contract: the append this followed is durable
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"auto-compact on $base skipped: ${e.getMessage}")
    }
  }

  /** Change feed between two committed versions, tagged
    * `_change_type` ∈ {insert, delete} (an update surfaces as
    * delete + insert — row identity without a declared key is content
    * identity). The manifest makes this METADATA-pruned: files shared
    * by both versions cannot contribute (A = S ⊎ X, B = S ⊎ Y ⇒
    * B ∖ A = Y ∖ X and A ∖ B = X ∖ Y in multiset arithmetic), so only
    * the files unique to either side are read — a version that touched
    * 0.1% of a 100 TB table diffs 0.1% of it, and a no-op diff reads
    * nothing. The exceptAll shuffles are over those residual files
    * only. */
  /** Per-file zone bounds at version `v`, restricted to `wanted`
    * (canonical paths): file → key → (min, max, hasNulls). `None`
    * when the version records no stats; files absent from the map are
    * unknown (callers must treat them as overlapping everything). */
  private def fileBounds(spark: SparkSession, base: String, v: Int,
      wanted: Set[String])
      : Option[(Seq[String], Map[String, Map[String, (Any, Any, Boolean)]])] =
    statsOf(spark, base, v).map { case (keys, segs) =>
      val df = SidecarCache.localDf(spark, segs)
      val cols = df.columns.toSet
      val usable = keys.filter(k => cols.contains(s"${k}_min") &&
        cols.contains(s"${k}_max") && cols.contains(s"${k}_nulls"))
      val m = df.collect().iterator.map { r =>
        val f = Dfs.canonical(r.getAs[String]("file"))
        f -> usable.map { k =>
          val nulls = Option(r.getAs[Any](s"${k}_nulls"))
            .flatMap(x => scala.util.Try(x.toString.toLong).toOption)
            .getOrElse(1L)
          k -> ((r.getAs[Any](s"${k}_min"), r.getAs[Any](s"${k}_max"),
            nulls > 0))
        }.toMap
      }.filter(e => wanted.contains(e._1)).toMap
      (usable, m)
    }

  /** Total-order comparison of two zone bounds of the same key, in
    * the WRITER'S order — see the invariant at [[Skipping.buildStats]]:
    * string bounds are UTF8String-binary (unsigned UTF-8 bytes), and
    * any new comparison site must use that order, never
    * String.compareTo (spec-pinned: ManifestsSpec "supplementary
    * characters" case). None when the pair is incomparable (null
    * bound, exotic type, NaN) — callers treat unknown as overlapping,
    * never the reverse. */
  private[graft] def cmpBound(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: java.lang.Number, y: java.lang.Number) =>
      scala.util.Try(new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString))).toOption
    case (x: String, y: String) =>
      // the bounds were recorded under Spark's UTF8String order —
      // unsigned UTF-8 bytes — which diverges from Java's UTF-16
      // code-unit compareTo on supplementary characters (surrogates
      // sort below U+E000 in UTF-16, above it in UTF-8); comparing
      // the way the stats writer sorted keeps "disjoint" a proof
      val bx = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val by = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(bx.length, by.length)
      while (i < n && bx(i) == by(i)) i += 1
      Some(if (i < n) (bx(i) & 0xff) - (by(i) & 0xff)
        else bx.length - by.length)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => Some(x.compareTo(y))
    case (x: java.sql.Date, y: java.sql.Date) => Some(x.compareTo(y))
    case (x: java.time.Instant, y: java.time.Instant) => Some(x.compareTo(y))
    case (x: java.time.LocalDate, y: java.time.LocalDate) => Some(x.compareTo(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  /** Can a row identical on key `k` exist in both files? True unless
    * the bounds PROVE otherwise: ranges disjoint and no shared
    * null-key possibility. All-null files (null min AND max) can only
    * share null-key rows. */
  private def boundsCompatible(a: (Any, Any, Boolean),
      b: (Any, Any, Boolean)): Boolean = {
    val bothNulls = a._3 && b._3
    if ((a._1 == null && a._2 == null) || (b._1 == null && b._2 == null))
      return bothNulls
    val range = (cmpBound(a._2, b._1), cmpBound(b._2, a._1)) match {
      case (Some(x), Some(y)) => x >= 0 && y >= 0
      case _ => true
    }
    range || bothNulls
  }

  /** Split each side's unique files into exceptAll-needed (range-
    * overlapping an opposite file on every shared stats key) vs
    * provably-disjoint. Conservative throughout: no stats, no shared
    * keys, unknown bounds, or a pair-count past the driver budget all
    * degrade to "everything overlaps" — the pre-pruning plan, always
    * correct. Returns (aOverlap, aDisjoint, bOverlap, bDisjoint). */
  private[graft] def overlapPartition(spark: SparkSession, base: String,
      from: Int, to: Int, onlyA: Seq[String], onlyB: Seq[String])
      : (Seq[String], Seq[String], Seq[String], Seq[String]) = {
    val all = (onlyA, Seq.empty[String], onlyB, Seq.empty[String])
    if (onlyA.isEmpty || onlyB.isEmpty ||
        onlyA.size.toLong * onlyB.size > 4000000L) return all
    (fileBounds(spark, base, from, onlyA.toSet),
        fileBounds(spark, base, to, onlyB.toSet)) match {
      case (Some((ka, ma)), Some((kb, mb))) =>
        val keys = ka.intersect(kb)
        if (keys.isEmpty) all
        else {
          def compat(fa: String, fb: String): Boolean =
            (ma.get(fa), mb.get(fb)) match {
              case (Some(ba), Some(bb)) => keys.forall { k =>
                (ba.get(k), bb.get(k)) match {
                  case (Some(x), Some(y)) => boundsCompatible(x, y)
                  case _ => true
                }
              }
              case _ => true // unknown file: overlaps everything
            }
          val aOv = onlyA.filter(fa => onlyB.exists(fb => compat(fa, fb)))
          val bOv = onlyB.filter(fb => onlyA.exists(fa => compat(fa, fb)))
          (aOv, onlyA.filterNot(aOv.toSet),
            bOv, onlyB.filterNot(bOv.toSet))
        }
      case _ => all
    }
  }

  def changesBetween(spark: SparkSession, base: String,
      from: Int, to: Int): DataFrame = {
    val fa = files(spark, base, from).map(Dfs.canonical)
    val fb = files(spark, base, to).map(Dfs.canonical)
    val dvA = dvFiles(spark, base, from)
    val dvB = dvFiles(spark, base, to)
    val onlyA = fa.filterNot(fb.toSet)
    val onlyB = fb.filterNot(fa.toSet)
    val shared = fa.toSet.intersect(fb.toSet)
    // rename events from BOTH endpoints, merged per event — plus, for
    // an event that COMMITTED inside the range, its own version's
    // record: that one holds the complete pre-file set, covering files
    // retired between the endpoints (pruned from `to`'s list, absent
    // from `from`'s because `from` predates the rename) that still
    // need their era mapping to read as delete images. Membership is
    // per-file, so a widened list never touches post-rename files.
    val evA = renamesOf(spark, base, from)
    val evB = renamesOf(spark, base, to)
    val atOwn: Map[Int, Seq[RenameEvent]] =
      (evA ++ evB).map(_.v).distinct
        .filter(ev => ev > from && ev <= to &&
          Dfs.exists(spark, s"$base/v$ev/_SUCCESS"))
        .map(ev => ev -> renamesOf(spark, base, ev)).toMap
    val renames = (evA ++ evB).map(e => (e.v, e.from, e.to)).distinct
      .map { case (ev, f, t) =>
        RenameEvent(ev, f, t,
          ((evA ++ evB ++ atOwn.getOrElse(ev, Seq.empty))
            .filter(x => x.v == ev && x.from == f && x.to == t)
            .flatMap(_.preFiles)).distinct)
      }.sortBy(_.v)
    val renamedInRange = renames.exists(e => e.v > from && e.v <= to)
    // both sides read under the UNION schema so an evolution commit
    // diffs cleanly: an old row's null-filled image on one side equals
    // its null-filled image on the other. A rename inside the range
    // makes the union ambiguous (old and new names would both appear),
    // so the feed is emitted under the END schema — Delta CDF's
    // read-in-latest-schema stance — with pre-rename rows era-mapped
    // to the new names.
    val schema = (schemaOf(spark, base, from), schemaOf(spark, base, to)) match {
      case (Some(_), Some(b)) if renamedInRange => b
      case (Some(a), Some(b)) => unionWiden(a, b)
      case (a, b) => a.orElse(b)
        .getOrElse(spark.read.parquet(fa.head).schema) // one footer read
    }
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // each side's unique files read under ITS version's vectors, so a
    // rewritten file contributes live rows only
    def side(fs: Seq[String], dvs: Seq[String]) =
      if (fs.isEmpty) empty
      else liveRead(spark, fs, dvs, Some(schema), renames)
    // `exceptAll` exists to cancel carried-identical rows when BOTH
    // sides replaced files (a rewrite); when one side has no unique
    // files there is nothing to cancel against and the other side IS
    // the answer — skipping the operator turns the two most common
    // feed shapes (pure append, pure file-retire) from a wide-row
    // hash-shuffle into a plain scan. Between those extremes, the
    // ZONE STATS both endpoints already carry prune the operator's
    // INPUTS: a unique file whose per-key ranges intersect no
    // opposite-side file's (and shares no null-key possibility) can
    // hold no cancelling row — its rows pass straight through, and
    // only genuinely range-overlapping file pairs pay the wide-row
    // shuffle. A surgical rewrite of a clustered table then diffs the
    // boundary files, not the rewrite's whole footprint.
    val (aOv, aDis, bOv, bDis) =
      overlapPartition(spark, base, from, to, onlyA, onlyB)
    // the two directions of the content diff share one cancellation
    // structure: for each distinct row value with na copies on the
    // from-side and nb on the to-side, min(na, nb) cancel — deletes
    // are the max(na-nb, 0) excess and inserts the max(nb-na, 0),
    // exactly exceptAll's multiset rule in both directions at once.
    // Running exceptAll twice pays that as TWO full-row hash shuffles,
    // each scanning BOTH sides (4 scans, 2 wide shuffles); counting
    // the signed side imbalance in ONE groupBy pays 2 scans and 1
    // shuffle, and the two direction filters sit over the SAME
    // aggregate subplan, so ReuseExchange ships the wide rows across
    // the wire once.
    val (ovDeletes, ovInserts) =
      if (aOv.isEmpty || bOv.isEmpty)
        // nothing can cancel: each side IS its direction's answer
        // (plain scans — the pure-append / pure-retire shapes)
        (side(aOv, dvA), side(bOv, dvB))
      else {
        val cols = schema.fieldNames.toSeq
        require(!cols.exists(Set("__side", "__imb", "__dup")),
          "table columns collide with the change-diff scratch names")
        val excess = side(aOv, dvA).withColumn("__side", lit(-1L))
          .unionByName(side(bOv, dvB).withColumn("__side", lit(1L)))
          .groupBy(cols.map(col): _*)
          .agg(sum("__side").as("__imb"))
          .filter(col("__imb") =!= 0L)
          // a row value duplicated beyond its cancelled copies emits
          // once per excess copy — multiset multiplicity preserved
          .withColumn("__dup",
            explode(sequence(lit(1L), abs(col("__imb")))))
        (excess.filter(col("__imb") < 0L).select(cols.map(col): _*),
          excess.filter(col("__imb") > 0L).select(cols.map(col): _*))
      }
    val fileInserts =
      if (onlyB.isEmpty) empty
      else if (bDis.isEmpty) ovInserts
      else side(bDis, dvB).unionByName(ovInserts)
    val fileDeletes =
      if (onlyA.isEmpty) empty
      else if (aDis.isEmpty) ovDeletes
      else side(aDis, dvA).unionByName(ovDeletes)
    // deletion-vector churn on files BOTH versions carry: a position
    // newly covered in `to` is a delete, a released one a re-insert —
    // resolved by reading ONLY the churned files at the churned
    // positions (a merge-on-read delete changes no data file, so the
    // file diff above cannot see it)
    def dvOf(dvs: Seq[String]) =
      if (dvs.isEmpty)
        spark.range(0).select(col("id").cast("string").as("__file"),
          col("id").as("__pos"))
      else spark.read.schema(DvSchema).parquet(dvs: _*)
    // a sidecar file listed by BOTH endpoints contributes the identical
    // (file, pos) multiset to both sides of the diff — it cancels
    // EXACTLY, so only each side's UNIQUE sidecars are read at all.
    // Under the accumulating-DV layout a forward range's `from` set is
    // usually a subset of `to`'s: the churn then reduces to the delta
    // sidecars with no cancellation left to compute.
    val dvACanon = dvA.map(Dfs.canonical).toSet
    val dvBCanon = dvB.map(Dfs.canonical).toSet
    val dvAu = dvA.filterNot(f => dvBCanon.contains(Dfs.canonical(f)))
    val dvBu = dvB.filterNot(f => dvACanon.contains(Dfs.canonical(f)))
    val (dvDeletes, dvInserts) =
      if (dvAu.isEmpty && dvBu.isEmpty) (empty, empty)
      else {
        // both directions of the position diff in ONE signed-imbalance
        // aggregate (the file diff's trick above): a position only in
        // `to` nets +, only in `from` nets -, carried by both cancels —
        // exceptAll's multiset rule, and every downstream use (touched
        // file lists, bitmap membership, semi join) is set-semantics,
        // so the sign is all that matters. Duplicates WITHIN one side
        // (the same position recorded by two delta sidecars) cannot
        // flip a sign either, so the one-sided shapes skip the netting
        // entirely (bitmap set() is idempotent, the semi-join is a set
        // probe); only the genuinely two-sided shape cancels.
        val oneSided = dvAu.isEmpty || dvBu.isEmpty
        // SMALL churn — total delta-sidecar positions certified by the
        // per-sidecar entries' footer counts (no data read) to fit
        // 1/64th of the index budget — builds the index DRIVER-side
        // from the cached entries ([[dvEntries]]): no Spark job. At-scale
        // churn keeps the distributed shape below. Budget conf zero
        // (the fallback-forcing tests' spelling) disables the small
        // path too.
        val maxIdxBytes = dvIndexMaxBytes(spark)
        val localNet: Option[Map[(Int, String), Seq[Long]]] =
          dvEntries(spark, dvAu ++ dvBu).filter { es =>
            val r = es.map(_.records).sum
            r > 0L && r <= maxIdxBytes / 64
          }.map { es =>
            if (oneSided) {
              val dir = if (dvAu.isEmpty) 1 else -1
              positionsOf(es).map { case (f, ps) => (dir, f) -> ps.toSeq }
            } else {
              // multiset-net the two per-side (cached) position maps
              // driver-side, per sidecar-recorded file spelling
              val (ea, eb) = es.splitAt(dvAu.size)
              val a = positionsOf(ea)
              val b = positionsOf(eb)
              val out = scala.collection.mutable.HashMap
                .empty[(Int, String), scala.collection.mutable.ArrayBuilder.ofLong]
              (a.keySet ++ b.keySet).foreach { f =>
                val cnt = scala.collection.mutable.HashMap.empty[Long, Long]
                a.getOrElse(f, Array.empty[Long])
                  .foreach(p => cnt(p) = cnt.getOrElse(p, 0L) - 1L)
                b.getOrElse(f, Array.empty[Long])
                  .foreach(p => cnt(p) = cnt.getOrElse(p, 0L) + 1L)
                cnt.foreach { case (p, s) =>
                  if (s != 0L)
                    out.getOrElseUpdate((math.signum(s.toDouble).toInt, f),
                      new scala.collection.mutable.ArrayBuilder.ofLong) += p
                }
              }
              out.iterator.map { case (k, bld) => k -> bld.result().toSeq }
                .toMap
            }
          }
        val imb = localNet match {
          case Some(m) =>
            // tiny local relation — only ever scanned by the
            // past-budget fallback semi-join (sparse huge positions
            // can blow the bitmap budget at any count)
            val rows = m.toSeq.flatMap { case ((dir, f), ps) =>
              ps.map(p => (f, p, dir.toLong))
            }
            spark.createDataFrame(rows).toDF("__file", "__pos", "__imb")
          case None if oneSided =>
            dvOf(if (dvAu.isEmpty) dvBu else dvAu)
              .withColumn("__imb", lit(if (dvAu.isEmpty) 1L else -1L))
              .persist()
          case None =>
            dvOf(dvAu).withColumn("__sgn", lit(-1L))
              .unionByName(dvOf(dvBu).withColumn("__sgn", lit(1L)))
              .groupBy("__file", "__pos").agg(sum("__sgn").as("__imb"))
              .filter(col("__imb") =!= 0L)
              .persist()
        }
        try {
          // one stats pass + one collect build BOTH directions'
          // touched-file lists and bitmap probes (vs a per-direction
          // distinct collect plus two index collects);
          // ZERO jobs when the driver-side cancellation ran
          val churn = dvChurnIndex(spark, imb, local = localNet)
          def rowsAt(dir: Int): DataFrame = churn.get(dir) match {
            case None => empty
            case Some((touchedAll, probe)) =>
              val touched = touchedAll.filter(shared.contains)
              if (touched.isEmpty) empty
              else {
                val scan = eraRead(spark, renames, touched, Some(schema),
                  withPositions = true)
                // churned positions as a scan-stage bitmap probe (the
                // positive face of the liveRead filter) — the semi-join
                // shuffle only past the index budget; past-budget the
                // lazy join recomputes the diff at execution (accepted)
                probe match {
                  case Some(churned) =>
                    scan.filter(churned).drop("__file", "__pos")
                  case None => scan
                    .join(imb.filter(signum(col("__imb")) === dir)
                      .select("__file", "__pos"),
                      Seq("__file", "__pos"), "left_semi")
                    .drop("__file", "__pos")
                }
              }
          }
          (rowsAt(1), rowsAt(-1))
        } finally { imb.unpersist(); () }
      }
    fileInserts.unionByName(dvInserts)
      .withColumn("_change_type", lit("insert"))
      .unionByName(
        fileDeletes.unionByName(dvDeletes)
          .withColumn("_change_type", lit("delete")))
  }

  /** [[changesBetween]] with provenance where attribution is
    * well-defined: a range holding a SINGLE committed step belongs
    * entirely to that commit, so the pair stamps real values
    * ([[changesAt]]'s contract); a multi-step netting range cannot
    * attribute and leaves the columns absent (the catalog face
    * null-fills them — the per-version feed,
    * [[changesBetweenWithUpdates]], is the always-attributed shape).
    * Kept OUT of [[changesBetween]] itself so struct-packing consumers
    * ([[changesBetweenKeyed]], MV folds) keep their column contract. */
  def changesBetweenAttributed(spark: SparkSession, base: String,
      from: Int, to: Int): DataFrame = {
    val diff = changesBetween(spark, base, from, to)
    committedVersions(spark, base).filter(w => w > from && w <= to) match {
      case Seq(w) =>
        diff.withColumn("_commit_version", lit(w))
          .withColumn("_commit_timestamp",
            lit(new java.sql.Timestamp(commitTimestampOf(spark, base, w))))
      case _ => diff
    }
  }

  /** The change feed with row identity declared: given key columns,
    * a key present on BOTH sides of [[changesBetween]]'s content diff
    * is an UPDATE — its old image re-tags `update_preimage`, its new
    * image `update_postimage` — while one-sided keys stay plain
    * `delete`/`insert`. This is the Delta CDF tagging downstream MERGE
    * consumers need: replicating a feed of bare delete+insert pairs
    * into a keyed table would transiently drop rows an update merely
    * changed, and an incremental aggregate could not net an update to
    * zero without pairing the images.
    *
    * Contract: a non-null key that appears more than once on one side
    * THROWS (pairing would depend on row order — [[merge]]'s refusal);
    * null keys never match (SQL join equality), so null-key rows pass
    * through as plain insert/delete. Scale: classification is ONE
    * full-outer join over the FEED, not the table — [[changesBetween]]
    * already pruned to churned files; the old/new sides meet once on
    * the keys and each match class expands to its tagged image rows
    * (both sides → pre+post pair, one side → plain delete/insert), so
    * the feed shuffles once instead of once per class. */
  def changesBetweenKeyed(spark: SparkSession, base: String,
      from: Int, to: Int, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyed change feed needs at least one key column")
    val ch = changesBetween(spark, base, from, to)
    val cols = ch.columns.filter(_ != "_change_type").toSeq
    require(!cols.exists(Set("__nk", "__dels", "__inss", "__e")),
      "table columns collide with the keyed-feed scratch names")
    val nonNullKey = keyCols.map(col(_).isNotNull).reduce(_ && _)
    // ONE aggregate pairs both sides per key — replacing a full-outer
    // join (an exchange per side) PLUS a separate dup-probe aggregate
    // over a persisted feed (three exchanges per run) with a single
    // exchange. Null keys never pair (full-outer-join semantics), so
    // each null-key row grabs a private group via a row-unique
    // discriminator; the discriminator never reaches the output, so
    // its values are free to differ across retries.
    val grouped = ch.withColumn("__nk",
        when(nonNullKey, lit(null).cast("long"))
          .otherwise(monotonically_increasing_id()))
      .groupBy((keyCols :+ "__nk").map(col): _*)
      .agg(
        collect_list(when(col("_change_type") === "delete",
          struct(cols.map(col): _*))).as("__dels"),
        collect_list(when(col("_change_type") === "insert",
          struct(cols.map(col): _*))).as("__inss"))
      .persist()
    try {
      // the dup probe is now a filter over the already-built groups
      // (same job fills the cache); it stays a DRIVER-side require so
      // unpairable feeds refuse with IllegalArgumentException at
      // composition, not a wrapped task failure at action time
      val dup = grouped.filter(
        size(col("__dels")) > 1 || size(col("__inss")) > 1)
        .limit(1).count()
      require(dup == 0,
        s"a side of the $from->$to feed has duplicate keys on " +
          s"(${keyCols.mkString(", ")}) — images cannot be paired")
      val images = grouped.select(explode(
        when(size(col("__dels")) === 1 && size(col("__inss")) === 1,
          array(
            struct(element_at(col("__dels"), 1).as("r"),
              lit("update_preimage").as("t")),
            struct(element_at(col("__inss"), 1).as("r"),
              lit("update_postimage").as("t"))))
        .when(size(col("__dels")) === 1,
          array(struct(element_at(col("__dels"), 1).as("r"),
            lit("delete").as("t"))))
        .otherwise(
          array(struct(element_at(col("__inss"), 1).as("r"),
            lit("insert").as("t")))))
        .as("__e"))
        .select(col("__e.r.*"), col("__e.t").as("_change_type"))
      // localCheckpoint materializes the classification NOW, so the
      // cache can be released before returning instead of leaking for
      // the session's lifetime — the result is feed-sized
      images.localCheckpoint()
    } finally { grouped.unpersist(); () }
  }

  /** Single-version change feed WITH Delta's update tags, when version
    * `w`'s write recorded its classification
    * (`graft.cdf.updateImages` at write time → [[cdcOf]]): the
    * per-version replay Delta CDF serves, built from metadata +
    * churned files only —
    *  - `insert`: rows of new data files minus the recorded postimage
    *    files;
    *  - `update_postimage`: rows of the recorded postimage files;
    *  - `update_preimage`: rows at the recorded update rowIds, read
    *    from the parent version's (still retained) files;
    *  - `delete`: the rest of the newly-dead rows — new DV positions
    *    beyond the update set, plus live rows of files the commit
    *    elided.
    * A version written WITHOUT the flag falls back to the content
    * diff ([[changesBetween]] prev→w, delete+insert tags); version 0
    * is all `insert`. Every row additionally carries
    * `_commit_version = w` (Delta CDF's provenance column — range
    * consumers order and attribute intermediate changes by it; the
    * catalog faces align to their fixed schema and drop it). Cost ∝
    * churn: only new/retired/churned files are read, never the
    * table. */
  /** Commit tags whose version is content-preserving by construction
    * (the live row multiset equals the parent's): every compaction
    * flavor. The change feed serves these steps empty — Delta's
    * `dataChange = false`. */
  private val contentPreservingTags: Set[String] =
    Set("autocompact", "compact", "compact-small")

  def changesAt(spark: SparkSession, base: String, w: Int): DataFrame = {
    val committed = committedVersions(spark, base)
    require(committed.contains(w),
      s"version $w of $base was never committed or is vacuumed")
    val prevOpt = committed.filter(_ < w).lastOption
    // a compaction — policy OR manual — is content-preserving BY
    // CONSTRUCTION (Delta marks every OPTIMIZE dataChange=false): its
    // replay step is provably empty, so serve empty instead of paying
    // a content diff that shuffles the table's rows just to cancel
    // them — on a table with auto-compact armed that diff would recur
    // every few epochs, and across a manual OPTIMIZE it would cost a
    // whole-table read
    val step: DataFrame =
    if (tagOf(spark, base, w).exists(contentPreservingTags))
      readAt(spark, base, w).limit(0)
        .withColumn("_change_type", lit(""))
    else prevOpt match {
      case None =>
        readAt(spark, base, w).withColumn("_change_type", lit("insert"))
      case Some(prev) => cdcOf(spark, base, w) match {
        case None => changesBetween(spark, base, prev, w)
        case Some((postFiles, updDvFiles)) =>
          val sch = schemaOf(spark, base, w)
          val ren = renamesOf(spark, base, w)
          val fPrev = files(spark, base, prev)
          val fW = files(spark, base, w)
          val prevSet = fPrev.map(Dfs.canonical).toSet
          val wSet = fW.map(Dfs.canonical).toSet
          val postSet = postFiles.map(Dfs.canonical).toSet
          val inserted = fW.filterNot(f => prevSet.contains(Dfs.canonical(f)))
          val (postIns, plainIns) = inserted.partition(f =>
            postSet.contains(Dfs.canonical(f)))
          val retired = fPrev.filterNot(f => wSet.contains(Dfs.canonical(f)))
          val updDv: Option[DataFrame] =
            if (updDvFiles.isEmpty) None
            else Some(spark.read.parquet(updDvFiles: _*))
          def tagged(df: DataFrame, t: String) =
            df.withColumn("_change_type", lit(t))
          // (file,pos)-identified OLD rows tag by update membership:
          // recorded update rowIds are preimages, the rest deletes
          def tagOld(rows: DataFrame): DataFrame = updDv match {
            case None => tagged(rows.drop("__file", "__pos"), "delete")
            case Some(u) =>
              rows.join(u.withColumn("__upd", lit(true)),
                  Seq("__file", "__pos"), "left")
                .withColumn("_change_type",
                  when(col("__upd").isNotNull, lit("update_preimage"))
                    .otherwise(lit("delete")))
                .drop("__file", "__pos", "__upd")
          }
          val dvPrevSet = dvFiles(spark, base, prev)
            .map(Dfs.canonical).toSet
          val newDvFiles = dvFiles(spark, base, w)
            .filterNot(f => dvPrevSet.contains(Dfs.canonical(f)))
          // rows newly vectored in files BOTH versions carry (retired
          // files are handled wholesale below — their dv rows, when the
          // elision kept the sidecar, must not double-count)
          val preShared: Option[DataFrame] =
            if (newDvFiles.isEmpty) None
            else {
              val newDvRows = spark.read.parquet(newDvFiles: _*)
              val rawShared = newDvRows.select("__file").distinct()
                .collect().map(_.getString(0))
                .filter(r => wSet.contains(Dfs.canonical(r)))
              if (rawShared.isEmpty) None
              else {
                val sharedCanon = rawShared.map(Dfs.canonical).toSet
                val touched = fW.filter(f =>
                  sharedCanon.contains(Dfs.canonical(f)))
                val sharedDv = newDvRows.filter(
                  col("__file").isin(rawShared.toIndexedSeq: _*))
                Some(tagOld(
                  eraRead(spark, ren, touched, sch, withPositions = true)
                    .join(sharedDv, Seq("__file", "__pos"), "left_semi")))
              }
            }
          // elided files: every row live at prev died in this step
          val preRetired: Option[DataFrame] =
            if (retired.isEmpty) None
            else Some(tagOld(liveRead(spark, retired,
              dvFiles(spark, base, prev), sch, ren, keepPos = true)))
          val parts = Seq(
            if (plainIns.isEmpty) None
            else Some(tagged(eraRead(spark, ren, plainIns, sch), "insert")),
            if (postIns.isEmpty) None
            else Some(tagged(eraRead(spark, ren, postIns, sch),
              "update_postimage")),
            preShared, preRetired).flatten
          if (parts.isEmpty)
            readAt(spark, base, w).limit(0)
              .withColumn("_change_type", lit(""))
          else parts.reduce(_.unionByName(_))
      }
    }
    // Delta CDF's provenance pair (`table_changes` parity): which
    // commit produced each row and WHEN it landed — the timestamp is
    // the commit-recorded instant ([[commitTimestampOf]]), never
    // filesystem mtime. Served on the API faces and the catalog
    // `.changes` faces alike.
    step.withColumn("_commit_version", lit(w))
      .withColumn("_commit_timestamp",
        lit(new java.sql.Timestamp(commitTimestampOf(spark, base, w))))
  }

  /** Range change feed with update images: the CONCATENATION of
    * [[changesAt]] over every committed version in `(from, to]` —
    * Delta CDF's semantics, where intermediate changes are visible
    * (insert@v1 + delete@v2 of the same row BOTH appear), unlike
    * [[changesBetween]]'s endpoint content diff (which nets them
    * out). The right feed for consumers that replay history — CDC
    * sinks, incremental MVs folding at grain — and the only one that
    * can carry update tags, which exist per STATEMENT, not per
    * endpoint pair. */
  def changesBetweenWithUpdates(spark: SparkSession, base: String,
      from: Int, to: Int): DataFrame = {
    require(from <= to, s"bad change range: $from -> $to")
    val committed = committedVersions(spark, base)
    // `from` must still be committed: retention is suffix-shaped, so a
    // committed `from` guarantees every step's parent resolves — a
    // vacuumed one would make the first retained step masquerade as a
    // whole-table insert snapshot (the changesBetween contract, made
    // explicit here because changesAt(v0-after-vacuum) is valid alone)
    require(committed.contains(from),
      s"version $from of $base was never committed or is vacuumed")
    val steps = committed.filter(v => v > from && v <= to)
    require(steps.nonEmpty || from == to,
      s"no committed versions of $base in ($from, $to]")
    if (steps.isEmpty)
      readAt(spark, base, to).limit(0)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(to))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(commitTimestampOf(spark, base, to))))
    else steps.map(w => changesAt(spark, base, w))
      // schema may have evolved mid-range: the feed serves the union
      // schema, null-filling older steps (Delta CDF's behavior)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Surgical delete as a manifest swap: one discovery scan finds the
    * affected files, ONE distributed job rewrites their survivors into
    * a fresh data directory (survivor rows need no file-boundary
    * preservation — they repartition freely), and the next version's
    * manifest carries `untouched ++ rewritten`. Readers atomically see
    * the whole delete or none of it; the previous version still
    * resolves for audit. Returns (affected, total, new version).
    *
    * `asOf` pins the snapshot the delete derives from (defaults to
    * latest). Losing the version race no longer refuses outright: the
    * commit rebases across concurrent PURE APPENDS whose rows the
    * predicate provably never matches ([[commitRewrite]]) — disjoint
    * writers commute, overlapping ones still throw
    * [[ConcurrentCommitException]]. */
  def deleteWhere(spark: SparkSession, base: String,
      pred: Column, asOf: Option[Int] = None): (Int, Int, Int) = {
    val v = asOf.orElse(latestVersion(spark, base))
      .getOrElse(sys.error(s"no committed version under $base"))
    require(dvFiles(spark, base, v).isEmpty,
      s"version $v carries deletion vectors — compact($base) first to " +
        "materialize them, or keep using deleteWhereMor")
    val cur = files(spark, base, v).map(Dfs.canonical)
    val ren = renamesOf(spark, base, v)
    def rd(fs: Seq[String]) =
      eraRead(spark, ren, fs, schemaOf(spark, base, v))
    val affected = rd(cur)
      .filter(pred)
      .select(input_file_name().as("f"))
      .distinct().collect().map(r => Dfs.canonical(r.getString(0))).toSet
    if (affected.isEmpty) return (0, cur.size, v)
    // null predicate values SURVIVE (same contract as Deletes)
    val survivorPred = !coalesce(pred, lit(false))
    val rewritten = stageData(base, rd(affected.toSeq)
      .filter(survivorPred)
      .repartition(math.max(1, affected.size)))
    val nv = commitRewrite(spark, base, v, affected, rewritten, None,
      added => rd(added)
        .filter(coalesce(pred, lit(false))).limit(1).count() > 0)
    (affected.size, cur.size, nv)
  }

  /** Partition-predicate DELETE — metadata-first. Every data file is
    * classified by evaluating `pred` over its recorded partition
    * TUPLES (manifest metadata, zero data reads):
    *
    *  - every tuple matches → the file DROPS from the manifest whole:
    *    retiring a day from a date-partitioned 100 TB table is pure
    *    manifest arithmetic, no byte read or written;
    *  - no tuple matches (pred FALSE or NULL — unknown never deletes)
    *    → the file carries by reference;
    *  - mixed, or missing from the metadata (conservative) → only
    *    those BOUNDARY files pay [[deleteWhere]]'s survivor rewrite.
    *
    * Exact regardless of physical clustering, because the tuples are
    * derived from file content: a file that intermingles partitions
    * just lands in the boundary class. `pred` must reference partition
    * columns only — it is evaluated against the partition-values
    * table, so an off-partition column fails analysis loudly rather
    * than misclassifying. Row contract matches [[deleteWhere]]
    * (pred-TRUE rows go, FALSE and NULL survive), and the commit
    * rebases across disjoint concurrent appends the same way. Returns
    * (files dropped whole, files rewritten, new version). */
  def dropPartitions(spark: SparkSession, base: String,
      pred: Column, asOf: Option[Int] = None,
      historyPreds: Seq[(Seq[String], Column)] = Nil): (Int, Int, Int) = {
    val v = asOf.orElse(latestVersion(spark, base))
      .getOrElse(sys.error(s"no committed version under $base"))
    require(dvFiles(spark, base, v).isEmpty,
      s"version $v carries deletion vectors — compact($base) first to " +
        "materialize them")
    val (pvCols, pvSegs) = partitionedBy(spark, base, v)
      .getOrElse(sys.error(s"$base carries no partition metadata — " +
        "use deleteWhere, or commit via commitDataPartitioned"))
    val cur = files(spark, base, v).map(Dfs.canonical)
    val hit = coalesce(pred, lit(false))
    // classification folds over every group whose spec the condition
    // lowered under EXACTLY: legacy groups first (each under ITS OWN
    // spec's predicate — post-evolve files aligned under both eras
    // retire from metadata instead of rewriting), the current group
    // last (a file lives in exactly one group, so this is a disjoint
    // union; "last" only decides the impossible-overlap tie)
    val cls = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    (historyPreds :+ ((pvSegs, pred))).foreach { case (segs, p) =>
      val h = coalesce(p, lit(false))
      spark.read.parquet(segs: _*)
        .groupBy("file")
        .agg(count(lit(1)).as("n"),
          sum(when(h, 1L).otherwise(0L)).as("m"))
        .collect() // manifest-sized metadata: one row per data file
        .foreach(r => cls(Dfs.canonical(r.getString(0))) =
          (r.getLong(1), r.getLong(2)))
    }
    val dropped = cur.filter(f =>
      cls.get(f).exists { case (n, m) => n > 0 && m == n }).toSet
    val carried = cur.filter(f =>
      cls.get(f).exists { case (_, m) => m == 0L }).toSet
    val boundary = cur.filterNot(f => dropped(f) || carried(f))
    if (dropped.isEmpty && boundary.isEmpty) return (0, 0, v)
    def rd(fs: Seq[String]) =
      eraRead(spark, renamesOf(spark, base, v), fs,
        schemaOf(spark, base, v))
    val rewritten =
      if (boundary.isEmpty && carried.nonEmpty) Seq.empty[String]
      // drop-EVERYTHING: no survivor can exist by classification, so
      // honor the metadata-only contract in this edge too — the one
      // empty file an empty table's manifest needs is constructed from
      // the RECORDED schema, not by scanning every data file through a
      // filter that provably keeps nothing
      else if (boundary.isEmpty) stageEmpty(spark, base, v)
      // boundary survivors only — the predicate speaks the TUPLE
      // domain, so transformed tuples derive from the data first
      // (identity specs read the raw columns unchanged)
      else stageData(base,
        tupleDomainFilter(rd(boundary), pvCols, hit, keep = false)
          .repartition(math.max(1, boundary.size)))
    val nv = commitRewrite(spark, base, v,
      dropped ++ boundary ++ (if (carried.isEmpty) cur.toSet else Set.empty),
      rewritten, None,
      added => tupleDomainFilter(rd(added), pvCols, hit, keep = true)
        .limit(1).count() > 0)
    (dropped.size, boundary.size, nv)
  }

  /** Partition-scoped `INSERT OVERWRITE` — replace exactly the rows
    * matching `pred` (a partition-column predicate) with `data`, in ONE
    * atomic commit: no reader ever sees the dropped-but-not-yet-
    * reinserted intermediate a DELETE-then-INSERT pair would expose.
    * Files classify from the recorded partition tuples exactly as in
    * [[dropPartitions]] (metadata only, zero data reads):
    *
    *  - every tuple matches → the file retires whole;
    *  - no tuple matches (NULL never matches — unknown is never
    *    overwritten) → the file CARRIES BY REFERENCE: overwriting one
    *    day of a date-partitioned 100 TB table moves that day's bytes
    *    and nothing else;
    *  - mixed / unclassifiable → only those boundary files pay a
    *    survivor rewrite.
    *
    * The next manifest is `carried ++ boundary-survivors ++ data's
    * files`, published through [[replaceFiles]]: OCC with the
    * commuting-append rebase (a concurrent append whose rows the
    * predicate provably never matches commutes; an overlapping one
    * throws), CHECK-constraint validation over the new bytes, and
    * stats/partition-tuple/bloom re-derivation for the new files only.
    *
    * Contract (Delta `replaceWhere`): every incoming row must satisfy
    * `pred` — a row outside the replaced region would silently land
    * beyond what the statement claims to touch, so it refuses instead.
    * Returns the new version. */
  def overwriteWhere(data: DataFrame, base: String, pred: Column,
      asOf: Option[Int] = None,
      regionPred: Option[Column] = None,
      regionHistory: Seq[(Seq[String], Column)] = Nil): Int = {
    val spark = data.sparkSession
    val v = asOf.orElse(latestVersion(spark, base))
      .getOrElse(sys.error(s"no committed version under $base"))
    require(dvFiles(spark, base, v).isEmpty,
      s"version $v carries deletion vectors — compact($base) first to " +
        "materialize them")
    val pv = partitionedBy(spark, base, v)
      .getOrElse(sys.error(s"$base carries no partition metadata — " +
        "partition-scoped overwrite needs a partitioned table " +
        "(commitDataPartitioned / PARTITIONED BY)"))
    val sch = schemaOf(spark, base, v)
    // align to the recorded schema BY NAME (SQL INSERT already resolved
    // and cast; a Scala caller with missing/misnamed columns fails here
    // loudly instead of committing unreadable files)
    val aligned = sch.fold(data)(s0 =>
      data.select(s0.fieldNames.toIndexedSeq.map(n => col(s"`$n`")): _*))
    val added = stageData(base, aligned)
    // Delta replaceWhere containment, checked on the WRITTEN BYTES (not
    // the incoming query): the input runs once, and a non-deterministic
    // source cannot pass a pre-write check yet materialize out-of-region
    // rows — what was written is what is validated. Violation deletes
    // the unpublished files and refuses; no version burned.
    val hit = coalesce(pred, lit(false))
    if (added.nonEmpty &&
        sch.fold(spark.read)(spark.read.schema(_)).parquet(added: _*)
          .filter(!hit).limit(1).count() > 0) {
      Dfs.delete(spark, new org.apache.hadoop.fs.Path(added.head).getParent
        .toString, recursive = true)
      sys.error(s"INSERT OVERWRITE into $base: the incoming data " +
        "contains rows outside the overwrite predicate — every inserted " +
        "row must match it (Delta replaceWhere contract), or rows would " +
        "land beyond the region the statement replaces")
    }
    // region classification speaks the TUPLE domain: callers whose
    // source predicate lowered EXACTLY to the recorded tuples (a
    // month-aligned backfill on a monthly table) hand the lowered form
    // here so whole files carry/retire from metadata; identity specs
    // pass nothing (source IS tuple)
    overwriteRegionWithFiles(spark, base, v, regionPred.getOrElse(pred),
      added, pv, sch,
      historyPreds = if (regionPred.isDefined) regionHistory else Nil)
  }

  /** Dynamic `INSERT OVERWRITE` over ALREADY-WRITTEN files (the DSv2
    * batch-write path — dynamic overwrite has no V1 fallback in Spark,
    * so the tasks stream parquet first and this publishes): the
    * replaced region is the set of partitions the written files HOLD
    * (Hive dynamic semantics), discovered by one column-pruned distinct
    * over the new files and lowered to a partition predicate for the
    * same atomic commit as the static form. Empty input touches no
    * partition (returns the current version, burns nothing). Capped at
    * 1000 distinct partitions — past that the statement is a
    * table-replace in disguise and the per-tuple predicate would blow
    * up plan size. */
  private[graft] def overwriteDynamicFiles(spark: SparkSession,
      base: String, written: Seq[String],
      writeSchema: org.apache.spark.sql.types.StructType): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    require(dvFiles(spark, base, v).isEmpty,
      s"version $v carries deletion vectors — compact($base) first to " +
        "materialize them")
    val pv = partitionedBy(spark, base, v)
      .getOrElse(sys.error(s"$base carries no partition metadata — " +
        "dynamic INSERT OVERWRITE needs a partitioned table"))
    val pcols = pv._1
    if (written.isEmpty) return v
    // region discovery and the replacement predicate both speak TUPLE
    // values: under a transform spec the written data's months/buckets
    // are derived exactly as the sidecar derives them, and the
    // predicate compares the sidecar's tuple columns — Hive dynamic
    // semantics at transform granularity (a monthly table replaces the
    // months the batch touches)
    // the region predicate compares tuples DERIVED NOW (current UTC
    // semantics) against SIDECAR tuples — on a pre-UTC table the two
    // eras can disagree near granule boundaries and rows that should
    // be replaced would survive; refuse with the remedy
    require(partTuplesTrusted(spark, base, v, pcols),
      s"$base records partition tuples under pre-UTC time-transform " +
        "semantics — dynamic INSERT OVERWRITE cannot classify its " +
        "region exactly; run compact() (OPTIMIZE) to re-derive the " +
        "tuples first")
    val fields = PartitionTransforms.parseAll(pcols)
    val tuples = spark.read.schema(writeSchema).parquet(written: _*)
      .select(tupleColumns(writeSchema, pcols): _*)
      .distinct().limit(1001).collect().toSeq
    require(tuples.length <= 1000,
      "dynamic INSERT OVERWRITE touches more than 1000 distinct " +
        "partitions — use whole-table INSERT OVERWRITE instead")
    if (tuples.isEmpty) return v
    val pred = tuples.map(t => fields.zipWithIndex.map { case (f, i) =>
      col(s"`${f.tupleName}`") <=> lit(t.get(i)) }.reduce(_ && _))
      .reduce(_ || _)
    overwriteRegionWithFiles(spark, base, v, pred, written, pv,
      schemaOf(spark, base, v))
  }

  /** The classification + atomic-commit core under [[overwriteWhere]]
    * and [[overwriteDynamicFiles]]: replace the `pred` region of
    * version `v` with the already-written `added` files, in one
    * [[replaceFiles]] commit. Callers hand in the snapshot's partition
    * metadata and schema they already fetched — no duplicate reads. */
  /** A TUPLE-DOMAIN predicate applied to DATA rows: transformed tuple
    * columns are DERIVED from their sources first (identity specs
    * derive nothing and read the raw columns), the filter applies in
    * the derived frame, and the projection restores the data shape.
    * The row-level leg of every partition-classified operation —
    * boundary-file rewrites and commute checks speak the same domain
    * the sidecar classification did. */
  private def tupleDomainFilter(df: DataFrame, specs: Seq[String],
      hit: Column, keep: Boolean): DataFrame = {
    val derived = PartitionTransforms.parseAll(specs)
      .filterNot(_.isIdentity)
      .filterNot(f => df.columns.contains(f.tupleName))
    val ext = derived.foldLeft(df)((d, f) =>
      d.withColumn(f.tupleName,
        f.tupleColumn(d.schema(f.source).dataType)))
    ext.filter(if (keep) hit else !hit)
      .select(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
  }

  private def overwriteRegionWithFiles(spark: SparkSession, base: String,
      v: Int, pred: Column, added: Seq[String],
      pv: (Seq[String], Seq[String]),
      sch: Option[org.apache.spark.sql.types.StructType],
      historyPreds: Seq[(Seq[String], Column)] = Nil): Int = {
    val pvSegs = pv._2
    val hit = coalesce(pred, lit(false))
    val cur = files(spark, base, v).map(Dfs.canonical)
    // same per-group classification as [[dropPartitions]]: legacy
    // groups the region is aligned under retire/carry their files
    // from metadata; unclassified files pay the boundary rewrite
    val cls = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    (historyPreds :+ ((pvSegs, pred))).foreach { case (segs, p) =>
      val h = coalesce(p, lit(false))
      spark.read.parquet(segs: _*)
        .groupBy("file")
        .agg(count(lit(1)).as("n"),
          sum(when(h, 1L).otherwise(0L)).as("m"))
        .collect() // manifest-sized metadata: one row per data file
        .foreach(r => cls(Dfs.canonical(r.getString(0))) =
          (r.getLong(1), r.getLong(2)))
    }
    val dropped = cur.filter(f =>
      cls.get(f).exists { case (n, m) => n > 0 && m == n }).toSet
    val carried = cur.filter(f =>
      cls.get(f).exists { case (_, m) => m == 0L }).toSet
    val boundary = cur.filterNot(f => dropped(f) || carried(f))
    def rd(fs: Seq[String]) =
      eraRead(spark, renamesOf(spark, base, v), fs, sch)
    def dataHit(df: DataFrame, keep: Boolean): DataFrame =
      tupleDomainFilter(df, pv._1, hit, keep)
    val survivors =
      if (boundary.isEmpty) Seq.empty[String]
      else stageData(base, dataHit(rd(boundary), keep = false)
        .repartition(math.max(1, boundary.size)))
    replaceFiles(spark, base, v, (dropped ++ boundary).toSet,
      survivors ++ added, tag = Some("sql:insert_overwrite"),
      conflictsWith = fresh =>
        dataHit(rd(fresh), keep = true).limit(1).count() > 0)
  }

  /** Copy-on-write UPDATE ... SET — the third leg of the DML triad
    * beside [[deleteWhere]] and [[merge]]: rows matching `pred` get the
    * `set` expressions applied (each evaluated over the OLD row —
    * standard UPDATE snapshot semantics, so `quantity -> quantity + 1`
    * never sees its own result), every other row is carried verbatim.
    * Only the files the predicate touches are rewritten; on a table
    * clustered by the predicate key an UPDATE rewrites a handful of
    * files while the manifest carries the other 99.9% of a 100 TB
    * table by reference, and the swap is atomic with the pre-update
    * version still resolving for audit.
    *
    * NULL predicate rows are NOT updated (CASE semantics — the exact
    * complement of [[deleteWhere]], where NULL rows SURVIVE: both
    * treat "unknown" as "leave the row alone"). `set` may not
    * introduce new columns, and each expression is cast back to the
    * column's recorded type — an UPDATE that changes the table's shape
    * is schema evolution, which this protocol only admits through an
    * explicit [[commit]] with a declared schema. Returns
    * (files rewritten, rows updated, new version).
    *
    * `asOf` pins the snapshot (defaults to latest); the commit rebases
    * across concurrent appends the predicate provably never matches
    * ([[commitRewrite]]), refusing otherwise. */
  def updateWhere(spark: SparkSession, base: String,
      pred: Column, set: Map[String, Column],
      asOf: Option[Int] = None): (Int, Long, Int) = {
    require(set.nonEmpty, "UPDATE with an empty SET list is a no-op")
    val v = asOf.orElse(latestVersion(spark, base))
      .getOrElse(sys.error(s"no committed version under $base"))
    require(dvFiles(spark, base, v).isEmpty,
      s"version $v carries deletion vectors — compact($base) first to " +
        "materialize them")
    val cur = files(spark, base, v).map(Dfs.canonical)
    val ren = renamesOf(spark, base, v)
    def rd(fs: Seq[String]) =
      eraRead(spark, ren, fs, schemaOf(spark, base, v))
    val all = rd(cur)
    set.keys.foreach(k => require(all.columns.contains(k),
      s"UPDATE sets unknown column '$k' — updates cannot add columns"))
    val hit = coalesce(pred, lit(false))
    val affected = all.filter(hit)
      .select(input_file_name().as("f"))
      .distinct().collect().map(r => Dfs.canonical(r.getString(0))).toSet
    if (affected.isEmpty) return (0, 0L, v)
    val touched = rd(affected.toSeq)
    val updatedRows = touched.filter(hit).count()
    val rewritten = stageData(base, touched.select(touched.schema.fields.map { f =>
      set.get(f.name)
        .fold(col(f.name))(e =>
          when(hit, e.cast(f.dataType)).otherwise(col(f.name)))
        .as(f.name)
    }.toSeq: _*)
      .repartition(math.max(1, affected.size)))
    // SET expressions can mint violating values — validate the
    // rewritten images (cost ∝ rewritten bytes, already paid as I/O)
    enforceConstraints(spark, base, Some(v), rewritten,
      schemaOf(spark, base, v))
    val nv = commitRewrite(spark, base, v, affected, rewritten, None,
      added => rd(added)
        .filter(hit).limit(1).count() > 0)
    (affected.size, updatedRows, nv)
  }

  /** RESTORE TABLE ... TO VERSION AS OF `v` — roll the table back by
    * publishing version `v`'s exact content (files, deletion vectors,
    * schema, zone-map stats, all BY REFERENCE) as a NEW version on top
    * of the history. Nothing is erased: the bad versions stay
    * resolvable for audit, the restore itself appears in [[history]],
    * and a second restore can undo the first — Delta's RESTORE
    * semantics, metadata-only (zero data bytes move, one manifest
    * write). OCC-protected: the commit claims latest+1, so a restore
    * racing any other writer loses cleanly rather than resurrecting
    * over fresh data. [[vacuum]] interplay is the documented Delta
    * trade: restoring below a reclaimed horizon throws at read time
    * because the referenced files are gone — restore targets must be
    * retained versions. */
  def restore(spark: SparkSession, base: String, v: Int): Int = {
    val latest = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    require(Dfs.exists(spark, s"$base/v$v/_SUCCESS"),
      s"version $v of $base was never committed or is vacuumed")
    // the restored version's WHOLE metadata story comes back with its
    // data (Delta's RESTORE semantics), not the superseded latest's:
    // its constraint set (the latest's would resurrect pre-constraint
    // rows in violation of a live CHECK without any validation pass),
    // tombstones and rename events (the latest's would refuse appends
    // of a column the restored schema carries live, or lose an era
    // mapping), spec history and tuple-semantics stamp (the latest's
    // could mark pre-UTC tuples trusted after a rollback across an
    // OPTIMIZE upgrade), and its planner statistics
    commit(spark, base, files(spark, base, v),
      meta(spark, base, v).carried, parent = Some(latest),
      tag = Some(s"restore:v$v"))
  }

  /** Column names logically dropped on or before version `v` whose
    * physical bytes may still live in the version's files (the
    * [[dropColumn]] tombstone list). Empty when none. */
  def droppedOf(spark: SparkSession, base: String, v: Int): Seq[String] =
    droppedOf(probe(spark, base, v))
  private def droppedOf(sc: Sidecars): Seq[String] =
    if (!sc.has("_dropped")) Seq.empty else sc.lines("_dropped")

  /** One RENAME COLUMN event: files in `preFiles` (canonical paths)
    * were written before the rename and physically hold the column
    * under `from`; every other file holds it under `to`. The list is
    * SELF-CONTAINED — carried (and pruned to survivors) through every
    * commit like the manifest itself — so era resolution never reads
    * another version's metadata: clone, restore and vacuum of old
    * versions cannot strand it. Its size is bounded by the manifest's
    * own (it IS a subset of one snapshot's file list, shrinking
    * monotonically as rewrites retire pre-rename files). `v` is the
    * version the rename committed at, whose OWN record holds the
    * complete pre-file set — the change feed consults it for files
    * retired between a historical range's endpoints. */
  case class RenameEvent(v: Int, from: String, to: String,
      preFiles: Seq[String])

  /** True while version `v` still carries files written before some
    * rename — the condition that forces era-aware (V1-detour) reads.
    * Falls back to false once rewrites retire every pre-rename file,
    * even though the emptied events remain as name history. */
  def hasLiveRenames(spark: SparkSession, base: String, v: Int): Boolean =
    renamesOf(spark, base, v).exists(_.preFiles.nonEmpty)

  /** The rename events recorded at version `v`, chronological (events
    * with an empty pre-file list are pure name history). Empty for
    * the overwhelmingly common table that never renamed a column —
    * one existence probe, the price every other sidecar lookup pays. */
  def renamesOf(spark: SparkSession, base: String,
      v: Int): Seq[RenameEvent] =
    renamesOf(probe(spark, base, v))
  private def renamesOf(sc: Sidecars): Seq[RenameEvent] =
    if (!sc.has("_renames")) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[RenameEvent]
      sc.lines("_renames")
        .foreach { line =>
          if (line.startsWith("=")) {
            val parts = line.substring(1).split("\t", 3)
            require(parts.length == 3, s"malformed rename record in " +
              s"${sc.base}/v${sc.v}/_renames: '$line' (expected =v<TAB>from<TAB>to)")
            out += RenameEvent(parts(0).toInt, parts(1), parts(2),
              Vector.empty)
          } else {
            require(out.nonEmpty, s"malformed rename record in " +
              s"${sc.base}/v${sc.v}/_renames: file line before any event header")
            val last = out.last
            out(out.length - 1) = last.copy(preFiles = last.preFiles :+ line)
          }
        }
      out.toSeq
    }

  /** Read `fs` ERA-CORRECTLY under the logical `schema`: a file
    * predating a RENAME COLUMN still holds the column's bytes under
    * the old physical name, so files are grouped by which rename
    * events they predate, each group is scanned under its era's
    * physical schema (same types, per-era names) and aliased back to
    * the logical names, and the groups union. With no live events —
    * every table that never renamed — this IS the plain schema'd scan,
    * byte for byte. Column pruning survives: the per-group Project is
    * a pure rename, so Catalyst pushes a narrower projection straight
    * into each era's parquet scan. `withPositions` threads the
    * `_metadata` file/position columns through (captured INSIDE each
    * era scan, where the metadata struct is still resolvable) for the
    * deletion-vector machinery. */
  private[graft] def eraRead(spark: SparkSession,
      events: Seq[RenameEvent], fs: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      withPositions: Boolean = false): DataFrame = {
    def plain(files: Seq[String]) = {
      val df = schema.fold(spark.read)(spark.read.schema(_))
        .parquet(files: _*)
      if (withPositions) withPos(df) else df
    }
    val live = events.filter(_.preFiles.nonEmpty)
    if (live.isEmpty || fs.isEmpty) return plain(fs)
    val sch = schema.getOrElse(sys.error(
      "era read over live rename events needs the recorded schema — " +
        "renameColumn cannot have committed without one"))
    val pre = live.map(_.preFiles.toSet)
    val groups = fs.groupBy { f =>
      val c = Dfs.canonical(f); pre.map(_.contains(c))
    }
    groups.iterator.map { case (mask, gfs) =>
      // physical names for this era: un-apply, newest rename first,
      // every event the group's files predate (a chain a→b→c composes
      // back to the era's original name); an event whose target left
      // the requested schema maps nothing — its bytes are unrequested
      val phys = sch.fields.map(_.name)
      live.zip(mask).reverse.foreach { case (e, applies) =>
        if (applies) {
          val i = phys.indexOf(e.to)
          if (i >= 0) phys(i) = e.from
        }
      }
      val physSchema = org.apache.spark.sql.types.StructType(
        sch.fields.zip(phys).map { case (f, n) => f.copy(name = n) })
      val df0 = spark.read.schema(physSchema).parquet(gfs: _*)
      val df1 = if (withPositions) withPos(df0) else df0
      val dataCols = sch.fields.zip(phys).map { case (f, n) =>
        col(s"`$n`").as(f.name) }.toSeq
      val extra = if (withPositions) Seq(col("__file"), col("__pos"))
        else Seq.empty
      df1.select(dataCols ++ extra: _*)
    }.reduce(_.unionByName(_))
  }

  /** `m` with the zone-stat and bloom KEY LISTS, the histograms and
    * the KMV sketches narrowed by `retired`: a dropped, renamed or
    * widened column's entries were recorded under the old name or type,
    * so skipping and the append-time folds on it pause until the next
    * ANALYZE; a tier left with no key is dropped whole (`histRows`
    * with the last histogram). */
  private def withoutKey(m: VersionMeta,
      retired: String => Boolean): VersionMeta = {
    def narrow(t: Option[(Seq[String], Seq[String])]) =
      t.map { case (keys, segs) => (keys.filterNot(retired), segs) }
        .filter(_._1.nonEmpty)
    val hist = m.hist.filterNot(e => retired(e._1))
    m.copy(stats = narrow(m.stats), blooms = narrow(m.blooms), hist = hist,
      histRows = m.histRows.filter(_ => hist.nonEmpty),
      ndvKmv = m.ndvKmv.filterNot(e => retired(e._1)))
  }

  /** ALTER TABLE ... DROP COLUMN — METADATA-ONLY: the next version
    * carries the same files with a narrowed recorded schema, so every
    * reader (relation, readAt, DML) stops seeing the column instantly
    * while zero of a 100 TB table's bytes move — the reason Delta
    * needed column mapping and Iceberg field-ids; here the recorded
    * manifest schema IS the read contract, so narrowing it suffices.
    * Time travel still shows the column at older versions.
    *
    * The dropped name is TOMBSTONED: a later append re-introducing it
    * refuses, because the old files still hold the old physical bytes
    * and a re-added column would silently resurrect them instead of
    * null-filling (the exact hazard Delta's column mapping exists to
    * prevent). A full overwrite replaces every file and clears the
    * tombstones. Refusals: the last remaining column, a partition
    * column (the recorded spec classifies by it), and any column a
    * CHECK constraint references. A dropped stats/bloom key simply
    * leaves the sidecar's extra per-key columns unread — the recorded
    * key lists are narrowed with the schema. */
  def dropColumn(spark: SparkSession, base: String, name: String): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    val sch = m.schema.getOrElse(
      sys.error(s"$base records no schema — dropColumn needs one"))
    require(sch.fieldNames.contains(name),
      s"no column '$name' in the recorded schema of $base")
    require(sch.fields.length > 1,
      s"cannot drop the last remaining column '$name'")
    m.partValues.foreach { case (pcols, _) =>
      require(!PartitionTransforms.sources(pcols).contains(name),
        s"'$name' is a partition (source) column of $base — " +
          "re-partition (commitDataPartitioned overwrite) before " +
          "dropping it")
    }
    m.constraints.foreach { case (cn, p) =>
      val refs = spark.sessionState.sqlParser.parseExpression(p).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }
      require(!refs.exists(spark.sessionState.analyzer.resolver(_, name)),
        s"CHECK constraint '$cn' ($p) references '$name' — drop the " +
          "constraint first")
    }
    val narrowed = org.apache.spark.sql.types.StructType(
      sch.fields.filterNot(_.name == name))
    commit(spark, base, files(spark, base, v),
      withoutKey(m, _ == name).copy(schema = Some(narrowed),
        dropped = m.dropped :+ name),
      parent = Some(v), tag = Some(s"drop-column:$name"),
      delta = Some((Seq.empty, Seq.empty)))
  }

  /** ALTER TABLE ... ADD COLUMN — METADATA-ONLY, the additive half of
    * schema evolution as an explicit DDL step: the next version carries
    * the SAME files with a widened recorded schema, appended at the
    * end. Existing files simply lack the column and every reader
    * null-fills it through the explicit reader schema (parquet's own
    * missing-column contract — the exact mechanism append-time
    * evolution already relies on), so zero of a 100 TB table's bytes
    * move and time travel shows each version under its own schema.
    *
    * Refusals: a name already in the schema, and a TOMBSTONED name —
    * old files may still hold the dropped column's physical bytes, and
    * re-adding the name would silently resurrect them instead of
    * null-filling (overwrite the table to clear the tombstone). The
    * new column is always nullable: every existing row has no value
    * for it. */
  def addColumn(spark: SparkSession, base: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      comment: Option[String] = None): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    val sch = m.schema.getOrElse(
      sys.error(s"$base records no schema — addColumn needs one"))
    val resolver = spark.sessionState.analyzer.resolver
    require(!sch.fieldNames.exists(resolver(_, name)),
      s"column '$name' already exists in $base")
    require(!m.dropped.exists(resolver(_, name)),
      s"column '$name' was previously dropped from $base and its " +
        "physical bytes may survive in old files — re-adding the name " +
        "would resurrect them instead of null-filling; overwrite the " +
        "table to clear the tombstone")
    val f = org.apache.spark.sql.types.StructField(name, dataType,
      nullable = true)
    commit(spark, base, files(spark, base, v),
      m.copy(schema = Some(org.apache.spark.sql.types.StructType(
        sch.fields :+ comment.fold(f)(f.withComment)))),
      parent = Some(v), tag = Some(s"add-column:$name"),
      delta = Some((Seq.empty, Seq.empty)))
  }

  /** The widening conversions the METADATA-ONLY [[widenColumn]] admits:
    * exactly the reader-side type promotions Spark 4's parquet scans
    * perform natively (SPARK-40876 and follow-ups — the mechanism Delta
    * type widening rides), so a file written under `from` reads
    * losslessly under a recorded schema declaring `to` with zero
    * rewrite. Anything else — narrowing, signedness games,
    * string↔numeric — refuses: those need a rewrite to be lossless. */
  private[graft] def isWideningConversion(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      // decimal: more integral digits, never fewer fractional ones —
      // every old value is representable bit-exactly in the new type
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale &&
          (t.precision > f.precision || t.scale > f.scale)
      case _ => false
    }
  }

  /** ALTER TABLE ... ALTER COLUMN ... TYPE — METADATA-ONLY type
    * widening, the fourth face of schema evolution beside ADD, DROP and
    * RENAME: the next version carries the SAME files with the field's
    * recorded type widened. No era machinery is needed at all — unlike a
    * rename, the physical column NAME never changes, and Spark's parquet
    * readers (vectorized included) promote the file's narrower physical
    * type to the requested reader type natively ([[isWideningConversion]]
    * is exactly that whitelist), so every read path — catalog DSv2 scan,
    * V1 relation, time travel, DML rewrites, streams — picks the change
    * up through the recorded schema it already applies, and zero of a
    * 100 TB table's bytes move where a CAST-and-rewrite would churn all
    * of them. Time travel still shows older versions under their own
    * narrower type.
    *
    * Stats/bloom sidecar keys for the column are narrowed (their per-file
    * extrema were recorded under the old type) — skipping on the widened
    * column pauses until the next ANALYZE re-indexes it; conservative,
    * never wrong, the [[renameColumn]] contract exactly. Refusals: a
    * column absent from the schema, a non-widening conversion, and a
    * partition column (the recorded partition tuples classify by the old
    * type's rendering). CHECK constraints keep working — the values and
    * the name are unchanged — so they are carried, not refused. */
  def widenColumn(spark: SparkSession, base: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    val sch = m.schema.getOrElse(
      sys.error(s"$base records no schema — widenColumn needs one"))
    val resolver = spark.sessionState.analyzer.resolver
    val field = sch.fields.find(f => resolver(f.name, name)).getOrElse(
      sys.error(s"no column '$name' in the recorded schema of $base"))
    require(isWideningConversion(field.dataType, newType),
      s"ALTER COLUMN $name TYPE ${newType.simpleString}: not a lossless " +
        s"widening of ${field.dataType.simpleString} — only conversions " +
        "the parquet reader performs natively are metadata-only; " +
        "anything else needs an explicit rewrite")
    m.partValues.foreach { case (pcols, _) =>
      require(!PartitionTransforms.sources(pcols)
          .exists(resolver(_, name)),
        s"'$name' is a partition (source) column of $base — " +
          "re-partition (commitDataPartitioned overwrite) before " +
          "widening it")
    }
    val widened = org.apache.spark.sql.types.StructType(
      sch.fields.map(f => if (resolver(f.name, name))
        f.copy(dataType = newType) else f))
    commit(spark, base, files(spark, base, v),
      withoutKey(m, resolver(_, name)).copy(schema = Some(widened)),
      parent = Some(v),
      tag = Some(s"widen-column:$name:${newType.simpleString}"),
      delta = Some((Seq.empty, Seq.empty)))
  }

  /** ALTER TABLE ... ALTER COLUMN ... SET NOT NULL / DROP NOT NULL —
    * metadata-only both ways, and the recorded bit is a REAL contract:
    * every write path's single-pass invariant aggregate
    * (enforceConstraints) refuses a batch that puts NULL into (or
    * omits) a non-nullable column, exactly like a CHECK violation.
    *
    * DROP NOT NULL always commits (relaxing can't invalidate data).
    * SET NOT NULL must PROVE zero existing nulls first: metadata-tier
    * when the stats sidecar covers every manifest file with a zero
    * `<k>_nulls` count for the column — deletes only remove rows, so
    * zero raw nulls implies zero live nulls even under deletion
    * vectors — and one column-pruned scan otherwise. A 100 TB table
    * that keeps ANALYZE current tightens nullability without reading
    * a byte of data. Stats/blooms carry verbatim: nullability changes
    * no values. */
  def setColumnNullability(spark: SparkSession, base: String,
      name: String, nullable: Boolean): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    val sch = m.schema.getOrElse(
      sys.error(s"$base records no schema — ALTER COLUMN needs one"))
    val resolver = spark.sessionState.analyzer.resolver
    val field = sch.fields.find(f => resolver(f.name, name)).getOrElse(
      sys.error(s"no column '$name' in the recorded schema of $base"))
    require(field.nullable != nullable,
      s"column '$name' is already " +
        (if (nullable) "nullable" else "NOT NULL"))
    if (!nullable) {
      val fs = files(spark, base, v).map(Dfs.canonical).toSet
      val byStats = m.stats.exists { case (keys, segs) =>
        keys.find(resolver(_, name)).exists { k =>
          val st = spark.read.option("mergeSchema", "true")
            .parquet(segs: _*)
          st.schema.fieldNames.contains(s"${k}_nulls") && {
            val rows = st
              .select(col("file"), col(s"`${k}_nulls`")).collect()
              .filter(r => fs.contains(Dfs.canonical(r.getString(0))))
            rows.map(_.getString(0)).distinct.length == fs.size &&
              rows.forall(r => !r.isNullAt(1) && r.getLong(1) == 0L)
          }
        }
      }
      if (!byStats)
        require(readAt(spark, base, v, m)
          .filter(col(s"`$name`").isNull).limit(1).count() == 0,
          s"column '$name' holds NULLs — SET NOT NULL refused " +
            "(delete or fill them first)")
    }
    commit(spark, base, files(spark, base, v),
      m.copy(schema = Some(org.apache.spark.sql.types.StructType(
        sch.fields.map(f => if (resolver(f.name, name))
          f.copy(nullable = nullable) else f)))),
      parent = Some(v),
      tag = Some(s"set-nullability:$name:" +
        (if (nullable) "nullable" else "notnull")),
      delta = Some((Seq.empty, Seq.empty)))
  }

  /** ALTER TABLE ... ALTER COLUMN ... COMMENT — pure metadata: the
    * comment rides the recorded schema's field metadata. */
  def commentColumn(spark: SparkSession, base: String, name: String,
      comment: String): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    val sch = m.schema.getOrElse(
      sys.error(s"$base records no schema — ALTER COLUMN needs one"))
    val resolver = spark.sessionState.analyzer.resolver
    require(sch.fieldNames.exists(resolver(_, name)),
      s"no column '$name' in the recorded schema of $base")
    commit(spark, base, files(spark, base, v),
      m.copy(schema = Some(org.apache.spark.sql.types.StructType(
        sch.fields.map(f => if (resolver(f.name, name))
          f.withComment(comment) else f)))),
      parent = Some(v), tag = Some(s"comment-column:$name"),
      delta = Some((Seq.empty, Seq.empty)))
  }

  /** ALTER TABLE ... RENAME COLUMN — METADATA-ONLY, the third face of
    * schema evolution: the next version carries the SAME files with
    * the field renamed in the recorded schema plus one [[RenameEvent]]
    * remembering which files predate the rename (they physically hold
    * the old name). Readers compose eras ([[eraRead]]): pre-rename
    * files scan under the old physical name and alias to the new one,
    * post-rename files scan plainly — zero of a 100 TB table's bytes
    * move, where Delta needed column mapping and Iceberg field IDs.
    * The event self-heals: every rewrite shrinks its pre-file list and
    * a full rewrite ([[compact]], overwrite) clears it, returning the
    * table to the plain-scan fast path.
    *
    * The OLD name is TOMBSTONED (old files still hold its physical
    * bytes — a later ADD COLUMN reusing it would resurrect them, the
    * [[dropColumn]] hazard exactly). Stats/bloom sidecar keys for the
    * column are narrowed — their per-file columns carry the old name —
    * so skipping on the renamed column pauses until the next ANALYZE
    * re-indexes it under the new name; conservative, never wrong.
    * Refusals: a source name absent from the schema, a target name
    * already live or tombstoned, a partition column (the recorded spec
    * and partition-values sidecar classify by it), and a column a
    * CHECK constraint references (drop the constraint first — its
    * recorded predicate text would silently stop matching). */
  def renameColumn(spark: SparkSession, base: String, from: String,
      to: String): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    val sch = m.schema.getOrElse(
      sys.error(s"$base records no schema — renameColumn needs one"))
    val resolver = spark.sessionState.analyzer.resolver
    require(sch.fieldNames.exists(resolver(_, from)),
      s"no column '$from' in the recorded schema of $base")
    require(!sch.fieldNames.exists(resolver(_, to)),
      s"column '$to' already exists in $base")
    require(!resolver(from, to), s"RENAME COLUMN $from TO $to is a no-op")
    require(!m.dropped.exists(resolver(_, to)),
      s"column '$to' was previously dropped from $base and its " +
        "physical bytes may survive in old files — renaming onto the " +
        "name would resurrect them; overwrite the table to clear the " +
        "tombstone")
    m.constraints.foreach { case (cn, p) =>
      val refs = spark.sessionState.sqlParser.parseExpression(p).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }
      require(!refs.exists(resolver(_, from)),
        s"CHECK constraint '$cn' ($p) references '$from' — drop the " +
          "constraint first")
    }
    val renamed = org.apache.spark.sql.types.StructType(
      sch.fields.map(f => if (resolver(f.name, from)) f.copy(name = to)
        else f))
    // a PARTITION-SOURCE rename stays metadata-only (the Iceberg
    // field-ID behavior, achieved by name rebinding): every spec —
    // current AND each legacy history group — rewrites `from`→`to` in
    // its fields, and each affected group's tuple SIDECAR is re-keyed
    // under the new derived column names in one metadata-sized copy
    // (sidecars are per-(file,tuple) parquet — O(manifest), never
    // O(data)). Pruning, SPJ and aligned DML keep working under the
    // new name; a 100 TB table renames its partition source without a
    // re-partition rewrite.
    def renameGroup(g: (Seq[String], Seq[String])) =
      renamePartValueSegs(spark, base, g._1, g._2, from, to, resolver)
    commit(spark, base, files(spark, base, v),
      withoutKey(m, resolver(_, from)).copy(schema = Some(renamed),
        partValues = m.partValues.map(renameGroup),
        partHistory = m.partHistory.map(renameGroup),
        dropped = m.dropped :+ from),
      parent = Some(v), tag = Some(s"rename-column:$from:$to"),
      addRename = Some((from, to)), delta = Some((Seq.empty, Seq.empty)))
  }

  /** One spec group's `from`→`to` source rename: rewrite the specs'
    * source binding and, when any affected field's DERIVED tuple name
    * changes with it, copy the group's sidecar once with those columns
    * renamed (new `pv_` segment — the old segments stay immutable for
    * the versions that reference them; vacuum reference-counts both).
    * Groups not touching `from` return unchanged, zero I/O. */
  private def renamePartValueSegs(spark: SparkSession, base: String,
      pcols: Seq[String], segs: Seq[String], from: String, to: String,
      resolver: (String, String) => Boolean): (Seq[String], Seq[String]) = {
    val fields = PartitionTransforms.parseAll(pcols)
    val colRenames = fields.flatMap { f =>
      if (!resolver(f.source, from)) None
      else {
        val nf = f.copy(source = to)
        if (f.tupleName == nf.tupleName) None
        else Some(f.tupleName -> nf.tupleName)
      }
    }
    val newSpecs = fields.map(f =>
      if (resolver(f.source, from)) f.copy(source = to).spec else f.spec)
    if (newSpecs == pcols && colRenames.isEmpty) (pcols, segs)
    else if (colRenames.isEmpty) (newSpecs, segs)
    else {
      val dir = s"$base/pv_${java.util.UUID.randomUUID().toString.take(8)}"
      val df = colRenames.foldLeft(spark.read.parquet(segs: _*)) {
        case (d, (o, n)) => d.withColumnRenamed(o, n)
      }
      df.repartition(1).write.mode("errorifexists").parquet(dir)
      (newSpecs, Seq(dir))
    }
  }

  /** The CHECK constraints version `v` was committed under:
    * `(name, SQL predicate)` pairs, empty when none were ever added.
    * One tiny-file read — the lookup every write pays, so it must be
    * metadata-sized. */
  def constraintsOf(spark: SparkSession, base: String,
      v: Int): Seq[(String, String)] =
    constraintsOf(probe(spark, base, v))
  private def constraintsOf(sc: Sidecars): Seq[(String, String)] =
    if (!sc.has("_constraints")) Seq.empty
    else sc.lines("_constraints")
      .map { line =>
        val i = line.indexOf('\t')
        // a malformed line must fail LOUDLY and diagnosably here, not
        // as a StringIndexOutOfBounds deep inside some later write —
        // every commit reads this file (inheritance + enforcement)
        require(i > 0,
          s"malformed constraint record in ${sc.base}/v${sc.v}/_constraints: " +
            s"'$line' (expected name<TAB>predicate)")
        (line.substring(0, i), line.substring(i + 1))
      }.toSeq

  /** ALTER TABLE ... ADD CONSTRAINT name CHECK (predicate) — SQL CHECK
    * semantics throughout: a row violates only when the predicate
    * evaluates to FALSE; NULL passes. The whole EXISTING table must
    * already satisfy the predicate (one validation scan, Delta's ADD
    * CONSTRAINT behavior) — that scan is what lets every later write
    * validate ONLY its own new rows: the invariant is inductive, so
    * enforcement cost on a 100 TB table is ∝ written bytes per commit,
    * never a table scan. The constraint lands as a new metadata-only
    * version (files carried by reference) and rides every subsequent
    * commit until [[dropConstraint]]. */
  def addConstraint(spark: SparkSession, base: String,
      name: String, predicateSql: String): Int = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      "constraint names must be non-empty and tab/newline-free")
    // the predicate is stored one-record-per-LINE (tab-separated from
    // the name), so an embedded newline — legal and common in formatted
    // SQL — would corrupt the file and poison every subsequent write.
    // Normalize rather than refuse: line breaks in SQL are whitespace.
    val predicateSqlNorm = predicateSql
      .replace('\n', ' ').replace('\r', ' ').trim
    require(predicateSqlNorm.nonEmpty, "constraint predicate must be non-empty")
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    require(!m.constraints.exists(_._1 == name),
      s"constraint '$name' already exists on $base")
    val bad = readAt(spark, base, v, m)
      .filter(not(coalesce(expr(predicateSqlNorm), lit(true))))
      .limit(1).count()
    if (bad > 0)
      throw new ConstraintViolationException(
        s"cannot add constraint '$name' CHECK ($predicateSqlNorm) to $base — " +
          "existing rows violate it")
    commit(spark, base, files(spark, base, v),
      m.copy(constraints = m.constraints :+ (name -> predicateSqlNorm)),
      parent = Some(v), tag = Some(s"constraint:add:$name"),
      delta = Some((Seq.empty, Seq.empty)))
  }

  /** ALTER TABLE ... DROP CONSTRAINT — a metadata-only version whose
    * constraint set no longer carries `name`. History keeps the old
    * set: time travel shows which invariants held when. */
  def dropConstraint(spark: SparkSession, base: String,
      name: String): Int = {
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    val m = meta(spark, base, v).carried
    require(m.constraints.exists(_._1 == name),
      s"no constraint '$name' on $base")
    commit(spark, base, files(spark, base, v),
      m.copy(constraints = m.constraints.filterNot(_._1 == name)),
      parent = Some(v), tag = Some(s"constraint:drop:$name"),
      delta = Some((Seq.empty, Seq.empty)))
  }

  /** Validate NEW row images against the snapshot's constraints — the
    * write-path half of the inductive invariant [[addConstraint]]
    * establishes. One aggregate pass over ONLY the just-written files
    * (cost ∝ written bytes; all constraints checked in a single scan);
    * a violation throws BEFORE any commit attempt, so no version burns
    * and the orphaned files are ordinary [[sweepOrphans]] residue. */
  private def enforceConstraints(spark: SparkSession, base: String,
      snapshot: Option[Int], newFiles: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      overwrite: Boolean = false): Unit = {
    if (newFiles.isEmpty) return
    val cs = snapshot.filter(_ >= 0)
      .map(constraintsOf(spark, base, _)).getOrElse(Seq.empty)
    // NOT NULL is table metadata like the CHECK set: fields the
    // recorded schema marks non-nullable are enforced on every
    // incoming file in the same single-pass aggregate
    // ...except on an OVERWRITE, which redefines the schema: its own
    // df.schema nullability becomes the new recorded contract, and
    // holding the new data to the SUPERSEDED schema's bits would
    // refuse legitimate reshapes
    val nn: Seq[String] =
      if (overwrite) Seq.empty
      else snapshot.filter(_ >= 0)
        .flatMap(schemaOf(spark, base, _))
        .map(_.fields.filterNot(_.nullable).map(_.name).toSeq)
        .getOrElse(Seq.empty)
    if (cs.isEmpty && nn.isEmpty) return
    val df = schema.fold(spark.read)(spark.read.schema(_))
      .parquet(newFiles: _*)
    val nnMissing = nn.filterNot(df.columns.contains)
    if (nnMissing.nonEmpty)
      throw new ConstraintViolationException(
        s"write to $base omits NOT NULL column(s) " +
          s"${nnMissing.mkString(", ")} — the rows would null-fill them")
    val flags = cs.map { case (n, p) =>
      max(when(not(coalesce(expr(p), lit(true))), lit(1))
        .otherwise(lit(0))).as(n)
    } ++ nn.map(n =>
      max(when(col(s"`$n`").isNull, lit(1)).otherwise(lit(0))).as(s"__nn_$n"))
    val row = df.agg(flags.head, flags.tail: _*).head
    val violated = cs.indices
      .filter(i => !row.isNullAt(i) && row.getInt(i) == 1)
      .map(cs(_)).toList
    if (violated.nonEmpty)
      throw new ConstraintViolationException(
        s"write to $base violates CHECK constraint(s): " +
          violated.map { case (n, p) => s"'$n' ($p)" }.mkString(", "))
    val nullViolated = nn.indices
      .filter { i => val j = cs.length + i
        !row.isNullAt(j) && row.getInt(j) == 1 }
      .map(nn(_)).toList
    if (nullViolated.nonEmpty)
      throw new ConstraintViolationException(
        s"write to $base puts NULL into NOT NULL column(s): " +
          nullViolated.mkString(", "))
  }

  /** Shallow CLONE: start a NEW table at `dst` whose v0 references
    * `src`'s files at version `v` by reference — zero data bytes
    * copied, one manifest write, and from then on the two histories
    * are fully independent (writes to the clone land under `dst`;
    * `src` never sees them). The dev/test/experimentation primitive
    * every table format ships: fork a 100 TB table in milliseconds,
    * run the risky migration on the fork.
    *
    * The one shared-fate caveat is Delta's own: [[vacuum]] on the
    * SOURCE can reclaim files the clone still references (the source
    * cannot know about foreign manifests), so clones are working
    * copies, not backups. The converse is safe by construction:
    * vacuum on the CLONE never deletes source bytes, because
    * [[reclaimBelow]] refuses to delete any file outside its own
    * table directory. */
  def shallowClone(spark: SparkSession, src: String, dst: String,
      v: Int): Int = {
    require(latestVersion(spark, dst).isEmpty,
      s"clone target $dst already has committed versions")
    require(Dfs.exists(spark, s"$src/v$v/_SUCCESS"),
      s"version $v of $src was never committed or is vacuumed")
    // the clone's v0 has no parent, yet it references the source's
    // files, so the source version's whole record comes along: legacy
    // spec groups (pre-evolve files keep pruning), tombstones (those
    // files still hold dropped columns' bytes — an append re-adding
    // the name would resurrect them), self-contained rename events
    // (era reads work with zero reference to the source's history)
    commit(spark, dst, files(spark, src, v), meta(spark, src, v).carried,
      tag = Some(s"clone:$src@v$v"))
  }

  // ---- named refs: tags, branches, write-audit-publish -------------
  //
  // Iceberg-parity history addressing: a TAG pins a committed version
  // under a name (`VERSION AS OF 'name'` through the catalog), a
  // BRANCH is an isolated fork of the table (a shallow clone under
  // `<base>/branch_<name>` — metadata-only, files by reference) whose
  // head fast-forwards back onto main after audit. Refs live as tiny
  // files under `<base>/_refs/` — outside the `v<N>` pattern, so the
  // version machinery never sees them — and [[vacuum]] keeps every
  // ref-pinned version (and every branch's fork point) out of its
  // reclaim floor: a tagged version is readable until the tag drops,
  // exactly Iceberg's retention-by-reference rule.
  //
  // The WAP (write-audit-publish) flow this enables, end to end in
  // SQL: `CALL branch('t','audit')` → writes against the branch table
  // (path-addressed, full protocol: OCC, constraints, sidecars) →
  // audit queries via `VERSION AS OF 'audit'` → `CALL
  // fast_forward('t','audit')` publishes the branch head onto main as
  // ONE atomic commit (refusing if main moved since the fork — the
  // fast-forward contract), inheriting the branch's schema, vectors
  // and sidecars by reference.

  private def validRefName(name: String): Boolean =
    name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '_' || c == '-') && !name.forall(_.isDigit)

  private def refName(name: String): String = {
    require(validRefName(name),
      s"ref name must be [A-Za-z0-9_-]+ and not all digits: '$name'")
    name
  }

  private def refPath(base: String, name: String): String =
    s"$base/_refs/${refName(name)}"

  /** CREATE a ref exclusively via [[Dfs.createExclusiveWithContent]] —
    * the same CAS primitive the commit claims ride (atomic on HDFS,
    * conditional-put on object stores, JVM-serialized on the weak local
    * FS) — so of N concurrent creators of one name exactly one wins and
    * the losers get the "already exists" error instead of silently
    * clobbering each other (the check-then-write race the plain
    * `writeBytes` path had). A cross-process crash between claim and
    * content leaves an EMPTY ref file, which [[refOf]] reports as "no
    * such ref" and a retry repairs (no committed ref is ever empty).
    * Advances (fastForward's re-anchor) keep `writeBytes` — last-write-
    * wins is correct there because the publish already serialized
    * through the version claims. */
  private def createRefExclusive(spark: SparkSession, base: String,
      name: String, content: String): Unit = {
    val p = refPath(base, name)
    if (!Dfs.createExclusiveWithContent(spark, p,
        content.getBytes("UTF-8"))) {
      // claimed but contentless = a creator crashed between claim and
      // payload; anything else is a live ref and the create refuses
      // rather than clobbering it. STALENESS-gated: on HDFS a LIVE
      // creator's ref is visible at 0 length between create() and
      // close(), so only residue older than the grace window is
      // repairable — an in-flight create's sub-second window can never
      // be mistaken for a crash (two createBranch racers would
      // otherwise both "repair" and both proceed).
      val graceMs = spark.conf
        .getOption("graft.refs.repairGraceMillis")
        .map(_.toLong).getOrElse(60000L)
      require(refOf(spark, base, name).isEmpty &&
        Dfs.statOf(spark, p).exists { case (mtime, len) =>
          len == 0L && System.currentTimeMillis() - mtime > graceMs },
        s"ref '$name' already exists on $base (or its create is in " +
          s"flight — crashed 0-byte residue repairs after ${graceMs}ms)")
      // the REPAIR itself must be exclusive: two racers that both saw
      // the empty file would otherwise both write and both proceed
      // (e.g. two createBranch calls cloning into one directory). The
      // repair claim is the same CAS primitive; the winner replaces
      // the residue, the loser refuses. A crash mid-repair leaves the
      // marker behind — refuse loudly with its path (operator removes
      // it) rather than guessing which half-state is live.
      val claim = s"$p.__repair"
      require(Dfs.createExclusive(spark, claim),
        s"ref '$name' on $base is mid-repair (another creator is " +
          s"replacing crashed residue, or a repair crashed — remove " +
          s"$claim if no creator is live)")
      try {
        Dfs.delete(spark, p)
        require(Dfs.createExclusiveWithContent(spark, p,
          content.getBytes("UTF-8")),
          s"ref '$name' already exists on $base")
      } finally { Dfs.delete(spark, claim); () }
    }
  }

  /** The branch's own table root — a full manifest table under the
    * parent's directory (the `branch_` prefix is outside every payload
    * sweep pattern, so neither table's maintenance touches the
    * other's). */
  def branchBaseOf(base: String, name: String): String =
    s"$base/branch_${refName(name)}"

  /** (kind, version) of a named ref: for a tag the pinned version, for
    * a branch the version MAIN held at the last fork/publish — the
    * fast-forward ancestry check and the vacuum floor both key on it. */
  def refOf(spark: SparkSession, base: String,
      name: String): Option[(String, Int)] = {
    // a LOOKUP of an illegal name is just "no such ref" — only the
    // CREATE paths enforce the charset, so a mistyped
    // `VERSION AS OF 'my tag'` gets the catalog's refs-listing error,
    // not an internal charset require
    if (!validRefName(name)) return None
    val p = refPath(base, name)
    if (!Dfs.exists(spark, p)) None
    else new String(Dfs.readBytes(spark, p), "UTF-8").trim
      .split("\t") match {
        case Array(k, v) => scala.util.Try((k, v.toInt)).toOption
        case _ => None
      }
  }

  /** Every named ref of the table: (name, kind, version). */
  def listRefs(spark: SparkSession, base: String): Seq[(String, String, Int)] =
    if (!Dfs.exists(spark, s"$base/_refs")) Seq.empty
    else Dfs.list(spark, s"$base/_refs").toSeq
      .filter(!_.isDirectory).map(_.getPath.getName).sorted
      .flatMap(n => refOf(spark, base, n).map { case (k, v) => (n, k, v) })

  /** Pin version `v` under `name`. Refuses an existing name (drop it
    * first) and an uncommitted/vacuumed version. */
  def createTag(spark: SparkSession, base: String, name: String,
      v: Int): Unit = {
    require(Dfs.exists(spark, s"$base/v$v/_SUCCESS"),
      s"version $v of $base was never committed or is vacuumed")
    require(refOf(spark, base, name).isEmpty,
      s"ref '$name' already exists on $base")
    createRefExclusive(spark, base, name, s"tag\t$v\n")
  }

  /** Fork the table's latest version into an isolated branch: one
    * metadata-only shallow clone (files by reference, zero data
    * bytes), plus the ref record. Returns the fork version. */
  def createBranch(spark: SparkSession, base: String,
      name: String): Int = {
    val fork = latestVersion(spark, base).getOrElse(
      sys.error(s"no committed version under $base"))
    require(refOf(spark, base, name).isEmpty,
      s"ref '$name' already exists on $base")
    // ref FIRST (the exclusive create is the name-claim — the loser of
    // a concurrent race must not have half-built a clone), clone
    // second. An IN-PROCESS clone failure releases the name again so a
    // retry can succeed (the previous order self-healed this; the
    // claim-first order must do it explicitly) — only a hard CRASH
    // leaves a version-less branch ref, which every consumer reports
    // clearly and dropRef removes.
    createRefExclusive(spark, base, name, s"branch\t$fork\n")
    try shallowClone(spark, base, branchBaseOf(base, name), fork)
    catch {
      case scala.util.control.NonFatal(e) =>
        try Dfs.delete(spark, refPath(base, name))
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    fork
  }

  /** Publish the branch head onto main — WAP's third act. Refuses when
    * main has moved past the branch's fork/last-publish point (the
    * fast-forward contract: main must be an ancestor; diverged
    * histories need a merge the protocol deliberately does not
    * invent). The commit carries the branch head's WHOLE state —
    * files, vectors, schema, stats/partition/bloom sidecars,
    * constraints, tombstones, rename events — by reference, exactly
    * like [[restore]] carries a historical version's. Returns the new
    * main version; the ref advances so audit→publish cycles repeat. */
  def fastForward(spark: SparkSession, base: String,
      name: String): Int = {
    val (kind, anchor) = refOf(spark, base, name).getOrElse(
      sys.error(s"no ref '$name' on $base"))
    require(kind == "branch", s"ref '$name' is a $kind — fast-forward " +
      "takes a branch")
    val mainLatest0 = latestVersion(spark, base).getOrElse(
      sys.error(s"no committed version under $base"))
    // stale-anchor recovery: a previous fastForward of THIS branch can
    // crash between its commit and its ref write, leaving main's head
    // tagged `wap:<name>` while the ref still points at the anchor the
    // publish consumed. That head IS this branch's publish — repair the
    // anchor instead of refusing forever with "main moved". Any other
    // tag on a moved head is genuine divergence and still refuses.
    val recovered = mainLatest0 != anchor &&
      tagOf(spark, base, mainLatest0).map(_.trim).contains(s"wap:$name")
    require(mainLatest0 == anchor || recovered,
      s"main is at v$mainLatest0 but branch '$name' forked/published at " +
        s"v$anchor — main moved; re-branch from the current head " +
        "(fast-forward cannot merge diverged histories)")
    val mainLatest =
      if (recovered) {
        Dfs.writeBytes(spark, refPath(base, name),
          s"branch\t$mainLatest0\n".getBytes("UTF-8"))
        mainLatest0
      } else mainLatest0
    val bb = branchBaseOf(base, name)
    // when the recovered head already carries the branch's current
    // state, a re-publish would burn an identical version — return the
    // repaired head instead (idempotent retry of the crashed publish).
    // "Same" must cover EVERYTHING a publish carries, not just data:
    // a metadata-only branch change after the crash (ADD COLUMN,
    // constraint, rename, tombstone, re-ANALYZE) would otherwise be
    // silently swallowed by a "successful" retry that published
    // nothing.
    val bv = latestVersion(spark, bb).getOrElse(
      sys.error(s"branch '$name' has no committed version"))
    // fast-forward publishes the BRANCH head's whole record, not main's
    val bm = meta(spark, bb, bv).carried
    if (recovered) {
      def canon(fs: Seq[String]) = fs.map(Dfs.canonical).toSet
      def canonMeta(m: VersionMeta) = {
        def segs(t: Option[(Seq[String], Seq[String])]) =
          t.map { case (k, s) => (k, canon(s)) }
        (canon(m.dv), m.schema.map(_.json), m.constraints.toSet,
          m.dropped.toSet, m.renames, m.ndv, segs(m.stats),
          segs(m.partValues), segs(m.blooms))
      }
      if (canon(files(spark, base, mainLatest)) == canon(files(spark, bb, bv)) &&
          canonMeta(meta(spark, base, mainLatest)) == canonMeta(bm))
        return mainLatest
    }
    val nv = commit(spark, base, files(spark, bb, bv), bm,
      parent = Some(mainLatest), tag = Some(s"wap:$name"),
      // the branch's TRANSACTION LEDGER publishes too: an idempotent
      // writer that streamed epochs into the branch must find its
      // high-water marks on main after the publish, or its next
      // replay double-appends — the exact failure the ledger refuses
      txnMergeFrom = Some((bb, bv)))
    Dfs.writeBytes(spark, refPath(base, name),
      s"branch\t$nv\n".getBytes("UTF-8"))
    nv
  }

  /** Drop a ref. A tag drop releases its version to the next vacuum.
    * A branch drop removes the NAME immediately; the branch's
    * directory goes with it only when no retained main version still
    * references files under it (a published head lives by reference
    * until a rewrite re-homes the bytes) — otherwise the dir stays
    * behind ref-less, and [[sweepOrphans]] reclaims it once
    * vacuum/compaction retire the last referencing version. Returns
    * true when the storage was released now. */
  def dropRef(spark: SparkSession, base: String, name: String): Boolean = {
    val (kind, _) = refOf(spark, base, name).getOrElse(
      sys.error(s"no ref '$name' on $base"))
    Dfs.delete(spark, refPath(base, name))
    if (kind != "branch") return true
    val bb = branchBaseOf(base, name)
    val prefix = Dfs.qualified(spark, bb) + "/"
    val referenced = committedVersions(spark, base).exists(v =>
      (files(spark, base, v) ++ dvFiles(spark, base, v) ++
        statsOf(spark, base, v).toSeq.flatMap(_._2) ++
        partitionedBy(spark, base, v).toSeq.flatMap(_._2) ++
        bloomOf(spark, base, v).toSeq.flatMap(_._2))
        .exists(f => Dfs.qualified(spark, f).startsWith(prefix)))
    if (!referenced && Dfs.exists(spark, bb)) {
      Dfs.delete(spark, bb, recursive = true)
      filesMemo.evict(spark, _._1 == bb)
    }
    !referenced
  }

  /** Files under `base` that a PARENT table's committed manifests
    * still reference, when `base` is a branch directory (the
    * [[branchBaseOf]] spelling `<parent>/branch_<name>`).
    * [[fastForward]] publishes a branch head BY REFERENCE: main's new
    * version points at data/DV/sidecar files living under the branch
    * directory. The branch is an independent table, so its own
    * vacuum/sweep would otherwise reclaim those files the moment the
    * branch's history retires them — silent data loss on MAIN from a
    * BRANCH-side maintenance call. Every branch-side reclaim
    * ([[reclaimBelow]], [[sweepOrphans]]) treats these as live.
    * Detection is structural (path spelling + parent manifests), not
    * ref-gated: a ref-less branch directory kept alive by main's
    * references (see [[dropRef]]) gets the same protection until main
    * re-homes or retires the files. A parent that is not a manifest
    * table has no committed versions and contributes nothing; an
    * UNREADABLE committed parent version propagates — refusing the
    * reclaim beats guessing what main references. Canonical
    * spellings, for set arithmetic against manifest-listed files. */
  private def publishedPins(spark: SparkSession, base: String): Set[String] = {
    val q = Dfs.qualified(spark, base)
    val cut = q.lastIndexOf('/')
    if (cut <= 0) return Set.empty
    if (!q.substring(cut + 1).startsWith("branch_")) return Set.empty
    val parent = q.substring(0, cut)
    val prefix = q + "/"
    committedVersions(spark, parent).flatMap { v =>
      (files(spark, parent, v) ++ dvFiles(spark, parent, v) ++
        statsOf(spark, parent, v).toSeq.flatMap(_._2) ++
        partitionedBy(spark, parent, v).toSeq.flatMap(_._2) ++
        bloomOf(spark, parent, v).toSeq.flatMap(_._2))
        .map(Dfs.canonical)
        .filter(f => Dfs.qualified(spark, f).startsWith(prefix))
    }.toSet
  }

  /** The oldest version any ref pins — tags directly, branches via
    * their fork/publish anchor (the branch clone references main's
    * files AS OF that version, so reclaiming it would pull files out
    * from under the branch). Vacuum floors clamp to it. */
  private def refFloor(spark: SparkSession, base: String): Option[Int] =
    listRefs(spark, base).map(_._3) match {
      case Seq() => None
      case vs => Some(vs.min)
    }

  /** Bin-packing OPTIMIZE — the small-file half of [[compact]]: only
    * files under `smallBytes` are coalesced (into ~`targetBytes`
    * outputs); every file already at a healthy size is carried by
    * reference, untouched. This is what OPTIMIZE means on a 100 TB
    * table that takes streaming appends: the steady drip of small
    * micro-batch files gets folded into scan-efficient ones without
    * ever paying a whole-table rewrite — cost is proportional to the
    * small-file backlog, not the table. Refuses on a vectored version
    * (a full [[compact]] is the materialize step; rewriting a subset
    * under vectors would need per-file vector surgery for no gain).
    * Returns (files packed, files written, new version) — (0, 0, v)
    * when fewer than two files qualify, burning no version. */
  def compactSmall(spark: SparkSession, base: String,
      smallBytes: Long, targetBytes: Long): (Int, Int, Int) = {
    require(smallBytes > 0 && targetBytes > 0)
    val v = latestVersion(spark, base)
      .getOrElse(sys.error(s"no committed version under $base"))
    require(dvFiles(spark, base, v).isEmpty,
      s"version $v carries deletion vectors — compact($base) first to " +
        "materialize them")
    val cur = files(spark, base, v)
    val sized = cur.map(f => f -> Dfs.fs(spark, f)
      .getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)
    val (small, big) = sized.partition(_._2 < smallBytes)
    if (small.size < 2) return (0, 0, v)
    val m = meta(spark, base, v).carried
    val nOut = math.max(1,
      math.ceil(small.map(_._2).sum.toDouble / targetBytes).toInt)
    val rewritten = stageData(base,
      eraRead(spark, m.renames, small.map(_._1), m.schema).repartition(nOut))
    val untouched = big.map(_._1)
    // content-preserving like compact(): same rows, fewer files
    val nv = commit(spark, base, untouched ++ rewritten,
      afterRewrite(spark, base, m, untouched, rewritten, m.schema),
      parent = Some(v), tag = Some("compact-small"),
      preservesContent = true, delta = Some((rewritten, small.map(_._1))))
    (small.size, rewritten.size, nv)
  }
}
