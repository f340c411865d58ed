package graft.ext

import org.apache.spark.sql.types.StructType

/** A manifest version's TABLE METADATA as one record: every sidecar
  * [[Manifests.commit]] records beside the file list and the
  * per-commit events (tag, ledger, change-feed classification,
  * counts). [[Manifests.meta]] reads it from one listing of `v<N>/`;
  * `commit` writes it whole, before the `_SUCCESS` marker.
  *
  * The ONE carry rule: a commit derived from version p starts from
  * `meta(p).carried` and overrides only the fields it changes; a
  * bootstrap or overwrite landing on a live table starts from the
  * latest version's `tableLevel` part. Field by field (each sidecar's
  * format lives in its `Manifests` reader):
  *  - `dv` (`_deletes`): deletion-vector sidecar files;
  *  - `schema` (`_schema`): the recorded reader schema;
  *  - `stats` / `blooms` (`_stats*` / `_bloom*`): indexed keys and
  *    sidecar parquet segments;
  *  - `partValues` (`_partcols`, `_partvalues`): the current partition
  *    spec and its tuple segments; `partHistory` (`_parthistory`) the
  *    legacy spec groups and `partSem` (`_partsem`) the tuple
  *    semantics, both recorded only beside `partValues`;
  *  - `constraints` (`_constraints`): CHECK `(name, predicate)` pairs;
  *  - `dropped` / `renames` (`_dropped` / `_renames`): drop-column
  *    tombstones and rename events, pruned at commit against the new
  *    schema and file list;
  *  - `ndv`, `ndvKmv`, `hist`, `histRows` (`_ndv`, `_ndvkmv`, `_hist`,
  *    `_histrows`): planner statistics, `histRows` recorded only
  *    beside `hist`;
  *  - `bucketSpec` (`_bucketspec`): `(numBuckets, keys, sortCols)`,
  *    set only by [[Manifests.commitDataBucketed]]. */
final case class VersionMeta(
    dv: Seq[String] = Nil,
    schema: Option[StructType] = None,
    stats: Option[(Seq[String], Seq[String])] = None,
    partValues: Option[(Seq[String], Seq[String])] = None,
    partHistory: Seq[(Seq[String], Seq[String])] = Nil,
    partSem: Int = Manifests.PartSemCurrent,
    blooms: Option[(Seq[String], Seq[String])] = None,
    constraints: Seq[(String, String)] = Nil,
    dropped: Seq[String] = Nil,
    renames: Seq[Manifests.RenameEvent] = Nil,
    ndv: Map[String, Long] = Map.empty,
    ndvKmv: Map[String, Seq[Long]] = Map.empty,
    hist: Map[String, (Double, Seq[(Double, Double, Long)])] = Map.empty,
    histRows: Option[Long] = None,
    bucketSpec: Option[(Int, Seq[String], Seq[String])] = None) {

  /** What a commit DERIVED from this version starts from: the whole
    * record but the bucket spec. Bucketing is a layout fact of the
    * bootstrap that wrote the files; appended or rewritten files are
    * not bucket-shaped, and a wrong spec gives silently wrong
    * exchange-free joins, so losing it is the safe failure. */
  def carried: VersionMeta = copy(bucketSpec = None)

  /** What a bootstrap or whole-table overwrite landing on this version
    * keeps: table-level metadata only — constraints (an overwrite
    * cannot shed the table's invariants), partition history and
    * semantics, and the planner statistics. Everything tied to the
    * superseded files (vectors, schema, sidecar segments, tombstones,
    * rename events) starts empty. */
  def tableLevel: VersionMeta = VersionMeta(partHistory = partHistory,
    partSem = partSem, constraints = constraints, ndv = ndv,
    ndvKmv = ndvKmv, hist = hist, histRows = histRows)
}
