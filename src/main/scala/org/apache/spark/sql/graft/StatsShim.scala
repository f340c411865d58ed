package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Scan, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, V1ScanWrapper}

/** Statistics pass-through for the manifest V1 DETOUR scan.
  *
  * `V2ScanRelationPushDown` wraps every `V1Scan` in a `V1ScanWrapper`
  * that implements only `Scan` — the wrapped scan's
  * [[SupportsReportStatistics]] face is unreachable from
  * `DataSourceV2ScanRelation.computeStats`, so the relation falls back
  * to `spark.sql.defaultSizeInBytes` (= Long.MaxValue) and a dim read
  * through the detour (live RENAME COLUMN, or a deletion-vector frame
  * past the bitmap budget) can NEVER auto-broadcast, whatever its real
  * size. The columnar path reports fine (the scan itself implements
  * the interface); only the V1 fallback loses its numbers to the
  * wrapper.
  *
  * This rule restores them: a scan relation whose wrapped V1 scan is a
  * manifest detour scan ([[graft.sources.manifest.ManifestReportingV1Scan]])
  * is replaced by a subclass node that unwraps one layer and serves
  * the scan's own `estimateStatistics()` through the standard
  * `transformV2Stats` conversion — exactly what
  * `DataSourceV2ScanRelation` would have done without the wrapper.
  * Installed into `extraOptimizations` next to [[ManifestCountRule]]
  * (by [[graft.GraftExtensions]]), so the estimates are in place when `JoinSelection` sizes the join
  * sides. Marker-trait-guarded: no other connector's V1 scans are
  * touched. */
class ReportingV1ScanRelation(
    relation: DataSourceV2Relation, scan: Scan,
    output: Seq[AttributeReference],
    keyGroupedPartitioning: Option[Seq[
      org.apache.spark.sql.catalyst.expressions.Expression]],
    ordering: Option[Seq[
      org.apache.spark.sql.catalyst.expressions.SortOrder]])
    extends DataSourceV2ScanRelation(relation, scan, output,
      keyGroupedPartitioning, ordering) {

  override def computeStats(): Statistics = scan match {
    case w: V1ScanWrapper => w.v1Scan match {
      case s: SupportsReportStatistics =>
        DataSourceV2Relation.transformV2Stats(s.estimateStatistics(),
          None, conf.defaultSizeInBytes, output)
      case _ => super.computeStats()
    }
    case _ => super.computeStats()
  }

  // case-class equality would make this node `fastEquals` the node it
  // replaces, and TreeNode.transform would then KEEP the original
  // (discarding the override) — equality must discriminate on class
  override def canEqual(that: Any): Boolean =
    that.isInstanceOf[ReportingV1ScanRelation]
  override def equals(other: Any): Boolean = other match {
    case o: ReportingV1ScanRelation => super.equals(o)
    case _ => false
  }
  override def hashCode(): Int = 31 * super.hashCode() + 1
}

object ManifestV1StatsRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case r: DataSourceV2ScanRelation
        if !r.isInstanceOf[ReportingV1ScanRelation] &&
          (r.scan match {
            case w: V1ScanWrapper =>
              w.v1Scan.isInstanceOf[
                graft.sources.manifest.ManifestReportingV1Scan]
            case _ => false
          }) =>
      new ReportingV1ScanRelation(r.relation, r.scan, r.output,
        r.keyGroupedPartitioning, r.ordering)
  }

  /** Idempotent runtime installation, [[ManifestCountRule.install]]'s
    * twin. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(ManifestV1StatsRule))
      exp.extraOptimizations = exp.extraOptimizations :+ ManifestV1StatsRule
  }
}
