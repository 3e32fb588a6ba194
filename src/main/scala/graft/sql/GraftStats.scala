package graft.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Statistics, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, PushedDownOperators, V1ScanWrapper}
import org.apache.spark.sql.sources.Filter

import graft.cdc.lake

/** Statistics plumbing for V1-bridged scans.
  *
  * GraftTable's scan reports snapshot-derived statistics
  * (`SupportsReportStatistics`: file-entry byte/row sums, zero manifest
  * reads), but Spark's V2ScanRelationPushDown wraps every `V1Scan` in
  * `V1ScanWrapper`, which implements only `Scan` — so
  * `DataSourceV2ScanRelation.computeStats` never sees the interface and
  * falls back to `defaultSizeInBytes` (= infinite). The observable damage:
  * a 100-row dimension table can never win a STATIC broadcast decision or
  * inform join ordering; only AQE's runtime re-plan rescues the shuffle.
  *
  * [[GraftStatsRule]] (injected pre-CBO, i.e. after the push-down rule has
  * built the wrapper and before join reordering / planning consume stats)
  * swaps the wrapper for [[StatsV1ScanWrapper]] — a subclass that forwards
  * `estimateStatistics` to the wrapped scan. Being a subclass, the
  * strategy's `case V1ScanWrapper(...)` match and everything else about V1
  * planning is untouched.
  */
class StatsV1ScanWrapper(v1: V1Scan, handled: Seq[Filter], ops: PushedDownOperators)
  extends V1ScanWrapper(v1, handled, ops) with SupportsReportStatistics {
  override def estimateStatistics(): Statistics =
    v1.asInstanceOf[SupportsReportStatistics].estimateStatistics()
  // The inherited case-class equality would make this wrapper compare EQUAL
  // to the plain wrapper it replaces — TreeNode.fastEquals would then
  // silently discard the replacement inside transform. Narrow BOTH sides
  // (canEqual for plain.equals(stats), equals for stats.equals(plain)) so
  // the distinction stays symmetric — an asymmetric equals would break the
  // contract plan canonicalization relies on.
  override def canEqual(that: Any): Boolean = that.isInstanceOf[StatsV1ScanWrapper]
  override def equals(other: Any): Boolean =
    other.isInstanceOf[StatsV1ScanWrapper] && super.equals(other)
  override def hashCode(): Int = super.hashCode()
}

object GraftStatsRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case r: DataSourceV2ScanRelation => r.scan match {
      case w: V1ScanWrapper if !w.isInstanceOf[SupportsReportStatistics] &&
          w.v1Scan.isInstanceOf[SupportsReportStatistics] =>
        r.copy(scan = new StatsV1ScanWrapper(w.v1Scan, w.handledFilters, w.pushedDownOperators))
      case _ => r
    }
  }
}

object GraftStats {
  /** Table-level statistics of a lake scan from the snapshot alone — the
    * rows/bytes sums the manifest refs carry, ZERO manifest reads. Without them Catalyst assumes infinite size and a
    * 100-row dim table never broadcasts in a statically-planned join (AQE
    * rescues shuffles at runtime, but join ORDER and non-AQE contexts plan
    * on these numbers). Refs written before the sums existed report 0 with
    * files present — then the size stays unknown rather than under-reported
    * (a falsely-small table would broadcast something huge). */
  def of(snap: lake.Snapshot): Statistics = new Statistics {
    private val known = snap.manifests.forall(m => m.numFiles == 0 || m.bytes > 0)
    private def sum(m: lake.ManifestRef => Long): java.util.OptionalLong =
      if (known) java.util.OptionalLong.of(snap.manifests.map(m).sum)
      else java.util.OptionalLong.empty()
    override def sizeInBytes(): java.util.OptionalLong = sum(_.bytes)
    override def numRows(): java.util.OptionalLong = sum(_.rows)
  }
}
