package graft.plans

import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** A deterministic projection over a DSv2 `LocalScan` (the metadata-only
  * COUNT/MIN/MAX answers: aggregate pushdown leaves a `Project` of
  * aliases above the scan) is evaluated on the driver into one
  * `LocalTableScanExec`. Spark's own `ConvertToLocalRelation` does this
  * for `LocalRelation` only; without it the `ProjectExec` above the
  * local rows runs a Spark job to collect them. */
final class LocalScanFold extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, DataSourceV2ScanRelation(_, scan: LocalScan, output, _, _))
        if list.forall(_.deterministic) =>
      val project = UnsafeProjection.create(list, output)
      LocalTableScanExec(plan.output,
        scan.rows().toSeq.map(r => project(r).copy()), None) :: Nil
    case _ => Nil
  }
}
