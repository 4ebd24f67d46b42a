package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.And
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.sources.{GraftMetaAggScan, GraftScan}

/** Plans graft catalog scans as the read plan the path API builds.
  *
  * A catalog read stays a DSv2 relation through optimization: filters,
  * columns and aggregates push into [[graft.sources.GraftScanBuilder]],
  * and the relation's statistics (manifest live rows, ANALYZE column
  * statistics) reach CBO and join selection from
  * `DataSourceV2ScanRelation.computeStats`. At physical planning this
  * strategy puts [[GraftScan.readPlan]] — the optimized plan of
  * `readWhere` over the pushed conditions — in the relation's place, so
  * the parquet scan, the MoR reconcile and every operator above them
  * are one Spark plan: no nested query, no row conversion, and the
  * residual filters reach the parquet reader. A manifest-only aggregate
  * ([[GraftMetaAggScan]]) plans as a local relation of its rows.
  *
  * The match is the whole Project/Filter chain above the relation:
  * Spark's `DataSourceV2Strategy` plans that chain from its top node,
  * so a match on the bare relation would never be reached.
  *
  * Installed three ways: injected by [[GraftExtensions]], added by
  * [[GraftExtensions.register]], and added by the catalog's scan
  * builder, so a session configured with the catalog alone plans its
  * reads too. */
private[graft] object GraftReadStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters, r: DataSourceV2ScanRelation) =>
      def above(child: LogicalPlan): LogicalPlan = {
        val filtered = filters.reduceOption(And).fold(child)(Filter(_, child))
        if (project == filtered.output) filtered else Project(project, filtered)
      }
      r.scan match {
        case g: GraftScan => planLater(above(g.readPlan(r.output))) :: Nil
        // the chain folds into the rows, so collecting them runs no job
        case a: GraftMetaAggScan =>
          planLater(above(LocalRelation(r.output, a.internalRows))
            .transformUp { case p => ConvertToLocalRelation(p) }) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }

  /** Add to an already-built session's planner. Idempotent. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(GraftReadStrategy))
      spark.experimental.extraStrategies = cur :+ GraftReadStrategy
  }
}
