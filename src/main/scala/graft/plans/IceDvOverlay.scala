package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Analyzer rule closing the last deletion-vector-blind read surface:
  * `spark.read.format("ice")` resolves to a bare [[IceFileIndex]]-backed
  * [[HadoopFsRelation]] (a `BaseRelation` cannot carry a join), so this
  * rule rewrites any such relation whose table has live deletion vectors
  * into the standard position anti-join — making EVERY read surface
  * (`IceTable.read`, the `graft.` SQL catalog, temp views, and
  * `format("ice")`) agree after a [[graft.ice.DeleteVectors.deleteWhere]].
  *
  * The rule fires only on an index that is [[IceFileIndex.dvPending]]:
  * [[IceFileIndex.dataFrame]] applies the overlay itself and explicit
  * marker lists stay deletion-vector-blind, so neither is ever pending.
  * The subtree this rule produces swaps in the same relation over
  * [[IceFileIndex.dvApplied]], so the fixed-point analyzer batch
  * terminates after one application — and because the mark is the index,
  * a plan copy (self-join deduplication included) keeps it. Output
  * attribute ids are preserved via an aliasing Project, so parent
  * operators resolve untouched. No-dv tables pay one `_dv/_log` existence
  * probe per resolution. */
final class IceDvOverlay(spark: SparkSession) extends Rule[LogicalPlan] {

  private def pending(lr: LogicalRelation): Option[(HadoopFsRelation, IceFileIndex)] =
    lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case ix: IceFileIndex if ix.dvPending => Some(h -> ix)
        case _ => None
      }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case lr: LogicalRelation => pending(lr).fold[LogicalPlan](lr) { case (h, ix) =>
      val applied = lr.copy(relation = h.copy(location = ix.dvApplied)(h.sparkSession))
      val t = ix.table
      val base = PlanBridge.ofRows(spark, applied)
      val overlaid = t.dropDeleted(base, t.relPathCol,
        t.dvPositions(ix.markers.map(_.path), ix.pinned.fold(Long.MaxValue)(_.timestamp)))
      if (overlaid eq base) applied // no dv table: keep the bare relation
      else {
        val analyzed = overlaid.queryExecution.analyzed
        val byName = analyzed.output.map(a => a.name -> a).toMap
        Project(lr.output.map { a =>
          Alias(byName(a.name), a.name)(
            exprId = a.exprId, qualifier = a.qualifier,
            explicitMetadata = Some(a.metadata))
        }, analyzed)
      }
    }
  }
}
