package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Analyzer rule closing the last deletion-vector-blind read surface:
  * `spark.read.format("ice")` resolves to a bare [[IceFileIndex]]-backed
  * [[HadoopFsRelation]] (a `BaseRelation` cannot carry a join), so this
  * rule rewrites any such relation whose table has live deletion vectors
  * into the standard position anti-join — making EVERY read surface
  * (`IceTable.read`, the `graft.` SQL catalog, temp views, and
  * `format("ice")`) agree after a [[graft.ice.DeleteVectors.deleteWhere]].
  *
  * Explicit scans ([[graft.ice.IceTable.scanMarkers]]) are DV-blind by
  * contract and arrive tagged [[IceDvOverlay.DvApplied]], so the rule
  * leaves them alone and never stacks a second anti-join under a reader
  * that applies deletes itself; the subtree this rule produces embeds
  * the same (now-tagged) relation node, so the fixed-point analyzer batch
  * terminates after one application. Output attribute ids are preserved
  * via an aliasing Project, so parent operators resolve untouched.
  * No-dv tables pay one `_dv/_log` existence probe per resolution. */
final class IceDvOverlay(spark: SparkSession) extends Rule[LogicalPlan] {

  import IceDvOverlay.DvApplied

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case lr: LogicalRelation if lr.getTagValue(DvApplied).isEmpty &&
        lr.relation.isInstanceOf[HadoopFsRelation] &&
        lr.relation.asInstanceOf[HadoopFsRelation].location.isInstanceOf[IceFileIndex] =>
      lr.setTagValue(DvApplied, true)
      val idx = lr.relation.asInstanceOf[HadoopFsRelation]
        .location.asInstanceOf[IceFileIndex]
      val base = PlanBridge.ofRows(spark, lr)
      val overlaid = idx.table.withDeletesApplied(base, idx.markers, idx.asOf)
      if (overlaid eq base) lr // no dv table: keep the bare relation
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

object IceDvOverlay {
  /** Marks a relation whose deletion vectors are already applied (or
    * verified absent) — the rule skips tagged nodes. */
  val DvApplied: TreeNodeTag[Boolean] = TreeNodeTag[Boolean]("graft.dvApplied")
}
