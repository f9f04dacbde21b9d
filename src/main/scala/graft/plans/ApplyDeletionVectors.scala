package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.GraftTable
import graft.engine.Manifest

/** SQL reads of a snapshot carrying DELETION VECTORS (round 17).
  *
  * A merge-on-read DELETE ([[graft.engine.Upsert.deleteWhereMor]])
  * commits positions, not rewritten files — so a stock parquet scan of
  * the snapshot's files would RESURRECT the deleted rows. Library
  * reads apply the DV anti-join inside
  * [[graft.engine.Manifest.readFiles]]; this rule is the SQL-catalog
  * twin (the technique Delta's `PrepareDeltaScan` uses): a
  * [[DataSourceV2Relation]] over a [[GraftTable]] whose served
  * snapshot has DV pointers is swapped for the V1 DV-applied plan —
  * clean files keep their plain scan branch, DV'd files anti-join
  * their broadcast position set — with a Project on top REUSING the
  * original relation's attribute ids, so references bound anywhere
  * above keep resolving. Tables without DVs (the overwhelming common
  * case) never match: their scans, stats skipping, and pushdown are
  * byte-identical to before.
  *
  * The substituted plan is version-exact ([[GraftTable.servedVersion]]),
  * so `VERSION AS OF` reads apply exactly their own snapshot's DV
  * state. Filters above the Project push into the V1 scan branches
  * through the left-anti join's streamed side (Catalyst's
  * PushPredicateThroughJoin handles anti joins), so predicate pushdown
  * on data columns survives the rewrite.
  *
  * DML and write targets stay bare relations (same contract as
  * [[ExpandRenamedScan]]): the engine verbs behind [[RewriteGraftDml]]
  * read through the manifest's DV-aware readers themselves. Renamed
  * tables compose: the V1 read coalesces prior-name chains, and
  * [[ExpandRenamedScan]] skips DV-bearing tables to let this rule own
  * the swap.
  */
case class ApplyDeletionVectors(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private def target(p: LogicalPlan): Boolean = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable => !t.exposeUnion && t.dvMap.nonEmpty
      case _ => false
    }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // fast path: almost no snapshot carries DVs — one metadata sweep
    // (plans + subquery plans) and out
    def hasTarget(p: LogicalPlan): Boolean =
      p.exists(n => target(n) || n.expressions.exists(_.exists {
        case s: SubqueryExpression => hasTarget(s.plan)
        case _ => false
      }))
    if (!hasTarget(plan)) plan else rewrite(plan)
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = {
    val guarded = plan match {
      case i: InsertIntoStatement => i.copy(query = rewrite(i.query))
      case m: MergeIntoTable => m.copy(sourceTable = rewrite(m.sourceTable))
      case u: UpdateTable => u
      case d: DeleteFromTable => d
      case r: DataSourceV2Relation if target(r) => expand(r)
      case other => other.mapChildren(rewrite)
    }
    guarded.transformExpressions {
      case s: SubqueryExpression => s.withNewPlan(rewrite(s.plan))
    }
  }

  private def expand(r: DataSourceV2Relation): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftTable]
    val applied = Manifest.readAsOf(spark, t.path, t.servedVersion)
      .queryExecution.analyzed
    val byName = applied.output.map(a => a.name -> a).toMap
    val projection: Seq[NamedExpression] = r.output.map { a =>
      val src = byName.getOrElse(a.name,
        throw new IllegalStateException(
          s"deletion-vector read of ${t.name()}: DV-applied plan lost " +
            s"column ${a.name} (${applied.output.map(_.name).mkString(", ")})"))
      val e = if (src.dataType == a.dataType) src else Cast(src, a.dataType)
      Alias(e, a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }
    Project(projection, applied)
  }
}
