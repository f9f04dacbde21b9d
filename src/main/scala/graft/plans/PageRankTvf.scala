package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the PageRank recurrence
  * (`graft.queries.GraphQueries.pagerankIterate`) — a table-valued
  * function over any edge relation:
  *
  * {{{
  *   SELECT * FROM pagerank(
  *     'edges_v',   -- table or view with the edge list
  *     'src',       -- source-node column (BIGINT)
  *     'dst',       -- destination-node column (BIGINT)
  *     3)           -- iteration count (1..MaxIters)
  *   -- returns (node BIGINT, pr BIGINT) in exact integer micro-units
  * }}}
  *
  * Every node appearing as a source must have out-degree ≥ 1 by
  * construction (it does — degree is COUNTED from this very relation);
  * nodes that never appear as a source receive no rank, and a
  * source-only node (out-edges but no in-edges) contributes its seed
  * in round 1 and then leaves the recurrence — the rank⋈edges join
  * carries only nodes with incoming mass. Callers who want full
  * participation supply bidirectional edges (as the fulfillment-graph
  * query does); GraphQueriesSpec pins these drop semantics against a
  * reference implementation on random digraphs.
  *
  * Like `grouped_quantiles`, the recurrence is a pure composition of
  * standard operators (the degree-weighted join per level — see the
  * GraphQueries scaladoc for why outdeg is folded into the edges), so
  * the TVF expands at ANALYSIS time: [[PageRankPlan]] parks unresolved
  * until its relation resolves, then [[ExpandPageRank]] splices in the
  * K-level plan. Everything downstream — optimizer, AQE (which
  * broadcasts the |V|-sized rank state at each level), codegen — sees
  * only built-in operators, and EXPLAIN shows the real chain.
  * `MaxIters` bounds the plan depth a SQL user can request, because
  * each iteration is a level of the (checkpoint-free) plan tree.
  */
object PageRankTvf {

  val MaxIters = 16

  def fromArgs(args: Seq[Expression]): LogicalPlan = {
    def str(e: Expression, what: String): String = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        v.toString
      case _ => throw new IllegalArgumentException(
        s"pagerank: $what must be a string literal, got $e")
    }
    def iters(e: Expression): Int = e match {
      case Literal(v: Int, IntegerType) if v >= 1 && v <= MaxIters => v
      case _ => throw new IllegalArgumentException(
        s"pagerank: the iteration count must be an integer literal in " +
          s"1..$MaxIters (each iteration is a plan level), got $e")
    }
    args match {
      case Seq(t, src, dst, it) =>
        PageRankPlan(str(src, "the source column"),
          str(dst, "the destination column"), iters(it),
          UnresolvedRelation(CatalystSqlParser.parseMultipartIdentifier(
            str(t, "the table name"))))
      case other =>
        throw org.apache.spark.sql.graftshim.Shims
          .wrongNumArgs("pagerank", 4, other.size)
    }
  }
}

/** Placeholder node between parsing and expansion — deliberately never
  * `resolved` (the unresolved-TVF pattern), so the enclosing query
  * cannot resolve against it before [[ExpandPageRank]] replaces it.
  */
case class PageRankPlan(srcCol: String, dstCol: String, iters: Int,
    child: LogicalPlan) extends UnaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : PageRankPlan = copy(child = newChild)
}

/** Analysis rule: once the TVF's relation resolves, splice in the
  * K-level recurrence plan.
  */
case class ExpandPageRank(spark: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case pr: PageRankPlan if pr.child.resolved =>
        val edges = org.apache.spark.sql.graftshim.Shims
          .ofRows(spark, pr.child)
          .select(col(pr.srcCol).as("src"), col(pr.dstCol).as("dst"))
        val (w, deg) = graft.queries.GraphQueries.weight(edges)
        // The expansion references the weighted relation at every one
        // of the K plan levels. Round 18 hash-partitioned it once and
        // leaned on exchange reuse; round 19 materializes it ONCE as an
        // eager localCheckpoint leaf instead — the executed plans
        // showed the per-level wall was sequential AQE stage
        // round-trips through the relation's whole subtree (cache
        // scans wrapped in per-level TableCacheQueryStage nodes, the
        // edges⋈deg build re-planned per level), and a leaf RDD scan
        // removes all of them (see GraphQueries.relaxRounds for the
        // measured job/wall numbers on the components twin). The
        // repartition BEFORE the checkpoint pins hashpartitioning(src)
        // into the leaf so at non-broadcast sizes the relation side of
        // each level's join still needs no exchange. The checkpoint
        // executes inside the analysis rule — the same
        // eager-work-at-build-time regime as the LabelPropagation
        // fixpoint loops, re-run (and re-timed) on every execution of
        // the enclosing query. So ANY analysis of a query holding the
        // TVF, EXPLAIN included, runs an |E|-sized Spark job, and
        // nothing releases its blocks (no Checkpoints.release); they
        // stay until the plan is collected and the ContextCleaner
        // frees them. Below the measured K crossover
        // (GraphQueries.MaterializeRelationRounds) the fixed
        // materialization cost exceeds the replan savings, so short
        // chains keep round 18's reusable-exchange form.
        val wRep = w.repartition(col("src"))
        val wShared =
          if (pr.iters >= graft.queries.GraphQueries.MaterializeRelationRounds)
            wRep.localCheckpoint()
          else wRep
        graft.queries.GraphQueries.pagerankIterate(wShared, deg, pr.iters,
          hintStateJoin = true)
          .queryExecution.analyzed
    }
}
