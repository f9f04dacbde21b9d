package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

/** SQL surface for personalized PageRank
  * (`graft.queries.GraphQueries.pprIterate`) — a table-valued function
  * taking TWO relations, the edge list and the seed set:
  *
  * {{{
  *   SELECT * FROM ppr(
  *     'edges_v',   -- table or view with the edge list
  *     'src',       -- source-node column (BIGINT)
  *     'dst',       -- destination-node column (BIGINT)
  *     'seeds_v',   -- table or view with the restart/seed nodes
  *     'node',      -- seed-node column (BIGINT)
  *     3)           -- iteration count (1..MaxIters)
  *   -- returns (node BIGINT, pr BIGINT) in exact integer micro-units;
  *   -- a node has a row iff it is a seed or has received mass — the
  *   -- sparse reached-set contract (absent = rank 0)
  * }}}
  *
  * The first two-relation TVF in the library: the placeholder is a
  * [[BinaryNode]] so BOTH named relations resolve through the normal
  * analyzer recursion before [[ExpandPpr]] splices in the K-level
  * recurrence. Like `pagerank`, the expansion must stay side-effect-free
  * (no persist), so both the degree-weighted edge relation and the seed
  * relation are hash-partitioned on their join/grouping keys once —
  * planting an identical Exchange at every one of the K levels that
  * reference them, which exchange reuse materializes once (the
  * q_sql_pagerank property, PLANS.md). `MaxIters` bounds the plan depth
  * a SQL user can request at parse.
  */
object PprTvf {

  val MaxIters = 16

  def fromArgs(args: Seq[Expression]): LogicalPlan = {
    def str(e: Expression, what: String): String = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        v.toString
      case _ => throw new IllegalArgumentException(
        s"ppr: $what must be a string literal, got $e")
    }
    def iters(e: Expression): Int = e match {
      case Literal(v: Int, IntegerType) if v >= 1 && v <= MaxIters => v
      case _ => throw new IllegalArgumentException(
        s"ppr: the iteration count must be an integer literal in " +
          s"1..$MaxIters (each iteration is a plan level), got $e")
    }
    def rel(e: Expression, what: String): UnresolvedRelation =
      UnresolvedRelation(
        CatalystSqlParser.parseMultipartIdentifier(str(e, what)))
    args match {
      case Seq(t, src, dst, st, sn, it) =>
        PprPlan(str(src, "the source column"),
          str(dst, "the destination column"),
          str(sn, "the seed-node column"), iters(it),
          rel(t, "the edge table name"), rel(st, "the seed table name"))
      case other =>
        throw org.apache.spark.sql.graftshim.Shims
          .wrongNumArgs("ppr", 6, other.size)
    }
  }
}

/** Placeholder between parsing and expansion — never `resolved`, with
  * both the edge relation and the seed relation as children so the
  * analyzer resolves each by name.
  */
case class PprPlan(srcCol: String, dstCol: String, seedCol: String,
    iters: Int, left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): PprPlan =
    copy(left = newLeft, right = newRight)
}

/** Analysis rule: once both relations resolve, splice in the K-level
  * personalized-PageRank plan.
  */
case class ExpandPpr(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case p: PprPlan if p.left.resolved && p.right.resolved =>
        val edges = org.apache.spark.sql.graftshim.Shims
          .ofRows(spark, p.left)
          .select(col(p.srcCol).as("src"), col(p.dstCol).as("dst"))
        val seeds = org.apache.spark.sql.graftshim.Shims
          .ofRows(spark, p.right)
          .select(col(p.seedCol).as("node"))
        val (w, _) = graft.queries.GraphQueries.weight(edges)
        // both relations recur at every level: identical exchanges →
        // one materialization via reuse. Long chains (K ≥ the measured
        // crossover, GraphQueries.MaterializeRelationRounds) checkpoint
        // the weighted relation instead — leaf scans beat per-level
        // AQE replans through the subtree once K amortizes the eager
        // materialization (see GraphQueries.relaxRounds). The
        // checkpoint runs inside this analysis rule, so ANY analysis of
        // a query holding the TVF, EXPLAIN included, runs an |E|-sized
        // Spark job, and nothing releases its blocks (no
        // Checkpoints.release); they stay until the plan is collected
        // and the ContextCleaner frees them.
        val wRep = w.repartition(col("src"))
        val wShared =
          if (p.iters >= graft.queries.GraphQueries.MaterializeRelationRounds)
            wRep.localCheckpoint()
          else wRep
        graft.queries.GraphQueries.pprIterate(
          wShared, seeds.repartition(col("node")), p.iters,
          hintStateJoin = true)
          .queryExecution.analyzed
    }
}
