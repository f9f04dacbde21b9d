package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Automatic aggregate rewrite onto a MATERIALIZED VIEW — the missing
  * half of incremental maintenance: [[Incremental.refresh]] keeps a
  * mart cheap to MAINTAIN, and this makes it free to USE — a query
  * that re-states the mart's defining computation over the SOURCE is
  * answered from the mart, turning a 100 TB fact scan into a read of
  * the (typically MB-sized) aggregate. The reference gets this by
  * convention (analysts are told to query the DM tables, not the DDS
  * fact); here the ENGINE recognizes the computation and routes it,
  * so the convention cannot be violated by accident.
  *
  * Matching is by PLAN SHAPE, not text: the registered `compute` is
  * re-planned over the source's CURRENT snapshot (cached on the
  * manifest versions), scans are normalized to their file lists, expression
  * ids are canonicalized away, and any query subtree whose normalized
  * shape + scanned files equal the definition's is substituted with a
  * manifest read of the mart, column-mapped by name onto the subtree's
  * own output attributes — the enclosing query never knows.
  *
  * SAFETY: the rewrite fires only when the mart is FRESH — its
  * [[Incremental]] bookmark equals the source's current manifest
  * version. A stale mart (source advanced, refresh not yet run) simply
  * stops matching and the query pays the honest source scan; answers
  * are never wrong, only sometimes slower. And because the definition
  * is re-planned against the current snapshot's file list, a query
  * over time-travelled or differently-filtered data can never
  * false-match.
  */
object MaterializedViews {

  final case class Mv(name: String, sourcePath: String, martPath: String,
      compute: DataFrame => DataFrame)

  private val registry =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Mv]

  /** Cache of everything the rule needs per (source, mart) state:
    * the definition's normalized shape + scan file lists AND the
    * mart's analyzed read plan with its by-name output map. Keyed on
    * the MANIFEST VERSIONS of both tables (plus the mart bookmark) —
    * a source commit or a mart refresh invalidates it. Without this
    * the rule would rebuild both reads (explicit-file-list relation
    * construction + parquet schema inference) on every analyzer
    * fixpoint iteration of every matching query — measured at seconds
    * per plan build; with it, a rule pass is three tiny metadata
    * reads and tree walks.
    */
  private val shapeCache = new SessionKeyedCache[(LogicalPlan,
    Seq[Seq[String]], LogicalPlan, Map[String, Attribute])]

  /** Guard against self-recursion: building the definition plan inside
    * the rule re-enters the analyzer (and so the rule).
    */
  private val expanding = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  def register(spark: SparkSession, name: String, sourcePath: String,
      martPath: String)(compute: DataFrame => DataFrame): Unit = {
    registry.keys.filter(_._1.sparkContext.isStopped).foreach(registry.remove)
    registry.put((spark, name), Mv(name, sourcePath, martPath, compute)); ()
  }

  def deregister(spark: SparkSession, name: String): Unit = {
    registry.remove((spark, name)); ()
  }

  private[engine] def active(spark: SparkSession): Seq[Mv] =
    registry.collect { case ((s, _), mv) if s eq spark => mv }.toSeq
      .sortBy(_.name)

  /** Normalize a plan for shape comparison: every file scan becomes a
    * [[LocalRelation]] placeholder (its FILE LIST captured separately —
    * [[HadoopFsRelation]] has reference equality, so raw canonicalized
    * trees never compare equal across separately-built reads), then
    * canonicalize to erase expression ids. Two plans are the same
    * computation iff both the normalized tree and the ordered scan
    * file lists match.
    */
  private def shape(plan: LogicalPlan): (LogicalPlan, Seq[Seq[String]]) = {
    // scheme-independent file identity: both the V1 path read
    // (qualified URIs from the FileIndex) and the V2 catalog scan
    // (table-relative names off the manifest) normalize to the plain
    // URI path, so `SELECT … FROM cat.ns.t` and Manifest.read(t) agree
    // on "the same files" (round 18, SQL matview DDL)
    def uriPath(s: String): String =
      new org.apache.hadoop.fs.Path(s).toUri.getPath
    val scans = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val normalized = plan.transformUp {
      case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        scans += h.location.inputFiles.map(uriPath).sorted.toSeq
        LocalRelation(lr.output)
      case dsv2: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation if dsv2.table.isInstanceOf[
            graft.catalog.GraftTable] =>
        val t = dsv2.table.asInstanceOf[graft.catalog.GraftTable]
        scans += t.liveRelFiles.map(f => uriPath(s"${t.path}/$f"))
          .sorted
        LocalRelation(dsv2.output)
    }
    (normalized.canonicalized, scans.toSeq)
  }

  /** The analysis rule (registered in GraftExtensions). Per MV: skip
    * unless fresh; build (cached) the definition's shape over the
    * current snapshot; substitute every matching resolved subtree with
    * a mart read whose columns are aliased back onto the subtree's own
    * output attribute ids, so references above never dangle.
    */
  case class RewriteToMv(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val mvs = active(spark)
      if (mvs.isEmpty || expanding.get()) plan
      else mvs.foldLeft(plan)(rewriteOne)
    }

    private def rewriteOne(plan: LogicalPlan, mv: Mv): LogicalPlan = {
      // cheap structural precheck before ANY metadata I/O: the plan
      // must scan files under the MV's source at all (the analyzer
      // calls resolution rules to fixpoint on every query — queries
      // that never touch the source should pay a tree walk, not reads)
      val srcPath = new org.apache.hadoop.fs.Path(mv.sourcePath)
        .toUri.getPath.stripSuffix("/")
      val prefix = srcPath + "/"
      val touchesSource = plan.exists {
        // a manifest-served scan's root IS the table path; a listing
        // read's roots are the files under it
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
          h.location.rootPaths.exists { r =>
            val p = r.toUri.getPath.stripSuffix("/")
            p == srcPath || p.startsWith(prefix)
          }
        case dsv2: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => dsv2.table match {
          // V2 catalog scans of the source count too (round 18: the
          // SQL matview path reaches the source by NAME)
          case t: graft.catalog.GraftTable =>
            new org.apache.hadoop.fs.Path(t.path).toUri.getPath
              .stripSuffix("/") == srcPath
          case _ => false
        }
        case _ => false
      }
      if (!touchesSource) return plan
      // freshness + cache key from MANIFEST VERSIONS, not file
      // fingerprints: files are immutable and the version uniquely
      // identifies table state, so three tiny metadata reads replace
      // two recursive directory walks — this rule runs per analyzer
      // fixpoint iteration of every query that touches the source,
      // and a measured ~2 s fingerprint pass per iteration turned a
      // sub-second mart read into a 5 s plan build before this
      val srcV = Manifest.currentVersion(spark, mv.sourcePath)
      val bookV = Incremental.appliedSourceVersion(spark, mv.martPath)
      if (srcV.isEmpty || bookV != srcV) return plan
      val martV = Manifest.currentVersion(spark, mv.martPath)
      expanding.set(true)
      try {
        val fp = s"${srcV.get}|${bookV.get}|${martV.getOrElse(-1L)}"
        val (defShape, defScans, martPlan, martByName) =
          shapeCache.getOrElseUpdate(spark, s"mv:${mv.name}", fp)({
            val d = shape(mv.compute(Manifest.read(spark, mv.sourcePath))
              .queryExecution.analyzed)
            val m = Manifest.read(spark, mv.martPath)
              .queryExecution.analyzed
            (d._1, d._2, m, m.output.map(a => a.name -> a).toMap)
          })
        // the cached mart plan carries fixed expression ids — safe to
        // splice once per plan; a SECOND matching subtree in the same
        // plan gets a freshly-built copy so ids never collide
        var usedCached = false
        plan.transformUp {
          case sub if sub.resolved && !sub.isInstanceOf[LocalRelation] &&
              sub.output.forall(a => martByName.get(a.name)
                .exists(_.dataType == a.dataType)) && {
                val (s, scans) = shape(sub)
                s == defShape && scans == defScans
              } =>
            val (mart, byName) =
              if (!usedCached) { usedCached = true; (martPlan, martByName) }
              else {
                val m = Manifest.read(spark, mv.martPath)
                  .queryExecution.analyzed
                (m, m.output.map(a => a.name -> a).toMap)
              }
            Project(sub.output.map(a =>
              Alias(byName(a.name), a.name)(exprId = a.exprId)), mart)
        }
      } finally expanding.set(false)
    }
  }
}
