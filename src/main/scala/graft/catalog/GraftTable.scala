package graft.catalog

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDeleteV2, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.{Manifest, Upsert}

/** One manifest snapshot as a DSv2 [[Table]]. The file list and pinned
  * schema are resolved ONCE at load (analysis) time, so a query —
  * however many scans of the table it contains — reads one consistent
  * snapshot even while writers commit concurrently: the SQL twin of
  * [[Manifest.read]]'s snapshot isolation.
  *
  * Reads are Spark's stock parquet DSv2 scan over the manifest-served
  * file index ([[org.apache.spark.sql.graftshim.ManifestScan]]: zero
  * listing; partition columns derived from directory names exactly as
  * a directory read derives them), wrapped by [[GraftScanBuilder]] for
  * manifest-stats file skipping. Writes and
  * deletes go through the engine's snapshot-committing verbs — never
  * through the parquet table, whose directory-append path would land
  * files the manifest (correctly) ignores.
  */
final case class GraftTable(spark: SparkSession, tableName: String,
    path: String, asOfVersion: Option[Long],
    exposeUnion: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDeleteV2 {

  /** The version this table object serves. */
  private val snapshotVersion: Long =
    asOfVersion.getOrElse(Manifest.requireVersion(spark, path))

  private val relFiles: Seq[String] =
    Manifest.filesAsOf(spark, path, snapshotVersion)

  private val pinnedSchema: Option[StructType] =
    Manifest.schemaAsOf(spark, path, snapshotVersion)

  /** `#flen` ledger of the served version: every scan is built over a
    * manifest-served file index from it — ZERO filesystem listing at
    * resolution (ManifestScan scaladoc).
    */
  private lazy val fileLens: Map[String, Long] =
    Manifest.fileLengthsAsOf(spark, path, snapshotVersion)

  private def served(files: Seq[String]): Seq[(String, Long)] =
    Manifest.sized(path, files, fileLens)

  /** Deletion-vector pointers of the served snapshot (round 17).
    * Non-empty ⇒ SQL reads of this relation are swapped onto the
    * DV-applied V1 plan by [[graft.plans.ApplyDeletionVectors]] — a
    * stock parquet scan would resurrect merge-on-read-deleted rows.
    */
  private[graft] lazy val dvMap: Map[String, Manifest.DvPointer] =
    Manifest.dvsAsOf(spark, path, snapshotVersion)

  /** The snapshot version this table object serves (for the DV rule's
    * version-exact re-read).
    */
  private[graft] def servedVersion: Long = snapshotVersion

  /** The served snapshot's table-relative file list — the matview
    * rewrite's scan normalization ([[graft.engine.MaterializedViews]])
    * compares V2 catalog scans against V1 path reads by file set.
    */
  private[graft] def liveRelFiles: Seq[String] = relFiles

  /** logical column → its prior (pre-rename) physical names, from the
    * pinned schema's [[Manifest.PriorNamesKey]] chains. Non-empty ⇔
    * this snapshot has columns whose data lives under old names in old
    * files; [[graft.plans.ExpandRenamedScan]] then swaps SQL reads onto
    * the [[unionVariant]] and coalesces the chains back.
    */
  private[graft] lazy val renamePriors: Map[String, Seq[String]] =
    pinnedSchema.map(Manifest.renameChains).getOrElse(Map.empty)

  /** The same snapshot exposing the UNION read schema: every renamed
    * column followed by its prior names as nullable shadows (absent in
    * a given file ⇒ NULL — stock parquet by-name resolution). Rows are
    * NOT coalesced here; the analyzer-level Project does that. Only
    * ever constructed by [[graft.plans.ExpandRenamedScan]] for reads.
    */
  private[graft] def unionVariant: GraftTable = copy(exposeUnion = true)

  /** The pinned schema as this variant reads it (None: the footer's). */
  private def readSchema: Option[StructType] =
    pinnedSchema.map(st =>
      if (!exposeUnion) st
      else StructType(st.fields.toSeq.flatMap { f =>
        f +: Manifest.priorNames(f)
          .map(p => org.apache.spark.sql.types.StructField(
            p, f.dataType, nullable = true))
      }))

  require(relFiles.nonEmpty || pinnedSchema.nonEmpty,
    s"table $tableName at $path: empty snapshot with no pinned schema — " +
      "nothing to derive a shape from")

  /** Partition columns as laid out on disk (`d=.../file.parquet`),
    * derived from the snapshot's own paths — the layout IS the
    * partitioning metadata, exactly like a directory-scan read. An
    * EMPTY shell has no layout yet; a `CREATE TABLE … PARTITIONED BY`
    * declaration is recorded as a static table property (round 14) and
    * steers the FIRST insert's physical layout.
    */
  private[graft] def partitionCols: Seq[String] =
    Manifest.layoutPartitionCols(relFiles)
      .getOrElse(Manifest.declaredPartitionCols(spark, path))

  private def scanOptions(extra: CaseInsensitiveStringMap)
      : CaseInsensitiveStringMap = {
    val m = new util.HashMap[String, String](extra)
    m.put("basePath", path)
    new CaseInsensitiveStringMap(m)
  }

  override def name(): String = tableName

  /** The LOGICAL schema: hidden `ptx_*` transform directories (round
    * 15) never surface — scans prune to the requested logical columns,
    * so the derived dirs are not even read.
    */
  override def schema(): StructType = logicalSchema

  private lazy val logicalSchema: StructType =
    StructType(org.apache.spark.sql.graftshim.ManifestScan.tableSchema(
      spark, path, served(relFiles), readSchema).fields.filterNot(f =>
      graft.engine.PartitionTransforms.isDerived(f.name)))

  override def properties(): util.Map[String, String] =
    Map("provider" -> "graft", "location" -> path,
      "version" -> snapshotVersion.toString).asJava

  /** The table's partitioning as V2 transforms — identity columns as
    * themselves, hidden `ptx_*` dirs decoded back to their declaring
    * transform (round 15). Exposing this lets the analyzer validate
    * `INSERT OVERWRITE … PARTITION (c = v)` specs and DESCRIBE show
    * the layout.
    */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import graft.engine.PartitionTransforms
    partitionCols.map { c =>
      PartitionTransforms.decode(c) match {
        case Some(PartitionTransforms.PTime("year", s)) => Expressions.years(s)
        case Some(PartitionTransforms.PTime("month", s)) =>
          Expressions.months(s)
        case Some(PartitionTransforms.PTime("day", s)) => Expressions.days(s)
        case Some(PartitionTransforms.PTime(_, s)) => Expressions.hours(s)
        case Some(PartitionTransforms.PBucket(n, s)) =>
          Expressions.bucket(n, s)
        case None => Expressions.identity(c)
      }
    }.toArray
  }

  override def capabilities(): util.Set[TableCapability] =
    // OVERWRITE_DYNAMIC satisfies the analyzer's capability check; the
    // actual execution is [[graft.plans.RewriteGraftDml]]'s rewrite of
    // OverwritePartitionsDynamic onto Upsert.overwritePartitions
    // (Spark ships no V1 fallback exec for the dynamic node)
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  /** Both the initial builder and any stats-pruned rebuild resolve
    * through the manifest-served index, without touching the filesystem
    * (an empty shell's scan is its pinned shape over zero files).
    */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val commitTs =
      Manifest.commitTsAsOf(spark, path, snapshotVersion).getOrElse(0L)
    def build(files: Seq[String]): ScanBuilder =
      org.apache.spark.sql.graftshim.ManifestScan.parquetScanBuilder(
        spark, path, served(files), readSchema, scanOptions(options),
        commitTs)._2
    new GraftScanBuilder(spark, path, snapshotVersion, relFiles,
      build(relFiles), build)
  }

  // ---- INSERT INTO / INSERT OVERWRITE (V1 fallback -> engine verbs) --

  /** `INSERT INTO` lands as [[Upsert.append]] (one manifest-committed
    * batch); `INSERT OVERWRITE` (round 14) replaces the WHOLE live set
    * atomically via [[Upsert.overwriteTable]] — the analyzer signals it
    * through `SupportsOverwriteV2.truncate()` (static mode, no
    * partition spec ⇒ the delete filter is ALWAYS_TRUE). `INSERT
    * OVERWRITE … PARTITION (c = v)` (round 15) replaces exactly that
    * identity partition via [[Upsert.overwritePartitions]] with the
    * declared value as the expected set — staged rows leaking outside
    * it fail the write pre-commit. Anything else (range predicates,
    * multi-level static specs, hidden-transform layouts) refuses
    * loudly.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    asOfVersion.foreach(v => throw new UnsupportedOperationException(
      s"cannot write to $tableName: VERSION AS OF $v is a read-only " +
        "snapshot"))
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwriteV2 {
      private var replaceAll = false
      private var staticPart: Option[(String, Seq[String])] = None
      private var replaceCond: Option[org.apache.spark.sql.Column] = None
      override def overwrite(predicates: Array[V2Predicate]): WriteBuilder = {
        if (predicates.forall(_.name() == "ALWAYS_TRUE")) {
          replaceAll = true
          return this
        }
        // `PARTITION (c = v)` on a single-level identity layout keeps
        // its partition-wholesale fast path (declared expected values,
        // no touched-file scan); every OTHER translatable predicate —
        // range predicates, multi-level layouts, hidden-transform
        // buckets — is REPLACE WHERE (round 17): row-scoped
        // delete-by-predicate + append in one snapshot commit
        // (`Upsert.replaceWhere`), with the leak check that staged rows
        // satisfy the predicate.
        val static = partitionCols match {
          case Seq(c) if !graft.engine.PartitionTransforms.isDerived(c) =>
            val vals = predicates.toSeq.map(StaticPartitionEq.unapply(_)
              .collect { case (n, v) if n.equalsIgnoreCase(c) => v })
            if (vals.forall(_.isDefined))
              Some(c -> vals.flatten.distinct)
            else None
          case _ => None
        }
        static match {
          case Some(sp) => staticPart = Some(sp)
          case None =>
            replaceCond = Some(
              V2PredicateColumns.translateAll(predicates).getOrElse(
                throw new UnsupportedOperationException(
                  s"INSERT OVERWRITE / REPLACE WHERE $tableName: cannot " +
                    "translate " + predicates.mkString(" AND ") +
                    " — use the library's Upsert.replaceWhere with an " +
                    "arbitrary Column predicate")))
        }
        this
      }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                overwrite: Boolean): Unit = {
              val pc = partitionCols
              (staticPart, replaceCond) match {
                case (Some((c, vals)), _) =>
                  Upsert.overwritePartitions(spark, path, data, c,
                    expectedValues = Some(vals))
                case (None, Some(cond)) =>
                  Upsert.replaceWhereLayout(spark, path, cond, data, pc)
                case (None, None) =>
                  if (replaceAll || overwrite)
                    Upsert.overwriteTableLayout(spark, path, data, pc)
                  else Upsert.appendLayout(spark, path, data, pc)
              }
              ()
            }
          }
      }
    }
  }

  // ---- DELETE FROM / TRUNCATE TABLE --------------------------------

  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    asOfVersion.isEmpty &&
      V2PredicateColumns.translateAll(predicates).isDefined

  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    asOfVersion.foreach(v => throw new UnsupportedOperationException(
      s"cannot delete from $tableName: VERSION AS OF $v is a " +
        "read-only snapshot"))
    val cond = V2PredicateColumns.translateAll(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE FROM $tableName: cannot translate " +
          predicates.mkString(" AND ") + " — use Upsert.deleteWhere " +
          "with an arbitrary Column predicate"))
    // the trivially-true condition (`DELETE FROM t`, TRUNCATE) stays
    // copy-on-write even under merge-on-read: DV'ing every row keeps
    // all files live under full vectors — the empty-snapshot commit is
    // strictly better (round 17; mirrors RewriteGraftDml's guard)
    val trivial = predicates.isEmpty ||
      predicates.forall(_.name() == "ALWAYS_TRUE")
    if (!trivial && Upsert.dmlMode(spark, path) == "merge-on-read")
      Upsert.deleteWhereMor(spark, path, cond)
    else Upsert.deleteWhere(spark, path, cond)
    ()
  }
}
