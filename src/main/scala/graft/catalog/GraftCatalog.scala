package graft.catalog

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.{Manifest, Upsert, WriterLease}

/** SQL-addressable warehouse: a DataSource V2 [[TableCatalog]] that
  * resolves manifest-managed tables (`graft.engine.Manifest`) by NAME,
  * so every table the engine's writers maintain is reachable from any
  * SQL client session as `SELECT … FROM <cat>.<ns>.<table>` — the
  * reference's whole BI story is name-based SQL against Postgres
  * (`README.md:65-67`: Metabase/DBeaver over the star schema); this
  * closes the same gap for the lakehouse layer without a second copy
  * of the data.
  *
  * Registration (any number of catalogs, one per warehouse root):
  * {{{
  *   spark.sql.catalog.wh      = graft.catalog.GraftCatalog
  *   spark.sql.catalog.wh.root = /data/warehouse
  * }}}
  * Layout convention: `root/<namespace>/<table>` — one directory level
  * of namespaces, each table a manifest-managed parquet directory.
  *
  * What resolves through here:
  *  - **Reads** delegate to Spark's own parquet DSv2 scan over the
  *    manifest's EXPLICIT file list — predicate pushdown, column
  *    pruning, partition pruning, and parquet aggregate pushdown are
  *    all the stock `ParquetScanBuilder` machinery; the catalog adds
  *    manifest-level FILE skipping on top ([[GraftScanBuilder]]): the
  *    pushed data filters are intersected with the snapshot's
  *    `.stats` sidecar envelopes BEFORE the scan is built, so tasks
  *    are never scheduled for files whose min/max cannot match. At
  *    100 TB this is the difference between opening every footer and
  *    opening the overlapping handful — and because the file list is
  *    explicit, no object-store directory listing happens at all.
  *  - **Time travel**: `VERSION AS OF v` routes to the same pinned
  *    file list + schema sidecar as `Manifest.readAsOf`, and its
  *    stats skipping prunes against THAT version's sidecar.
  *  - **DML**: `DELETE FROM … WHERE …` translates the V2 predicates
  *    back to Column expressions and runs [[Upsert.deleteWhere]]
  *    (touched-files-only rewrite, snapshot commit); `TRUNCATE TABLE`
  *    is the always-true delete. `INSERT INTO` lands through the V1
  *    write fallback as [[Upsert.append]] — one atomic manifest
  *    commit per statement, same as every library writer.
  *  - **DDL**: `CREATE TABLE` pins the schema as a v1 sidecar over an
  *    empty file list; `ALTER TABLE … ADD COLUMN` is
  *    [[Manifest.addColumn]]'s metadata-only migration; `DROP TABLE`
  *    removes the directory under the writer lease.
  *
  * `UPDATE` and `MERGE INTO` also resolve against these tables —
  * through [[graft.plans.RewriteGraftDml]] (a GraftExtensions
  * resolution rule routing them to the engine's snapshot-committing
  * verbs), not this class. Maintenance is SQL-callable too:
  * `CALL <cat>.system.{compact,vacuum,vacuum_warehouse}`
  * ([[GraftProcedures]]).
  *
  * Deliberately NOT here: transform/multi-level partitioning (a single
  * identity `PARTITIONED BY (col)` is supported since round 14 via a
  * static table property that steers the first insert's physical
  * layout) and `RENAME` across filesystems.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.root to the " +
          "warehouse root directory"))
      .stripSuffix("/")
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tablePath(ident: Identifier): String =
    GraftPaths.tablePath(root, ident.namespace.mkString("/"), ident.name)

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_graft_manifest"))

  // ---- namespaces -------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val r = new Path(root)
    if (!fs.exists(r)) Array.empty
    else fs.listStatus(r).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("_"))
      .sorted.map(Array(_))
  }

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (namespaceExists(ns)) Array.empty
    else throw new NoSuchNamespaceException(name() +: ns.toSeq)

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.length == 1 && fs.exists(new Path(s"$root/${ns.head}"))

  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] =
    if (namespaceExists(ns))
      Map("location" -> s"$root/${ns.head}").asJava
    else throw new NoSuchNamespaceException(name() +: ns.toSeq)

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(ns.length == 1,
      s"catalog ${name()} supports one namespace level, got " +
        ns.mkString("."))
    if (namespaceExists(ns))
      throw new NamespaceAlreadyExistsException((name() +: ns.toSeq).toArray)
    fs.mkdirs(new Path(s"$root/${ns.head}")); ()
  }

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"catalog ${name()}: namespaces carry no mutable metadata")

  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) return false
    val p = new Path(s"$root/${ns.head}")
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${ns.head} is not empty (use CASCADE)")
    // CASCADE drops every table under ITS writer lease (mirroring
    // dropTable) so a concurrent writer cannot commit into a table
    // mid-delete and resurrect a partial directory
    if (cascade) listTables(ns).foreach(dropTable)
    fs.delete(p, true)
  }

  // ---- tables -----------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!namespaceExists(ns))
      throw new NoSuchNamespaceException(name() +: ns.toSeq)
    val p = new Path(s"$root/${ns.head}")
    fs.listStatus(p).filter(st => st.isDirectory && isTableDir(st.getPath))
      .map(st => Identifier.of(ns, st.getPath.getName)).sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      isTableDir(new Path(tablePath(ident)))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException(
        name() +: ident.namespace.toSeq :+ ident.name)
    GraftTable(spark, fullName(ident), tablePath(ident), asOfVersion = None)
  }

  /** `VERSION AS OF v` — the SQL surface of [[Manifest.readAsOf]]. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException(
        name() +: ident.namespace.toSeq :+ ident.name)
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"catalog ${name()}: VERSION AS OF takes a manifest version " +
            s"number, got '$version'")
    }
    val path = tablePath(ident)
    require(Manifest.versions(spark, path).contains(v),
      s"table ${fullName(ident)} has no committed version $v " +
        s"(versions: ${Manifest.versions(spark, path).mkString(", ")})")
    GraftTable(spark, s"${fullName(ident)}@v$v", path, asOfVersion = Some(v))
  }

  /** `TIMESTAMP AS OF t` (round 15) — resolves to the LATEST version
    * committed at or before `t` (Spark hands micros since epoch; the
    * commit instant is the manifest file's mtime, the same clock
    * [[Manifest.history]] reports). A timestamp before the first
    * commit is a loud error, matching Delta/Iceberg semantics.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException(
        name() +: ident.namespace.toSeq :+ ident.name)
    val path = tablePath(ident)
    val cutoffMillis = Math.floorDiv(timestampMicros, 1000L)
    // commitInstants, not history: one stat per version, no manifest
    // contents read at analysis time. takeWhile, not filter (ADVICE
    // r15): manifest mtimes are only monotone in version order when no
    // clock skew or directory copy/restore intervened — under an
    // inversion (v3 stamped before v2), the contiguous prefix rule
    // never resolves to a version whose PREDECESSOR is after the
    // cutoff, i.e. time travel can under-shoot on a skewed history but
    // never serve a snapshot newer than one the cutoff excludes.
    val at = Manifest.commitInstants(spark, path)
      .takeWhile(_._2 <= cutoffMillis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"table ${fullName(ident)}: no version committed at or before " +
          s"timestamp ${java.time.Instant.ofEpochMilli(cutoffMillis)} " +
          "(the first commit is later)"))
    GraftTable(spark, s"${fullName(ident)}@v${at._1}", path,
      asOfVersion = Some(at._1))
  }

  private def fullName(ident: Identifier): String =
    (name() +: ident.namespace.toSeq :+ ident.name).mkString(".")

  /** `CREATE TABLE` — pins the declared schema as the v1 sidecar over
    * an empty file list, so the table is immediately SELECTable
    * (empty) and `INSERT INTO` lands against a checked shape.
    *
    * `PARTITIONED BY (col)` (round 14): ONE top-level identity
    * partition column is recorded as a static table property — the
    * empty shell has no files to derive a layout from, and the first
    * insert (plain, OVERWRITE, or CTAS's write) lands physically
    * partitioned by it; from then on the layout itself carries the
    * metadata, exactly like a library-written table. Bucket/days/etc.
    * transforms and multi-level layouts are refused loudly.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(ident.namespace.length == 1,
      s"catalog ${name()} expects <namespace>.<table>, got " +
        fullName(ident))
    if (tableExists(ident))
      throw new TableAlreadyExistsException(
        name() +: ident.namespace.toSeq :+ ident.name)
    // one relation namespace (round 17): a table may not shadow a VIEW
    // either — the reverse check lives in createView
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    // ordered multi-column IDENTITY layouts (round 15) — exactly the
    // reference's (source_date, country) chart key, `ddl_ods.sql:21-23`
    // — plus HIDDEN TRANSFORMS (round 15): years/months/days/hours and
    // bucket(n) become engine-maintained `ptx_*` directory columns
    // (graft.engine.PartitionTransforms) that cluster writes and prune
    // reads without ever surfacing in the logical schema
    import graft.engine.{PartitionTransforms => PTX}
    def canonical(t: Transform): String = {
      require(t.references.length == 1 &&
        t.references.head.fieldNames.length == 1,
        s"catalog ${name()}: partition transform $t must reference one " +
          "top-level column")
      val c = t.references.head.fieldNames.head
      // resolve like the analyzer does (case-insensitive by default)
      // and store the SCHEMA's canonical spelling
      schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"catalog ${name()}: partition column $c is not in the schema"))
    }
    val partCols: Seq[String] = partitions.toSeq.map { t =>
      t.name match {
        case "identity" => canonical(t)
        case "years" | "months" | "days" | "hours" =>
          val pt = PTX.PTime(t.name.dropRight(1), canonical(t))
          PTX.validate(pt, schema); pt.dirName
        case "bucket" =>
          val n = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value.isInstanceOf[Number] =>
              l.value.asInstanceOf[Number].intValue
          }.getOrElse(throw new IllegalArgumentException(
            s"catalog ${name()}: bucket transform needs a literal " +
              s"bucket count, got $t"))
          val pt = PTX.PBucket(n, canonical(t))
          PTX.validate(pt, schema); pt.dirName
        case other => throw new UnsupportedOperationException(
          s"catalog ${name()}: unsupported partition transform '$other' " +
            "— identity columns, years/months/days/hours, and bucket(n) " +
            "are supported")
      }
    }
    require(partCols.distinct == partCols,
      s"catalog ${name()}: duplicate partition column in " +
        partCols.mkString(", "))
    // data columns may not collide with the reserved derived-dir
    // pattern — a table with both would silently shadow the transform
    val ambiguous = schema.fieldNames.filter(PTX.isDerived)
    require(ambiguous.isEmpty,
      s"catalog ${name()}: column name(s) ${ambiguous.mkString(", ")} " +
        "match the reserved hidden-transform pattern ptx_<kind>_<col> " +
        "— choose different names")
    val path = tablePath(ident)
    fs.mkdirs(new Path(path))
    // persisted user properties (whitelisted): the DML write strategy
    // (round 17 merge-on-read) rides CREATE TABLE … TBLPROPERTIES
    val dmlMode = Option(properties.get("graft.dml.mode"))
    dmlMode.foreach(m => require(
      m == "copy-on-write" || m == "merge-on-read",
      s"catalog ${name()}: graft.dml.mode must be copy-on-write or " +
        s"merge-on-read, got '$m'"))
    val props =
      (if (partCols.nonEmpty) Map("partition" -> partCols.mkString(","))
       else Map.empty[String, String]) ++
        dmlMode.map("graft.dml.mode" -> _)
    if (props.nonEmpty) Manifest.writeTableProperties(spark, path, props)
    Manifest.commit(spark, path, Seq.empty, schema = Some(schema))
    GraftTable(spark, fullName(ident), path, asOfVersion = None)
  }

  /** `ALTER TABLE … ADD COLUMN` routes to [[Manifest.addColumn]]'s
    * metadata-only migration; everything else is refused loudly.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException(
        name() +: ident.namespace.toSeq :+ ident.name)
    val path = tablePath(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"catalog ${name()}: only top-level ADD COLUMN is supported")
        Manifest.addColumn(spark, path,
          org.apache.spark.sql.types.StructField(
            add.fieldNames.head, add.dataType, add.isNullable))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"catalog ${name()}: only top-level RENAME COLUMN is supported")
        Manifest.renameColumn(spark, path, rn.fieldNames.head, rn.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"catalog ${name()}: only top-level DROP COLUMN is supported")
        Manifest.dropColumn(spark, path, del.fieldNames.head)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          s"catalog ${name()}: only top-level ALTER COLUMN TYPE is " +
            "supported")
        Manifest.widenColumn(spark, path, upd.fieldNames.head,
          upd.newDataType)
      case other => throw new UnsupportedOperationException(
        s"catalog ${name()}: unsupported ALTER ${other.getClass.getSimpleName} " +
          "— schema evolution here is ADD / RENAME / DROP COLUMN / " +
          "ALTER COLUMN TYPE (lossless widening)")
    }
    GraftTable(spark, fullName(ident), path, asOfVersion = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val path = tablePath(ident)
    WriterLease.withLease(spark, path) {
      fs.delete(new Path(path), true)
    }
  }

  // ---- maintenance procedures (`CALL <cat>.system.…`) --------------

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(Array("system")))
      GraftProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"catalog ${name()}: procedures live in the 'system' namespace " +
        s"(got ${(ident.namespace :+ ident.name).mkString(".")})")
    GraftProcedures.load(ident.name, root).getOrElse(
      throw new UnsupportedOperationException(
        s"catalog ${name()}: no procedure system.${ident.name} — " +
          s"available: ${GraftProcedures.names.mkString(", ")}"))
  }

  // ---- persisted views (round 17, [[GraftViews]]) -------------------

  private def viewIdentOk(ident: Identifier): Boolean =
    ident.namespace.length == 1

  // ---- persisted matviews (round 18, [[GraftMatviews]]) -------------
  // Definition docs only; the mart DATA is an ordinary manifest table
  // at the matview's own identifier (tablePath), so reads/DESCRIBE/
  // time travel work through the standard table surface. The SQL DDL
  // commands live in [[graft.plans.GraftMatviewSql]].

  private[graft] def warehouseRoot: String = root

  private[graft] def matviewExists(ident: Identifier): Boolean =
    viewIdentOk(ident) && fs.exists(
      GraftMatviews.file(root, ident.namespace.toSeq, ident.name))

  private[graft] def readMatview(ident: Identifier)
      : Option[GraftMatviews.MatviewDoc] =
    if (!viewIdentOk(ident)) None
    else GraftMatviews.read(fs, root, ident.namespace.toSeq, ident.name)

  private[graft] def writeMatview(ident: Identifier,
      doc: GraftMatviews.MatviewDoc): Unit = {
    require(viewIdentOk(ident),
      s"catalog ${name()} expects <namespace>.<matview>, got " +
        fullName(ident))
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(name() +: ident.namespace.toSeq)
    GraftMatviews.write(fs, root, ident.namespace.toSeq, ident.name, doc)
  }

  private[graft] def dropMatview(ident: Identifier): Boolean =
    viewIdentOk(ident) &&
      GraftMatviews.delete(fs, root, ident.namespace.toSeq, ident.name)

  private[graft] def listMatviews(ns: Seq[String]): Seq[Identifier] =
    GraftMatviews.list(fs, root, ns)
      .map(n => Identifier.of(ns.toArray, n))

  override def viewExists(ident: Identifier): Boolean =
    viewIdentOk(ident) && fs.exists(
      GraftViews.viewFile(root, ident.namespace.toSeq, ident.name))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns))
      throw new NoSuchNamespaceException(name() +: ns.toSeq)
    GraftViews.list(fs, root, ns.toSeq)
      .map(n => Identifier.of(ns, n)).toArray
  }

  override def loadView(ident: Identifier): View = {
    val doc = GraftViews.read(fs, root, ident.namespace.toSeq, ident.name)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    val fn = fullName(ident)
    new View {
      override def name(): String = fn
      override def query(): String = doc.sql
      override def currentCatalog(): String = doc.currentCatalog
      override def currentNamespace(): Array[String] =
        doc.currentNamespace.toArray
      override def schema(): StructType = doc.schema
      override def queryColumnNames(): Array[String] =
        doc.queryColumnNames.toArray
      override def columnAliases(): Array[String] =
        doc.columnAliases.toArray
      override def columnComments(): Array[String] =
        doc.columnComments.toArray
      override def properties(): util.Map[String, String] =
        doc.properties.asJava
    }
  }

  private def writeView(info: ViewInfo): View = {
    val ident = info.ident
    require(viewIdentOk(ident),
      s"catalog ${name()} expects <namespace>.<view>, got " +
        fullName(ident))
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(
        name() +: ident.namespace.toSeq)
    GraftViews.write(fs, root, ident.namespace.toSeq, ident.name,
      GraftViews.ViewDoc(info.sql, info.currentCatalog,
        info.currentNamespace.toSeq, info.schema.json,
        info.queryColumnNames.toSeq, info.columnAliases.toSeq,
        info.columnComments.toSeq, info.properties.asScala.toMap))
    loadView(ident)
  }

  override def createView(info: ViewInfo): View = {
    // a view may not SHADOW a table (Postgres keeps one relation
    // namespace; so do we) — and vice versa, see createTable
    if (tableExists(info.ident))
      throw new TableAlreadyExistsException(
        name() +: info.ident.namespace.toSeq :+ info.ident.name)
    if (viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident)
    writeView(info)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (tableExists(info.ident))
      throw new TableAlreadyExistsException(
        name() +: info.ident.namespace.toSeq :+ info.ident.name)
    if (!orCreate && !viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident)
    // one atomic rename swaps the definition — readers see old or new,
    // never a torn document
    writeView(info)
  }

  override def alterView(ident: Identifier,
      changes: ViewChange*): View = {
    val doc = GraftViews.read(fs, root, ident.namespace.toSeq, ident.name)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    val props = changes.foldLeft(doc.properties) {
      case (p, set: ViewChange.SetProperty) =>
        p + (set.property() -> set.value())
      case (p, rm: ViewChange.RemoveProperty) => p - rm.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"catalog ${name()}: unsupported ALTER VIEW change $other")
    }
    GraftViews.write(fs, root, ident.namespace.toSeq, ident.name,
      doc.copy(properties = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewIdentOk(ident) &&
      GraftViews.delete(fs, root, ident.namespace.toSeq, ident.name)

  override def renameView(from: Identifier, rawTo: Identifier): Unit = {
    val to =
      if (rawTo.namespace.length == 2 && rawTo.namespace.head == name())
        Identifier.of(rawTo.namespace.tail, rawTo.name)
      else rawTo
    val doc = GraftViews.read(fs, root, from.namespace.toSeq, from.name)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(from))
    if (viewExists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    if (tableExists(to))
      throw new TableAlreadyExistsException(
        name() +: to.namespace.toSeq :+ to.name)
    GraftViews.write(fs, root, to.namespace.toSeq, to.name, doc)
    GraftViews.delete(fs, root, from.namespace.toSeq, from.name); ()
  }

  override def renameTable(oldIdent: Identifier,
      rawNewIdent: Identifier): Unit = {
    // Spark passes the RENAME TO identifier through unresolved, so a
    // user writing the natural `RENAME TO <cat>.<ns>.<t>` arrives with
    // the catalog name still prefixed — strip it (it can only mean us)
    val newIdent =
      if (rawNewIdent.namespace.length == 2 &&
        rawNewIdent.namespace.head == name())
        Identifier.of(rawNewIdent.namespace.tail, rawNewIdent.name)
      else rawNewIdent
    if (!tableExists(oldIdent))
      throw new NoSuchTableException(
        name() +: oldIdent.namespace.toSeq :+ oldIdent.name)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(
        name() +: newIdent.namespace.toSeq :+ newIdent.name)
    require(namespaceExists(newIdent.namespace),
      s"namespace ${newIdent.namespace.mkString(".")} does not exist")
    WriterLease.withLease(spark, tablePath(oldIdent)) {
      require(fs.rename(new Path(tablePath(oldIdent)),
        new Path(tablePath(newIdent))),
        s"rename ${fullName(oldIdent)} -> ${fullName(newIdent)} failed")
    }
  }
}
