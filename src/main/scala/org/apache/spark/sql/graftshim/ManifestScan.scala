package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, LogicalRelation, NoopCache, PartitioningAwareFileIndex, PartitionSpec, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** ZERO-LISTING reads for manifest-managed tables (round 16).
  *
  * The manifest already knows every live file and (since round 16's
  * `#flen` ledger) its exact byte length — yet both read paths handed
  * Spark an explicit path list and let `InMemoryFileIndex` re-LIST all
  * of them on every resolution: above 32 paths that is a driver-side
  * parallel-listing Spark job per query (measured ~1.5 s for a
  * 670-file table at sf0.1), and at 100 TB — millions of files on an
  * object store — it is exactly the O(files) metadata storm that
  * manifest formats (Delta/Iceberg) exist to eliminate.
  *
  * [[ManifestFileIndex]] therefore serves `FileStatus`es straight from
  * manifest metadata: table resolution costs ONE manifest GET total,
  * zero filesystem list/stat calls. Partition-value parsing reuses
  * Spark's own [[PartitioningAwareFileIndex.inferPartitioning]]
  * (identical directory-name semantics — types, escaping, null
  * encoding — to the listing-based index it replaces), and partition
  * pruning comes from the same base class, so `.explain` and
  * PlanSpec's numFiles assertions see the stock machinery over the
  * fabricated statuses.
  *
  * A snapshot's schema is its pinned sidecar when a `CREATE TABLE` or
  * a migration pinned one; otherwise it is the first served file's
  * parquet footer, read on the driver ([[footerSchema]]) — what the
  * listing read's schema inference would sample, without its Spark job.
  *
  * Lives in the `org.apache.spark.sql` subpackage because
  * `HadoopFsRelation`, `LogicalRelation`, `ParquetScanBuilder` and the
  * file-index internals are `private[sql]` — the standard
  * extension-library bridge (no Spark internals modified or copied).
  */
object ManifestScan {

  /** A [[PartitioningAwareFileIndex]] whose leaf files are fabricated
    * from manifest `(relativePath, length)` entries — no filesystem
    * access, ever. `pinned` feeds partition-column TYPES (the same
    * userSpecifiedSchema override a listing-based read applies);
    * inference handles dir columns outside it (`ptx_*` transforms, and
    * every dir column of an unpinned snapshot).
    */
  final class ManifestFileIndex(
      spark: SparkSession,
      table: Path,
      files: Seq[(String, Long)],
      pinned: Option[StructType],
      mtimeMillis: Long)
    extends PartitioningAwareFileIndex(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Map("basePath" -> table.toString), pinned, NoopCache) {

    private val statuses: Seq[FileStatus] = files.map { case (rel, len) =>
      // blockSize steers FilePartition split math only. mtime is the
      // SERVED SNAPSHOT's commit instant (the manifest `#ts` header,
      // round 17 — ADVICE r16): nothing on the batch scan path reads
      // it, but the hidden `_metadata.file_modification_time` column
      // does, and epoch-0 there silently diverged from the legacy
      // listing read. Documented semantic: on manifest-served reads
      // every file reports its snapshot's commit time (0 only for
      // pre-r17 manifests with no header).
      new FileStatus(len, false, 1, 128L * 1024 * 1024, mtimeMillis,
        new Path(table, rel))
    }

    override val rootPaths: Seq[Path] = Seq(table)

    override val leafFiles
        : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
      statuses.foreach(s => m.put(s.getPath, s))
      m
    }

    override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      statuses.groupBy(_.getPath.getParent)
        .map { case (d, fs) => d -> fs.toArray }

    override def partitionSpec(): PartitionSpec = inferred
    private lazy val inferred: PartitionSpec = inferPartitioning()

    override def refresh(): Unit = ()
    override def metadataOpsTimeNs: Option[Long] = None
  }

  private def classic(spark: SparkSession)
      : org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def index(spark: SparkSession, tablePath: String,
      files: Seq[(String, Long)],
      pinned: Option[StructType], mtimeMillis: Long): ManifestFileIndex = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    new ManifestFileIndex(spark, fs.makeQualified(p), files, pinned,
      mtimeMillis)
  }

  /** The data schema of an unpinned snapshot: the first served file's
    * parquet footer, read on the driver with the session's parquet type
    * mapping — the file Spark's own inference samples (`mergeSchema`
    * off), minus the footer-reading Spark job. Nullable, like every
    * inferred file-source schema.
    */
  private def footerSchema(spark: SparkSession,
      idx: ManifestFileIndex): StructType = {
    val st = idx.leafFiles.head._2
    val meta = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
        classic(spark).sessionState.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(st.getPath, meta),
      new ParquetToSparkSchemaConverter(classic(spark).sessionState.conf))
      .asNullable
  }

  /** (data schema, partition schema) of a served snapshot: the pinned
    * schema (else the footer's) minus the dir-derived partition columns
    * (they live in directory names, not in the files), mirroring DSv2
    * `FileTable.dataSchema`'s user-schema branch.
    */
  private def split(spark: SparkSession, idx: ManifestFileIndex,
      pinned: Option[StructType]): (StructType, StructType) = {
    val partitionSchema = idx.partitionSchema
    val partNames = partitionSchema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val data = StructType(pinned.getOrElse(footerSchema(spark, idx))
      .fields.filterNot(f =>
        partNames(f.name.toLowerCase(java.util.Locale.ROOT))))
    (data, partitionSchema)
  }

  /** V1 read: `LogicalRelation(HadoopFsRelation(manifest-served index))`
    * — the listing-free twin of `spark.read.schema(pinned)
    * .parquet(paths…)`. Output columns: the data columns followed by
    * every partition directory column (pinned types win where names
    * overlap) — callers project/drop exactly as they do on a directory
    * read.
    */
  def dataFrame(spark: SparkSession, tablePath: String,
      files: Seq[(String, Long)], pinned: Option[StructType],
      mtimeMillis: Long): DataFrame = {
    val idx = index(spark, tablePath, files, pinned, mtimeMillis)
    val (dataSchema, partitionSchema) = split(spark, idx, pinned)
    val relation = HadoopFsRelation(idx, partitionSchema, dataSchema,
      None, new ParquetFileFormat, Map.empty[String, String])(
      classic(spark))
    Shims.ofRows(spark, LogicalRelation(relation))
  }

  /** DSv2 read: the full table schema and a stock
    * [[ParquetScanBuilder]] over the manifest-served index — what
    * `ParquetTable.newScanBuilder` yields, minus its
    * `InMemoryFileIndex` listing. Schema merge mirrors
    * `FileTable.schema` (data columns, then partition-only columns).
    */
  def parquetScanBuilder(spark: SparkSession, tablePath: String,
      files: Seq[(String, Long)], pinned: Option[StructType],
      options: CaseInsensitiveStringMap,
      mtimeMillis: Long): (StructType, ScanBuilder) = {
    val idx = index(spark, tablePath, files, pinned, mtimeMillis)
    val (dataSchema, partitionSchema) = split(spark, idx, pinned)
    val caseSensitive = classic(spark).sessionState.conf.caseSensitiveAnalysis
    val (fullSchema, _) = PartitioningUtils.mergeDataAndPartitionSchema(
      dataSchema, partitionSchema, caseSensitive)
    (fullSchema,
      ParquetScanBuilder(classic(spark), idx, fullSchema, dataSchema,
        options))
  }

  /** The full table schema (data columns then partition-only columns)
    * a manifest-served DSv2 read exposes — what `FileTable.schema`
    * computes, from the manifest instead of a listing.
    */
  def tableSchema(spark: SparkSession, tablePath: String,
      files: Seq[(String, Long)], pinned: Option[StructType]): StructType = {
    // schema derivation never reads mtimes
    val idx = index(spark, tablePath, files, pinned, 0L)
    val (dataSchema, partitionSchema) = split(spark, idx, pinned)
    val caseSensitive = classic(spark).sessionState.conf.caseSensitiveAnalysis
    PartitioningUtils.mergeDataAndPartitionSchema(
      dataSchema, partitionSchema, caseSensitive)._1
  }
}
