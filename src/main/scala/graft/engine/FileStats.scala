package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-file column min/max statistics for manifest-managed tables — the
  * data-skipping half of the clustering story. [[ZOrder.clusteredWrite]]
  * gives every file a tight min/max envelope in both cluster dimensions;
  * without file-level stats that envelope only helps the parquet
  * reader's ROW-GROUP pruning, which still costs a task launch and a
  * footer read per file. At 100 TB (millions of files) the win is
  * pruning at PLAN time: a 2-D box predicate should schedule tasks for
  * the handful of files whose envelopes overlap the box, not open all
  * of them. This is the Delta/Iceberg `stats`/`lower_bounds` idea at
  * minimum viable size, attached to the [[Manifest]] version it
  * describes.
  *
  * Collection reads parquet FOOTERS only — the writer already paid for
  * the statistics; no data pages are touched — and is distributed
  * (`parallelize(files).mapPartitions`), so stats cost O(files) footer
  * reads spread over the cluster, not a table scan. The Hadoop conf
  * travels via its own `Writable` serialization (the Spark-internal
  * serializable wrapper is `private[spark]`).
  *
  * Storage: a `v{N}.stats` sidecar next to the version's `v{N}.list`,
  * one JSON-ish line per (file, column). The sidecar is ADVISORY:
  * written before the `.list` rename so it is complete whenever the
  * version is visible, but a version without one (pre-stats history,
  * legacy tables) simply reads unskipped. Readers keep every file that
  * has no stat for a pruned column — skipping is always a superset
  * guarantee, never a filter.
  *
  * Reference tie-in: the reference's Postgres gets the equivalent for
  * free from btree indexes on the mart keys (`sql/create_tables.sql`);
  * an index is exactly a plan-time row-skipping structure. This module
  * restates that capability for immutable parquet snapshots, where the
  * index degenerates to per-file envelopes.
  */
object FileStats {

  /** One column's envelope in one file. `typ` is the comparison domain:
    * "long" | "double" | "string". Numeric envelopes compare as Double
    * in [[overlaps]] (a 52-bit-exact superset test — widening can only
    * KEEP a file, never drop one wrongly, for |v| < 2^52; table keys
    * larger than that should be strings).
    */
  final case class Stat(typ: String, min: String, max: String)

  /** file -> column -> envelope. Files with unreadable/absent footers
    * simply have no entry (conservative). */
  type TableStats = Map[String, Map[String, Stat]]

  /** Distributed footer read of `relFiles` (table-relative, under
    * `tablePath`): min/max per requested column, merged across row
    * groups. A column whose statistics are missing or empty in ANY row
    * group of a file gets no entry for that file.
    */
  def collect(spark: SparkSession, tablePath: String,
      relFiles: Seq[String], cols: Seq[String]): TableStats = {
    if (relFiles.isEmpty || cols.isEmpty) return Map.empty
    val confBytes = {
      val baos = new java.io.ByteArrayOutputStream()
      spark.sparkContext.hadoopConfiguration
        .write(new java.io.DataOutputStream(baos))
      baos.toByteArray
    }
    val colSet = cols.toSet
    val slices = math.min(relFiles.size,
      spark.sparkContext.defaultParallelism)
    spark.sparkContext.parallelize(relFiles, slices).mapPartitions { it =>
      val conf = new Configuration(false)
      conf.readFields(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(confBytes)))
      it.map(rel => rel -> footerStats(conf, s"$tablePath/$rel", colSet))
    }.collect().toMap.filter(_._2.nonEmpty)
  }

  /** `max(c)` over the rows live at version `v` of the manifest table at
    * `tablePath`, for an integer column `c`, read from the live files'
    * parquet footers on the driver: one footer read per file, no Spark
    * job. None whenever the footers cannot prove that maximum:
    *  - a live file carries no min/max statistic for `c` (a file with no
    *    row group, or one written without statistics), or the version
    *    lists no file;
    *  - the version binds a deletion vector: a deleted row's value
    *    still sits in its file's footer, so the footer maximum can
    *    exceed the live one.
    * Callers fall back to a scan of the version then.
    */
  def liveMax(spark: SparkSession, tablePath: String, v: Long,
      c: String): Option[Long] = {
    val files = Manifest.filesAsOf(spark, tablePath, v)
    if (files.isEmpty || Manifest.dvsAsOf(spark, tablePath, v).nonEmpty)
      return None
    val conf = spark.sparkContext.hadoopConfiguration
    val maxima = files.map(f =>
      footerStats(conf, s"$tablePath/$f", Set(c)).get(c)
        .collect { case Stat("long", _, mx) => mx.toLong })
    if (maxima.exists(_.isEmpty)) None else Some(maxima.flatten.max)
  }

  /** Footer-only stats of one parquet file. Package-visible for specs. */
  private[engine] def footerStats(conf: Configuration, file: String,
      cols: Set[String]): Map[String, Stat] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val perGroup = reader.getFooter.getBlocks.asScala.map { block =>
        block.getColumns.asScala.flatMap { cc =>
          val name = cc.getPath.toDotString
          val st = cc.getStatistics
          if (!cols.contains(name) || st == null || st.isEmpty ||
            !st.hasNonNullValue) None
          else cc.getPrimitiveType.getPrimitiveTypeName match {
            case INT32 | INT64 =>
              Some(name -> Stat("long",
                st.genericGetMin.toString, st.genericGetMax.toString))
            case FLOAT | DOUBLE =>
              Some(name -> Stat("double",
                st.genericGetMin.toString, st.genericGetMax.toString))
            case BINARY =>
              Some(name -> Stat("string",
                st.minAsString, st.maxAsString))
            case _ => None
          }
        }.toMap
      }.toSeq
      if (perGroup.isEmpty) Map.empty
      else cols.flatMap { c =>
        // every row group must carry the column's stats, or the file's
        // envelope is unknown (superset discipline)
        val gs = perGroup.map(_.get(c))
        if (gs.exists(_.isEmpty)) None
        else {
          val ss = gs.flatten
          val typ = ss.head.typ
          def lo(a: String, b: String) = typ match {
            case "string" => if (a <= b) a else b
            case _ => if (BigDecimal(a) <= BigDecimal(b)) a else b
          }
          def hi(a: String, b: String) = typ match {
            case "string" => if (a >= b) a else b
            case _ => if (BigDecimal(a) >= BigDecimal(b)) a else b
          }
          Some(c -> Stat(typ, ss.map(_.min).reduce(lo),
            ss.map(_.max).reduce(hi)))
        }
      }.toMap
    } finally reader.close()
  }

  private def statsFile(tablePath: String, v: Long): Path =
    new Path(new Path(tablePath, "_graft_manifest"), f"v$v%020d.stats")

  /** Persist the sidecar for version `v`. Tab-separated, one line per
    * (file, column) — same grep-able plain-text discipline as the
    * `.list`. Caller (Manifest.commit) writes this BEFORE the `.list`
    * rename, so a visible version's sidecar is always complete.
    */
  def write(spark: SparkSession, tablePath: String, v: Long,
      stats: TableStats): Unit = {
    if (stats.isEmpty) return
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = stats.toSeq.sortBy(_._1).flatMap { case (f, m) =>
      m.toSeq.sortBy(_._1).map { case (c, s) =>
        s"$f\t$c\t${s.typ}\t${s.min}\t${s.max}"
      }
    }
    val out = fs.create(statsFile(tablePath, v), true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The sidecar of version `v`, or empty (→ no skipping) if absent. */
  def read(spark: SparkSession, tablePath: String, v: Long): TableStats = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = statsFile(tablePath, v)
    if (!fs.exists(f)) return Map.empty
    val in = fs.open(f)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    lines.map(_.split("\t", 5)).collect {
      case Array(file, c, typ, mn, mx) => (file, c, Stat(typ, mn, mx))
    }.groupBy(_._1).map { case (file, es) =>
      file -> es.map(e => e._2 -> e._3).toMap
    }
  }

  /** Delete the sidecar of a retired version (vacuum path). */
  def delete(spark: SparkSession, tablePath: String, v: Long): Unit = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(statsFile(tablePath, v), false); ()
  }

  /** Does the file's envelope intersect [lo, hi]? Missing stat → true
    * (superset guarantee). Numeric envelopes compare as Double. */
  def overlaps(stat: Option[Stat], lo: Double, hi: Double): Boolean =
    stat match {
      case Some(Stat(typ, mn, mx)) if typ != "string" =>
        mx.toDouble >= lo && mn.toDouble <= hi
      case _ => true
    }

  /** Plan-time pruning: the subset of `files` whose envelopes intersect
    * EVERY range in `ranges` (col, lo, hi). Pure driver arithmetic over
    * the already-loaded sidecar — no I/O.
    */
  def prune(stats: TableStats, files: Seq[String],
      ranges: Seq[(String, Double, Double)]): Seq[String] =
    files.filter { f =>
      val m = stats.getOrElse(f, Map.empty)
      ranges.forall { case (c, lo, hi) => overlaps(m.get(c), lo, hi) }
    }
}
