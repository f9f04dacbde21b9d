package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Small-file compaction — the warehouse-maintenance counterpart of the
  * daily upserts: every incremental append adds a few files per
  * partition, and at 100 TB the accumulated small files dominate task
  * scheduling and NameNode/listing costs. Rewrites a (optionally
  * date-partitioned) parquet table with files sized near the target,
  * committed as one atomic [[Manifest]] snapshot (round 11): readers
  * concurrent with the compaction see the old file set or the new one,
  * never a half-swapped table, and the replaced small files survive for
  * older snapshots until [[Manifest.vacuum]].
  */
object Compaction {

  /** When to auto-compact (round 13): a table trips the policy when its
    * live snapshot holds at least `minFiles` files AND at least
    * `smallFraction` of them are under `smallBytes`. Defaults are the
    * daily-append regime's numbers — after ~16 small daily commits the
    * pass fires once, replaces them with target-sized files, and the
    * counter effectively resets (compacted files are no longer small).
    * Deciding reads the manifest's `#flen` ledger: no listing, no stat,
    * no data I/O.
    *
    * Round 18 adds the DELETION-VECTOR dimension: a merge-on-read
    * delete trickle grows DV rows on large, healthy-sized files — the
    * small-file rules never trip, every scan pays a growing broadcast
    * anti-join, and the user's first signal would be the hard
    * `spark.graft.dml.dv.maxRows` cap refusing a delete
    * ([[DeletionVectors]]). Compaction is the designed absorb verb, so
    * the policy fires it when the table's total DV rows reach
    * `dvRowsFraction` of that cap (default 20% — absorb at 2M rows,
    * well before the 10M refusal). Read from the `#dv` manifest
    * headers: still zero data I/O, and independent of the small-file
    * rules (a 5-file table under heavy delete churn must absorb too,
    * so the DV trip ignores `minFiles`). `dvRowsFraction <= 0`
    * disables the dimension.
    */
  final case class AutoPolicy(
      minFiles: Int = 16,
      smallBytes: Long = 64L * 1024 * 1024,
      smallFraction: Double = 0.5,
      dvRowsFraction: Double = 0.2)

  /** Run [[compact]] iff `policy` trips on the live snapshot — the
    * maintenance hook `Pipeline.runDaily` calls after each day's
    * publishes, so small-file debt self-heals on the write path the
    * reference would handle with a separate Airflow maintenance DAG.
    * Returns Some((before, after)) when a compaction ran, None when the
    * policy didn't trip (including: no committed version yet).
    * Lease semantics are [[compact]]'s own (whole-table writer lease;
    * readers snapshot-isolated throughout).
    */
  def autoCompact(spark: SparkSession, path: String,
      partitionCol: Option[String] = None,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      policy: AutoPolicy = AutoPolicy()): Option[(Long, Long)] = {
    val cur = Manifest.currentVersion(spark, path)
    if (cur.isEmpty) return None
    // DV-debt trip (round 18): absorb merge-on-read deletion vectors
    // before their broadcast grows toward the hard cap — metadata-only
    // decision from the #dv headers, independent of file count/size
    if (policy.dvRowsFraction > 0) {
      val dvRows = Manifest.dvsAsOf(spark, path, cur.get)
        .values.map(_.rows).sum
      if (dvRows > 0 &&
          dvRows >= policy.dvRowsFraction * DeletionVectors.maxRows(spark))
        return Some(compact(spark, path, partitionCol, targetBytesPerFile,
          statsCols, clusterBy))
    }
    val live = Manifest.filesAsOf(spark, path, cur.get)
    if (live.size < policy.minFiles) return None
    // sizes from the immutable ledger of the version just resolved, so a
    // concurrent rewrite+vacuum cannot pull a file out from under the
    // decision; compact() itself re-reads the live set under the lease
    val small = Manifest.sized(path, live,
      Manifest.fileLengthsAsOf(spark, path, cur.get))
      .count(_._2 < policy.smallBytes)
    if (small.toDouble < policy.smallFraction * live.size) None
    else Some(compact(spark, path, partitionCol, targetBytesPerFile,
      statsCols, clusterBy))
  }

  /** Rewrite `path` with ~`targetBytesPerFile` files. Returns
    * (filesBefore, filesAfter).
    *
    * `clusterBy` (round 11): lay the compacted files out by range on
    * these columns (sorted within files) instead of hash round-robin —
    * hash-scattered output gives every file a full-domain min/max
    * envelope, which silently defeats [[FileStats]] skipping. Compact +
    * cluster + `statsCols` together are the maintenance pass that turns
    * an append-fragmented table into a plan-time-skippable one (for 2-D
    * clustering, feed one Morton column via [[ZOrder.zValue]] upstream
    * or cluster on the two keys in major/minor order). On a physically
    * partitioned table (explicit `partitionCol` or a layout derived
    * from the live paths, round 15 — identity and hidden `ptx_*`
    * transform dirs alike) clustering happens WITHIN the layout: range
    * on (layout ++ clusterBy) keeps each leaf's files range-contiguous,
    * and a bare compact never flattens the directory structure.
    */
  def compact(spark: SparkSession, path: String,
      partitionCol: Option[String] = None,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      statsCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil): (Long, Long) =
      WriterLease.withLease(spark, path) {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // size/count the LIVE snapshot, not the directory: under manifest
    // management the dir also holds prior-version files awaiting vacuum.
    // Rows, file list and sizes all come from ONE version
    val v = Manifest.requireVersion(spark, path)
    val before = Manifest.filesAsOf(spark, path, v)
    val totalBytes = Manifest.sized(path, before,
      Manifest.fileLengthsAsOf(spark, path, v)).map(_._2).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytesPerFile).toInt)

    val df0 = Manifest.readAsOf(spark, path, v)
    // layout-aware (round 15): a compaction must NEVER flatten the
    // table's physical layout — identity dirs and hidden ptx_*
    // transform dirs alike. The caller's partitionCol keeps its legacy
    // meaning; otherwise the layout is derived from the live paths and
    // re-materialized (PartitionTransforms recomputes derived columns
    // the logical read hides).
    val layoutCols: Seq[String] = partitionCol.map(Seq(_)).getOrElse(
      Manifest.layoutPartitionCols(before).getOrElse(Seq.empty))
    val df = PartitionTransforms.materialize(df0, layoutCols)
    val staging = new org.apache.hadoop.fs.Path(path + ".compact_staging")
    val writer =
      if (layoutCols.nonEmpty && clusterBy.nonEmpty)
        // leaf-respecting clustering: range on (layout ++ clusterBy)
        // gives each leaf dir range-contiguous files. The SORT also
        // leads with the layout columns — FileFormatWriter requires
        // them first in the in-task order (it would inject a second
        // full sort otherwise), and one combined sort guarantees the
        // intra-leaf clusterBy order the tight FileStats envelopes
        // depend on
        df.repartitionByRange(nFiles,
          (layoutCols ++ clusterBy).map(col): _*)
          .sortWithinPartitions((layoutCols ++ clusterBy).map(col): _*)
          .write.partitionBy(layoutCols: _*)
      else if (layoutCols.nonEmpty) {
        // Hashing on the layout columns ALONE would emit exactly one
        // file per leaf value (one task writing a whole date — a
        // straggler at the daily-append regime this exists for). Add a
        // content-hash salt sized so each leaf dir gets roughly
        // target-sized files.
        val nParts = math.max(1L,
          df.select(layoutCols.map(col): _*).distinct().count())
        val filesPerPart = math.max(1, math.ceil(nFiles.toDouble / nParts).toInt)
        val salt = pmod(hash(df0.columns.toIndexedSeq.map(col): _*),
          lit(filesPerPart))
        df.repartition(nFiles, layoutCols.map(col) :+ salt: _*)
          .write.partitionBy(layoutCols: _*)
      } else if (clusterBy.nonEmpty)
        df.repartitionByRange(nFiles, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*).write
      else df.repartition(nFiles).write
    writer.mode("overwrite").parquet(staging.toString)

    // Snapshot commit (round 11): the compacted files move into the
    // table under fresh names and become visible through ONE atomic
    // manifest commit replacing the whole live set — no table-dir swap,
    // no window where a reader finds the table absent or half-swapped.
    // The small files this pass replaced stay on disk for older
    // snapshots until [[Manifest.vacuum]].
    try {
      val moved = Manifest.stageIn(spark, path, staging.toString)
      // compaction is the natural moment to (re)build skipping stats:
      // the files just changed shape, and the footer read is O(files)
      val stats = FileStats.collect(spark, path, moved, statsCols)
      // optimistic: retire exactly the files this pass read — a
      // lease-less append landing mid-compaction survives the commit
      // (uncompacted until the next pass) instead of being dropped by a
      // whole-live-set replacement
      Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
        scope = before.toSet, expected = before.toSet,
        retire = before.toSet, add = moved, stats = stats))
      (before.size.toLong, moved.size.toLong)
    } finally {
      fs.delete(staging, true); ()
    }
  }
}
