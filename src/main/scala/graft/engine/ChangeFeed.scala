package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level CDC: the NET changes between two committed snapshots of a
  * manifest-managed table, reconstructed from the manifest file diff —
  * no change log is ever written. Every writer in this engine produces
  * IMMUTABLE files and commits by swapping the manifest, so the rows
  * that differ between snapshot vFrom and snapshot vTo can only live in
  * files RETIRED from vFrom's list or ADDED to vTo's list; files common
  * to both versions contribute nothing and are NEVER READ. At 100 TB
  * with a one-partition daily merge, a day's change feed reads two
  * partitions' worth of files, not the table — O(delta) I/O, and the
  * classification join shuffles only delta rows on the key.
  *
  * This is the capability a warehouse exposes as a change feed (the
  * reference's consumers would poll Postgres for new rows); here any
  * two retained versions diff on demand, which also makes the feed
  * replayable: the same (vFrom, vTo] range always yields the same rows.
  *
  * Semantics are NET over the version range: a row inserted after vFrom
  * and deleted before vTo appears in neither snapshot's live files and
  * so emits nothing; a row rewritten with identical values (compaction,
  * clustering, or a merge that touched its partition but not its
  * values) is filtered by a null-safe whole-row comparison and emits
  * nothing. Per-change rows carry `_change_type`:
  * `insert` | `delete` | `update_preimage` | `update_postimage`
  * (updates emit both images; note an ascending (key, _change_type)
  * sort yields `update_postimage` BEFORE `update_preimage` —
  * lexicographic order, not apply order. A consumer applying images
  * must key on the tag, not the sort position; [[CdcSync]] does).
  *
  * Both sides read under vTo's pinned schema when one exists
  * ([[Manifest.addColumn]] sidecars), so a column added mid-range
  * backfills NULL on the old side and value drift surfaces as updates.
  *
  * `keyCols` must be a UNIQUE key of both snapshots (for this engine's
  * tables: the upsert key, typically including the partition column).
  * With duplicate key tuples the full-outer classification join pairs
  * rows across the duplicates and the feed is not a set difference —
  * CdcPropertySpec documents the failure mode (its first draft keyed a
  * (k, d)-keyed table on k alone and the model diverged immediately).
  */
object ChangeFeed {

  val ChangeCol = "_change_type"

  /** `vFrom = 0` (round 14) is the from-the-beginning baseline: an
    * empty prior snapshot, so every live row of `vTo` emits as an
    * `insert` — the first read of a new change-feed consumer.
    */
  def changes(spark: SparkSession, path: String, vFrom: Long, vTo: Long,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "change feed needs at least one key column")
    require(vFrom <= vTo, s"change feed range is backwards: $vFrom > $vTo")
    val from =
      if (vFrom == 0L) Set.empty[String]
      else Manifest.filesAsOf(spark, path, vFrom).toSet
    val to = Manifest.filesAsOf(spark, path, vTo).toSet
    // deletion vectors (round 17): a merge-on-read delete changes NO
    // file-set membership — only the `#dv` pointer. A common file
    // whose pointer differs between the endpoints contributes to BOTH
    // sides, each read under its own version's DV state, and the
    // classification join nets out the still-identical rows. Still
    // O(delta): only re-pointed files re-read, never the table.
    val dvFrom =
      if (vFrom == 0L) Map.empty[String, Manifest.DvPointer]
      else Manifest.dvsAsOf(spark, path, vFrom)
    val dvTo = Manifest.dvsAsOf(spark, path, vTo)
    val dvChanged = (from & to).filter(f => dvFrom.get(f) != dvTo.get(f))
    val removed = ((from -- to) ++ dvChanged).toSeq.sorted
    val added = ((to -- from) ++ dvChanged).toSeq.sorted
    val pinned = Manifest.schemaAsOf(spark, path, vTo)

    // removed files only exist in the OLDER version's ledger, added
    // files only in the newer — merge so both subset reads go listing-
    // free (lengths are per-immutable-file, so the merge can't disagree)
    lazy val lens: Map[String, Long] =
      (if (vFrom == 0L) Map.empty[String, Long]
       else Manifest.fileLengthsAsOf(spark, path, vFrom)) ++
        Manifest.fileLengthsAsOf(spark, path, vTo)

    def readSubset(files: Seq[String],
        dvs: Map[String, Manifest.DvPointer]): Option[DataFrame] =
      if (files.isEmpty) None
      // rename-aware (prior-name coalesce): removed files can predate a
      // renameColumn while the feed reads them under vTo's schema
      else Some(Manifest.readFiles(spark, path, pinned, files, lens,
        dvs = dvs))

    def emptyLike(d: DataFrame): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], d.schema)

    (readSubset(removed, dvFrom), readSubset(added, dvTo)) match {
      case (None, None) =>
        // no file changed in the range: an empty feed, typed off the
        // snapshot schema (limit 0 prunes the scan to nothing) — an
        // empty table included, which reads as zero rows of its schema
        Manifest.readAsOf(spark, path, vTo).limit(0)
          .withColumn(ChangeCol, lit(""))
      case (o, n) =>
        val oldRows = o.getOrElse(emptyLike(n.get))
        val newRows = n.getOrElse(emptyLike(o.get))
        classify(oldRows, newRows, keyCols)
    }
  }

  // ---- durable change-feed consumers (round 14) ---------------------

  private def offsetFile(path: String, consumerId: String)
      : org.apache.hadoop.fs.Path = {
    require(consumerId.matches("[A-Za-z0-9_.-]+"),
      s"consumer id must be a safe file-name token, got '$consumerId'")
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path, "_graft_manifest"),
      s"_consumer_$consumerId.offset")
  }

  /** The last table version consumer `consumerId` has fully processed,
    * if any. Durable (a file beside the manifests), so it survives
    * stream-checkpoint loss — the property the exactly-once story of
    * [[consumeNew]] rests on. Crash recovery: [[seekConsumer]] writes
    * tmp → delete → rename, so a crash between the delete and the
    * rename leaves ONLY the (complete, already-closed) tmp — read it as
    * the offset rather than falling back to 0 and re-delivering the
    * whole snapshot.
    */
  def consumerOffset(spark: SparkSession, path: String,
      consumerId: String): Option[Long] = {
    val f = offsetFile(path, consumerId)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readLong(p: org.apache.hadoop.fs.Path): Option[Long] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          .toLongOption
        finally in.close()
      }
    readLong(f).orElse(readLong(new org.apache.hadoop.fs.Path(
      f.getParent, f.getName + ".tmp")))
  }

  /** Position (or reposition) a consumer: its next [[consumeNew]] reads
    * `(v, current]`. `v = 0` replays from the beginning.
    */
  def seekConsumer(spark: SparkSession, path: String, consumerId: String,
      v: Long): Unit = {
    val f = offsetFile(path, consumerId)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(f.getParent)
    val tmp = new org.apache.hadoop.fs.Path(f.getParent,
      f.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(f, false)
    if (!fs.rename(tmp, f))
      throw new java.io.IOException(s"consumer offset write failed: $f")
  }

  /** Deliver every change committed since this consumer's offset to
    * `sink`, then advance the offset durably — the batch leg of
    * [[graft.streaming.GraftStreaming.changeFeedStream]] and a
    * standalone polling API. First call (no offset) delivers the whole
    * current snapshot as `insert`s. Returns the `(vFrom, vTo]` range
    * delivered, or None when the consumer is already caught up.
    *
    * Delivery contract: the offset advances only AFTER `sink` returns,
    * so losing the STREAM CHECKPOINT (or the poller's own scheduling
    * state) replays nothing — zero duplicate change rows. A crash
    * BETWEEN sink success and the offset write replays that one range:
    * at-least-once at the seam, so the sink must be idempotent per
    * range (or use [[CdcSync.syncReplica]], which couples the offset
    * and the rows in one JDBC transaction). Consumer lag vs vacuum: the
    * offset's version must stay retained — size `vacuum`'s keep /
    * retainMillis to the slowest consumer, or lease it
    * ([[Manifest.withSnapshotLease]]).
    */
  def consumeNew(spark: SparkSession, path: String, keyCols: Seq[String],
      consumerId: String)(sink: DataFrame => Unit): Option[(Long, Long)] = {
    val vTo = Manifest.currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(
        s"change feed needs a manifest-managed table: $path has none"))
    val vFrom = consumerOffset(spark, path, consumerId).getOrElse(0L)
    if (vTo <= vFrom) None
    else {
      sink(changes(spark, path, vFrom, vTo, keyCols))
      seekConsumer(spark, path, consumerId, vTo)
      Some((vFrom, vTo))
    }
  }

  /** One-pass classification: full outer join on the (null-safe) key,
    * then each joined row explodes into its change rows — zero for a
    * value-identical rewrite, one for insert/delete, two for an update
    * (preimage + postimage). A single select over the join output, so
    * the join is computed once and the whole pipeline stays in
    * whole-stage codegen.
    */
  private def classify(oldRows: DataFrame, newRows: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val cols = newRows.columns.toSeq
    require(keyCols.forall(cols.contains),
      s"key columns ${keyCols.filterNot(cols.contains)} missing from " +
        s"table columns $cols")
    val valCols = cols.filterNot(keyCols.contains)
    // presence indicators that survive the outer join: a non-null
    // constant on each side (keys may in principle be null; `<=>`
    // pairs them, the indicator says which sides exist)
    val ol = oldRows.withColumn("_op", lit(true)).alias("o")
    val nw = newRows.withColumn("_np", lit(true)).alias("n")
    val joinCond = keyCols.map(k => col(s"o.$k") <=> col(s"n.$k"))
      .reduce(_ && _)
    val j = ol.join(nw, joinCond, "full_outer")
    def image(side: String, tag: String) =
      struct(
        keyCols.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k)) ++
          valCols.map(c => col(s"$side.$c").as(c)) :+
          lit(tag).as(ChangeCol): _*)
    val sameVals =
      if (valCols.isEmpty) lit(true)
      else valCols.map(c => col(s"o.$c") <=> col(s"n.$c")).reduce(_ && _)
    // no `otherwise` branch: a value-identical rewrite falls through to
    // NULL, and explode(NULL) emits zero rows — the compaction filter
    val changeRows =
      when(col("o._op").isNull, array(image("n", "insert")))
        .when(col("n._np").isNull, array(image("o", "delete")))
        .when(!sameVals, array(image("o", "update_preimage"),
          image("n", "update_postimage")))
    j.select(explode(changeRows).as("_c")).select(col("_c.*"))
  }
}
