package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `ON CONFLICT DO NOTHING` as a library — the reference's entire
  * idempotency story (`transformed_from_s3_to_pg.py:146-151`,
  * `from_ods_to_dds_pg.py:50,63,80,101`; unique keys `ddl_ods.sql:23`,
  * `ddl_dds.sql:4,10,18,31`) restated as a keyed append that keeps only
  * rows whose natural key is not live yet (SURVEY §2.3 J5, §7.4.2).
  *
  * Guarantees: re-running any layer is a no-op (the replay contract the
  * reference gets from Postgres unique indexes), and — since round 11 —
  * SNAPSHOT-ISOLATED readers: every mutation becomes visible through one
  * atomic [[Manifest]] commit, so a query concurrent with an append or a
  * multi-partition merge sees the table entirely before or entirely
  * after, never mixed (the MVCC guarantee the reference inherits from
  * Postgres). Non-goals: concurrent writers — the reference serializes
  * writers through Airflow sensors, and we keep the same single-writer
  * discipline via [[WriterLease]].
  *
  * Scale notes: a date-partitioned upsert ([[upsertPartitioned]]) writes
  * the batch once and compares partition directory NAMES against the
  * manifest, so a batch of new dates costs its write and one commit —
  * no read of the existing table, the way a unique-index probe costs
  * nothing per new key. Only partitions the batch shares with live data
  * are read, and only their key columns (column pruning reaches the
  * parquet scan); the anti-join shuffles on the key — no driver-side key
  * collection, no broadcast of the (potentially huge) target. Staged row
  * counts come from parquet footers on the driver, not a counting job.
  *
  * An empty table — a `CREATE TABLE` before its first insert, or a
  * table a delete or overwrite emptied — is an ordinary snapshot: its
  * manifest version lists no files and [[Manifest.readAsOf]] reads it
  * as zero rows of its schema. Every verb here runs its one body over
  * it; the only special case is a path with no version at all, whose
  * first write defines the table. A zero-file version that pins no
  * schema has no shape, so every verb here fails on it loudly, through
  * [[Manifest.readAsOf]], with the one-line repair in the message.
  */
object Upsert {

  /** One membership test lifted out of a DML predicate as a DISTRIBUTED
    * join (round 17 — the key-set ceiling fix): `keys` is the subquery's
    * DISTINCT key set carrying a single always-true `marker` column, and
    * the rewrite left-joins it onto the target frame on `on` (plain
    * equality, so NULL outer keys never match — the `<=> TRUE` tri-state
    * pin the literal path used). The predicate then reads the marker
    * instead of materializing keys on the driver: `marker <=> true` is
    * EXISTS, and the IN shapes layer their three-valued CASE on top.
    * AQE broadcasts a small key side at runtime; a genuinely huge one
    * runs as a shuffled join — either way the key set never lands on
    * the driver.
    */
  final case class MembershipJoin(keys: DataFrame,
      on: org.apache.spark.sql.Column, marker: String)

  /** A DML predicate plus the membership joins it needs: `joins` empty
    * means a plain column predicate (today's pushdown-friendly path).
    * [[attach]] wires the joins onto whatever frame the predicate is
    * about to be evaluated against — the verb applies it to BOTH the
    * touched-file discovery scan and the rewrite read, so the key
    * subqueries execute once per application (they must be
    * deterministic, which [[graft.plans]] enforces before building one).
    */
  final case class PreparedPredicate(joins: Seq[MembershipJoin],
      predicate: org.apache.spark.sql.Column) {
    def attach(frame: DataFrame): DataFrame =
      joins.foldLeft(frame)((f, j) => f.join(j.keys, j.on, "left"))
  }

  object PreparedPredicate {
    def plain(predicate: org.apache.spark.sql.Column): PreparedPredicate =
      PreparedPredicate(Nil, predicate)
  }

  /** The staging lifecycle of every table write here: write `df` under
    * a fresh sibling staging directory (partitioned by `partCols`),
    * move its files into the table under job-unique names
    * ([[Manifest.stageIn]]), run `commitFn` on the moved table-relative
    * paths, and ALWAYS delete the staging directory — success or
    * failure, the table dir holds at worst unreferenced orphans for
    * vacuum. Callers own the commit semantics (plain, optimistic,
    * expected-empty); this and [[withStagingDir]] own the mechanics.
    */
  private def withStaged[A](spark: SparkSession, path: String,
      df: DataFrame, partCols: Seq[String], tag: String)(
      commitFn: Seq[String] => A): A =
    withStagingDir(spark, path, df, partCols, tag)(stagingPath =>
      commitFn(Manifest.stageIn(spark, path, stagingPath)))

  /** Write `df` under a fresh, call-unique sibling staging directory
    * (partitioned by `partCols`; two concurrent writers never clobber
    * each other's files), run `body` on its path, and ALWAYS delete it.
    * The staging directory sits outside the table, so nothing in it is
    * visible to readers or to vacuum's dead-file sweep. The write also
    * makes `df` independent of the table: a plan that reads the table
    * it is about to change finishes before anything moves in (a cache
    * is no such barrier — a lost cached partition would recompute
    * against the half-changed table).
    */
  private def withStagingDir[A](spark: SparkSession, path: String,
      df: DataFrame, partCols: Seq[String], tag: String)(
      body: String => A): A = {
    val stagingPath = s"$path.__${tag}_staging_" +
      java.util.UUID.randomUUID().toString.take(8)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val w0 = PartitionTransforms.materialize(df, partCols)
        .write.mode("overwrite")
      (if (partCols.nonEmpty) w0.partitionBy(partCols: _*) else w0)
        .parquet(stagingPath)
      body(stagingPath)
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(stagingPath), true); ()
    }
  }

  /** Rows in the parquet files `relFiles` under `root`, summed from their
    * footers on the driver: one footer read per file, no Spark job.
    */
  private def footerRows(spark: SparkSession, root: String,
      relFiles: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    relFiles.iterator.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/$f"), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Rows of `incoming` whose natural key is absent from `existing` —
    * first-wins within `incoming` itself is the caller's concern (see
    * `OdsBuilder.toOds`). NULL-SAFE on every key column: a plain
    * `Seq`-key anti-join never matches NULL = NULL, so a row with a NULL
    * key component (e.g. a rank that failed its cast) would be
    * re-appended on every replay, breaking the idempotency contract.
    */
  def newRows(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame = {
    val ex = existing.select(keys.map(k => col(k).as(s"__ex_$k")): _*)
    val cond = keys.map(k => incoming(k) <=> ex(s"__ex_$k")).reduce(_ && _)
    incoming.join(ex, cond, "left_anti")
  }

  /** Idempotent append of `incoming` into the parquet table at `path`,
    * keyed by `keys`. Returns the number of rows actually appended.
    * Flat (unpartitioned) layout.
    */
  def upsertParquet(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String]): Long = WriterLease.withLease(spark, path) {
    val toAppend =
      if (tableExists(spark, path))
        newRows(incoming, checkedVersion(spark, path, incoming)._2, keys)
      else incoming
    stagedAppend(spark, path, toAppend, Nil)
  }

  /** Schema drift is REJECTED, not absorbed: parquet appends with a
    * different column set OR different column types leave a table whose
    * read-back schema depends on which file's footer the reader samples
    * (mergeSchema is off by default) — silent nondeterminism. The
    * warehouse contract (§1.3) is a fixed schema per table; widen it
    * with an explicit migration, not an append. Column ORDER may differ
    * (parquet resolves by name) and nullability may differ (a
    * file-level property, not a footer conflict).
    */
  private def requireSameColumns(incoming: DataFrame, existing: DataFrame,
      path: String): Unit = {
    val in = incoming.schema.map(f => f.name -> f.dataType).toMap
    val ex = existing.schema.map(f => f.name -> f.dataType).toMap
    val onlyIn = (in.keySet -- ex.keySet).toSeq.sorted
    val onlyEx = (ex.keySet -- in.keySet).toSeq.sorted
    require(onlyIn.isEmpty && onlyEx.isEmpty,
      s"schema drift on upsert into $path: incoming has ${onlyIn.mkString("[", ",", "]")} " +
        s"not in the table, table has ${onlyEx.mkString("[", ",", "]")} not incoming")
    val retyped = in.keySet.filter(k => in(k) != ex(k)).toSeq.sorted
      .map(k => s"$k: ${in(k).simpleString} vs table ${ex(k).simpleString}")
    require(retyped.isEmpty,
      s"schema drift on upsert into $path: column types differ — ${retyped.mkString("; ")}")
  }

  /** The current version and its rows, validated against `incoming`'s
    * shape. The version lets a caller resolve that snapshot's file list
    * without racing a concurrent lease-less append's commit. An empty
    * table is zero rows of its schema here like everywhere else.
    */
  private def checkedVersion(spark: SparkSession, path: String,
      incoming: DataFrame): (Long, DataFrame) = {
    val v = Manifest.requireVersion(spark, path)
    val table = Manifest.readAsOf(spark, path, v)
    requireSameColumns(incoming, table, path)
    v -> table
  }

  /** Date-partitioned variant (S7): `partitionBy(dateCol)` makes every
    * run-date predicate downstream a partition-pruned scan (SURVEY §4
    * date-scoping row). Stage-then-dedupe-on-overlap:
    *
    *  1. `incoming` is staged ONCE, partitioned by `dateCol`, outside
    *     the table;
    *  2. the staged `dateCol=` directory names are listed on the driver
    *     and intersected with the live partitions of the version the
    *     drift check read;
    *  3. disjoint (the daily case, a new date) → the staged files are
    *     committed as they are: one write job, one commit, no read of
    *     the existing table;
    *  4. overlapping (replay, late data) → the staged batch is read back
    *     and [[newRows]] runs against the live rows of the overlapping
    *     partitions only; that delta is staged and committed.
    *
    * The NULL date is the `__HIVE_DEFAULT_PARTITION__` directory on both
    * sides, so it overlaps like any other date and a NULL-date replay
    * appends nothing ([[newRows]] is null-safe). Live files outside any
    * `dateCol=` directory (a table laid out another way) always count as
    * overlapping. Returns the number of rows appended.
    */
  def upsertPartitioned(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String], dateCol: String): Long = {
    // Restricting the existing side to the batch's partitions is only
    // sound when the date participates in the natural key (true for ODS
    // and fact: `ddl_ods.sql:23`, `ddl_dds.sql:31`).
    require(keys.contains(dateCol),
      s"partitioned upsert requires the date column '$dateCol' in the key $keys")
    WriterLease.withLease(spark, path) {
      val basis =
        if (tableExists(spark, path))
          Some(checkedVersion(spark, path, incoming)._1)
        else None
      withStagingDir(spark, path, incoming, Seq(dateCol), "upsert") {
        staging =>
        val stagingDir = new org.apache.hadoop.fs.Path(staging)
        val stagedParts = stagingDir
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(stagingDir).filter(_.isDirectory)
          .map(_.getPath.getName).toSet
        val overlapping =
          if (stagedParts.isEmpty) Seq.empty // an empty batch
          else basis.toSeq.flatMap { v =>
            // the write names the dirs after the column as the batch
            // spells it, which the drift check pinned to the table's
            val dirPrefix = stagedParts.head.takeWhile(_ != '=') + "="
            Manifest.filesAsOf(spark, path, v).filter { f =>
              val top = f.takeWhile(_ != '/')
              stagedParts(top) || !top.startsWith(dirPrefix)
            }
          }
        if (overlapping.isEmpty) commitStaged(spark, path, staging, None)._1
        else {
          val batch = spark.read.schema(incoming.schema).parquet(staging)
          val existing =
            Manifest.readSubsetAsOf(spark, path, basis.get, overlapping)
          stagedAppend(spark, path, newRows(batch, existing, keys),
            Seq(dateCol))
        }
      }
    }
  }

  /** SCD Type-1 merge for UNPARTITIONED tables — [[mergePartitioned]]'s
    * semantics (incoming replaces same-key rows, unmatched rows
    * survive) when there is no partition column to scope the rewrite
    * by, so the WHOLE table rewrites: O(table), the honest cost of
    * keyed replacement without physical key locality — use the
    * partitioned verb for anything that accumulates. Snapshot-committed
    * and conflict-checked like every rewrite (the optimistic scope is
    * the entire live set; a concurrent blind append conflicts and the
    * merge recomputes, bounded). Duplicate incoming keys are rejected
    * up front, same as the partitioned verb.
    */
  def mergeParquet(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String]): Long =
    merge(spark, path, incoming, keys, None)

  /** SCD Type-1 merge: `ON CONFLICT DO UPDATE` semantics — incoming
    * rows REPLACE existing rows with the same natural key; unmatched
    * existing rows survive. The reference only ever needs DO NOTHING
    * (its feed is append-only per key), but a warehouse restatement
    * needs both conflict policies; the Type-2 (versioning) shape is the
    * `q_scd2` query.
    *
    * Implementation: only the date partitions present in `incoming` are
    * rewritten (existing-minus-matching ∪ incoming), so merge cost is
    * O(touched partitions), not O(table). Since round 11 the commit is
    * SNAPSHOT-ISOLATED ([[Manifest]]): replacement files are written
    * under fresh names into the touched partition directories — the
    * previous files are never renamed, moved, or deleted — and the
    * merge becomes visible through ONE atomic manifest commit, so a
    * concurrent reader sees the table entirely pre-merge or entirely
    * post-merge, never partition A new / partition B old (the round-10
    * verdict's top gap vs the reference's Postgres MVCC). Replaced
    * files stay on disk for older snapshots until [[Manifest.vacuum]].
    * A crash anywhere before the commit leaves only unreferenced
    * files — readers unaffected, replay safe, vacuum collects the
    * orphans. Duplicate natural keys WITHIN `incoming` are rejected up
    * front (Postgres DO UPDATE raises "cannot affect row a second
    * time"; silently writing both copies would break the table's
    * unique-key contract). Idempotent: replaying the same batch
    * recommits the same partition content. Single-writer, like
    * everything in this module. Returns the number of incoming rows
    * merged (counted before any target mutation — the incoming plan may
    * read the target table itself).
    */
  def mergePartitioned(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String], dateCol: String): Long = {
    require(keys.contains(dateCol),
      s"partitioned merge requires the date column '$dateCol' in the key $keys")
    merge(spark, path, incoming, keys, Some(dateCol))
  }

  /** The body of both merge verbs: `dateCol` None rewrites the whole
    * table under a whole-table conflict scope; Some rewrites, and
    * conflict-scopes, only the partitions `incoming` touches.
    */
  private def merge(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String], dateCol: Option[String]): Long = {
    // pre-mutation guards: both run against an untouched target
    val nIncoming = incoming.count()
    val dupKeys = incoming.groupBy(keys.map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"merge into $path: incoming affects the key ${dupKeys.head.toSeq.init.mkString("(", ",", ")")} more than once")
    WriterLease.withLease(spark, path) {
      if (!tableExists(spark, path))
        stagedAppend(spark, path, incoming, dateCol.toSeq)
      else retryingConflicts(s"merge into $path") {
        mergeOnce(spark, path, incoming, keys, dateCol)
      }
      nIncoming
    }
  }

  /** One merge attempt against ONE pinned snapshot version: compute the
    * surviving rows of the touched partitions (the whole table when
    * `dateCol` is None), stage, and commit optimistically — the commit
    * validates that the touched partitions still hold exactly the files
    * this attempt read (a lease-less append racing into one of them
    * conflicts and triggers a recompute in [[retryingConflicts]]) and
    * preserves any files a concurrent append landed OUTSIDE them.
    * Unpartitioned, every live file is in scope: even a blind append
    * into ANY file set conflicts, since its rows could share keys with
    * `incoming` and silently keeping both would break the table's
    * unique-key contract. Into an empty table the same scope expects no
    * files, so an append that lands first conflicts and the retry
    * merges against it.
    */
  private def mergeOnce(spark: SparkSession, path: String,
      incoming: DataFrame, keys: Seq[String],
      dateCol: Option[String]): Unit = {
    // pin table rows and file list to the SAME snapshot — resolving
    // them independently could straddle a concurrent append's commit
    val (version, table) = checkedVersion(spark, path, incoming)
    val preLive = Manifest.filesAsOf(spark, path, version)
    // null-safe date match: a NULL-date incoming row must pull the
    // existing NULL partition into `kept`, or its surviving rows
    // would be dropped by the __HIVE_DEFAULT_PARTITION__ replacement
    val touched = dateCol.fold(table) { d =>
      val dates = incoming.select(col(d).as("__m_date")).distinct()
      table.join(dates, col(d) <=> col("__m_date"), "left_semi")
    }
    val kept = newRows(touched, incoming, keys) // existing rows NOT replaced
    val merged = kept.unionByName(
      incoming.select(table.columns.toIndexedSeq.map(col): _*))
    withStaged(spark, path, merged, dateCol.toSeq, "merge") { movedIn =>
      val scope: String => Boolean =
        if (dateCol.isEmpty) _ => true else inDirs(leafDirs(movedIn))
      Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
        scope = scope, expected = preLive.filter(scope).toSet,
        retire = preLive.filter(scope).toSet, add = movedIn))
      ()
    }
  }

  /** The partition leaf directories (`c1=v/c2=w`) of table-relative
    * files. */
  private def leafDirs(files: Seq[String]): Seq[String] =
    files.map(f => f.split('/').init.mkString("/")).distinct

  /** A commit scope holding every file under one of `dirs`. */
  private def inDirs(dirs: Seq[String]): String => Boolean = {
    val prefixes = dirs.map(_ + "/")
    f => prefixes.exists(f.startsWith)
  }

  /** Bounded optimistic-conflict retry: recompute-from-scratch is the
    * body's job (it re-pins the now-current snapshot); three strikes
    * rethrows — at that contention level the caller should serialize
    * writers explicitly.
    */
  private def retryingConflicts[A](what: String)(body: => A): A = {
    var attempt = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt > 2) throw e
      }
    }
    out.get
  }

  /** Dynamic-partition OVERWRITE (round 11): every `dateCol` partition
    * present in `incoming` is replaced WHOLESALE; partitions absent from
    * `incoming` are untouched. This is the correct primitive for
    * recomputed mart slices ([[Incremental.refresh]]) — unlike
    * [[mergePartitioned]], groups that vanished from the recomputed
    * slice vanish from the table. Snapshot-isolated like every mutation
    * here: replacement files land under fresh names and become visible
    * through ONE atomic manifest commit; replaced files survive for
    * older snapshots until [[Manifest.vacuum]].
    *
    * `expectedValues` (optional): the exact partition VALUES the caller
    * intends to replace. Staged output outside that set fails the write
    * pre-commit (a per-partition-decomposable compute must not leak
    * rows into foreign partitions), and expected partitions with NO
    * staged output are DROPPED from the snapshot — an empty recomputed
    * slice means the slice no longer exists, which `incoming`'s rows
    * alone cannot express.
    *
    * Returns the number of rows written.
    */
  def overwritePartitions(spark: SparkSession, path: String,
      incoming: DataFrame, dateCol: String,
      expectedValues: Option[Seq[String]] = None): Long =
    overwritePartitionsLayout(spark, path, incoming, Seq(dateCol),
      expectedValues)

  /** [[overwritePartitions]] over an ordered MULTI-COLUMN identity
    * layout (round 16): every `(c1, c2, …)` LEAF partition present in
    * `incoming` is replaced wholesale; leaves absent from `incoming`
    * — including sibling leaves under the same first-level value —
    * are untouched. `expectedValues` (the static-overwrite leak
    * check) stays single-level; multi-level callers are the dynamic
    * path, whose replaced set IS the staged output.
    */
  def overwritePartitionsLayout(spark: SparkSession, path: String,
      incoming: DataFrame, partCols: Seq[String],
      expectedValues: Option[Seq[String]] = None): Long = {
    require(partCols.nonEmpty, "overwritePartitions needs a layout")
    require(expectedValues.isEmpty || partCols.size == 1,
      "expectedValues applies to single-level layouts; a multi-level " +
        "overwrite derives its replaced set from the staged output")
    WriterLease.withLease(spark, path) {
      if (!tableExists(spark, path)) {
        stagedAppend(spark, path, incoming, partCols)
      } else {
        checkedVersion(spark, path, incoming) // schema drift check
        retryingConflicts(s"overwritePartitions into $path") {
          overwriteOnce(spark, path, incoming, partCols, expectedValues)
        }
      }
    }
  }

  /** One overwrite attempt against one pinned snapshot — optimistic
    * commit over the replaced-partition scope, like [[mergeOnce]]. Rows
    * written are counted from the moved files' footers. */
  private def overwriteOnce(spark: SparkSession, path: String,
      incoming: DataFrame, partCols: Seq[String],
      expectedValues: Option[Seq[String]]): Long = {
    val preLive = Manifest.currentLive(spark, path)
    withStaged(spark, path, incoming, partCols, "overwrite") { movedIn =>
      val stagedParts = leafDirs(movedIn)
      val replaced = expectedValues match {
        case Some(vals) =>
          // Hive-escape the declared values: the staged directory
          // names on disk are escaped (':' → '%3A' etc.), so a raw
          // string comparison would flag a legitimate value with
          // special characters as a leak (review fix, round 15).
          // expectedValues is single-level by the layout require.
          val expected = vals.map(v => s"${partCols.head}=" +
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(v)).toSet
          val leaked = stagedParts.filterNot(expected)
          require(leaked.isEmpty,
            s"overwritePartitions into $path: staged output for " +
              s"unexpected partitions ${leaked.mkString("[", ",", "]")}" +
              " — the compute leaked rows outside the declared set " +
              "(manifest not committed; table snapshot unaffected)")
          expected.toSeq
        case None => stagedParts
      }
      val scope = inDirs(replaced)
      val n = footerRows(spark, path, movedIn)
      Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
        scope = scope, expected = preLive.filter(scope).toSet,
        retire = preLive.filter(scope).toSet, add = movedIn))
      n
    }
  }

  /** Row-level DELETE — the last DML verb (append/upsert/merge/
    * overwrite exist; the reference gets `DELETE` from Postgres): keep
    * every file WITHOUT a matching row untouched, rewrite ONLY the
    * files that contain matches (minus their matching rows), and swap
    * the file set in one snapshot-isolated manifest commit. Finding
    * the touched files is a predicate-pushed scan collecting DISTINCT
    * `input_file_name()` — partition pruning and parquet stats make it
    * skip-heavy, and the driver holds file NAMES (O(matched files)),
    * never rows. At 100 TB a GDPR-style delete of one user rewrites
    * the handful of files whose row groups can contain that user —
    * cost is O(files touched), not O(table) — and prior snapshots
    * retain the rows until [[Manifest.vacuum]], which is also the
    * compliance erasure point. A fully-emptied file simply drops from
    * the new manifest (parquet writes no file for an empty partition).
    * The deletion is visible to [[ChangeFeed]] as `delete` rows, like
    * every other mutation. Returns the number of rows deleted.
    *
    * The predicate (here and in [[updateWhere]]) must be DETERMINISTIC:
    * it is evaluated twice — once to name the touched files, once in
    * the rewrite — and a flaky predicate would mutate a different row
    * set than it counted.
    */
  def deleteWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): Long =
    rewriteMatching(spark, path, PreparedPredicate.plain(predicate), None)

  /** DELETE whose predicate carries distributed membership joins
    * (round 17): same touched-files-only rewrite, but the subquery key
    * sets run as joins instead of driver literals — the scale path for
    * `DELETE … WHERE [NOT] EXISTS/IN (big subquery)`.
    */
  def deleteWhere(spark: SparkSession, path: String,
      prepared: PreparedPredicate): Long =
    rewriteMatching(spark, path, prepared, None)

  /** Row-level UPDATE — `deleteWhere`'s sibling, completing the DML
    * verb set: rewrite ONLY the files containing predicate matches,
    * with each matching row's `set` columns replaced (non-matching
    * rows in touched files are carried byte-equal; untouched files
    * keep their names). Updating a PARTITION column is allowed and
    * does the right thing — the rewrite re-partitions, so the row
    * moves to its new partition directory in the same snapshot commit.
    * Returns the number of rows updated.
    */
  def updateWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "updateWhere: empty SET clause")
    rewriteMatching(spark, path, PreparedPredicate.plain(predicate),
      Some(set))
  }

  /** UPDATE whose WHERE carries distributed membership joins (round 17
    * — `deleteWhere`'s sibling; SET values stay plain columns). */
  def updateWhere(spark: SparkSession, path: String,
      prepared: PreparedPredicate,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "updateWhere: empty SET clause")
    rewriteMatching(spark, path, prepared, Some(set))
  }

  // ---- merge-on-read DML (round 17): deletion vectors ----------------

  /** The table's row-level DML write strategy: `"copy-on-write"`
    * (default — rewrite touched files, [[rewriteMatching]]) or
    * `"merge-on-read"` (record deleted positions in a sidecar,
    * [[graft.engine.DeletionVectors]]). The static table property
    * `graft.dml.mode` wins over the session conf
    * `spark.graft.dml.mode`. COW optimizes reads (no anti-join ever),
    * MoR optimizes small mutations against big files — O(matched)
    * sidecar rows instead of O(touched-file-bytes) rewrite, with
    * compaction as the deferred absorb.
    */
  def dmlMode(spark: SparkSession, path: String): String = {
    val m = Manifest.tableProperties(spark, path).get("graft.dml.mode")
      .orElse(spark.conf.getOption("spark.graft.dml.mode"))
      .getOrElse("copy-on-write")
    require(m == "copy-on-write" || m == "merge-on-read",
      s"graft.dml.mode of $path must be copy-on-write or merge-on-read," +
        s" got '$m'")
    m
  }

  /** Row-level DELETE as a deletion-vector commit: the matched rows'
    * (file, position) pairs land in one DV object and the snapshot
    * re-points — NO data file is rewritten. Same observable semantics
    * as [[deleteWhere]] (three-valued logic, WriteSerializable vs
    * concurrent appends, time travel keeps the pre-delete snapshot);
    * the cost moves from O(touched-file-bytes) to O(matched rows).
    */
  def deleteWhereMor(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): Long =
    morMutation(spark, path, PreparedPredicate.plain(predicate), None)

  def deleteWhereMor(spark: SparkSession, path: String,
      prepared: PreparedPredicate): Long =
    morMutation(spark, path, prepared, None)

  /** Row-level UPDATE under merge-on-read: old images are DV'd out and
    * the updated copies append as new files — BOTH in one snapshot
    * commit, so readers see the update wholly or not at all. Updating
    * a partition column moves the row to its new directory (the append
    * partitions by the live layout).
    */
  def updateWhereMor(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "updateWhereMor: empty SET clause")
    morMutation(spark, path, PreparedPredicate.plain(predicate), Some(set))
  }

  def updateWhereMor(spark: SparkSession, path: String,
      prepared: PreparedPredicate,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "updateWhereMor: empty SET clause")
    morMutation(spark, path, prepared, Some(set))
  }

  /** Shared merge-on-read DELETE/UPDATE engine. Discovery runs ONE
    * scan with positions captured at the parquet leaves
    * ([[Manifest.readWithPositionsAsOf]] — they survive membership
    * joins), the matched row set is persisted so the DV rows, the
    * per-file counts, and (for UPDATE) the updated copies all derive
    * from the SAME materialization, and the commit is the standard
    * optimistic swap scoped to the touched files.
    */
  private def morMutation(spark: SparkSession, path: String,
      prepared: PreparedPredicate,
      set: Option[Map[String, org.apache.spark.sql.Column]]): Long =
    WriterLease.withLease(spark, path) {
      val predicate = prepared.predicate
      val cur = Manifest.requireVersion(spark, path)
      val live = Manifest.filesAsOf(spark, path, cur)
      val scan0 = Manifest.readWithPositionsAsOf(spark, path, cur)
      val fpc = DeletionVectors.FilePathCol
      val ric = DeletionVectors.RowIndexCol
      val matches = prepared.attach(scan0).filter(predicate)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val newPos = matches.select(col(fpc).as("file"), col(ric).as("pos"))
        val matched = newPos.count()
        if (matched == 0L) 0L
        else {
          val appended = set.toSeq.map { assignments =>
            val tableCols = scan0.columns
              .filterNot(c => c == fpc || c == ric).toIndexedSeq
            assignments.keys.foreach(c => require(
              tableCols.contains(c),
              s"updateWhereMor into $path: SET column $c not in " +
                tableCols.mkString(",")))
            matches.select(tableCols.map { c =>
              assignments.get(c).map(_.as(c)).getOrElse(col(c))
            }: _*)
          }
          morCommitTail(spark, path, cur, live, newPos, matched,
            appended,
            Manifest.layoutPartitionCols(live).getOrElse(Seq.empty),
            wholeTableScope = false, what = "merge-on-read DML")
          matched
        }
      } finally { matches.unpersist(); () }
    }

  /** Shared commit tail of every merge-on-read mutation (DELETE /
    * UPDATE / round-18 MERGE matched actions): relativize the matched
    * positions to per-file pointer metadata, merge prior DV rows for
    * the touched files, enforce the broadcast cap, write ONE new DV
    * object, stage the `appended` frames' rows (updated copies, merge
    * inserts; none for a pure delete), and swap everything in a single
    * optimistic commit.
    *
    * Prior-object merge filters to THIS statement's touched files by
    * the exact qualified URIs the scan captured: old objects are
    * per-statement, multi-file — carrying their rows forward
    * unfiltered would copy rows of files NOT touched here (whose
    * pointers keep referencing the old object), so live objects would
    * accumulate stale duplicates across stacked deletes over
    * overlapping file sets, and the cap accounting (pointer-row sums)
    * would undercount the actual broadcast (ADVICE r17, medium). The
    * URI is the same representation the read-side anti-join matches
    * on, so the filter hits iff the read would.
    *
    * `wholeTableScope`: a caller whose row derivation read the WHOLE
    * table (a merge with an INSERT clause — its anti-join could race a
    * concurrent append's same-key rows) widens the conflict scope to
    * the full live set; row-scoped mutations keep the touched files.
    */
  private def morCommitTail(spark: SparkSession, path: String, cur: Long,
      live: Seq[String], newPos: DataFrame, matched: Long,
      appended: Seq[DataFrame], partCols: Seq[String],
      wholeTableScope: Boolean, what: String): Unit = {
    val toRel = scannedFileToRel(path, what) _
    // per-file match counts: one driver row per touched file
    // (the pointer metadata, not the matched rows)
    val perFileUri = newPos.groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val perFile = perFileUri.map { case (u, c) => toRel(u) -> c }.toMap
    val touchedRel = perFile.keys.toSeq.sorted
    val touchedSet = touchedRel.toSet
    require(touchedSet.subsetOf(live.toSet),
      s"$what into $path: scan saw files outside the live snapshot: " +
        (touchedSet -- live.toSet).take(3).mkString(", "))
    val dvs = Manifest.dvsAsOf(spark, path, cur)
    val oldTouched = touchedRel.filter(dvs.contains)
    // a touched file's NEW DV object holds its COMPLETE set: prior
    // positions (if any, filtered to the touched files — see scaladoc)
    // plus this statement's matches — old objects become unreferenced
    // and vacuum reclaims them
    val touchedUriByRel =
      perFileUri.map { case (u, _) => toRel(u) -> u }.toMap
    val allRows = if (oldTouched.isEmpty) newPos
      else {
        val oldUris = oldTouched.map(touchedUriByRel)
        newPos.unionByName(DeletionVectors.readRows(
            spark, path, oldTouched.map(f => dvs(f).rel))
          .filter(col("file").isin(oldUris: _*)))
      }
    val totalAfter =
      dvs.filterNot { case (f, _) => touchedSet(f) }
        .values.map(_.rows).sum +
      oldTouched.map(dvs(_).rows).sum + matched
    val cap = DeletionVectors.maxRows(spark)
    require(totalAfter <= cap,
      s"$what into $path would grow the table's " +
        s"deletion-vector set to $totalAfter rows (cap $cap, " +
        "spark.graft.dml.dv.maxRows — the DV rows broadcast to " +
        "every scan). Compact the table to absorb its deletion " +
        "vectors, or run this statement copy-on-write")
    val dvRel = DeletionVectors.write(spark, path, allRows)
    val pointers = touchedRel.map { f =>
      f -> Manifest.DvPointer(dvRel,
        perFile(f) + dvs.get(f).map(_.rows).getOrElse(0L))
    }.toMap
    val (scopeFn, expected): (String => Boolean, Set[String]) =
      if (wholeTableScope) ((_: String) => true, live.toSet)
      else (touchedSet, touchedSet)
    def commit(movedIn: Seq[String]) =
      Manifest.commitOptimistic(spark, path,
        Manifest.PreparedCommit(
          scope = scopeFn, expected = expected,
          retire = Set.empty, add = movedIn, dvs = pointers))
    appended.reduceOption(_.unionByName(_)) match {
      case None => commit(Nil)
      case Some(df) =>
        withStaged(spark, path, df, partCols, "mor_update")(commit)
    }
    ()
  }

  /** REPLACE WHERE (round 17): delete-by-predicate + append in ONE
    * snapshot commit — the expression-scoped overwrite. Files holding
    * predicate matches are rewritten WITHOUT their matching rows and
    * the incoming batch lands alongside, all swapped in a single
    * optimistic commit: readers see the region wholly replaced or not
    * at all, and time travel keeps the pre-replace snapshot. This is
    * the safe idiom for layouts where dynamic partition overwrite must
    * refuse (hidden-transform buckets: replacing a bucket wholesale
    * would drop co-bucketed rows) — the predicate scopes ROWS, so
    * co-bucketed strangers survive the rewrite byte-equal.
    *
    * LEAK CHECK (the Delta `REPLACE WHERE` contract): every incoming
    * row must satisfy the predicate — a staged row outside the
    * replaced region would survive the next identical REPLACE WHERE
    * and silently duplicate. Refused loudly pre-commit, before any
    * file moves. The predicate must be deterministic (evaluated for
    * discovery, rewrite, and the leak check).
    *
    * `partCols`: the staged layout (the caller's declared layout; the
    * overload derives it from the live files). Returns the number of
    * rows deleted from touched files.
    */
  def replaceWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      incoming: DataFrame): Long =
    replaceWhereLayout(spark, path, predicate, incoming,
      Manifest.layoutPartitionCols(Manifest.currentLive(spark, path))
        .getOrElse(Seq.empty))

  def replaceWhereLayout(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column, incoming: DataFrame,
      partCols: Seq[String]): Long =
    WriterLease.withLease(spark, path) {
      // pin rows, file list and touched-file re-read to ONE snapshot
      val cur = Manifest.requireVersion(spark, path)
      val table = Manifest.readAsOf(spark, path, cur)
      requireSameColumns(incoming, table, path)
      // leak check FIRST — nothing staged, nothing moved on refusal
      val leaks = incoming.filter(org.apache.spark.sql.functions
        .coalesce(!predicate, org.apache.spark.sql.functions.lit(true)))
        .limit(1).count()
      require(leaks == 0L,
        s"replaceWhere into $path: incoming rows do not all satisfy " +
          "the replace predicate — they would land OUTSIDE the " +
          "replaced region and duplicate on the next replace; widen " +
          "the predicate or append them separately")
      val toRel = scannedFileToRel(path, "replaceWhere") _
      val touched = dvDiscovery(spark, path, cur) match {
        case Some((scan0, toRelB)) =>
          scan0.filter(predicate)
            .select(col(DeletionVectors.FilePathCol))
            .distinct().collect().map(r => toRelB(r.getString(0))).sorted
        case None =>
          table.filter(predicate)
            .select(org.apache.spark.sql.functions.input_file_name())
            .distinct().collect().map(r => toRel(r.getString(0))).sorted
      }
      val live = Manifest.filesAsOf(spark, path, cur)
      val touchedSet = touched.toSet
      require(touchedSet.subsetOf(live.toSet),
        s"replaceWhere into $path: scan saw files outside the live " +
          s"snapshot: ${(touchedSet -- live.toSet).mkString(", ")}")
      val cols = table.columns.toIndexedSeq
      val incomingAligned = incoming.select(cols.map(col): _*)
      val (deleted, staged) =
        if (touched.isEmpty) (0L, incomingAligned)
        else {
          val sub = Manifest.readSubsetAsOf(spark, path, cur, touched.toSeq)
          // keep FALSE-or-NULL rows (SQL DELETE three-valued semantics,
          // same as deleteWhere)
          val kept = sub.filter(org.apache.spark.sql.functions
            .coalesce(!predicate, org.apache.spark.sql.functions
              .lit(true)))
          (sub.filter(predicate).count(),
            kept.select(cols.map(col): _*).unionByName(incomingAligned))
        }
      withStaged(spark, path, staged, partCols, "replace") { movedIn =>
        // scope = the files this replace retires; concurrent blind
        // appends outside the region are preserved (WriteSerializable,
        // same contract as deleteWhere)
        Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
          scope = touchedSet, expected = touchedSet,
          retire = touchedSet, add = movedIn))
        deleted
      }
    }

  /** Table-relative path of an `input_file_name()` value. The scan
    * reports the file as a URI string with percent-encoded specials (a
    * space in a partition value surfaces as `%20`), while the manifest
    * stores the DECODED on-disk relative path — decode via
    * `java.net.URI` before relativizing, or a two-level layout with a
    * space-bearing value (`pri=4-NOT SPECIFIED`) fails the
    * inside-the-snapshot check on every rewrite (round 15).
    */
  private def scannedFileToRel(path: String, what: String)(
      uri: String): String = {
    val pathUri = new org.apache.hadoop.fs.Path(path)
      .toUri.getPath.stripSuffix("/")
    val p =
      try new java.net.URI(uri).getPath
      catch {
        case _: java.net.URISyntaxException =>
          new org.apache.hadoop.fs.Path(uri).toUri.getPath
      }
    val i = p.indexOf(pathUri)
    require(i >= 0, s"$what: scanned file $uri outside $path")
    p.substring(i + pathUri.length).stripPrefix("/")
  }

  /** Touched-file discovery over a DV-BEARING snapshot (round 17): the
    * DV-applied read is a multi-source union (clean branch ∪ anti-join
    * branch), where `input_file_name()` refuses to bind
    * (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION) — so the per-branch
    * position capture names each row's file instead
    * ([[Manifest.readWithPositionsAsOf]]'s [[DeletionVectors
    * .FilePathCol]], relativized through the same
    * [[scannedFileToRel]] every rewrite verb uses). Returns None for a
    * DV-free snapshot: callers keep the single-source
    * `input_file_name()` scan with its full predicate pushdown.
    */
  private def dvDiscovery(spark: SparkSession, path: String, v: Long)
      : Option[(DataFrame, String => String)] =
    if (Manifest.dvsAsOf(spark, path, v).isEmpty) None
    else Some((Manifest.readWithPositionsAsOf(spark, path, v),
      scannedFileToRel(path, "DV discovery") _))

  /** Shared DELETE/UPDATE engine: find touched files via a
    * predicate-pushed `input_file_name()` scan, rewrite only those,
    * swap via one manifest commit. `set` None = delete matches;
    * Some = update matches in place.
    */
  private def rewriteMatching(spark: SparkSession, path: String,
      prepared: PreparedPredicate,
      set: Option[Map[String, org.apache.spark.sql.Column]]): Long =
    WriterLease.withLease(spark, path) {
      val predicate = prepared.predicate
      val verb = if (set.isEmpty) "deleteWhere" else "updateWhere"
      // pin rows, file list and touched-file re-read to ONE snapshot
      val cur = Manifest.requireVersion(spark, path)
      val table = Manifest.readAsOf(spark, path, cur)
      val toRel = scannedFileToRel(path, verb) _
      // Touched-file discovery. Plain predicates keep the direct
      // predicate-pushed scan (filters reach parquet). With membership
      // joins, input_file_name() must be captured BEFORE the join — it
      // reads the task's current input and returns "" after a shuffle —
      // so the file rides as a column through the join; the residual
      // conjuncts no longer push past the nondeterministic capture, the
      // honest cost of a key set too large to literalize (AQE still
      // broadcasts a small-enough key side).
      val fileCol = "__graft_input_file"
      val touched = dvDiscovery(spark, path, cur) match {
        case Some((scan0, toRelB)) =>
          // DV'd snapshot: positions captured per scan branch replace
          // input_file_name (which cannot bind over the DV union)
          prepared.attach(scan0).filter(predicate)
            .select(col(DeletionVectors.FilePathCol))
            .distinct().collect().map(r => toRelB(r.getString(0))).sorted
        case None =>
          val touchedScan =
            if (prepared.joins.isEmpty)
              table.filter(predicate)
                .select(org.apache.spark.sql.functions.input_file_name())
            else {
              require(!table.columns.contains(fileCol),
                s"$verb into $path: column $fileCol is reserved")
              prepared.attach(table.withColumn(fileCol,
                  org.apache.spark.sql.functions.input_file_name()))
                .filter(predicate).select(col(fileCol))
            }
          touchedScan
            .distinct().collect().map(r => toRel(r.getString(0))).sorted
      }
      if (touched.isEmpty) 0L
      else {
        val live = Manifest.filesAsOf(spark, path, cur)
        val touchedSet = touched.toSet
        require(touchedSet.subsetOf(live.toSet),
          s"$verb into $path: scan saw files outside the live " +
            s"snapshot: ${(touchedSet -- live.toSet).mkString(", ")}")
        // re-read ONLY the touched files; partition columns come back
        // via basePath, and the rewrite preserves the partition layout.
        // The manifest's pinned schema (if any) applies here exactly as
        // in Manifest.readAsOf: after addColumn, touched files can mix
        // pre/post-migration shapes, and a footer-inferred schema could
        // drop the added column's values from newer files. readFiles is
        // also RENAME-aware (prior-name coalesce), so a rewrite after a
        // renameColumn re-lands old rows under the new name.
        val sub = Manifest.readSubsetAsOf(spark, path, cur, touched.toSeq)
        val partCols =
          Manifest.layoutPartitionCols(touched.toSeq).getOrElse(Seq.empty)
        // membership joins attach to the touched-files read too; the
        // kept projection selects back down to the table's own columns
        // (marker/key columns are __graft_*-namespaced, so plain names
        // stay unambiguous)
        val aug = prepared.attach(sub)
        val matched = aug.filter(predicate).count()
        val kept = set match {
          // SQL DELETE semantics: remove rows where the predicate is
          // TRUE; keep rows where it is FALSE *or NULL*. A bare
          // filter(!predicate) would drop NULL-evaluating rows too
          // (they fail both the positive and the negated filter under
          // three-valued logic) — silently deleting uncounted rows.
          case None => aug.filter(org.apache.spark.sql.functions
            .coalesce(!predicate, org.apache.spark.sql.functions
              .lit(true)))
            .select(sub.columns.toIndexedSeq.map(col): _*)
          case Some(assignments) =>
            assignments.keys.foreach(c => require(
              sub.columns.contains(c),
              s"$verb into $path: SET column $c not in " +
                sub.columns.mkString(",")))
            aug.select(sub.columns.toIndexedSeq.map { c =>
              assignments.get(c) match {
                case Some(v) => org.apache.spark.sql.functions
                  .when(predicate, v).otherwise(col(c)).as(c)
                case None => col(c)
              }
            }: _*)
        }
        withStaged(spark, path, kept, partCols, "rewrite") { movedIn =>
          // optimistic commit: scope = exactly the files this rewrite
          // retires. The live set is re-resolved AT COMMIT, so a
          // concurrent blind append's files are preserved (its rows are
          // not re-matched against the predicate — WriteSerializable,
          // serializing this delete BEFORE the append)
          Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
            scope = touchedSet, expected = touchedSet,
            retire = touchedSet, add = movedIn))
          matched
        }
      }
    }

  /** EXACTLY-ONCE streaming append — the manifest-side twin of
    * [[JdbcSink.publishEpoch]]'s ledger, for `foreachBatch` sinks that
    * LAND IN THE LAKE: `foreachBatch` is at-least-once, and while the
    * keyed upsert paths absorb replays via the anti-join, an APPEND
    * sink (event logs with no natural key worth enforcing) would
    * duplicate, and the anti-join's existing-side read is a data scan
    * a high-frequency stream shouldn't pay per trigger. Here the
    * (appId → batchId) marker rides INSIDE the atomically-renamed
    * manifest list, so the marker and the files it admits become
    * visible together or not at all: a replayed batch is detected by
    * ONE metadata read and skipped; a crash after the data write but
    * before the commit leaves unreferenced orphans (vacuum reclaims)
    * and the replay lands cleanly. Markers carry forward across other
    * writers' commits. Returns true iff this call appended.
    */
  def appendEpoch(spark: SparkSession, path: String, incoming: DataFrame,
      dateCol: Option[String], appId: String, batchId: Long): Boolean = {
    // OPTIMISTIC (round 13): no writer lease — a streaming epoch append
    // composes with a concurrent runDaily merge; the marker is
    // re-checked atomically inside commitOptimistic, so even two
    // racing replayers of one epoch land it exactly once (the loser's
    // staged files become vacuum-collected orphans). This pre-check is
    // only the cheap common-case skip.
    if (Manifest.lastTxn(spark, path, appId).exists(_ >= batchId)) false
    else {
      if (tableExists(spark, path))
        checkedVersion(spark, path, incoming)
      stagedAppendTxn(spark, path, incoming, dateCol.toSeq,
        txn = Some(appId -> batchId))._2
    }
  }

  /** Plain snapshot-committed append — the `INSERT INTO` verb. One
    * atomically-renamed manifest commit admits exactly this batch's
    * files; no keys, no dedup (use the upsert/merge verbs for keyed
    * semantics). `dateCol` partitions the landing like every other
    * writer. Returns rows appended.
    *
    * OPTIMISTIC (round 13): appends take no writer lease — a blind
    * append's snapshot basis is empty, so it can never conflict; any
    * number of concurrent appenders land on a linear version history,
    * serialized only through the millisecond commit lock, and compose
    * with a concurrent lease-holding merge (whose own commit re-resolves
    * the live set, so it keeps files this append landed mid-flight).
    * The schema drift check runs unlocked — racing an `addColumn` is
    * benign (additive, rejected at worst one commit later).
    */
  def append(spark: SparkSession, path: String, incoming: DataFrame,
      dateCol: Option[String]): Long =
    appendLayout(spark, path, incoming, dateCol.toSeq)

  /** [[append]] over an ORDERED multi-column identity layout
    * (round 15) — `partitionBy(d, country)`-style nested directories,
    * the reference's own chart key (`ddl_ods.sql:21-23`). Partition
    * pruning then composes across levels: a (date, country) predicate
    * scans one leaf directory.
    */
  def appendLayout(spark: SparkSession, path: String, incoming: DataFrame,
      partCols: Seq[String]): Long = {
    if (tableExists(spark, path))
      checkedVersion(spark, path, incoming)
    stagedAppend(spark, path, incoming, partCols)
  }

  private def stagedAppend(spark: SparkSession, path: String,
      delta: DataFrame, partCols: Seq[String]): Long =
    stagedAppendTxn(spark, path, delta, partCols, txn = None)._1

  /** Returns (rows in the batch, true iff THIS call's commit landed).
    * The second component is false only when `txn` names an epoch whose
    * marker was already at-or-behind — re-checked ATOMICALLY inside the
    * commit lock, so two racing replayers of one epoch land it once.
    */
  private def stagedAppendTxn(spark: SparkSession, path: String,
      delta: DataFrame, partCols: Seq[String],
      txn: Option[(String, Long)]): (Long, Boolean) =
    withStagingDir(spark, path, delta, partCols, "delta")(
      commitStaged(spark, path, _, txn))

  /** Commit the batch staged at `stagingPath` as an append: the commit
    * half of [[stagedAppendTxn]], with the same return value. An EMPTY
    * batch (partitioned, it stages zero files) commits no data files.
    */
  private def commitStaged(spark: SparkSession, path: String,
      stagingPath: String, txn: Option[(String, Long)]): (Long, Boolean) = {
    val n = footerRows(spark, stagingPath,
      Manifest.listDataFiles(spark, stagingPath))
    val committed: Boolean =
      if (n > 0) {
        // stage-in under job-unique names, then ONE snapshot commit
        // of exactly this batch's files — a concurrent reader sees
        // the whole batch or none of it, orphans from crashed writers
        // are never resurrected (not even by a table's first commit),
        // and a concurrent appender's files (preserved via the
        // commit-time live resolution) are never dropped. Stage-in
        // happens INSIDE the commit lock — see
        // Manifest.appendStagedOptimistic (vacuum-vs-append race)
        Manifest.appendStagedOptimistic(spark, path, stagingPath,
          txn).isDefined
      } else {
        // an EMPTY epoch still records its marker (metadata-only
        // commit) so a replay is detected — but only once the table
        // has a first manifest (an empty-list v1 would pin no schema
        // to read it under; re-running an empty batch is harmless)
        txn.nonEmpty && Manifest.currentVersion(spark, path).exists(_ =>
          Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
            scope = _ => false, expected = Set.empty,
            retire = Set.empty, add = Seq.empty, txn = txn)).isDefined)
      }
    (n, committed)
  }

  /** A table is a path with a committed manifest version; files in a
    * directory no version lists (a crashed first write's orphans) do
    * not make one.
    */
  private def tableExists(spark: SparkSession, path: String): Boolean =
    Manifest.currentVersion(spark, path).isDefined

  /** Whole-table OVERWRITE — SQL `INSERT OVERWRITE TABLE t SELECT …`
    * (static mode, no partition spec; Postgres-side the reference would
    * `TRUNCATE` + `INSERT` in one transaction): the ENTIRE live set is
    * replaced by `incoming` through one snapshot commit — readers see
    * the table wholly old or wholly new, prior versions stay time-
    * travelable until vacuum. Optimistic whole-table scope: a
    * concurrent lease-less append conflicts (its rows would be silently
    * erased by a blind replacement) and the overwrite recomputes,
    * bounded. Returns rows written.
    */
  def overwriteTable(spark: SparkSession, path: String, incoming: DataFrame,
      dateCol: Option[String]): Long =
    overwriteTableLayout(spark, path, incoming, dateCol.toSeq)

  /** [[overwriteTable]] over an ordered multi-column identity layout
    * (round 15). */
  def overwriteTableLayout(spark: SparkSession, path: String,
      incoming: DataFrame, partCols: Seq[String]): Long =
    WriterLease.withLease(spark, path) {
      if (!tableExists(spark, path))
        stagedAppend(spark, path, incoming, partCols)
      else {
        checkedVersion(spark, path, incoming) // schema drift check
        retryingConflicts(s"overwriteTable into $path") {
          val preLive = Manifest.currentLive(spark, path)
          // rows counted from the moved files' footers
          withStaged(spark, path, incoming, partCols, "overwrite") {
            moved =>
            val n = footerRows(spark, path, moved)
            Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
              scope = _ => true, expected = preLive.toSet,
              retire = preLive.toSet, add = moved))
            n
          }
        }
      }
    }

  // ---- generalized MERGE (round 14): conditional actions + DELETE ---

  /** One `WHEN MATCHED` clause of a generalized merge. `cond` (over the
    * merge's combined row — target columns by their own names, source
    * NON-KEY columns as `__src_<name>`) guards the action; None = always.
    *
    * [[MatchedUpdate.set]] (round 15) carries COLUMN-LEVEL assignments —
    * SQL `UPDATE SET col = expr, …` — each value an expression over the
    * same combined row (so `SET cnt = cnt + __src_delta` works). Empty
    * `set` = `UPDATE SET *` (full-row replacement from the source, the
    * round-14 behavior). Assigned values are CAST to the target column's
    * type (SQL assignment-cast semantics); merge KEY columns cannot be
    * assigned (rekeying a matched row could collide with another live
    * key inside one snapshot — refused loudly).
    */
  sealed trait MatchedAction { def cond: Option[org.apache.spark.sql.Column] }
  final case class MatchedUpdate(cond: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty)
    extends MatchedAction
  final case class MatchedDelete(cond: Option[org.apache.spark.sql.Column])
    extends MatchedAction

  /** One `WHEN NOT MATCHED BY SOURCE` clause (round 15): applies to
    * TARGET rows whose key matches no source row. Conditions and SET
    * values may reference target columns only (there is no source row
    * to read). Merge keys cannot be assigned (same rekey-collision
    * refusal as [[MatchedUpdate]]). First-match-wins among the
    * by-source clauses, independently of the matched clauses.
    */
  sealed trait BySourceAction { def cond: Option[org.apache.spark.sql.Column] }
  final case class BySourceUpdate(cond: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)])
    extends BySourceAction
  final case class BySourceDelete(cond: Option[org.apache.spark.sql.Column])
    extends BySourceAction

  /** The `WHEN NOT MATCHED [AND cond] THEN INSERT …` clause.
    * `set = None` is `INSERT *` (full row from the source, by name).
    * `set = Some(assignments)` is column-level `INSERT (cols) VALUES
    * (exprs)`: merge KEY columns always take the source's same-named
    * value (the caller must pass key assignments as identity — the
    * anti-join that decides "not matched" runs on the SOURCE key, so an
    * arbitrary key expression could insert a key that is already live;
    * [[graft.plans.RewriteGraftDml]] enforces this at analysis);
    * assigned non-key columns evaluate their expression over the
    * source row (`__src_<name>` frame); unassigned columns get NULL.
    * Values are CAST to the target column type (assignment-cast).
    */
  final case class InsertSpec(cond: Option[org.apache.spark.sql.Column],
      set: Option[Seq[(String, org.apache.spark.sql.Column)]] = None)

  /** Generalized merge — SQL `MERGE INTO` with ordered, optionally
    * CONDITIONAL `WHEN MATCHED THEN UPDATE SET * / DELETE` clauses and
    * an optional `WHEN NOT MATCHED [AND cond] THEN INSERT *`
    * (round 14; the SCD1 fast path stays [[mergePartitioned]]/
    * [[mergeParquet]]). Semantics are SQL MERGE's: per matched target
    * row, the FIRST clause whose condition holds applies; no clause →
    * the row survives unchanged; `update` replaces the full row with
    * the source's (SET *), `delete` drops it. Key matching is NULL-SAFE
    * like every verb in this module (a NULL key component matches a
    * NULL — the engine's idempotency contract), unlike strict-SQL `=`.
    *
    * Scale shape: the rewrite is TOUCHED-FILES-ONLY, same as
    * [[deleteWhere]] — one semi-join scan names the files containing
    * matched keys (`input_file_name`), only those rewrite, inserts land
    * as fresh files, and the whole mutation commits as ONE optimistic
    * snapshot swap with the touched files as its conflict scope. At
    * 100 TB a merge touching one day rewrites that day's matched files,
    * not the table. Duplicate source keys are rejected up front (SQL:
    * "cannot update the same row twice"). `source` must be
    * DETERMINISTIC — it is evaluated more than once (file scan +
    * rewrite), like [[deleteWhere]]'s predicate.
    *
    * `partitionCols`: the table's physical layout (staged rewrite files
    * land back in their partition dirs; inserts create new ones).
    * Returns (matched rows affected, rows inserted).
    */
  def mergeActions(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], matched: Seq[MatchedAction],
      insert: Option[Option[org.apache.spark.sql.Column]],
      partitionCols: Seq[String]): (Long, Long) =
    mergeProgram(spark, path, source, keys, matched, Seq.empty,
      insert.map(c => InsertSpec(c)), partitionCols)

  /** The FULL merge program (round 15): [[mergeActions]] plus ordered
    * `WHEN NOT MATCHED BY SOURCE THEN UPDATE SET …/DELETE` clauses and
    * column-level `INSERT (cols) VALUES (exprs)` ([[InsertSpec]]).
    *
    * Scale note: by-source clauses act on target rows the source does
    * NOT name, so no semi-join can scope the rewrite — every live file
    * may hold such a row and the rewrite is WHOLE-TABLE (the same cost
    * Delta/Iceberg pay for this clause). At 100 TB, condition the
    * clause (`AND t.day = …`) or run it as a separate scoped DELETE.
    * Everything else keeps the touched-files-only shape.
    */
  def mergeProgram(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], matched: Seq[MatchedAction],
      bySource: Seq[BySourceAction], insert: Option[InsertSpec],
      partitionCols: Seq[String]): (Long, Long) = {
    require(matched.nonEmpty || bySource.nonEmpty || insert.nonEmpty,
      s"mergeActions into $path: at least one action clause is required")
    def checkSet(set: Seq[(String, org.apache.spark.sql.Column)],
        what: String): Unit = {
      val names = set.map(_._1)
      require(names.distinct == names,
        s"mergeActions into $path: duplicate assignment in $what " +
          s"(${names.diff(names.distinct).distinct.mkString(", ")})")
      val onKeys = names.filter(keys.contains)
      require(onKeys.isEmpty,
        s"mergeActions into $path: $what may not assign merge key " +
          s"column(s) ${onKeys.mkString(", ")}")
    }
    matched.foreach {
      case MatchedUpdate(_, set) if set.nonEmpty =>
        checkSet(set, "UPDATE SET")
      case _ => ()
    }
    bySource.foreach {
      case BySourceUpdate(_, set) =>
        require(set.nonEmpty, s"mergeActions into $path: WHEN NOT MATCHED " +
          "BY SOURCE THEN UPDATE needs explicit column assignments " +
          "(there is no source row for SET *)")
        checkSet(set, "NOT MATCHED BY SOURCE UPDATE SET")
      case _ => ()
    }
    insert.flatMap(_.set).foreach(checkSet(_, "INSERT"))
    val dupKeys = source.groupBy(keys.map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"merge into $path: source affects the key " +
        s"${dupKeys.head.toSeq.init.mkString("(", ",", ")")} more than once")
    WriterLease.withLease(spark, path) {
      retryingConflicts(s"mergeActions into $path") {
        // merge-on-read routing (round 18): matched UPDATE/DELETE
        // actions ride the DV + append machinery instead of the
        // key-matched-file rewrite — the CDC upsert trickle (few
        // changed rows per file, many files) is the same
        // write-amplification shape DELETE/UPDATE fixed in round 17.
        // By-source clauses stay copy-on-write: they act on rows the
        // source does NOT name, so the rewrite is whole-table either
        // way and the COW path's single staged rewrite is the better
        // plan. Matched-free programs (insert-only) have nothing to DV.
        val mor = matched.nonEmpty && bySource.isEmpty &&
          dmlMode(spark, path) == "merge-on-read"
        if (mor)
          mergeActionsOnceMor(spark, path, source, keys, matched,
            insert, partitionCols)
        else
          mergeActionsOnce(spark, path, source, keys, matched, bySource,
            insert, partitionCols)
      }
    }
  }

  /** One merge-on-read merge attempt (round 18): the matched-clause
    * half of SQL MERGE as a deletion-vector commit. ONE inner join of
    * the position-captured snapshot scan against the (unique-keyed)
    * source finds every matched target row; first-match-wins clause
    * resolution runs over that joined frame exactly as the COW path's
    * — but instead of rewriting every touched file wholly, fired rows'
    * old images are DV'd out and UPDATE rows' new copies append as
    * fresh files, all in one snapshot commit ([[morCommitTail]]).
    * Unmatched target rows in touched files are never read again and
    * never rewritten — O(matched) write bytes, not O(touched files).
    * INSERT rows anti-join the same snapshot scan (the discovery read
    * is whole-table already, unlike the COW path there is no touched
    * subset to narrow to) and append alongside.
    */
  private def mergeActionsOnceMor(spark: SparkSession, path: String,
      source: DataFrame, keys: Seq[String], matched: Seq[MatchedAction],
      insert: Option[InsertSpec], partitionCols: Seq[String])
      : (Long, Long) = {
    import org.apache.spark.sql.functions.{lit, when}
    val version = Manifest.requireVersion(spark, path)
    val preLive = Manifest.filesAsOf(spark, path, version)
    val scan0 = Manifest.readWithPositionsAsOf(spark, path, version)
    val fpc = DeletionVectors.FilePathCol
    val ric = DeletionVectors.RowIndexCol
    val targetCols = scan0.columns.filterNot(c => c == fpc || c == ric)
      .toIndexedSeq
    val targetSchema = org.apache.spark.sql.types.StructType(
      scan0.schema.filterNot(f => f.name == fpc || f.name == ric))
    requireNoReservedNames(path, targetCols, keys)
    validateMergeClauses(path, targetCols, source.columns.toSet, keys,
      matched, Seq.empty, insert)
    val renamed = renamedSource(source, keys)
    // matched target rows only — the inner join IS the MoR win: rows
    // no clause can touch (unmatched) never enter the mutation at all
    val joinedRaw = scan0.join(renamed,
      keys.map(k => scan0(k) <=> renamed(k)).reduce(_ && _), "inner")
    val joinedClean = keys.foldLeft(joinedRaw)((d, k) => d.drop(renamed(k)))
    // first-match-wins among the matched clauses (every row here IS
    // matched, so conditions need no isMatched guard)
    var actionExpr: org.apache.spark.sql.Column = null
    matched.zipWithIndex.foreach { case (a, i) =>
      val p = a.cond.getOrElse(lit(true))
      actionExpr =
        if (actionExpr == null) when(p, lit(i)) else actionExpr.when(p, lit(i))
    }
    val decided = joinedClean
      .withColumn("__action", actionExpr.otherwise(lit(-1)))
      .filter(col("__action") =!= -1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val newPos = decided.select(col(fpc).as("file"), col(ric).as("pos"))
      val nAffected = newPos.count()
      val updateIdx = matched.zipWithIndex.collect {
        case (u: MatchedUpdate, i) =>
          (i, if (u.set.isEmpty) None else Some(u.set))
      }
      // UPDATE rows' new images: same per-column CASE writers as the
      // COW rewrite, restricted to rows whose fired clause updates
      val updatedCopies =
        if (updateIdx.isEmpty || nAffected == 0L) None
        else Some(decided
          .filter(col("__action").isin(updateIdx.map(p => Int.box(p._1)): _*))
          .select(targetCols.map { c =>
            val writers = updateIdx.flatMap { case (i, set) =>
              set match {
                case None =>
                  if (keys.contains(c)) None
                  else Some(i -> col(s"__src_$c"))
                case Some(as) => as.collectFirst { case (`c`, v) =>
                  i -> v.cast(targetSchema(c).dataType) }
              }
            }
            if (writers.isEmpty) col(c).as(c)
            else writers.foldLeft(
              Option.empty[org.apache.spark.sql.Column]) {
              case (acc, (i, v)) =>
                Some(acc.fold(when(col("__action") === i, v))(
                  _.when(col("__action") === i, v)))
            }.get.otherwise(col(c)).as(c)
          }: _*))
      val insertRows = insert.map { spec =>
        val exKeys = scan0.select(keys.map(k => col(k).as(s"__ex_$k")): _*)
        val against = renamed.join(exKeys,
          keys.map(k => renamed(k) <=> exKeys(s"__ex_$k")).reduce(_ && _),
          "left_anti")
        val filtered = spec.cond.fold(against)(c => against.filter(c))
        insertProjection(path, filtered, spec, keys, targetCols,
          targetSchema)
      }
      val nInserted = insertRows.fold(0L)(_.count())
      // rows appended beside the DVs: updated copies, then inserts
      val appended = updatedCopies.toSeq ++
        insertRows.filter(_ => nInserted > 0)
      if (nAffected == 0L) {
        // nothing fired: a pure append (or a no-op). Whole-table scope
        // — the insert anti-join read the table (same reasoning as the
        // COW path's insert commit).
        appended.foreach { df =>
          withStaged(spark, path, df, partitionCols, "merge") { moved =>
            Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
              scope = _ => true, expected = preLive.toSet,
              retire = Set.empty, add = moved))
          }
        }
        (0L, nInserted)
      } else {
        morCommitTail(spark, path, version, preLive, newPos, nAffected,
          appended, partitionCols,
          wholeTableScope = insert.nonEmpty, what = "merge-on-read MERGE")
        (nAffected, nInserted)
      }
    } finally { decided.unpersist(); () }
  }

  private def mergeActionsOnce(spark: SparkSession, path: String,
      source: DataFrame, keys: Seq[String], matched: Seq[MatchedAction],
      bySource: Seq[BySourceAction], insert: Option[InsertSpec],
      partitionCols: Seq[String]): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, input_file_name, lit, when}
    val version = Manifest.requireVersion(spark, path)
    val preLive = Manifest.filesAsOf(spark, path, version)
    val table = Manifest.readAsOf(spark, path, version)
    val targetCols = table.columns.toSeq
    requireNoReservedNames(path, targetCols, keys)
    validateMergeClauses(path, targetCols, source.columns.toSet, keys,
      matched, bySource, insert)
    // source with non-key columns renamed __src_<c>: one frame serves
    // the matched conditions (target names + __src_ names), the update
    // values, and the insert projection. ALL source columns ride along
    // — a clause condition may reference source columns outside the
    // target schema (e.g. a side-channel flag)
    val renamed = renamedSource(source, keys)

    // touched files = files containing at least one key-matched row
    // (null-safe semi join; predicate/partition pruning applies).
    // input_file_name() must bind BEFORE the join — with the source in
    // the same plan the expression would see two file sources and the
    // analyzer refuses it (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION).
    val srcKeys = source.select(keys.map(k => col(k).as(s"__mk_$k")): _*)
      .distinct()
    val toRel = scannedFileToRel(path, "mergeActions") _
    val touched: Seq[String] =
      if (bySource.nonEmpty)
        // by-source clauses act on rows the source does NOT name — no
        // semi-join can scope that, so every live file rewrites (the
        // standard cost of this clause; see [[mergeProgram]])
        preLive.sorted
      else if (matched.isEmpty) Seq.empty // insert-only: no rewrite needed
      else dvDiscovery(spark, path, version) match {
        case Some((scan0, toRelB)) =>
          // DV'd snapshot: per-branch position capture instead of
          // input_file_name (which cannot bind over the DV union)
          val withFile = scan0.withColumnRenamed(
            DeletionVectors.FilePathCol, "__graft_file")
          val matchCond = keys.map(k => withFile(k) <=> srcKeys(s"__mk_$k"))
            .reduce(_ && _)
          withFile.join(srcKeys, matchCond, "left_semi")
            .select(col("__graft_file")).distinct()
            .collect().map(r => toRelB(r.getString(0))).sorted.toSeq
        case None =>
          val withFile = table.withColumn("__graft_file", input_file_name())
          val matchCond = keys.map(k => withFile(k) <=> srcKeys(s"__mk_$k"))
            .reduce(_ && _)
          withFile.join(srcKeys, matchCond, "left_semi")
            .select(col("__graft_file")).distinct()
            .collect().map(r => toRel(r.getString(0))).sorted.toSeq
      }
    val touchedSet = touched.toSet
    require(touchedSet.subsetOf(preLive.toSet),
      s"mergeActions into $path: scan saw files outside the snapshot: " +
        (touchedSet -- preLive.toSet).take(3).mkString(", "))

    // rewrite of the touched files: first-match-wins action resolution
    val (rewritten, nMatchedAffected) =
      if (touched.isEmpty) (None, 0L)
      else {
        val sub = Manifest.readSubsetAsOf(spark, path, version, touched)
        val joinedRaw = sub.join(renamed,
          keys.map(k => sub(k) <=> renamed(k)).reduce(_ && _), "left_outer")
        // drop the source's copy of the key columns (same names; the
        // target's survive for the projection below)
        val joinedClean = keys.foldLeft(joinedRaw)((d, k) =>
          d.drop(renamed(k)))
        val isMatched = coalesce(col("__graft_matched"), lit(false))
        // one CASE over the combined row decides every clause family:
        // matched clauses at indices 0..m-1 (guarded by isMatched),
        // by-source clauses at m..m+b-1 (guarded by !isMatched) —
        // first-match-wins inside each family by construction
        var actionExpr: org.apache.spark.sql.Column = null
        def addClause(p: org.apache.spark.sql.Column, i: Int): Unit =
          actionExpr =
            if (actionExpr == null) when(p, lit(i))
            else actionExpr.when(p, lit(i))
        matched.zipWithIndex.foreach { case (a, i) =>
          addClause(a.cond.fold(isMatched)(c => isMatched && c), i)
        }
        val bsBase = matched.size
        bySource.zipWithIndex.foreach { case (a, i) =>
          addClause(a.cond.fold(!isMatched)(c => !isMatched && c),
            bsBase + i)
        }
        val decided = joinedClean.withColumn("__action",
          if (actionExpr == null) lit(-1) else actionExpr.otherwise(lit(-1)))
        val deleteIdx = matched.zipWithIndex.collect {
          case (_: MatchedDelete, i) => i } ++
          bySource.zipWithIndex.collect {
            case (_: BySourceDelete, i) => bsBase + i }
        // uniform (index, assignments) writer list: None = SET * (full
        // row from the source; matched clauses only)
        val updates: Seq[(Int, Option[Seq[(String, org.apache.spark.sql.Column)]])] =
          matched.zipWithIndex.collect {
            case (u: MatchedUpdate, i) =>
              (i, if (u.set.isEmpty) None else Some(u.set)) } ++
          bySource.zipWithIndex.collect {
            case (u: BySourceUpdate, i) => (bsBase + i, Some(u.set)) }
        val affected = decided.filter(col("__action") =!= -1).count()
        val survivors =
          if (deleteIdx.isEmpty) decided
          else decided.filter(!col("__action")
            .isin(deleteIdx.map(Int.box): _*))
        val targetSchema = table.schema
        // per column: CASE __action WHEN i THEN <clause i's value for c>
        // … ELSE <unchanged target> — SET * clauses write the source's
        // value for every non-key column, column-level SET clauses only
        // their assigned columns (CAST to the target type, SQL
        // assignment-cast), every other clause leaves c untouched
        val out = survivors.select(targetCols.map { c =>
          val tgt = col(c)
          val writers = updates.flatMap { case (i, set) =>
            set match {
              case None =>
                if (keys.contains(c)) None else Some(i -> col(s"__src_$c"))
              case Some(as) => as.collectFirst { case (`c`, v) =>
                i -> v.cast(targetSchema(c).dataType) }
            }
          }
          if (writers.isEmpty) tgt.as(c)
          else writers.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
            case (acc, (i, v)) =>
              Some(acc.fold(when(col("__action") === i, v))(
                _.when(col("__action") === i, v)))
          }.get.otherwise(tgt).as(c)
        }: _*)
        (Some(out), affected)
      }

    // inserts: source keys matched NOWHERE in the table (not only in
    // touched files — a key matching any row makes its file touched,
    // so anti-joining the touched subset is equivalent and cheaper…
    // except when matched is empty; then anti-join the whole table)
    val hasRewriteClauses = matched.nonEmpty || bySource.nonEmpty
    val insertRows = insert.map { spec =>
      val against =
        if (hasRewriteClauses && touched.isEmpty)
          // no key matched anything: every source row is unmatched
          renamed
        else {
          // anti-join against the touched subset when a rewrite ran: a
          // source key matching ANY target row makes its file touched
          // (with by-source clauses the subset is the whole live set),
          // so the subset carries every matchable key — anti against it
          // is equivalent to anti against the whole table, minus a scan
          val base =
            if (touched.isEmpty) table
            else Manifest.readSubsetAsOf(spark, path, version, touched)
          val exKeys = base.select(keys.map(k => col(k).as(s"__ex_$k")): _*)
          renamed.join(exKeys,
            keys.map(k => renamed(k) <=> exKeys(s"__ex_$k")).reduce(_ && _),
            "left_anti")
        }
      val filtered = spec.cond.fold(against)(c => against.filter(c))
      insertProjection(path, filtered, spec, keys, targetCols,
        table.schema)
    }
    val nInserted = insertRows.fold(0L)(_.count())

    if (touched.isEmpty && nInserted == 0L) (nMatchedAffected, 0L)
    else {
      // a rewrite ran or a row is inserted (guarded above)
      val df = (rewritten.toSeq ++ insertRows).reduce(_.unionByName(_))
      withStaged(spark, path, df, partitionCols, "merge") { moved =>
        // conflict scope: the touched files this merge read and
        // retires — plus, when an INSERT clause exists, the WHOLE live
        // set, because the insert's anti-join read the table and a
        // concurrent lease-less append could land the same key between
        // that read and this commit (a second copy of a key; into an
        // empty table the scope expects no files, so any append
        // conflicts; mergeParquet makes the same whole-table choice).
        // Matched-only merges keep the narrow file scope: an unseen
        // appended row is merely not-updated — merge-before-append
        // serialization, the same WriteSerializable contract as
        // deleteWhere.
        val (scopeFn, expect): (String => Boolean, Set[String]) =
          if (insert.nonEmpty) ((_: String) => true, preLive.toSet)
          else (touchedSet, touchedSet)
        Manifest.commitOptimistic(spark, path, Manifest.PreparedCommit(
          scope = scopeFn, expected = expect,
          retire = touchedSet, add = moved))
        (nMatchedAffected, nInserted)
      }
    }
  }

  /** Every internal column the merge rewrite introduces is RESERVED —
    * a target column literally named `__action` (etc.) would be
    * silently replaced by the rewrite's `withColumn` and the final
    * projection would emit rewrite state as that column's data (ADVICE
    * r14). Loud refusal, matching the module's failure discipline.
    * (`__mk_`/`__ex_` columns live on frame-qualified key projections,
    * but are reserved too — cheap insurance against a future refactor
    * flattening those frames.)
    */
  private def requireNoReservedNames(path: String, targetCols: Seq[String],
      keys: Seq[String]): Unit = {
    val exact = Set("__graft_matched", "__action", "__graft_file")
    val bad = (targetCols ++ keys).distinct.filter(c =>
      exact(c) || c.startsWith("__src_") || c.startsWith("__mk_") ||
        c.startsWith("__ex_"))
    require(bad.isEmpty,
      s"mergeActions into $path: column name(s) ${bad.mkString(", ")} " +
        "are reserved for the merge rewrite (__graft_matched, __action, " +
        "__graft_file, and the __src_/__mk_/__ex_ prefixes)")
  }

  /** Clause validation shared by the copy-on-write and merge-on-read
    * merge bodies — it runs whether or not the table holds a row, so a
    * typo'd SET column refuses on an empty table too instead of
    * silently no-opping until the table's first insert.
    */
  private def validateMergeClauses(path: String, targetCols: Seq[String],
      srcCols: Set[String], keys: Seq[String],
      matched: Seq[MatchedAction], bySource: Seq[BySourceAction],
      insert: Option[InsertSpec]): Unit = {
    def checkKnown(set: Seq[(String, org.apache.spark.sql.Column)],
        what: String): Unit = {
      val unknown = set.map(_._1).filterNot(targetCols.contains)
      require(unknown.isEmpty,
        s"mergeActions into $path: $what assigns column(s) " +
          s"${unknown.mkString(", ")} not in the table " +
          s"(${targetCols.mkString(", ")})")
    }
    matched.foreach {
      case MatchedUpdate(_, set) => checkKnown(set, "UPDATE SET")
      case _ => ()
    }
    bySource.foreach {
      case BySourceUpdate(_, set) =>
        checkKnown(set, "NOT MATCHED BY SOURCE UPDATE SET")
      case _ => ()
    }
    insert.flatMap(_.set).foreach(checkKnown(_, "INSERT"))
    // full-row source is only needed by SET * updates and INSERT *;
    // a column-level SET clause just needs its referenced columns
    val needFullRow = insert.exists(_.set.isEmpty) ||
      matched.exists {
        case u: MatchedUpdate => u.set.isEmpty
        case _ => false
      }
    if (needFullRow)
      require(targetCols.forall(srcCols),
        s"mergeActions into $path: UPDATE SET * / INSERT * need a " +
          s"full-row source; missing ${targetCols.filterNot(srcCols)
            .mkString(", ")}")
    else require(keys.forall(srcCols),
      s"mergeActions into $path: source must carry the keys $keys")
  }

  /** The merge's combined-row view of the source: key columns by name,
    * every other source column as `__src_<name>`, plus the match flag
    * the outer join coalesces on.
    */
  private def renamedSource(source: DataFrame, keys: Seq[String]): DataFrame =
    source.select(
      keys.map(col) ++
        source.columns.toSeq.filterNot(keys.contains)
          .map(c => col(c).as(s"__src_$c")) :+
        org.apache.spark.sql.functions.lit(true).as("__graft_matched"): _*)

  /** The INSERT clause's projection over the renamed source frame:
    * `INSERT *` takes the full source row by name; column-level INSERT
    * takes the source's key values (identity — enforced at analysis,
    * see [[InsertSpec]]), the assigned expressions (assignment-cast to
    * the target type), and NULL for every unassigned column. A column
    * taken from the source keeps the table's type: an up-cast (INT into
    * BIGINT) is applied, any other retyping is refused as schema drift
    * — a file of another type under the table's schema would break its
    * later reads (the same fixed-schema contract as
    * [[requireSameColumns]]).
    */
  private def insertProjection(path: String, src: DataFrame,
      spec: InsertSpec, keys: Seq[String], targetCols: Seq[String],
      targetSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.functions.lit
    def fromSource(name: String, c: String) = {
      val (in, ex) = (src.schema(name).dataType, targetSchema(c).dataType)
      require(in == ex || Cast.canUpCast(in, ex),
        s"schema drift on merge into $path: column types differ — " +
          s"$c: ${in.simpleString} vs table ${ex.simpleString}")
      (if (in == ex) col(name) else col(name).cast(ex)).as(c)
    }
    spec.set match {
      case None =>
        src.select(targetCols.map { c =>
          fromSource(if (keys.contains(c)) c else s"__src_$c", c)
        }: _*)
      case Some(as) =>
        src.select(targetCols.map { c =>
          if (keys.contains(c)) fromSource(c, c)
          else as.collectFirst { case (`c`, v) => v }
            .map(_.cast(targetSchema(c).dataType).as(c))
            .getOrElse(lit(null).cast(targetSchema(c).dataType).as(c))
        }: _*)
    }
  }
}
