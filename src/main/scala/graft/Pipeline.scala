package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.Upsert
import graft.ingest.OdsBuilder
import graft.marts.Marts
import graft.star.StarBuilder

/** The product facade: one call per day ≙ the reference's whole 4-DAG
  * chain (`raw landing → ods.daily_data → dds star → dm marts`,
  * `README.md:56-59`), with the reference's cross-day semantics:
  * append-only ODS/fact keyed by their unique constraints, append-only
  * dims with stable `serial`-style ids ([[StarBuilder.newDimRows]]),
  * idempotent mart refresh per date. Every write is a keyed upsert
  * or a staged overwrite — re-running any day is a no-op
  * (PipelineSpec).
  *
  * Scale notes: the day's ingest lists only that date's landing prefix;
  * ODS and fact are date-partitioned (downstream date predicates prune);
  * dims append only the day's unseen keys, so no daily write rewrites a
  * whole table. Every table write stages outside the table and lands
  * through one manifest commit, so readers never see a half-written
  * table. The checked ingest's quarantine is the one side output
  * outside the manifest: a plain per-day parquet overwrite.
  *
  * A day is a small batch, so its fixed Spark work decides its cost:
  * the day's imputed slice is materialized once
  * ([[engine.Checkpoints.withIter]]) and feeds the three dims and the
  * fact; a dim's id base comes from parquet footers, and its new keys
  * are numbered in one pass on the driver; the two artist marts share
  * one materialized aggregate, and no mart sorts what it writes.
  */
object Pipeline {

  private val OdsKeys = Seq("song_rank", "source_date", "country")

  def odsPath(wh: String) = s"$wh/ods_daily_data"
  def dimArtistPath(wh: String) = s"$wh/dds_dim_artist"
  def dimCountryPath(wh: String) = s"$wh/dds_dim_country"
  def dimSongPath(wh: String) = s"$wh/dds_dim_song"
  def factPath(wh: String) = s"$wh/dds_fact_daily_top_100"
  def martAvgPath(wh: String) = s"$wh/dm_avg_song_duration_by_country"
  def martAppearancesPath(wh: String) = s"$wh/dm_artist_appearances_by_date"
  def martRoyaltiesPath(wh: String) = s"$wh/dm_expected_artist_royalties_by_date"
  def quarantinePath(wh: String) = s"$wh/ingest_quarantine"

  /** Run one day end-to-end. `landingRoot` holds
    * `{date}/{country}_{date}.json` raw files ([[ingest.RawFeed.land]]).
    *
    * `checked = true` runs the poison-tolerant ingest
    * ([[OdsBuilder.ingestChecked]]): malformed/mis-shaped documents and
    * unparseable tracks land in the `ingest_quarantine` table
    * (src_file, reason, detail; the day lives in the `day=` partition
    * dir) instead of failing the day; on a clean feed the two modes
    * produce identical ODS rows (`lastfm_ingest_checked` oracle). The
    * quarantine write is an idempotent per-day overwrite — replays
    * don't duplicate reject rows, and a replay with nothing to reject
    * empties the day.
    */
  def runDaily(spark: SparkSession, landingRoot: String, warehouse: String,
      date: String, checked: Boolean = false,
      autoCompactPolicy: engine.Compaction.AutoPolicy =
        engine.Compaction.AutoPolicy(),
      annIndexes: Seq[(String, String)] = Nil,
      annStaleness: Double = 0.5): Unit = {
    // 1. ingest ONLY the day's prefix (the reference's date-scoped key
    //    listing, `transformed_from_s3_to_pg.py:22-25`) → idempotent ODS
    val day =
      if (!checked)
        OdsBuilder.toOds(OdsBuilder.readRaw(spark, landingRoot, s"$date/*.json"))
      else {
        val res = OdsBuilder.ingestChecked(spark, landingRoot, s"$date/*.json")
        // the day is carried by the partition dir alone — a column too
        // would put the same fact under two names on read-back
        res.quarantine.write.mode("overwrite")
          .parquet(s"${quarantinePath(warehouse)}/day=$date")
        res.ods
      }
    Upsert.upsertPartitioned(spark, odsPath(warehouse), day, OdsKeys, "source_date")

    // 2. the day's warehouse rows (post-dedup) → imputation (per-date, so
    //    day-local equals global), materialized once: the three dims and
    //    the fact all read this one slice
    engine.Checkpoints.withIter(StarBuilder.imputePerDate(
        graft.engine.Manifest.read(spark, odsPath(warehouse))
          .filter(col("source_date") === lit(date).cast("date")))) { filled =>
      // 3. dims: append-only with stable ids
      val dimArtist = upsertDim(spark, dimArtistPath(warehouse),
        filled.select(col("artist_name")), "artist_id", Seq("artist_name"))
      val dimCountry = upsertDim(spark, dimCountryPath(warehouse),
        filled.select(col("country").as("country_name")),
        "country_id", Seq("country_name"))
      val dimSong = upsertDim(spark, dimSongPath(warehouse),
        filled.select(col("song_name"), col("duration_filled").as("duration_sec")),
        "song_id", Seq("song_name", "duration_sec"))

      // 4. fact for the date, keyed (date, country_id, song_rank)
      val fact = StarBuilder.fact(filled, dimArtist, dimSong, dimCountry)
      Upsert.upsertPartitioned(spark, factPath(warehouse), fact,
        Seq("date", "country_id", "song_rank"), "date")

      // 5. marts for the date (idempotent per-date refresh — fixes the
      //    reference's duplicate-on-rerun DM inserts, SURVEY §7.4.5); the
      //    two artist marts project one materialized aggregate
      val dayFact = graft.engine.Manifest.read(spark, factPath(warehouse))
        .filter(col("date") === lit(date).cast("date"))
      Upsert.upsertPartitioned(spark, martAvgPath(warehouse),
        Marts.avgSongDurationByCountry(dayFact, dimSong, dimCountry),
        Seq("date", "country_name"), "date")
      engine.Checkpoints.withIter(
          Marts.artistDayTotals(dayFact, dimArtist)) { totals =>
        Upsert.upsertPartitioned(spark, martAppearancesPath(warehouse),
          Marts.appearancesOf(totals), Seq("date", "artist_name"), "date")
        Upsert.upsertPartitioned(spark, martRoyaltiesPath(warehouse),
          Marts.royaltiesOf(totals), Seq("date", "artist_name"), "date")
      }
    }

    // 6. one atomic publication pinning the day's consistent star
    //    (ODS + dims + fact + marts): a reader resolving the
    //    publication mid-load of the NEXT day still sees THIS day's
    //    coherent set — the cross-table transactionality the reference
    //    gets from Postgres ([[engine.Publication]])
    engine.Publication.publish(spark, warehouse, Seq(
      odsPath(warehouse), dimArtistPath(warehouse),
      dimCountryPath(warehouse), dimSongPath(warehouse),
      factPath(warehouse), martAvgPath(warehouse),
      martAppearancesPath(warehouse), martRoyaltiesPath(warehouse))
      .map(_.stripPrefix(s"$warehouse/")))

    // 7. self-healing maintenance (round 13): the daily appends leave a
    //    few small files per table per day; once an accumulating table
    //    (ODS, fact, or a dim that gains keys most days) trips the
    //    small-file policy (~16 daily commits at defaults), ONE
    //    lease-guarded compaction pass rewrites it at target size —
    //    snapshot-isolated, so readers (and the publication pinned above,
    //    which names VERSIONS) are untouched. The reference would need a
    //    separate maintenance DAG.
    Seq(odsPath(warehouse) -> Some("source_date"),
      factPath(warehouse) -> Some("date"), dimArtistPath(warehouse) -> None,
      dimCountryPath(warehouse) -> None, dimSongPath(warehouse) -> None)
      .foreach { case (table, partitionCol) =>
        engine.Compaction.autoCompact(spark, table,
          partitionCol = partitionCol, policy = autoCompactPolicy)
      }
    // 8. ANN indexes riding this pipeline's tables reindex themselves
    //    once their corpus outgrows the build (round 18 — the policy
    //    half of round 17's reindex verb: the staleness check is one
    //    metadata read, the rebuild fires only past the threshold and
    //    swaps probe-continuously)
    annIndexes.foreach { case (srcPath, indexRoot) =>
      engine.AnnIndex.reindexIfStale(spark, srcPath, indexRoot,
        annStaleness)
    }
    ()
  }

  /** Optional relational landing for the day's marts — the reference's
    * Postgres contract (`transformed_from_s3_to_pg.py:143-152`) behind
    * any JDBC url ([[engine.JdbcSink]]). Parquet stays the system of
    * record; this publishes the three date-scoped mart slices out to a
    * row store (BI/serving), idempotently per date — replaying a day
    * replaces its rows instead of duplicating them (the reference's raw
    * INSERTs duplicate on re-run; SURVEY §7.4.5).
    */
  def publishMartsJdbc(spark: SparkSession, warehouse: String, url: String,
      date: String,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val d = java.sql.Date.valueOf(date)
    Seq(
      martAvgPath(warehouse) -> "dm_avg_song_duration_by_country",
      martAppearancesPath(warehouse) -> "dm_artist_appearances_by_date",
      martRoyaltiesPath(warehouse) -> "dm_expected_artist_royalties_by_date")
      .foreach { case (path, table) =>
        val slice = graft.engine.Manifest.read(spark, path)
          .filter(col("date") === lit(date).cast("date"))
        graft.engine.JdbcSink.publishMart(slice, url, table, "date", d, props)
      }
  }

  /** Catch-up driver: run every landed date the warehouse hasn't FULLY
    * processed yet, oldest first (dims must grow in day order for stable
    * ids — the reference's `catchup=False` simply loses missed days;
    * `ExternalTaskSensor` ordering is call order here). "Done" is read
    * from the LIVE partitions of the royalties mart's manifest — the
    * LAST table [[runDaily]] writes — so a run that crashed partway
    * (ODS landed, star/marts missing, or mart files staged in but never
    * committed) is correctly re-run, not skipped;
    * every write is an idempotent upsert, so the repair replays safely.
    * Planning is a file listing, O(days), not a data scan. Landed dirs
    * with no JSON files yet (created-but-unwritten drops) are skipped
    * this round instead of aborting the whole catch-up. `checked`
    * passes through to [[runDaily]] — unattended catch-up is exactly
    * where poison shows up, so routing it to quarantine instead of
    * aborting every later date is usually what you want. Returns the
    * dates actually run.
    *
    * `retries` > 0 re-runs a failed date through [[graft.engine.Retry]]
    * (the reference's 5×5-min per-task policy,
    * `dags/raw_from_api_to_s3.py:58-62`) — safe because every write in
    * [[runDaily]] is an idempotent upsert/overwrite; `retrySleep` is
    * injectable for tests. Default stays 0: interactive callers usually
    * want the failure NOW, unattended schedulers opt in.
    */
  def backfill(spark: SparkSession, landingRoot: String,
      warehouse: String, checked: Boolean = false, retries: Int = 0,
      retryDelayMs: Long = graft.engine.Retry.DefaultDelayMs,
      retrySleep: Long => Unit = Thread.sleep): Seq[String] = {
    val datePat = "\\d{4}-\\d{2}-\\d{2}".r
    val conf = spark.sparkContext.hadoopConfiguration
    def ls(path: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    }
    def hasJson(date: String): Boolean =
      OdsBuilder.landedFiles(spark, s"$landingRoot/$date/*.json").nonEmpty
    val landed = ls(landingRoot).filter(datePat.matches(_)).filter(hasJson)
    // "done" comes from the royalties mart's LIVE snapshot partitions
    // (manifest-aware, round 11): a raw directory listing would count a
    // crashed writer's uncommitted orphan files as a finished day and
    // skip the repair
    val done = graft.engine.Manifest
      .livePartitions(spark, martRoyaltiesPath(warehouse))
      .filter(_.startsWith("date="))
      .map(_.stripPrefix("date="))
    val todo = (landed.toSet -- done.toSet).toSeq.sorted
    todo.foreach { date =>
      graft.engine.Retry.withRetries(
        attempts = retries + 1, delayMs = retryDelayMs, sleep = retrySleep)(
        runDaily(spark, landingRoot, warehouse, date, checked))
    }
    todo
  }

  /** Append the dim's unseen keys ([[StarBuilder.newDimRows]]) as one
    * snapshot commit and return the dim after it — `INSERT … ON
    * CONFLICT DO NOTHING` into a `serial` table. Existing rows and
    * their files stay as they are; a day with no new keys runs no write
    * job and commits nothing. The new keys are numbered on the driver
    * and written as one file. The append stages them outside the table
    * before moving them in, so a crash before the commit leaves only
    * unreferenced files behind (replay-safe; `Manifest.vacuum` collects
    * them). The writer lease keeps the id base and the append one step.
    *
    * The id base is max(id) over the live rows. It is read from the
    * live files' parquet footers with no Spark job
    * ([[engine.FileStats.liveMax]]) under its precondition: every live
    * file carries the id column's statistic and the version binds no
    * deletion vector (a deleted row's id would otherwise raise the
    * base). When that fails, a scan of the dim finds it.
    */
  private def upsertDim(spark: SparkSession, path: String,
      candidates: DataFrame, idCol: String, keys: Seq[String]): DataFrame =
      graft.engine.WriterLease.withLease(spark, path) {
    val v = graft.engine.Manifest.currentVersion(spark, path)
    val existing = readOrEmpty(spark, path, v, candidates, idCol, keys)
    val base = v.fold(0L) { cur =>
      engine.FileStats.liveMax(spark, path, cur, idCol)
        .getOrElse(StarBuilder.maxId(existing, idCol))
    }
    val added = StarBuilder.newDimRows(existing, candidates, idCol, keys, base)
    if (!added.isEmpty) Upsert.append(spark, path, added.coalesce(1), None)
    readOrEmpty(spark, path, graft.engine.Manifest.currentVersion(spark, path),
      candidates, idCol, keys)
  }

  /** The dim at version `v`, or an empty dim when it has no committed
    * version yet (orphans of a crashed first write included).
    */
  private def readOrEmpty(spark: SparkSession, path: String, v: Option[Long],
      candidates: DataFrame, idCol: String, keys: Seq[String]): DataFrame =
    v.map(graft.engine.Manifest.readAsOf(spark, path, _)).getOrElse {
      val keySchema = StructType(candidates.select(keys.map(col): _*).schema
        .fields.map(_.copy(nullable = true)))
      val schema = StructType(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType, nullable = false) +: keySchema.fields)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
}
