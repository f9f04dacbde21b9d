package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cross-day product contract: incremental daily runs with stable
  * dim ids, append-only fact, idempotent replays, and mart parity with a
  * full rebuild.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val landing = graft.ingest.OdsBuilder.fixtureRoot
  private lazy val wh = Files.createTempDirectory("graft-wh").toString

  /** Land one `Atlantis` chart for `day` under `root`: (song, artist,
    * duration) tracks ranked in order.
    */
  private def landChart(root: String, day: String,
      tracks: Seq[(String, String, Int)]): Unit = {
    val json = tracks.zipWithIndex.map { case ((song, artist, dur), i) =>
      s"""{"name":"$song","duration":"$dur","listeners":"${10 + i}",
         | "mbid":"m$i","url":"u$i",
         | "streamable":{"#text":"1","fulltrack":"0"},
         | "artist":{"name":"$artist","mbid":"am$i","url":"au$i"},
         | "image":[],"@attr":{"rank":"${i + 1}"}}""".stripMargin
    }.mkString("""{"tracks":{"track":[""", ",", "]}}")
    Files.createDirectories(java.nio.file.Paths.get(root, day))
    Files.writeString(
      java.nio.file.Paths.get(root, day, s"Atlantis_$day.json"), json)
  }

  test("two daily runs build the warehouse incrementally with stable dim ids") {
    Pipeline.runDaily(spark, landing, wh, "2024-05-01")
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh)).count() === 33)
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(wh)).count() === 33)
    val songsDay1 = graft.engine.Manifest.read(spark, Pipeline.dimSongPath(wh))
      .as[(Long, String, Long)].collect().toSet
    val artistsDay1 = graft.engine.Manifest.read(spark, Pipeline.dimArtistPath(wh))
      .as[(Long, String)].collect().toSet

    Pipeline.runDaily(spark, landing, wh, "2024-05-02")
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh)).count() === 66)
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(wh)).count() === 66)

    // serial semantics: every day-1 id survives day 2 unchanged
    val songsDay2 = graft.engine.Manifest.read(spark, Pipeline.dimSongPath(wh))
      .as[(Long, String, Long)].collect().toSet
    assert(songsDay1.subsetOf(songsDay2))
    assert(songsDay2.size > songsDay1.size, "day 2 should add new song keys")
    val artistsDay2 = graft.engine.Manifest.read(spark, Pipeline.dimArtistPath(wh))
      .as[(Long, String)].collect().toSet
    assert(artistsDay2 === artistsDay1, "no new artists on day 2")

    // ids are dense and unique
    val ids = songsDay2.map(_._1)
    assert(ids === (1L to ids.size).toSet)
  }

  test("replaying a day is a no-op for every table") {
    val before = Seq(Pipeline.odsPath(wh), Pipeline.factPath(wh),
      Pipeline.dimSongPath(wh), Pipeline.martRoyaltiesPath(wh))
      .map(p => p -> graft.engine.Manifest.read(spark, p).count()).toMap
    Pipeline.runDaily(spark, landing, wh, "2024-05-02")
    before.foreach { case (p, n) =>
      assert(graft.engine.Manifest.read(spark, p).count() === n, s"replay changed $p")
    }
  }

  test("incremental royalties mart equals the full single-pass rebuild") {
    val incremental = graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(wh))
      .select(col("date").cast("string"), col("artist_name"), col("royalties"))
      .as[(String, String, Double)].collect().toSet
    val fullRebuild = graft.queries.IngestQueries.e2eRoyaltiesQuery.run(spark, "")
      .select(col("date").cast("string"), col("artist_name"), col("royalties"))
      .as[(String, String, Double)].collect().toSet
    assert(incremental === fullRebuild)
  }

  test("backfill runs exactly the missing dates, oldest first, and is then a no-op") {
    val wh2 = Files.createTempDirectory("graft-wh-backfill").toString
    // seed only the SECOND date; backfill must then pick up the first
    Pipeline.runDaily(spark, landing, wh2, "2024-05-02")
    val ran = Pipeline.backfill(spark, landing, wh2)
    assert(ran === Seq("2024-05-01"))
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh2)).count() === 66)
    // warehouse now matches the in-order build (same marts, same rows)
    val royalties = graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(wh2)).count()
    assert(royalties === graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(wh)).count())
    // fully caught up -> nothing to do
    assert(Pipeline.backfill(spark, landing, wh2) === Seq.empty)
  }

  test("backfill repairs a day that crashed after ODS but before the marts") {
    val wh3 = Files.createTempDirectory("graft-wh-repair").toString
    Pipeline.runDaily(spark, landing, wh3, "2024-05-01")
    Pipeline.runDaily(spark, landing, wh3, "2024-05-02")
    // simulate a crash mid-run: day 2's mart commits never happened —
    // roll each mart's manifest back one version, leaving day-2's data
    // files behind as the orphans a real pre-commit crash leaves
    Seq(Pipeline.martRoyaltiesPath(wh3), Pipeline.martAvgPath(wh3),
      Pipeline.martAppearancesPath(wh3)).foreach { m =>
      graft.engine.Manifest.rollback(spark, m,
        graft.engine.Manifest.currentVersion(spark, m).get - 1)
    }
    // done-marker is the LAST-written table, so the day is re-run
    assert(Pipeline.backfill(spark, landing, wh3) === Seq("2024-05-02"))
    assert(graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(wh3))
      .filter(col("date") === "2024-05-02").count() > 0)
    // ODS replay inside the repair appended nothing new
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh3)).count() === 66)
  }

  test("backfill's automatic retry heals a writer that died holding " +
      "the fact-table lease") {
    // The reference's Airflow retry self-heals after a task crash
    // because Postgres MVCC releases a dead connection's locks; our
    // parquet lease must not dead-end the same policy. Simulate the
    // kill -9 aftermath: day 2 crashed after ODS landed but before the
    // star/marts, leaving the fact table's lease held by a dead pid on
    // THIS host.
    val whL = Files.createTempDirectory("graft-wh-lease").toString
    Pipeline.runDaily(spark, landing, whL, "2024-05-01")
    Pipeline.runDaily(spark, landing, whL, "2024-05-02")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(Pipeline.martRoyaltiesPath(whL), Pipeline.martAvgPath(whL),
      Pipeline.martAppearancesPath(whL)).foreach { m =>
      graft.engine.Manifest.rollback(spark, m,
        graft.engine.Manifest.currentVersion(spark, m).get - 1)
    }
    val lease = new org.apache.hadoop.fs.Path(
      Pipeline.factPath(whL) + ".__writer_lease")
    val host = java.net.InetAddress.getLocalHost.getHostName
    val deadPid = Iterator.iterate(4400000L)(_ + 1)
      .find(p => ProcessHandle.of(p).isEmpty).get
    val out = fs.create(lease, false)
    out.write(s"host=$host pid=$deadPid acquired=crash".getBytes("UTF-8"))
    out.close()
    // the automatic-retry path completes the day; no human breakLease
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    assert(Pipeline.backfill(spark, landing, whL, retries = 5,
      retrySleep = delays.append) === Seq("2024-05-02"))
    // acquisition self-heals on the FIRST attempt — no retry burned
    assert(delays.isEmpty)
    assert(!fs.exists(lease))
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(whL)).count() === 66)
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(whL)).count() === 66)
    assert(graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(whL))
      .filter(col("date") === "2024-05-02").count() > 0)
  }

  test("a crash between the dim and fact publishes is healed by " +
      "re-running the day") {
    // The reference's DAG-3 runs dims and fact as separate transactions
    // (`from_ods_to_dds_pg.py`), so a crash between them is a reachable
    // state in both systems; the idempotent re-run must complete the
    // star without duplicating dims, ids, or fact rows.
    val whC = Files.createTempDirectory("graft-wh-dimcrash").toString
    Pipeline.runDaily(spark, landing, whC, "2024-05-01")
    Pipeline.runDaily(spark, landing, whC, "2024-05-02")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // reconstruct the crash state: dims HOLD day-2 entries, but day 2's
    // fact and mart commits never published (manifests rolled back one
    // version; the day-2 files stay behind as pre-commit orphans)
    Seq(Pipeline.martRoyaltiesPath(whC), Pipeline.martAvgPath(whC),
      Pipeline.martAppearancesPath(whC), Pipeline.factPath(whC)).foreach { m =>
      graft.engine.Manifest.rollback(spark, m,
        graft.engine.Manifest.currentVersion(spark, m).get - 1)
    }
    val dimsBefore = Seq(Pipeline.dimSongPath(whC),
      Pipeline.dimArtistPath(whC), Pipeline.dimCountryPath(whC))
      .map(p => p -> graft.engine.Manifest.read(spark, p).collect().map(_.toSeq).toSet)
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(whC)).count() === 33)
    assert(Pipeline.backfill(spark, landing, whC) === Seq("2024-05-02"))
    // star complete again...
    val fact = graft.engine.Manifest.read(spark, Pipeline.factPath(whC))
    assert(fact.count() === 66)
    // ...duplicate-free on the fact natural key...
    assert(fact.select("date", "country_id", "song_rank").distinct()
      .count() === 66)
    // ...and the repair re-derived the SAME dims, byte for byte — ids
    // assigned before the crash stayed stable through the replay
    dimsBefore.foreach { case (p, before) =>
      assert(graft.engine.Manifest.read(spark, p).collect().map(_.toSeq).toSet === before,
        s"repair changed $p")
    }
    // marts restored and keyed uniquely per (date, name)
    val roy = graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(whC))
    assert(roy.filter(col("date") === "2024-05-02").count() > 0)
    assert(roy.select("date", "artist_name").distinct().count() === roy.count())
  }

  test("checked runDaily survives a poison file and persists the quarantine") {
    val wh5 = Files.createTempDirectory("graft-wh-checked").toString
    val land5 = Files.createTempDirectory("graft-landing-poison").toString
    val src = java.nio.file.Paths.get(landing, "2024-05-01")
    val dst = java.nio.file.Paths.get(land5, "2024-05-01")
    Files.createDirectories(dst)
    java.nio.file.Files.list(src).forEach(f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName.toString)))
    // poison lands next to the real files
    java.nio.file.Files.writeString(
      dst.resolve("Atlantis_2024-05-01.json"), """{ "tracks": { "track": [""")
    // strict mode dies on this feed (PERMISSIVE is off); checked survives
    Pipeline.runDaily(spark, land5, wh5, "2024-05-01", checked = true)
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh5)).count() === 33)
    // the quarantine is a plain per-day parquet overwrite, not a
    // manifest-managed table
    val q = spark.read.parquet(s"${Pipeline.quarantinePath(wh5)}/day=2024-05-01")
      .select("reason").as[String].collect().toList
    assert(q === List("malformed_json"))
    // replay: same warehouse, no duplicated quarantine rows
    Pipeline.runDaily(spark, land5, wh5, "2024-05-01", checked = true)
    assert(spark.read.parquet(s"${Pipeline.quarantinePath(wh5)}/day=2024-05-01")
      .count() === 1)
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh5)).count() === 33)
    // unattended catch-up with the same poison: checked backfill routes
    // it instead of aborting (fresh warehouse, both days from landing)
    val day2src = java.nio.file.Paths.get(landing, "2024-05-02")
    val day2dst = java.nio.file.Paths.get(land5, "2024-05-02")
    Files.createDirectories(day2dst)
    java.nio.file.Files.list(day2src).forEach(f =>
      java.nio.file.Files.copy(f, day2dst.resolve(f.getFileName.toString)))
    val wh6 = Files.createTempDirectory("graft-wh-checked-bf").toString
    assert(Pipeline.backfill(spark, land5, wh6, checked = true) ===
      Seq("2024-05-01", "2024-05-02"))
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh6)).count() === 66)
  }

  test("a clean replay after the poison file is removed empties the " +
      "day's quarantine") {
    val whQ = Files.createTempDirectory("graft-wh-requarantine").toString
    val landQ = Files.createTempDirectory("graft-landing-requarantine")
    val d = "2024-05-01"
    val dst = landQ.resolve(d)
    Files.createDirectories(dst)
    Files.list(java.nio.file.Paths.get(landing, d)).forEach(f =>
      Files.copy(f, dst.resolve(f.getFileName.toString)))
    Files.writeString(dst.resolve(s"Atlantis_$d.json"),
      """{ "tracks": { "track": [""")
    Pipeline.runDaily(spark, landQ.toString, whQ, d, checked = true)
    def quarantined() =
      spark.read.parquet(s"${Pipeline.quarantinePath(whQ)}/day=$d").count()
    assert(quarantined() === 1)
    Files.delete(dst.resolve(s"Atlantis_$d.json"))
    Pipeline.runDaily(spark, landQ.toString, whQ, d, checked = true)
    assert(quarantined() === 0)
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(whQ))
      .count() === 33)
  }

  test("a day with new keys keeps the previous dim files live and adds " +
      "only the new keys' rows") {
    val whD = Files.createTempDirectory("graft-wh-dims").toString
    Pipeline.runDaily(spark, landing, whD, "2024-05-01")
    val song = Pipeline.dimSongPath(whD)
    val live1 = graft.engine.Manifest.currentLive(spark, song)
    val rows1 = graft.engine.Manifest.read(spark, song).collect().toSet
    Pipeline.runDaily(spark, landing, whD, "2024-05-02")
    val live2 = graft.engine.Manifest.currentLive(spark, song)
    val rows2 = graft.engine.Manifest.read(spark, song).collect().toSet
    assert(live1.toSet.subsetOf(live2.toSet),
      "the day rewrote dim files that were already live")
    val added = spark.read.parquet(
      (live2.toSet -- live1).toSeq.map(f => s"$song/$f"): _*)
      .collect().toSet
    assert(added.nonEmpty, "day 2 should add new song keys")
    assert(added === rows2 -- rows1)
    assert(rows1.subsetOf(rows2))
  }

  test("a replayed runDaily day commits no new dim version") {
    val whR = Files.createTempDirectory("graft-wh-dims-replay").toString
    val dimVersions = () => Seq(Pipeline.dimArtistPath(whR),
      Pipeline.dimCountryPath(whR), Pipeline.dimSongPath(whR))
      .map(graft.engine.Manifest.currentVersion(spark, _))
    Seq("2024-05-01", "2024-05-02")
      .foreach(Pipeline.runDaily(spark, landing, whR, _))
    val before = dimVersions()
    assert(before.forall(_.isDefined))
    Pipeline.runDaily(spark, landing, whR, "2024-05-02")
    assert(dimVersions() === before)
  }

  test("backfill skips a landed date dir that has no files yet") {
    val wh4 = Files.createTempDirectory("graft-wh-empty").toString
    val land2 = Files.createTempDirectory("graft-landing-empty").toString
    // copy one real day, plus one created-but-unwritten drop dir
    val src = java.nio.file.Paths.get(landing, "2024-05-01")
    val dst = java.nio.file.Paths.get(land2, "2024-05-01")
    Files.createDirectories(dst)
    java.nio.file.Files.list(src).forEach(f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName.toString)))
    Files.createDirectories(java.nio.file.Paths.get(land2, "2024-05-03"))
    assert(Pipeline.backfill(spark, land2, wh4) === Seq("2024-05-01"))
  }

  test("backfill runs a date whose mart files were staged but never committed") {
    // a crash between the royalties mart's stage-in and its FIRST
    // commit leaves a data file no manifest lists; it must not mark the
    // date done, nor leak into the table when the date re-runs
    val whO = Files.createTempDirectory("graft-wh-orphan").toString
    val orphanDir = java.nio.file.Paths.get(
      Pipeline.martRoyaltiesPath(whO), "date=2024-05-01")
    Files.createDirectories(orphanDir)
    Seq(("Orphan Artist", 1.0)).toDF("artist_name", "royalties")
      .coalesce(1).write.parquet(s"$whO/orphan_src")
    val src = Files.list(java.nio.file.Paths.get(s"$whO/orphan_src"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(src, orphanDir.resolve("part-00000-orphan.c000.snappy.parquet"))
    assert(Pipeline.backfill(spark, landing, whO) ===
      Seq("2024-05-01", "2024-05-02"))
    // identical to the uninterrupted build of the same two dates
    def rows(w: String) = graft.engine.Manifest
      .read(spark, Pipeline.martRoyaltiesPath(w))
      .select(col("date").cast("string"), col("artist_name"),
        col("royalties")).as[(String, String, Double)].collect().toSet
    assert(rows(whO) === rows(wh))
    assert(!rows(whO).exists(_._2 == "Orphan Artist"))
  }

  test("after runDaily every table reads manifest-served, with no Spark job") {
    val whZ = Files.createTempDirectory("graft-wh-zerojob").toString
    Pipeline.runDaily(spark, landing, whZ, "2024-05-01")
    // a steady day: every table already has a version to read
    val (_, dayJobs) = TestSpark.jobsDuring(
      Pipeline.runDaily(spark, landing, whZ, "2024-05-02"))
    val inference = dayJobs.filter(_.startsWith("parquet at Manifest.scala"))
    assert(inference.isEmpty,
      s"a steady day ran schema-inference jobs: $inference")
    Seq(Pipeline.odsPath(whZ), Pipeline.dimArtistPath(whZ),
      Pipeline.dimCountryPath(whZ), Pipeline.dimSongPath(whZ),
      Pipeline.factPath(whZ), Pipeline.martAvgPath(whZ),
      Pipeline.martAppearancesPath(whZ),
      Pipeline.martRoyaltiesPath(whZ)).foreach { p =>
      val (indexes, jobs) = TestSpark.jobsDuring {
        val df = graft.engine.Manifest.read(spark, p)
        df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[org.apache.spark.sql.execution
              .datasources.HadoopFsRelation].location.getClass.getSimpleName
        }
      }
      assert(indexes === Seq("ManifestFileIndex"), s"$p: $indexes")
      assert(jobs.isEmpty, s"$p: resolving the read ran Spark jobs $jobs")
    }
  }

  test("a steady runDaily day counts staged rows from footers, not by a job") {
    val whS = Files.createTempDirectory("graft-wh-steady").toString
    Pipeline.runDaily(spark, landing, whS, "2024-05-01")
    // a new date meets no live partition: the five upserts (ODS, fact,
    // three marts) commit their staged write with no read-back, and
    // staged rows are counted from parquet footers, not by a job
    val (_, actions) = TestSpark.actionsDuring(
      Pipeline.runDaily(spark, landing, whS, "2024-05-02"))
    val counts = actions.filter(_ == "count")
    assert(counts.isEmpty, s"a steady day ran ${counts.size} count actions")
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(whS))
      .count() === 66)
  }

  test("runDaily hands the reader resolved files: no missing-path warning") {
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    val logger = org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
      .asInstanceOf[CoreLogger]
    val warned = scala.collection.mutable.ArrayBuffer.empty[String]
    val capture = new org.apache.logging.log4j.core.appender
        .AbstractAppender("capture-file-stream-sink", null, null, true,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(
            org.apache.logging.log4j.Level.WARN))
          warned.synchronized {
            warned += e.getMessage.getFormattedMessage
          }
    }
    val level = logger.getLevel
    capture.start()
    logger.addAppender(capture)
    logger.setLevel(org.apache.logging.log4j.Level.WARN)
    try {
      val whW = Files.createTempDirectory("graft-wh-warn").toString
      Pipeline.runDaily(spark, landing, whW, "2024-05-01")
      Pipeline.runDaily(spark, landing, whW, "2024-05-02", checked = true)
    } finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    assert(warned.synchronized(warned.toList).isEmpty)
  }

  test("runDaily of a date with no landed JSON still fails loudly") {
    val whE = Files.createTempDirectory("graft-wh-nojson").toString
    Seq(false, true).foreach { checked =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Pipeline.runDaily(spark, landing, whE, "2030-01-01", checked))
      assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    }
  }

  test("a dim's id base is the max live id: read from footers after a " +
      "compaction, scanned past a deletion vector") {
    import graft.engine.{Compaction, FileStats, Manifest, Upsert}
    val land = Files.createTempDirectory("graft-landing-idbase").toString
    val days = Seq("2009-03-01", "2009-03-02", "2009-03-03", "2009-03-04")
    days.zip(Seq("SongB", "SongC", "SongD", "SongE")).foreach {
      case (d, song) => landChart(land, d,
        Seq(("SongA", "ArtA", 200), (song, "ArtB", 100 + d.takeRight(1).toInt)))
    }
    val whI = Files.createTempDirectory("graft-wh-idbase").toString
    val song = Pipeline.dimSongPath(whI)
    def ids() = Manifest.read(spark, song).select("song_name", "song_id")
      .as[(String, Long)].collect().toMap
    def run(d: String) = Pipeline.runDaily(spark, land, whI, d,
      autoCompactPolicy = Compaction.AutoPolicy(minFiles = 2))
    run(days(0))
    run(days(1))
    // day 2's append made dim_song's second file and the pass folded
    // the two into one; day 2 added no country, so no country commit
    assert(Manifest.currentLive(spark, song).size === 1)
    assert(Manifest.versions(spark, Pipeline.dimCountryPath(whI)).size === 1)
    val v2 = Manifest.currentVersion(spark, song).get
    assert(FileStats.liveMax(spark, song, v2, "song_id") === Some(3L))
    run(days(2))
    assert(ids()("SongD") === 4L)
    // a merge-on-read delete of the max-id row leaves a deletion vector:
    // the footers still say 4, so the base falls back to a scan
    assert(Upsert.deleteWhereMor(spark, song, col("song_name") === "SongD") === 1L)
    val v4 = Manifest.currentVersion(spark, song).get
    assert(Manifest.dvsAsOf(spark, song, v4).nonEmpty)
    assert(FileStats.liveMax(spark, song, v4, "song_id") === None)
    val scanned = Manifest.read(spark, song).agg(max("song_id")).head().getLong(0)
    run(days(3))
    assert(ids()("SongE") === scanned + 1)
  }

  test("a steady runDaily day runs at most 28 Spark jobs") {
    // 41 before the day slice was materialized once, dim ids numbered
    // in one pass and the artist marts shared one aggregate: ingest 2,
    // dims 19, fact 6, marts 14. Now: ingest 2, the slice 3, dims 10
    // (no write for the dim that gains no key), fact 4, marts 9.
    val land = Files.createTempDirectory("graft-landing-jobs").toString
    landChart(land, "2009-04-01", Seq(("S1", "A1", 200), ("S2", "A2", 0)))
    landChart(land, "2009-04-02", Seq(("S1", "A1", 200), ("S3", "A2", 150)))
    landChart(land, "2009-04-03",
      Seq(("S1", "A1", 200), ("S4", "A3", 180), ("S5", "A2", 0)))
    val whJ = Files.createTempDirectory("graft-wh-jobs").toString
    Seq("2009-04-01", "2009-04-02").foreach(Pipeline.runDaily(spark, land, whJ, _))
    // the third day adds songs and an artist, but no country
    val (_, jobs) = TestSpark.jobsDuring(
      Pipeline.runDaily(spark, land, whJ, "2009-04-03"))
    assert(jobs.size <= 28, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(graft.engine.Manifest.read(spark, Pipeline.dimSongPath(whJ))
      .count() === 5)
  }

  test("a checked day runs under reliable checkpointing") {
    val ckpt = Files.createTempDirectory("graft-ckpt-reliable").toString
    val whR = Files.createTempDirectory("graft-wh-reliable").toString
    val landR = Files.createTempDirectory("graft-landing-reliable")
    val d = "2024-05-01"
    Files.createDirectories(landR.resolve(d))
    Files.list(java.nio.file.Paths.get(landing, d)).forEach(f =>
      Files.copy(f, landR.resolve(d).resolve(f.getFileName.toString)))
    Files.writeString(landR.resolve(d).resolve(s"Atlantis_$d.json"),
      """{ "tracks": { "track": [""")
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(graft.engine.Checkpoints.ConfKey, "reliable")
    try Pipeline.runDaily(spark, landR.toString, whR, d, checked = true)
    finally spark.conf.unset(graft.engine.Checkpoints.ConfKey)
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(whR))
      .count() === 33)
    assert(spark.read.parquet(s"${Pipeline.quarantinePath(whR)}/day=$d")
      .select("reason").as[String].collect().toList === List("malformed_json"))
    // the raw day, the day slice and the artist aggregate went to the
    // checkpoint directory, not to executor-local blocks
    val written = Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(Files.isRegularFile(_)).count()
    assert(written > 0, s"reliable mode wrote no checkpoint files under $ckpt")
  }
}
