package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Compaction, FileStats, Manifest, Upsert}

/** Auto-compaction ([[Compaction.autoCompact]], round 13): the
  * small-file policy trips only past its thresholds, the pass shrinks
  * the file count without changing a row, clustering keeps stats
  * envelopes tight (plan-time skipping still prunes), pre-compaction
  * snapshots stay readable, and `runDaily` wires the hook so the daily
  * pipeline self-heals its own append debt.
  */
class AutoCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-autoc").resolve("t").toString

  private val d1 = Date.valueOf("2024-07-01")

  private def seedSmall(p: String, n: Int): Unit =
    (1 to n).foreach(i => Upsert.append(spark, p,
      Seq((i, d1, i * 10L)).toDF("k", "d", "cents"), Some("d")))

  test("policy trips only at the thresholds; compaction preserves rows") {
    val p = tmp(); seedSmall(p, 6)
    // below minFiles: no pass
    assert(Compaction.autoCompact(spark, p, Some("d"),
      policy = Compaction.AutoPolicy(minFiles = 10)).isEmpty)
    // small files below the fraction: no pass (these KB files are all
    // "small" at the default 64MB bound, so bound smallBytes DOWN)
    assert(Compaction.autoCompact(spark, p, Some("d"),
      policy = Compaction.AutoPolicy(minFiles = 4, smallBytes = 1)).isEmpty)
    val before = Manifest.currentLive(spark, p).size
    val sum = Manifest.read(spark, p)
      .agg(org.apache.spark.sql.functions.sum("cents")).as[Long].head()
    // trips: >= 4 files, all under 64MB
    val Some((nb, na)) = Compaction.autoCompact(spark, p, Some("d"),
      policy = Compaction.AutoPolicy(minFiles = 4))
    assert(nb === before.toLong && na < nb)
    assert(Manifest.currentLive(spark, p).size.toLong === na)
    assert(Manifest.read(spark, p)
      .agg(org.apache.spark.sql.functions.sum("cents")).as[Long].head()
      === sum)
    // a second pass right after is a no-op: the compacted files are no
    // longer many/small enough
    assert(Compaction.autoCompact(spark, p, Some("d"),
      policy = Compaction.AutoPolicy(minFiles = 4)).isEmpty)
  }

  test("DV debt trips auto-compaction before the broadcast cap refuses") {
    // round-18 policy dimension: a merge-on-read delete trickle grows
    // DV rows on large, HEALTHY-sized files — the small-file rules
    // never fire, and pre-round-18 the user's first signal was the
    // hard spark.graft.dml.dv.maxRows refusal. The DV trip reads the
    // #dv manifest headers (zero data I/O), ignores minFiles, and
    // absorbs via the standard compact pass.
    val p = tmp()
    Upsert.upsertPartitioned(spark, p,
      (1 to 40).map(i => (i, d1, i * 10L)).toDF("k", "d", "cents")
        .coalesce(1), Seq("k", "d"), "d")
    spark.conf.set("spark.graft.dml.dv.maxRows", "20")
    try {
      // 2 files total — far below any small-file minFiles threshold
      assert(Manifest.currentLive(spark, p).size < 16)
      Upsert.deleteWhereMor(spark, p, col("k") % 10 === 1) // 4 DV rows
      // 4/20 = 20% < 50%: policy must NOT trip yet
      assert(Compaction.autoCompact(spark, p, Some("d"),
        policy = Compaction.AutoPolicy(dvRowsFraction = 0.5)).isEmpty)
      Upsert.deleteWhereMor(spark, p, col("k") % 10 === 2) // 8 total
      Upsert.deleteWhereMor(spark, p, col("k") % 10 === 3) // 12 total
      // 12/20 = 60% >= 50%: absorb fires despite healthy file count
      val Some((_, _)) = Compaction.autoCompact(spark, p, Some("d"),
        policy = Compaction.AutoPolicy(dvRowsFraction = 0.5))
      val v = Manifest.currentVersion(spark, p).get
      assert(Manifest.dvsAsOf(spark, p, v).isEmpty,
        "absorb must retire every DV pointer")
      assert(Manifest.read(spark, p).count() === 28L)
      // and the next delete has full cap headroom again
      assert(Upsert.deleteWhereMor(spark, p, col("k") % 10 === 4) === 4L)
      // dvRowsFraction <= 0 disables the dimension
      assert(Compaction.autoCompact(spark, p, Some("d"),
        policy = Compaction.AutoPolicy(dvRowsFraction = 0.0)).isEmpty)
    } finally spark.conf.unset("spark.graft.dml.dv.maxRows")
  }

  test("clustered auto-compaction keeps envelopes tight: skipping still prunes") {
    val p = tmp()
    // 8 appends, each spanning the FULL key range — pre-compaction
    // envelopes are useless for skipping
    (0 until 8).foreach(i => Upsert.append(spark, p,
      (1 to 500).map(j => (j.toLong, (i * 500 + j).toLong)).toDF("k", "m"),
      None))
    val Some((_, na)) = Compaction.autoCompact(spark, p,
      targetBytesPerFile = 4096, statsCols = Seq("k"),
      clusterBy = Seq("k"),
      policy = Compaction.AutoPolicy(minFiles = 4))
    assert(na > 1, s"need multiple output files to prove pruning, got $na")
    val (kept, total) = Manifest.planSkipping(spark, p,
      Seq(("k", 1.0, 20.0)))
    assert(total.toLong === na)
    assert(kept.size < total,
      s"clustered envelopes should prune the k<=20 scan: $kept of $total")
    // and the data is intact under the pinned snapshot discipline
    assert(Manifest.read(spark, p).count() === 4000)
  }

  test("pre-compaction snapshots stay readable (snapshot isolation)") {
    val p = tmp(); seedSmall(p, 5)
    val v = Manifest.currentVersion(spark, p).get
    val pre = Manifest.readAsOf(spark, p, v).select("k").as[Int]
      .collect().toSet
    assert(Compaction.autoCompact(spark, p, Some("d"),
      policy = Compaction.AutoPolicy(minFiles = 4)).isDefined)
    assert(Manifest.readAsOf(spark, p, v).select("k").as[Int]
      .collect().toSet === pre)
    assert(Manifest.currentVersion(spark, p).get === v + 1)
  }

  test("runDaily self-heals: a tight policy fires the pass inside the " +
      "daily run") {
    val landing = Files.createTempDirectory("graft-autoc-land").toString
    val wh = Files.createTempDirectory("graft-autoc-wh").toString
    val day = "2009-03-01"
    val json =
      """{"tracks":{"track":[
        |{"name":"SongA","duration":"200","listeners":"10",
        | "mbid":"m1","url":"u","streamable":{"#text":"1","fulltrack":"0"},
        | "artist":{"name":"ArtA","mbid":"am1","url":"au"},
        | "image":[],"@attr":{"rank":"1"}},
        |{"name":"SongB","duration":"100","listeners":"20",
        | "mbid":"m2","url":"u2","streamable":{"#text":"1","fulltrack":"0"},
        | "artist":{"name":"ArtB","mbid":"am2","url":"au2"},
        | "image":[],"@attr":{"rank":"2"}}
        |]}}""".stripMargin
    val dir = new java.io.File(s"$landing/$day")
    dir.mkdirs()
    val w = new java.io.PrintWriter(s"$landing/$day/Atlantis_$day.json")
    try w.write(json) finally w.close()
    // a policy that trips on anything: the single day's ODS/fact commits
    // are already enough files
    Pipeline.runDaily(spark, landing, wh, day,
      autoCompactPolicy = Compaction.AutoPolicy(
        minFiles = 1, smallFraction = 0.0))
    // compaction committed a SECOND version on top of the day's upsert
    val odsV = Manifest.versions(spark, s"$wh/ods_daily_data")
    assert(odsV.size >= 2,
      s"expected the ODS upsert + an auto-compaction commit, got $odsV")
    // and the day's rows are intact
    assert(Manifest.read(spark, s"$wh/ods_daily_data").count() === 2)
  }

  test("runDaily compacts an append-only dim; its rows and ids stay " +
      "byte-equal") {
    val landing = Files.createTempDirectory("graft-autoc-dim-land").toString
    // one country; day 2 repeats day 1's songs (no new dim key), day 3
    // adds SongC — the second file of dim_song
    def land(day: String, songs: Seq[(String, Int)]): Unit = {
      val tracks = songs.zipWithIndex.map { case ((name, dur), i) =>
        s"""{"name":"$name","duration":"$dur","listeners":"${10 + i}",
           | "mbid":"m$i","url":"u$i",
           | "streamable":{"#text":"1","fulltrack":"0"},
           | "artist":{"name":"ArtA","mbid":"am1","url":"au"},
           | "image":[],"@attr":{"rank":"${i + 1}"}}""".stripMargin
      }
      new java.io.File(s"$landing/$day").mkdirs()
      val w = new java.io.PrintWriter(s"$landing/$day/Atlantis_$day.json")
      try w.write(tracks.mkString("""{"tracks":{"track":[""", ",", "]}}"))
      finally w.close()
    }
    val days = Seq("2009-03-01", "2009-03-02", "2009-03-03")
    land(days(0), Seq("SongA" -> 200, "SongB" -> 100))
    land(days(1), Seq("SongA" -> 200, "SongB" -> 100))
    land(days(2), Seq("SongA" -> 200, "SongB" -> 100, "SongC" -> 300))
    val tight = Files.createTempDirectory("graft-autoc-dim-tight").toString
    val plain = Files.createTempDirectory("graft-autoc-dim-plain").toString
    val song = (wh: String) => s"$wh/dds_dim_song"
    def run(wh: String, day: String, policy: Compaction.AutoPolicy) =
      Pipeline.runDaily(spark, landing, wh, day, autoCompactPolicy = policy)
    days.foreach(run(plain, _, Compaction.AutoPolicy()))
    run(tight, days(0), Compaction.AutoPolicy(minFiles = 2))
    run(tight, days(1), Compaction.AutoPolicy(minFiles = 2))
    // no new key on day 2: no dim commit, so nothing to compact
    assert(Manifest.versions(spark, song(tight)).size === 1)
    run(tight, days(2), Compaction.AutoPolicy(minFiles = 2))
    // day 3's append made two files, and the pass folded them into one
    assert(Manifest.versions(spark, song(tight)).size === 3)
    assert(Manifest.currentLive(spark, song(tight)).size === 1)
    assert(Manifest.currentLive(spark, song(plain)).size === 2)
    def rows(wh: String) = Manifest.read(spark, song(wh))
      .as[(Long, String, Long)].collect().toSet
    assert(rows(tight) === rows(plain))
    assert(rows(tight) === Set((1L, "SongA", 200L), (2L, "SongB", 100L),
      (3L, "SongC", 300L)))
  }
}
