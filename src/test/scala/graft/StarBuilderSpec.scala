package graft

import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.star.StarBuilder

/** Star-layer units on in-memory ODS-shaped fixtures, covering the
  * reference's edge cases (zero duration `README.md:70`, composite
  * dim_song key `ddl_dds.sql:18`) and the documented deviation (fact
  * keeps zero-duration rows instead of silently dropping them,
  * SURVEY §7.4.5).
  */
class StarBuilderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d1 = Date.valueOf("2024-05-01")
  private val d2 = Date.valueOf("2024-05-02")

  private def ods(rows: (String, String, Int, Int, Int, Date, String)*): DataFrame =
    rows.toSeq.toDF("song_name", "artist_name", "duration_sec",
      "listeners_count", "song_rank", "source_date", "country")

  test("imputePerDate replaces zeros with the per-date half-up mean of nonzeros") {
    val in = ods(
      ("s1", "a1", 0, 10, 1, d1, "US"),
      ("s2", "a1", 100, 9, 2, d1, "US"),
      ("s3", "a2", 101, 8, 3, d1, "US"))
    val out = StarBuilder.imputePerDate(in)
      .select("song_name", "duration_filled").as[(String, Long)].collect().toMap
    // mean(100, 101) = 100.5 -> half-up 101
    assert(out("s1") === 101L)
    assert(out("s2") === 100L)
    assert(out("s3") === 101L)
  }

  test("a date with no nonzero durations imputes to null") {
    val in = ods(
      ("s1", "a1", 0, 10, 1, d1, "US"),
      ("s2", "a1", 0, 9, 2, d1, "US"),
      ("s3", "a2", 50, 9, 1, d2, "US"))
    val out = StarBuilder.imputePerDate(in)
    assert(out.filter($"source_date" === d1 && $"duration_filled".isNull).count() === 2)
    assert(out.filter($"source_date" === d2).select("duration_filled")
      .as[Long].collect().toSeq === Seq(50L))
  }

  test("imputePerDate on an empty day yields an empty result, not a failure") {
    val in = ods()
    assert(StarBuilder.imputePerDate(in).count() === 0)
  }

  test("surrogate ids are dense 1..N in natural-key order") {
    val in = ods(
      ("s", "bravo", 1, 1, 1, d1, "US"),
      ("s", "alpha", 1, 1, 2, d1, "US"),
      ("s", "charlie", 1, 1, 3, d1, "US"),
      ("s", "alpha", 1, 1, 4, d1, "US"))
    val dim = StarBuilder.dimArtist(in)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(dim === Seq((1L, "alpha"), (2L, "bravo"), (3L, "charlie")))
  }

  test("surrogate ids are invariant under input row order") {
    val rows = Seq(
      ("s1", "x", 1, 1, 1, d1, "US"), ("s2", "y", 2, 1, 2, d1, "US"),
      ("s3", "z", 3, 1, 3, d1, "US"), ("s4", "w", 4, 1, 4, d1, "US"))
    val a = StarBuilder.dimArtist(ods(rows: _*)).as[(Long, String)].collect().toSet
    val b = StarBuilder.dimArtist(ods(rows.reverse: _*)).as[(Long, String)].collect().toSet
    assert(a === b)
  }

  test("dim_song keeps the composite (song_name, duration_sec) key") {
    val in = ods(
      ("same", "a", 100, 1, 1, d1, "US"),
      ("same", "a", 200, 1, 2, d1, "US"),
      ("same", "a", 100, 1, 1, d2, "US"))
    val dim = StarBuilder.dimSong(StarBuilder.imputePerDate(in))
    assert(dim.count() === 2)
  }

  test("a date with ONLY zero durations still reaches the fact table (null-safe song join)") {
    val in = ods(
      ("s1", "a1", 0, 10, 1, d1, "US"),
      ("s2", "a1", 0, 9, 2, d1, "US"))
    val filled = StarBuilder.imputePerDate(in)
    val fact = StarBuilder.fact(filled, StarBuilder.dimArtist(filled),
      StarBuilder.dimSong(filled), StarBuilder.dimCountry(filled))
    assert(fact.count() === 2, "NULL imputed durations must not drop fact rows")
  }

  test("dimIncremental treats NULL key components null-safely on replay") {
    val in = ods(
      ("s1", "a1", 0, 10, 1, d1, "US"),
      ("s2", "a1", 0, 9, 2, d1, "US"))
    val cands = StarBuilder.imputePerDate(in)
      .select($"song_name", $"duration_filled".as("duration_sec"))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("song_id",
          org.apache.spark.sql.types.LongType, nullable = false) +:
          cands.schema.fields))
    val v1 = StarBuilder.dimIncremental(empty, cands, "song_id",
      Seq("song_name", "duration_sec"))
    val v2 = StarBuilder.dimIncremental(v1, cands, "song_id",
      Seq("song_name", "duration_sec"))
    assert(v1.count() === 2)
    assert(v2.count() === 2, "replay must not mint new ids for NULL-duration keys")
  }

  test("fact keeps zero-duration rows (fixes the reference's silent data loss)") {
    val in = ods(
      ("s1", "a1", 0, 10, 1, d1, "US"),
      ("s2", "a1", 100, 9, 2, d1, "US"),
      ("s3", "a2", 101, 8, 3, d1, "US"))
    val filled = StarBuilder.imputePerDate(in)
    val fact = StarBuilder.fact(filled, StarBuilder.dimArtist(filled),
      StarBuilder.dimSong(filled), StarBuilder.dimCountry(filled))
    assert(fact.count() === 3)
    // the imputed row joined dim_song on the FILLED duration
    val song = StarBuilder.dimSong(filled).filter($"duration_sec" === 101)
    assert(song.count() === 2) // s1 (imputed to 101) and s3
  }

  test("a load's new keys are numbered exactly as withSurrogateId numbers " +
      "them, from the same base") {
    // NULL first, then UTF-8 byte order: "Ａ" (EF BC A1) sorts before
    // "🎵 song" (F0 9F …), while Java's UTF-16 order puts it after
    val keys = Seq[(String, java.lang.Long)](
      ("🎵 song", 200L), ("Ａ", 100L), (null, 100L), ("Ａ", null),
      ("b", 5L), ("B", 5L), ("", 7L))
      .toDF("song_name", "duration_sec").repartition(3)
    val base = 40L
    val onePass = StarBuilder.numberNewKeys(keys, "song_id",
      Seq("song_name", "duration_sec"), base)
    val distributed = StarBuilder.withSurrogateId(keys, "song_id",
      Seq("song_name", "duration_sec"))
      .withColumn("song_id", col("song_id") + base)
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(onePass.schema.fieldNames.toSeq === distributed.schema.fieldNames.toSeq)
    assert(rows(onePass) === rows(distributed))
    assert(rows(onePass).map(_.head) === (41L to 47L))
    assert(rows(onePass).map(_(1)).take(4) === Seq(null, "", "B", "b"))
    val names = rows(onePass).map(_(1))
    assert(names.indexOf("Ａ") < names.indexOf("🎵 song"))
  }
}
