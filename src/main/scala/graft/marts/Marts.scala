package graft.marts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DM-layer aggregate marts — the Spark restatement of the reference's
  * `from_dds_to_dm_pg` DAG (`dags/from_dds_to_dm_pg.py:42-81`,
  * `scripts/ddl_dm.sql`).
  *
  * Numeric discipline: PG computes these in `numeric`; we compute in exact
  * integer math and convert to DOUBLE only at the end, so results
  * hash-match a decimal oracle bit-for-bit (SURVEY.md §7.4.3).
  *
  * No mart sorts its output: a parquet table keeps no row order, and
  * every consumer (the oracle diff, the daily gate) compares rows as a
  * set. The two artist marts group the same `fact ⋈ dim_artist` by
  * (date, artist_name), so both are projections of one aggregate
  * ([[artistDayTotals]]), which the daily pipeline materializes once.
  */
object Marts {

  /** `dm.avg_song_duration_by_country` (A5 + J2,
    * `from_dds_to_dm_pg.py:45-53`): fact ⋈ dim_song ⋈ dim_country,
    * AVG(duration_sec) per (date, country_name). Dims broadcast.
    */
  def avgSongDurationByCountry(fact: DataFrame, dimSong: DataFrame,
      dimCountry: DataFrame): DataFrame =
    // dim_song is data-scaled: no broadcast hint — AQE decides from
    // measured size. dim_country is bounded: always broadcast.
    fact.join(dimSong, Seq("song_id"))
      .join(broadcast(dimCountry), Seq("country_id"))
      .groupBy(col("date"), col("country_name"))
      .agg((sum(col("duration_sec")).cast("double") /
        count(col("duration_sec"))).as("avg_duration_sec"))

  /** `dm.artist_appearances_by_date` (A6 + J3,
    * `from_dds_to_dm_pg.py:57-66`): COUNT(*) per (date, artist_name).
    */
  def artistAppearancesByDate(fact: DataFrame, dimArtist: DataFrame): DataFrame =
    fact.join(dimArtist, Seq("artist_id"))
      .groupBy(col("date"), col("artist_name"))
      .agg(count(lit(1)).as("cnt_appearance"))

  /** `dm.expected_artist_royalties_by_date` (A7 + J4 + W2,
    * `from_dds_to_dm_pg.py:70-81`): ROUND(SUM(listeners_count) * 0.003, 2).
    */
  def expectedArtistRoyaltiesByDate(fact: DataFrame, dimArtist: DataFrame): DataFrame =
    royaltiesOf(artistDayTotals(fact, dimArtist))

  /** Both artist marts' one aggregate: per (date, artist_name) of
    * `fact ⋈ dim_artist`, `cnt_appearance` = COUNT(*) and `listeners` =
    * SUM(listeners_count).
    */
  def artistDayTotals(fact: DataFrame, dimArtist: DataFrame): DataFrame =
    fact.join(dimArtist, Seq("artist_id"))
      .groupBy(col("date"), col("artist_name"))
      .agg(count(lit(1)).as("cnt_appearance"),
        sum(col("listeners_count")).as("listeners"))

  /** [[artistAppearancesByDate]] projected from [[artistDayTotals]]. */
  def appearancesOf(totals: DataFrame): DataFrame =
    totals.select(col("date"), col("artist_name"), col("cnt_appearance"))

  /** [[expectedArtistRoyaltiesByDate]] projected from
    * [[artistDayTotals]]. 0.003/listen per `ddl_dm.sql:17`. Exact route:
    * thousandths = sum*3, cents = round-half-up(thousandths/10) =
    * (sum*3+5) div 10, then /100 as double — reproduces PG numeric ROUND
    * half-away-from-zero exactly.
    */
  def royaltiesOf(totals: DataFrame): DataFrame =
    totals.select(col("date"), col("artist_name"),
      (call_function("div", col("listeners") * 3 + 5, lit(10L))
        .cast("double") / 100).as("royalties"))
}
