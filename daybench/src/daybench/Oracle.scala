package daybench

import LandingZone.Doc

/** What the pipeline must publish for one date, computed in plain
  * Scala from the generator's documents with the integer-exact rules
  * the program documents: first-wins dedup on (rank, date, country)
  * after the row-level quarantine (`OdsBuilder.ingestChecked`),
  * per-date half-up mean imputation of zero durations
  * (`StarBuilder.imputePerDate`), and the three mart formulas of
  * `Marts` (average as double sum over count, royalties as
  * `(sum * 3 + 5) div 10` cents).
  */
final case class Expected(date: String, rowsIn: Long, odsRows: Long,
    quarantined: Long, avgByCountry: Map[String, Double],
    appearances: Map[String, Long], royalties: Map[String, Double],
    countries: Set[String], songs: Set[(String, Option[Long])])

object Oracle {

  private final case class Row(song: String, artist: String,
      duration: Int, listeners: Int, country: String)

  private def int(s: String): Option[Int] = s.trim.toIntOption

  def expected(date: String, docs: Seq[Doc]): Expected = {
    val poison = docs.count(_.poison.nonEmpty)
    val tracks = for {
      d <- docs; (t, pos) <- d.tracks.zipWithIndex
    } yield (d.country, pos, t)
    val (good, bad) = tracks.partition { case (_, _, t) =>
      int(t.rank).nonEmpty && int(t.duration).nonEmpty &&
        int(t.listeners).nonEmpty
    }
    val ods = good.groupBy { case (c, _, t) => (c, int(t.rank).get) }
      .values.map(_.minBy(_._2)).map { case (c, _, t) =>
        Row(t.name, t.artist, int(t.duration).get, int(t.listeners).get, c)
      }.toSeq
    val nonZero = ods.map(_.duration).filter(_ > 0).map(_.toLong)
    val imputed: Option[Long] =
      if (nonZero.isEmpty) None
      else Some(Math.floorDiv(nonZero.sum * 2 + nonZero.size,
        nonZero.size * 2L))
    val filled = ods.map(r =>
      r -> (if (r.duration == 0) imputed else Some(r.duration.toLong)))
    val avg = filled.groupBy(_._1.country).flatMap { case (c, rs) =>
      val ds = rs.flatMap(_._2)
      if (ds.isEmpty) None else Some(c -> ds.sum.toDouble / ds.size)
    }
    val byArtist = ods.groupBy(_.artist)
    Expected(date,
      rowsIn = tracks.size.toLong,
      odsRows = ods.size.toLong,
      quarantined = (poison + bad.size).toLong,
      avgByCountry = avg,
      appearances = byArtist.map { case (a, rs) => a -> rs.size.toLong },
      royalties = byArtist.map { case (a, rs) =>
        a -> Math.floorDiv(rs.map(_.listeners.toLong).sum * 3 + 5, 10L)
          .toDouble / 100
      },
      countries = ods.map(_.country).toSet,
      songs = filled.map { case (r, d) => (r.song, d) }.toSet)
  }

  /** Row counts every published table must hold after `days`. */
  def tableRows(days: Seq[Expected]): Map[String, Long] = {
    val ods = days.map(_.odsRows).sum
    Map(
      "ods_daily_data" -> ods,
      "dds_fact_daily_top_100" -> ods,
      "dds_dim_artist" -> days.flatMap(_.appearances.keys).distinct.size.toLong,
      "dds_dim_country" -> days.flatMap(_.countries).distinct.size.toLong,
      "dds_dim_song" -> days.flatMap(_.songs).distinct.size.toLong,
      "dm_avg_song_duration_by_country" ->
        days.map(_.avgByCountry.size.toLong).sum,
      "dm_artist_appearances_by_date" ->
        days.map(_.appearances.size.toLong).sum,
      "dm_expected_artist_royalties_by_date" ->
        days.map(_.royalties.size.toLong).sum)
  }

  /** Top `n` artists by appearances over `days`, ties by name — the
    * dashboard's star join over the full history.
    */
  def topArtists(days: Iterable[Expected], n: Int): Seq[(String, Long)] =
    days.flatMap(_.appearances).groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .sortBy { case (a, c) => (-c, a) }.take(n)
}
