package daybench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.engine.Publication

/** The correctness gate: what the newest publication serves, diffed
  * against the [[Oracle]]. Each diff returns its mismatches; an empty
  * result passes.
  */
object Gate {

  private def diffMaps[V](what: String, rows: Int, got: Map[String, V],
      want: Map[String, V]): Seq[String] = {
    val dup =
      if (rows == got.size) Nil
      else Seq(s"$what: $rows rows for ${got.size} keys")
    dup ++ (got.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      if (got.get(k) == want.get(k)) None
      else Some(s"$what[$k]: got ${got.get(k)}, want ${want.get(k)}")
    }
  }

  def diffAvg(date: String, rows: Seq[Row], exp: Expected): Seq[String] =
    diffMaps(s"avg $date", rows.size, rows.map(r =>
      r.getAs[String]("country_name") -> r.getAs[Double]("avg_duration_sec"))
      .toMap, exp.avgByCountry)

  def diffAppearances(date: String, rows: Seq[Row],
      exp: Expected): Seq[String] =
    diffMaps(s"appearances $date", rows.size, rows.map(r =>
      r.getAs[String]("artist_name") -> r.getAs[Long]("cnt_appearance"))
      .toMap, exp.appearances)

  def diffRoyalties(date: String, rows: Seq[Row],
      exp: Expected): Seq[String] =
    diffMaps(s"royalties $date", rows.size, rows.map(r =>
      r.getAs[String]("artist_name") -> r.getAs[Double]("royalties"))
      .toMap, exp.royalties)

  private def byDate(rows: Seq[Row], col: String): Map[String, Seq[Row]] =
    rows.groupBy(_.getAs[java.sql.Date](col).toString)

  /** Diff what the newest publication serves against the oracle: the
    * row count of every table after `all` dates, and for every date of
    * `exps` its ODS rows, quarantined rows (checked ingest only) and all
    * three marts. The table counts and each date are one gate operation
    * of `tally` each.
    */
  def finalCheck(spark: SparkSession, wh: String, exps: Seq[Expected],
      all: Seq[Expected], checked: Boolean, tally: DayBench.Tally): Unit = {
    val snap = Publication.snapshot(spark, wh)
    tally.attempt("gate table rows") {
      tally.check("gate table rows", Oracle.tableRows(all).toSeq.sorted
        .flatMap { case (t, want) =>
          val got = snap.readTable(spark, t).count()
          if (got == want) None else Some(s"$t: $got rows, want $want")
        })
    }
    val dates = exps.map(e => java.sql.Date.valueOf(e.date))
    def rowsOf(table: String, dateCol: String) =
      byDate(snap.readTable(spark, table)
        .filter(col(dateCol).isin(dates: _*)).collect().toSeq, dateCol)
    val ods = snap.readTable(spark, "ods_daily_data")
      .filter(col("source_date").isin(dates: _*))
      .groupBy(col("source_date").cast("string")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val quarantined =
      if (!checked) Map.empty[String, Long]
      else spark.read.parquet(Pipeline.quarantinePath(wh))
        .groupBy(col("day").cast("string")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val avg = rowsOf("dm_avg_song_duration_by_country", "date")
    val app = rowsOf("dm_artist_appearances_by_date", "date")
    val roy = rowsOf("dm_expected_artist_royalties_by_date", "date")
    exps.foreach { e =>
      val d = e.date
      tally.attempt(s"gate $d") {
        tally.check(s"gate $d",
          (if (ods.getOrElse(d, 0L) == e.odsRows) Nil
           else Seq(s"ods rows ${ods.getOrElse(d, 0L)} != ${e.odsRows}")) ++
          (if (quarantined.getOrElse(d, 0L) == e.quarantined) Nil
           else Seq(s"quarantined ${quarantined.getOrElse(d, 0L)} != " +
             e.quarantined)) ++
          diffAvg(d, avg.getOrElse(d, Nil), e) ++
          diffAppearances(d, app.getOrElse(d, Nil), e) ++
          diffRoyalties(d, roy.getOrElse(d, Nil), e))
      }
    }
  }
}
