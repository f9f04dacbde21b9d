package daybench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Pipeline
import graft.engine.{Compaction, Manifest, Publication, Upsert, WriterLease}
import graft.ingest.OdsBuilder
import graft.marts.Marts
import graft.star.StarBuilder

/** Counts Spark jobs, tasks and shuffle-write bytes per span. A span
  * labels the jobs it starts through a thread-local job property, so
  * attribution does not depend on when listener events are delivered.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val counts = mutable.Map.empty[String, Array[Long]]

  private def bump(span: String, i: Int, by: Long): Unit =
    counts.getOrElseUpdate(span, Array(0L, 0L, 0L))(i) += by

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .foreach { span =>
        bump(span, 0, 1)
        e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      bump(span, 1, 1)
      if (e.taskMetrics != null)
        bump(span, 2, e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** (jobs, tasks, shuffle bytes) of one span label. */
  def of(span: String): (Long, Long, Long) = synchronized {
    counts.get(span).map(a => (a(0), a(1), a(2))).getOrElse((0L, 0L, 0L))
  }
}

/** One recorded span: its label (`unit/layer`), layer, and wall time. */
final case class Span(unit: String, layer: String, seconds: Double)

/** Records spans around the benchmark's calls into the program. */
final class Tracer(spark: SparkSession) {
  val listener = new SpanListener
  spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var unit = "setup"

  /** Name the unit of work (a day, a read, a replay) spans belong to. */
  def within[A](u: String)(body: => A): A = {
    val prev = unit
    unit = u
    try body finally unit = prev
  }

  def span[A](layer: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.Key, s"$unit/$layer")
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(unit, layer, (System.nanoTime() - t0) / 1e9)
      sc.setLocalProperty(Tracer.Key, null)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.DayBenchBus.drain(spark.sparkContext)

  def seconds(u: String, layer: String): Double =
    spans.filter(s => s.unit == u && s.layer == layer).map(_.seconds).sum

  def counts(u: String, layer: String): (Long, Long, Long) =
    listener.of(s"$u/$layer")

  def unitSeconds(u: String): Double =
    spans.filter(_.unit == u).map(_.seconds).sum
}

object Tracer { val Key = "daybench.span" }

/** `Pipeline.runDaily` and `Pipeline.backfill` rebuilt from the
  * program's public calls, one span per layer. The dim upsert is the
  * private `Pipeline.upsertDim` restated with `WriterLease`,
  * `StarBuilder.dimIncremental` and `Manifest.stageIn`/`commit`.
  *
  * Spark plans are lazy: a span times the calls made inside it, and a
  * plan built in one span but executed by a later write is charged to
  * the span of that write (the imputation runs inside `star.dims`).
  */
object Replica {

  /** Rows the ODS upsert added, and how many compactions ran. */
  final case class DayOut(rowsAdded: Long, compactions: Int)

  private val OdsKeys = Seq("song_rank", "source_date", "country")

  def tables(wh: String): Seq[String] = Seq(
    Pipeline.odsPath(wh), Pipeline.dimArtistPath(wh),
    Pipeline.dimCountryPath(wh), Pipeline.dimSongPath(wh),
    Pipeline.factPath(wh), Pipeline.martAvgPath(wh),
    Pipeline.martAppearancesPath(wh), Pipeline.martRoyaltiesPath(wh))

  def runDaily(spark: SparkSession, tr: Tracer, landing: String, wh: String,
      date: String, checked: Boolean): DayOut = {
    val added = tr.span("ingest") {
      val day =
        if (!checked)
          OdsBuilder.toOds(spark.read.option("multiLine", value = true)
            .schema(OdsBuilder.rawSchema).json(s"$landing/$date/*.json"))
        else {
          val res = OdsBuilder.ingestChecked(spark, landing, s"$date/*.json")
          res.quarantine.write.mode("overwrite")
            .parquet(s"${Pipeline.quarantinePath(wh)}/day=$date")
          res.ods
        }
      Upsert.upsertPartitioned(spark, Pipeline.odsPath(wh), day, OdsKeys,
        "source_date")
    }
    val filled = tr.span("star.impute") {
      StarBuilder.imputePerDate(Manifest.read(spark, Pipeline.odsPath(wh))
        .filter(col("source_date") === lit(date).cast("date")))
    }
    val (dimArtist, dimCountry, dimSong) = tr.span("star.dims") {
      (upsertDim(spark, Pipeline.dimArtistPath(wh),
        filled.select(col("artist_name")), "artist_id", Seq("artist_name")),
      upsertDim(spark, Pipeline.dimCountryPath(wh),
        filled.select(col("country").as("country_name")),
        "country_id", Seq("country_name")),
      upsertDim(spark, Pipeline.dimSongPath(wh),
        filled.select(col("song_name"),
          col("duration_filled").as("duration_sec")),
        "song_id", Seq("song_name", "duration_sec")))
    }
    tr.span("star.fact") {
      Upsert.upsertPartitioned(spark, Pipeline.factPath(wh),
        StarBuilder.fact(filled, dimArtist, dimSong, dimCountry),
        Seq("date", "country_id", "song_rank"), "date")
    }
    tr.span("marts") {
      val dayFact = Manifest.read(spark, Pipeline.factPath(wh))
        .filter(col("date") === lit(date).cast("date"))
      Upsert.upsertPartitioned(spark, Pipeline.martAvgPath(wh),
        Marts.avgSongDurationByCountry(dayFact, dimSong, dimCountry),
        Seq("date", "country_name"), "date")
      Upsert.upsertPartitioned(spark, Pipeline.martAppearancesPath(wh),
        Marts.artistAppearancesByDate(dayFact, dimArtist),
        Seq("date", "artist_name"), "date")
      Upsert.upsertPartitioned(spark, Pipeline.martRoyaltiesPath(wh),
        Marts.expectedArtistRoyaltiesByDate(dayFact, dimArtist),
        Seq("date", "artist_name"), "date")
    }
    tr.span("publication") {
      Publication.publish(spark, wh, tables(wh).map(_.stripPrefix(s"$wh/")))
    }
    val compactions = tr.span("compaction") {
      Seq(Pipeline.odsPath(wh) -> "source_date", Pipeline.factPath(wh) -> "date")
        .count { case (t, part) =>
          Compaction.autoCompact(spark, t, partitionCol = Some(part)).isDefined
        }
    }
    DayOut(added, compactions)
  }

  private def upsertDim(spark: SparkSession, path: String,
      candidates: DataFrame, idCol: String, keys: Seq[String]): DataFrame =
    WriterLease.withLease(spark, path) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing =
        if (fs.exists(p)) Manifest.read(spark, path)
        else {
          val keyFields = candidates.select(keys.map(col): _*).schema.fields
            .map(_.copy(nullable = true))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(StructField(idCol, LongType, nullable = false) +:
              keyFields.toIndexedSeq))
        }
      val updated = StarBuilder.dimIncremental(existing, candidates, idCol,
        keys)
      val tmp = new org.apache.hadoop.fs.Path(path + ".staging")
      updated.write.mode("overwrite").parquet(tmp.toString)
      try Manifest.commit(spark, path,
        Manifest.stageIn(spark, path, tmp.toString))
      finally { fs.delete(tmp, true); () }
      Manifest.read(spark, path)
    }
}
