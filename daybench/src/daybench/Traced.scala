package daybench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Pipeline
import graft.engine.Manifest
import DayBench.{Sample, Setup, median}

/** The `--trace 1` run's per-layer numbers. The timed days run
  * through the span-traced [[Replica]]; its fidelity is held by the same
  * correctness gate as the untraced run's (every mart row and every
  * table's row count against the oracle, for the same seed), and the
  * tracing overhead is measured on replays run untraced, traced,
  * traced, untraced.
  */
object Traced {

  val layers = Seq("ingest", "star.impute", "star.dims", "star.fact",
    "marts", "publication", "compaction")

  /** Bookkeeping read between spans, outside every timed interval. */
  final case class Books(versions: Map[String, Long], liveFiles: Long)

  private def exists(path: String) = new java.io.File(path).exists

  private def books(spark: SparkSession, wh: String): Books = {
    val ts = Replica.tables(wh).filter(exists)
    Books(ts.map(t => t -> Manifest.currentVersion(spark, t).getOrElse(0L))
      .toMap, ts.map(t => Manifest.currentLive(spark, t).size.toLong).sum)
  }

  private def count(spark: SparkSession, path: String): Long =
    if (!exists(path)) 0L else spark.read.parquet(path).count()

  private def dimRows(spark: SparkSession, wh: String): Long =
    Seq(Pipeline.dimArtistPath(wh), Pipeline.dimCountryPath(wh),
      Pipeline.dimSongPath(wh)).filter(exists)
      .map(Manifest.read(spark, _).count()).sum

  /** One traced day (or replay): wall time and what the layers did. */
  final case class Rec(unit: String, wall: Double,
      rowsIn: Long, out: Replica.DayOut, commits: Long, dimsAdded: Long,
      quarantined: Long)

  /** Runs days through the [[Replica]] under one [[Tracer]], reads the
    * manifests before and after each (outside its timed interval), and
    * turns the records into the per-layer metrics.
    */
  final class Recorder(spark: SparkSession, st: Setup, checked: Boolean) {
    val tracer = new Tracer(spark)
    private val recs = mutable.ArrayBuffer.empty[Rec]

    def day(unit: String, d: String, wh: String): Sample = {
      val before = books(spark, wh)
      val dims0 = dimRows(spark, wh)
      val (out, s) = DayBench.timed(s"traced $unit")(tracer.within(unit)(
        Replica.runDaily(spark, tracer, st.landing.toString, wh, d,
          checked)))
      val after = books(spark, wh)
      recs += Rec(unit, s.wall, st.exps(d).rowsIn, out,
        after.versions.map { case (t, v) =>
          v - before.versions.getOrElse(t, 0L) }.sum,
        dimRows(spark, wh) - dims0,
        if (checked) count(spark, s"${Pipeline.quarantinePath(wh)}/day=$d")
        else 0L)
      s
    }

    /** Compactions run by traced days and replays; no workload reaches
      * the first trip, so a run that does is out of its design.
      */
    def compactions: Int = recs.map(_.out.compactions).sum

    def metrics(wh: String, ph: Host.Phase,
        replays: Seq[(Boolean, Sample)]): Seq[(String, Double, String)] = {
      tracer.drain()
      val tr = tracer
      val days = recs.filter(_.unit.startsWith("day/")).toSeq
      val traced = recs.filter(_.unit.startsWith("replay/")).toSeq
      def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else median(xs)
      def perDay(f: Rec => Double) = med(days.map(f))
      def secs(r: Rec, l: String) = tr.seconds(r.unit, l)
      def jobs(r: Rec, l: String) = tr.counts(r.unit, l)._1.toDouble
      def tasks(r: Rec, l: String) = tr.counts(r.unit, l)._2.toDouble
      def layer(l: String, withTasks: Boolean) =
        Seq((s"$l.s", perDay(secs(_, l)), "s"),
          (s"$l.jobs", perDay(jobs(_, l)), "count")) ++
          (if (withTasks) Seq((s"$l.tasks", perDay(tasks(_, l)), "count"))
           else Nil)
      val readUnits = tr.spans.filter(_.layer == "read").map(_.unit).toSeq
      val walls = replays.groupMap(_._1)(_._2.wall)
      System.err.println("[daybench] layer shares of the median day: " +
        layers.map(l => f"$l=${perDay(r => secs(r, l) / r.wall)}%.3f")
          .mkString(" "))
      layer("ingest", withTasks = true) ++ Seq(
        ("ingest.rows_in", perDay(_.rowsIn.toDouble), "count"),
        ("ingest.rows_added", perDay(_.out.rowsAdded.toDouble), "count"),
        ("ingest.useful_frac",
          perDay(r => r.out.rowsAdded.toDouble / r.rowsIn), "ratio"),
        ("ingest.quarantined", perDay(_.quarantined.toDouble), "count")) ++
      layer("star.impute", withTasks = false) ++
      layer("star.dims", withTasks = true) ++
      Seq(("star.dims.rows_added", perDay(_.dimsAdded.toDouble), "count")) ++
      layer("star.fact", withTasks = true) ++
      layer("marts", withTasks = true) ++
      Seq(("publication.s", perDay(secs(_, "publication")), "s")) ++
      Seq(("compaction.s", perDay(secs(_, "compaction")), "s"),
        ("manifest.commits", perDay(_.commits.toDouble), "count"),
        ("manifest.live_files", books(spark, wh).liveFiles.toDouble,
          "count"),
        ("read.s", med(tr.spans.filter(_.layer == "read").map(_.seconds)
          .toSeq), "s"),
        ("read.jobs", med(readUnits.map(tr.counts(_, "read")._1.toDouble)),
          "count"),
        ("read.tasks", med(readUnits.map(tr.counts(_, "read")._2.toDouble)),
          "count"),
        ("replay.s", med(traced.map(_.wall)), "s"),
        ("replay.jobs", med(traced.map(r => layers.map(jobs(r, _)).sum)),
          "count"),
        ("spark.jobs_per_day", perDay(r => layers.map(jobs(r, _)).sum),
          "count"),
        ("spark.tasks_per_day", perDay(r => layers.map(tasks(r, _)).sum),
          "count"),
        ("spark.shuffle_bytes",
          perDay(r => layers.map(tr.counts(r.unit, _)._3.toDouble).sum),
          "bytes"),
        ("jvm.gc_s", ph.gcS, "s"),
        ("jvm.jit_s", ph.jitS, "s"),
        ("host.foreign_cpu_s", ph.foreignCpuS, "s"),
        ("trace.overhead_frac", med(walls.getOrElse(true, Nil)) /
          med(walls.getOrElse(false, Nil)) - 1, "ratio"),
        ("trace.coverage", days.map(r => tr.unitSeconds(r.unit) / r.wall)
          .minOption.getOrElse(Double.NaN), "ratio"))
    }
  }
}
