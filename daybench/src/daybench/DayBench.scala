package daybench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.engine.Publication

/** Times the daily product path, `graft.Pipeline`, one day at a time.
  *
  * Workloads (inputs are generated from `--seed` by [[LandingZone]]):
  *  - `daily_3c`: the reference shape, 3 countries × top-100 per date,
  *    through `Pipeline.runDaily` with its defaults. Two untimed warm-up
  *    days, then one timed day, followed by one dashboard client
  *    reading through a single `Publication.snapshot`. About 80 Spark
  *    jobs move 300 rows a day, so this measures the fixed per-day cost.
  *    The whole run stays below the 16th date, where
  *    `Compaction.autoCompact` first trips at this shape.
  *  - `backfill_wide`: 40 countries × 400 tracks with seeded poison, two
  *    untimed warm-up days, then one timed
  *    `Pipeline.backfill(checked = true)` and the same reads. Checked
  *    ingest does real work here.
  *
  * Every count is fixed per workload, so a run does the same work
  * whatever the program's speed. Each per-run value is a median over the
  * run's per-day or per-read samples, never a whole-run total.
  * `--trace 1` runs the days through the span-traced [[Replica]] and
  * reports per-layer numbers instead.
  *
  * The last line of stdout is one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}`.
  */
object DayBench {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, record: Option[Path], smoke: Boolean,
      cores: Int)

  /** A workload's shape, its count of untimed warm-up dates, and whether
    * ingest is checked. [[TimedDates]] dates follow the warm-up.
    */
  final case class Plan(shape: LandingZone.Shape, warmup: Int,
      checked: Boolean)

  /** One timed date a run: a steady day costs about 7 s on a 4-vCPU host,
    * and a run, set-up included, has to stay under a minute.
    */
  val TimedDates = 1

  private val firstDate = java.time.LocalDate.of(2024, 5, 1)

  // Two warm-up days: in a fresh JVM the first day is mostly JIT
  // compilation and the second still carries some; from the third on a
  // day's cost is steady.
  def plan(workload: String, smoke: Boolean): Plan = (workload, smoke) match {
    case ("daily_3c", false) =>
      Plan(LandingZone.Shape(3, 100, 1500, 300), warmup = 2, checked = false)
    case ("daily_3c", true) =>
      Plan(LandingZone.Shape(3, 20, 200, 50), warmup = 1, checked = false)
    case ("backfill_wide", false) =>
      Plan(LandingZone.Shape(40, 400, 4000, 1000, 2, 10), warmup = 2,
        checked = true)
    case ("backfill_wide", true) =>
      Plan(LandingZone.Shape(12, 60, 600, 150, 2, 5), warmup = 1,
        checked = true)
    case _ => throw new IllegalArgumentException(s"unknown workload $workload")
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not keep the
    // process alive after the result (or a failure) is out
    val code =
      try {
        val a = parse(argv)
        if (argv.contains("--gen-only")) genOnly(a)
        else {
          val (res, env) = run(a)
          val line = res.json
          a.record.foreach { p =>
            Files.createDirectories(p.getParent)
            Files.writeString(p,
              Json.obj(env ++ Seq("result" -> Json.raw(line))))
          }
          System.err.println(s"[daybench] env ${Json.obj(env)}")
          println(line)
        }
        0
      } catch {
        case NonFatal(e) => e.printStackTrace(); 1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    Args(
      workload = m.getOrElse("workload", "daily_3c"),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "30").toInt,
      trace = m.getOrElse("trace", "0") == "1",
      work = Paths.get(m.getOrElse("work", "daybench-work")).toAbsolutePath,
      record = m.get("record").map(Paths.get(_).toAbsolutePath),
      smoke = m.getOrElse("smoke", "0") == "1",
      cores = math.max(1, math.min(2, nproc - 1)))
  }

  /** Land every date of the plan under `--work` and stop (the
    * generator-determinism check).
    */
  private def genOnly(a: Args): Unit = land(a, plan(a.workload, a.smoke))

  // ---- measurement helpers ----------------------------------------------

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  final case class Sample(wall: Double, cpu: Double)

  private[daybench] def timed[A](what: String)(body: => A): (A, Sample) = {
    System.gc()
    val c0 = Host.cpuS()
    val t0 = System.nanoTime()
    val out = body
    val s = Sample((System.nanoTime() - t0) / 1e9, Host.cpuS() - c0)
    System.err.println(f"[daybench] $what%s wall=${s.wall}%.3f cpu=${s.cpu}%.3f")
    (out, s)
  }

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]) {
    def json: String = Json.obj(Seq(
      "correct" -> Json.raw(correct.toString),
      "attempted" -> Json.raw(attempted.toString),
      "failed" -> Json.raw(failed.toString),
      "metrics" -> Json.raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.raw(Json.obj(Seq("value" -> Json.num(v), "unit" -> u)))
      }))))
  }

  /** Ops attempted and failed; a failure message goes to stderr. */
  final class Tally {
    var attempted = 0
    var failed = 0
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[daybench] FAILED $what: $e")
          None
      }
    }
    def check(what: String, problems: Seq[String]): Unit =
      if (problems.nonEmpty) {
        failed += 1
        problems.take(5).foreach(p =>
          System.err.println(s"[daybench] MISMATCH $what: $p"))
      }
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("daybench")
      // the session confs of graft.Bench, with a fixed core count
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "64m")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- the dashboard client ---------------------------------------------

  private val martTables = Seq(
    "dm_avg_song_duration_by_country", "dm_artist_appearances_by_date",
    "dm_expected_artist_royalties_by_date")

  private val ReadRounds = 4

  /** One dashboard read; `run` returns its mismatches against the oracle. */
  final case class Read(name: String, run: Publication.Snapshot => Seq[String])

  private def sliceRows(spark: SparkSession, snap: Publication.Snapshot,
      table: String, date: String): Seq[Row] =
    snap.readTable(spark, table)
      .filter(col("date") === lit(date).cast("date")).collect().toSeq

  /** The client's reads after a day: the day's slice of each mart and
    * the full-history star join (top artists by appearances). Each
    * returns its mismatches against the oracle.
    */
  def reads(spark: SparkSession, date: String, exp: Expected,
      history: => Seq[Expected]): Seq[Read] = Seq(
    Read("avg_slice", snap => Gate.diffAvg(date,
      sliceRows(spark, snap, martTables(0), date), exp)),
    Read("appearances_slice", snap => Gate.diffAppearances(date,
      sliceRows(spark, snap, martTables(1), date), exp)),
    Read("royalties_slice", snap => Gate.diffRoyalties(date,
      sliceRows(spark, snap, martTables(2), date), exp)),
    Read("top_artists", snap => {
      val got = snap.readTable(spark, "dds_fact_daily_top_100")
        .join(snap.readTable(spark, "dds_dim_artist"), Seq("artist_id"))
        .groupBy(col("artist_name")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("artist_name")).limit(10)
        .collect().toSeq.map(r => r.getString(0) -> r.getLong(1))
      val want = Oracle.topArtists(history, 10)
      if (got == want) Nil else Seq(s"top artists $got != $want")
    }))

  // ---- workloads --------------------------------------------------------

  /** The landing zone, each landed date's expectations, raw bytes. */
  final case class Setup(landing: Path,
      exps: mutable.LinkedHashMap[String, Expected], rawBytes: Long)

  /** Land every date of the plan under `--work`/landing. Every landed
    * date is run, so the raw bytes are those the warehouse is built from.
    */
  private def land(a: Args, p: Plan): Setup = {
    val landing = a.work.resolve("landing")
    val exps = mutable.LinkedHashMap.empty[String, Expected]
    var bytes = 0L
    LandingZone.dates(firstDate, p.warmup + TimedDates).zipWithIndex.foreach {
      case (d, i) =>
        val docs = LandingZone.day(a.seed, p.shape, i, d)
        bytes += LandingZone.land(landing, docs)
        exps(d) = Oracle.expected(d, docs)
    }
    Setup(landing, exps, bytes)
  }

  def run(a: Args): (Result, Seq[(String, String)]) = {
    val p = plan(a.workload, a.smoke)
    val loadStart = Host.loadavg1()
    Files.createDirectories(a.work)
    val st = land(a, p)
    val spark = session(a.cores, a.work)
    val res =
      try {
        workload(spark, a, p, st,
          if (a.trace) Some(new Traced.Recorder(spark, st, p.checked))
          else None)
      } finally spark.stop()
    val env = Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "smoke" -> a.smoke.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "k" -> a.cores.toString,
      "max_heap_mb" -> f"${Host.maxHeapMb()}%.0f",
      "jvm_flags" -> Host.jvmFlags().mkString(" "),
      "source" -> sys.props.getOrElse("daybench.source", "unknown"),
      "loadavg_start" -> loadStart.toString,
      "loadavg_end" -> Host.loadavg1().toString) ++
      res.env.map { case (k, v) => k -> v.toString }
    (res.result, env)
  }

  /** A workload's result plus its contention record. */
  final case class Out(result: Result, env: Seq[(String, Double)])

  def phaseEnv(ph: Host.Phase): Seq[(String, Double)] = Seq(
    "timed_cpu_s" -> ph.cpuS, "timed_sys_cpu_s" -> ph.sysS,
    "host.foreign_cpu_s" -> ph.foreignCpuS,
    "jvm.gc_s" -> ph.gcS, "jvm.jit_s" -> ph.jitS)

  /** One workload run. Set-up runs the warm-up dates untraced. The timed
    * phase runs the timed dates (one `runDaily` each, or one `backfill`
    * over all of them) and the dashboard reads after each. With a tracer
    * the days run through the [[Replica]], and then the newest date is
    * replayed untraced, traced, traced, untraced, so that warm-up during
    * the replays favours neither side; that measures the tracing
    * overhead.
    */
  private def workload(spark: SparkSession, a: Args, p: Plan, st: Setup,
      tr: Option[Traced.Recorder]): Out = {
    val wh = a.work.resolve("warehouse").toString
    val landing = st.landing.toString
    val (warm, dates) = st.exps.keys.toIndexedSeq.splitAt(p.warmup)
    warm.foreach(d => timed(s"warm-up $d")(
      Pipeline.runDaily(spark, landing, wh, d, checked = p.checked)))
    val setupS = (System.currentTimeMillis() - Host.jvmStartMs()) / 1e3

    val tally = new Tally
    val days, readS = mutable.ArrayBuffer.empty[Sample]
    val replays = mutable.ArrayBuffer.empty[(Boolean, Sample)]
    def day(unit: String, d: String, traced: Boolean): Sample = tr match {
      case Some(rec) if traced => rec.day(unit, d, wh)
      case _ => timed(unit)(
        Pipeline.runDaily(spark, landing, wh, d, checked = p.checked))._2
    }
    // the client's reads, in ReadRounds rounds: the first meets each
    // query shape cold in this JVM, later ones are a dashboard's
    // refreshes and give read_s; every read is checked
    def readsAfter(d: String, history: Seq[Expected]): Unit = {
      System.gc()
      var snap: Publication.Snapshot = null
      for (round <- 1 to ReadRounds; r <- reads(spark, d, st.exps(d), history))
        tally.attempt(s"read ${r.name} $d") {
          val t = System.nanoTime()
          val problems = tr.filter(_ => round > 1).fold(run(r)) { rec =>
            rec.tracer.within(s"read/$d/${r.name}/$round")(
              rec.tracer.span("read")(run(r)))
          }
          val wall = (System.nanoTime() - t) / 1e9
          System.err.println(
            f"[daybench] read ${r.name}%s $d%s round $round%d wall=$wall%.3f")
          if (round > 1) readS += Sample(wall, 0)
          tally.check(s"read ${r.name} $d", problems)
        }
      // the client resolves the publication once, inside its first read
      def run(r: Read): Seq[String] = {
        if (snap == null) snap = Publication.snapshot(spark, wh)
        r.run(snap)
      }
    }

    val mark = Host.mark()
    if (a.workload == "daily_3c")
      dates.foreach { d =>
        tally.attempt(s"day $d")(days += day(s"day/$d", d, traced = true))
        readsAfter(d, st.exps.values.takeWhile(_.date <= d).toSeq)
      }
    else {
      tally.attempt("backfill") {
        tr match {
          case Some(rec) => days ++= dates.map(d => rec.day(s"day/$d", d, wh))
          case None =>
            val (done, s) = timed("backfill")(Pipeline.backfill(spark,
              landing, wh, checked = p.checked))
            require(done == dates, s"backfill ran $done, expected $dates")
            days ++= Seq.fill(dates.size)(
              Sample(s.wall / dates.size, s.cpu / dates.size))
        }
      }
      dates.foreach(readsAfter(_, st.exps.values.toSeq))
    }
    val d = dates.last
    if (tr.nonEmpty)
      Seq(false, true, true, false).zipWithIndex.foreach { case (traced, i) =>
        tally.attempt(s"replay $d")(
          replays += traced -> day(s"replay/$d/$i", d, traced))
      }
    val ph = Host.since(mark)
    val heapMb = Host.heapMb()
    Gate.finalCheck(spark, wh, dates.map(st.exps), st.exps.values.toSeq,
      p.checked, tally)
    val metrics = tr match {
      case Some(rec) => rec.metrics(wh, ph, replays.toSeq)
      case None => endToEnd(setupS, days.toSeq, readS.toSeq,
        du(Paths.get(wh)).toDouble / st.rawBytes, heapMb)
    }
    Out(Result(tally.failed == 0 && days.nonEmpty, tally.attempted,
      tally.failed, metrics),
      phaseEnv(ph) ++ Seq("setup_s" -> setupS,
        "timed_days" -> days.size.toDouble,
        "replays" -> replays.size.toDouble, "reads" -> readS.size.toDouble) ++
      tr.map(rec => "compaction_runs" -> rec.compactions.toDouble))
  }

  def endToEnd(setupS: Double, days: Seq[Sample], reads: Seq[Sample],
      diskRatio: Double,
      heapMb: Double): Seq[(String, Double, String)] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else median(xs)
    Seq(
      ("setup_s", setupS, "s"),
      ("day_s", med(days.map(_.wall)), "s"),
      ("day_cpu_s", med(days.map(_.cpu)), "s"),
      ("read_s", med(reads.map(_.wall)), "s"),
      ("disk_bytes_per_raw_byte", diskRatio, "ratio"),
      ("heap_mb", heapMb, "MB"))
  }
}

/** Minimal JSON writer for the result line and the run record. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def num(v: Double): Raw =
    Raw(if (v.isNaN || v.isInfinite) "null" else v.toString)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case Raw(s) => s
      case s: String => str(s)
      case other => str(other.toString)
    })
  }.mkString("{", ",", "}")
}
