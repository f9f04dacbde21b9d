package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Upsert

/** The idempotency contract: running any layer twice ≡ once
  * (`ON CONFLICT DO NOTHING`, `transformed_from_s3_to_pg.py:146-151`).
  */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-upsert").resolve("t").toString

  private val d1 = Date.valueOf("2024-05-01")
  private val d2 = Date.valueOf("2024-05-02")

  test("re-running the same batch appends nothing") {
    val path = tmp()
    val batch = Seq((1, d1, "US", "x"), (2, d1, "US", "y"))
      .toDF("rank", "source_date", "country", "payload")
    assert(Upsert.upsertParquet(spark, path, batch,
      Seq("rank", "source_date", "country")) === 2)
    assert(Upsert.upsertParquet(spark, path, batch,
      Seq("rank", "source_date", "country")) === 0)
    assert(graft.engine.Manifest.read(spark, path).count() === 2)
  }

  test("a second day appends only its new keys") {
    val path = tmp()
    val day1 = Seq((1, d1, "US", "x")).toDF("rank", "source_date", "country", "payload")
    val day2 = Seq((1, d1, "US", "x-replayed"), (1, d2, "US", "z"))
      .toDF("rank", "source_date", "country", "payload")
    Upsert.upsertParquet(spark, path, day1, Seq("rank", "source_date", "country"))
    assert(Upsert.upsertParquet(spark, path, day2,
      Seq("rank", "source_date", "country")) === 1)
    val back = graft.engine.Manifest.read(spark, path)
    assert(back.count() === 2)
    // first write wins for the replayed key
    assert(back.filter($"source_date" === d1).select("payload")
      .as[String].collect().toSeq === Seq("x"))
  }

  test("partitioned upsert is idempotent and prunes by date") {
    val path = tmp()
    val batch = Seq((1, d1, "US"), (2, d1, "US"), (1, d2, "US"))
      .toDF("rank", "source_date", "country")
    assert(Upsert.upsertPartitioned(spark, path, batch,
      Seq("rank", "source_date", "country"), "source_date") === 3)
    assert(Upsert.upsertPartitioned(spark, path, batch,
      Seq("rank", "source_date", "country"), "source_date") === 0)
    assert(graft.engine.Manifest.read(spark, path).count() === 3)
    // physical layout is partitioned by date
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("source_date="))
    assert(dirs.length === 2)
  }

  test("partitioned upsert rejects keys that omit the date column") {
    val batch = Seq((1, d1)).toDF("rank", "source_date")
    assertThrows[IllegalArgumentException] {
      Upsert.upsertPartitioned(spark, tmp(), batch, Seq("rank"), "source_date")
    }
  }

  test("schema drift is rejected loudly; column reorder is accepted") {
    val path = tmp()
    val batch = Seq((1, d1, "US")).toDF("rank", "source_date", "country")
    Upsert.upsertPartitioned(spark, path, batch,
      Seq("rank", "source_date", "country"), "source_date")
    // a new column must not slip into the table via append (read-back
    // schema would depend on which file footer the reader samples)
    val widened = Seq((2, d1, "US", "extra"))
      .toDF("rank", "source_date", "country", "surprise")
    val err = intercept[IllegalArgumentException] {
      Upsert.upsertPartitioned(spark, path, widened,
        Seq("rank", "source_date", "country"), "source_date")
    }
    assert(err.getMessage.contains("schema drift"))
    assert(err.getMessage.contains("surprise"))
    // same names but a retyped column is drift too (mixed parquet
    // footers would make the read-back type nondeterministic)
    val retyped = Seq(("2", d1, "US")).toDF("rank", "source_date", "country")
    val terr = intercept[IllegalArgumentException] {
      Upsert.upsertPartitioned(spark, path, retyped,
        Seq("rank", "source_date", "country"), "source_date")
    }
    assert(terr.getMessage.contains("types differ"))
    assert(terr.getMessage.contains("rank"))
    // same columns in a different order resolve by name and append fine
    val reordered = Seq(("GB", 3, d1)).toDF("country", "rank", "source_date")
    assert(Upsert.upsertPartitioned(spark, path, reordered,
      Seq("rank", "source_date", "country"), "source_date") === 1)
    val back = graft.engine.Manifest.read(spark, path)
      .select("rank", "country").as[(Int, String)].collect().toSet
    assert(back === Set((1, "US"), (3, "GB")))
  }

  test("scd1 merge replaces matched keys, keeps the rest, touches only its dates") {
    val path = tmp()
    val d2 = java.sql.Date.valueOf("2024-05-02")
    val base = Seq((1, d1, "US", 100), (2, d1, "US", 200), (1, d2, "US", 300))
      .toDF("rank", "source_date", "country", "listeners")
    Upsert.upsertPartitioned(spark, path, base,
      Seq("rank", "source_date", "country"), "source_date")
    // update rank 1 on day 1, insert rank 3 on day 1; day 2 untouched
    val delta = Seq((1, d1, "US", 111), (3, d1, "US", 333))
      .toDF("rank", "source_date", "country", "listeners")
    val keys = Seq("rank", "source_date", "country")
    assert(Upsert.mergePartitioned(spark, path, delta, keys, "source_date") === 2)
    def snapshot() = graft.engine.Manifest.read(spark, path)
      .select("rank", "source_date", "listeners")
      .as[(Int, java.sql.Date, Int)].collect().toSet
    val expected = Set((1, d1, 111), (2, d1, 200), (3, d1, 333), (1, d2, 300))
    assert(snapshot() === expected)
    // replaying the same merge is a no-op on content
    Upsert.mergePartitioned(spark, path, delta, keys, "source_date")
    assert(snapshot() === expected)
    // a batch affecting one key twice is rejected up front (Postgres
    // DO UPDATE semantics), leaving the table untouched
    val doubled = Seq((1, d1, "US", 1), (1, d1, "US", 2))
      .toDF("rank", "source_date", "country", "listeners")
    val err = intercept[IllegalArgumentException] {
      Upsert.mergePartitioned(spark, path, doubled, keys, "source_date")
    }
    assert(err.getMessage.contains("more than once"))
    assert(snapshot() === expected)
  }

  test("a second concurrent writer fails loudly while the first's " +
      "publish completes") {
    val path = tmp()
    val keys = Seq("rank", "source_date", "country")
    val batch = Seq((1, d1, "US", "x"), (2, d1, "US", "y"))
      .toDF("rank", "source_date", "country", "payload")
    val firstDone = graft.engine.WriterLease.withLease(spark, path) {
      // writer B arrives ON ANOTHER THREAD while A holds the lease:
      // loud, named failure (the lease is reentrant only WITHIN a
      // thread — one thread cannot race itself, but two can)
      def onOtherThread[T](f: => T): T = {
        @volatile var out: Either[Throwable, T] = null
        val t = new Thread(() =>
          out = try Right(f) catch { case e: Throwable => Left(e) })
        t.start(); t.join(60000)
        out.fold(throw _, identity)
      }
      val e = intercept[graft.engine.ConcurrentWriterException](
        onOtherThread(Upsert.upsertParquet(spark, path, batch, keys)))
      assert(e.getMessage.contains(path) && e.getMessage.contains("pid="))
      val e2 = intercept[graft.engine.ConcurrentWriterException](
        onOtherThread(
          Upsert.upsertPartitioned(spark, path, batch, keys, "source_date")))
      assert(e2.getMessage.contains("single-writer"))
      // while the SAME thread composes lease-guarded steps freely —
      // the holder deciding to vacuum inside its own publish must not
      // read its own lease as a concurrent writer
      val n = Upsert.upsertParquet(spark, path, batch, keys)
      assert(n === 2)
      "first-writer-finished"
    }
    assert(firstDone === "first-writer-finished")
    // A released on exit; B's rejected attempts left no partial state,
    // and replaying A's batch appends nothing
    assert(Upsert.upsertParquet(spark, path, batch, keys) === 0)
    assert(graft.engine.Manifest.read(spark, path).count() === 2)
  }

  test("the lease is released when the holder's body throws") {
    val path = tmp()
    val keys = Seq("rank", "source_date", "country")
    val batch = Seq((1, d1, "US", "x"))
      .toDF("rank", "source_date", "country", "payload")
    intercept[RuntimeException](
      graft.engine.WriterLease.withLease(spark, path) {
        throw new RuntimeException("writer died mid-publish")
      })
    assert(Upsert.upsertParquet(spark, path, batch, keys) === 1)
  }

  test("a crashed writer's stale lease blocks writes until broken " +
      "explicitly") {
    val path = tmp()
    val keys = Seq("rank", "source_date", "country")
    val batch = Seq((1, d1, "US", "x"))
      .toDF("rank", "source_date", "country", "payload")
    // simulate a kill -9: the lease file exists with no live holder
    val lease = new org.apache.hadoop.fs.Path(path + ".__writer_lease")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lease.getParent)
    val out = fs.create(lease, false)
    out.write("host=gone pid=0 acquired=crash".getBytes("UTF-8"))
    out.close()
    val e = intercept[graft.engine.ConcurrentWriterException](
      Upsert.mergePartitioned(spark, path, batch, keys, "source_date"))
    assert(e.getMessage.contains("breakLease"))
    assert(graft.engine.WriterLease.breakLease(spark, path))
    assert(Upsert.mergePartitioned(spark, path, batch, keys,
      "source_date") === 1)
  }

  test("a dead LOCAL writer's stale lease is auto-broken and the " +
      "write proceeds") {
    val path = tmp()
    val keys = Seq("rank", "source_date", "country")
    val batch = Seq((1, d1, "US", "x"))
      .toDF("rank", "source_date", "country", "payload")
    val lease = new org.apache.hadoop.fs.Path(path + ".__writer_lease")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lease.getParent)
    // a holder on THIS host whose pid is provably dead (above pid_max /
    // absent from the process table) — the kill -9 aftermath Retry must
    // survive without a human breakLease
    val host = java.net.InetAddress.getLocalHost.getHostName
    val deadPid = Iterator.iterate(4400000L)(_ + 1)
      .find(p => ProcessHandle.of(p).isEmpty).get
    val out = fs.create(lease, false)
    out.write(s"host=$host pid=$deadPid acquired=crash".getBytes("UTF-8"))
    out.close()
    // no manual breakLease: acquisition self-heals, publishes, releases
    assert(Upsert.upsertParquet(spark, path, batch, keys) === 1)
    assert(!fs.exists(lease))
    // and the healed writer's own replay contract is intact
    assert(Upsert.upsertParquet(spark, path, batch, keys) === 0)
  }

  test("a LIVE local holder is never treated as stale") {
    // the concurrent-writer test covers this end-to-end; this pins the
    // predicate itself (current pid = alive = not stale)
    val host = java.net.InetAddress.getLocalHost.getHostName
    assert(!graft.engine.WriterLease.isStaleLocalHolder(
      s"host=$host pid=${ProcessHandle.current.pid} acquired=now"))
    assert(graft.engine.WriterLease.isStaleLocalHolder(
      s"host=$host pid=4999999 acquired=crash") ||
      ProcessHandle.of(4999999L).isPresent)
    // unknown host and garbage both read NOT stale (fail-loud)
    assert(!graft.engine.WriterLease.isStaleLocalHolder(
      "host=some-other-box pid=1 acquired=then"))
    assert(!graft.engine.WriterLease.isStaleLocalHolder("<unreadable>"))
  }

  test("ingest -> ODS upsert replay is a no-op end to end") {
    val path = tmp()
    val ods = graft.ingest.OdsBuilder.ingest(spark)
    val keys = Seq("song_rank", "source_date", "country")
    assert(Upsert.upsertPartitioned(spark, path, ods, keys, "source_date") === 66)
    assert(Upsert.upsertPartitioned(spark, path, ods, keys, "source_date") === 0)
    assert(graft.engine.Manifest.read(spark, path).count() === 66)
  }

  private val odsKeys = Seq("rank", "source_date", "country")

  test("a new-date partitioned upsert is one write job and one commit") {
    val path = tmp()
    Upsert.upsertPartitioned(spark, path,
      Seq((1, d1, "US")).toDF("rank", "source_date", "country"),
      odsKeys, "source_date")
    val batch = Seq((1, d2, "US"), (2, d2, "US"))
      .toDF("rank", "source_date", "country")
    val (added, jobs) = TestSpark.jobsDuring(
      Upsert.upsertPartitioned(spark, path, batch, odsKeys, "source_date"))
    assert(added === 2)
    assert(jobs.size === 1, s"expected only the staging write, ran $jobs")
    assert(graft.engine.Manifest.versions(spark, path).size === 2)
    assert(graft.engine.Manifest.read(spark, path).count() === 3)
  }

  test("a mixed batch dedups its live date and appends its new one") {
    val path = tmp()
    val day1 = Seq((1, d1, "US", "x"), (2, d1, "US", "y"))
      .toDF("rank", "source_date", "country", "payload")
    assert(Upsert.upsertPartitioned(spark, path, day1, odsKeys,
      "source_date") === 2)
    val mixed = Seq((1, d1, "US", "x-replayed"), (3, d1, "US", "late"),
      (1, d2, "US", "z")).toDF("rank", "source_date", "country", "payload")
    assert(Upsert.upsertPartitioned(spark, path, mixed, odsKeys,
      "source_date") === 2)
    val back = graft.engine.Manifest.read(spark, path)
      .select(col("rank"), col("source_date"), col("payload"))
      .as[(Int, Date, String)].collect().toSet
    assert(back === Set((1, d1, "x"), (2, d1, "y"), (3, d1, "late"),
      (1, d2, "z")))
    assert(Upsert.upsertPartitioned(spark, path, mixed, odsKeys,
      "source_date") === 0)
  }

  test("an empty partitioned batch appends 0 and commits no version") {
    val path = tmp()
    val empty = Seq.empty[(Int, Date, String)]
      .toDF("rank", "source_date", "country")
    assert(Upsert.upsertPartitioned(spark, path, empty, odsKeys,
      "source_date") === 0)
    assert(graft.engine.Manifest.currentVersion(spark, path).isEmpty)
    Upsert.upsertPartitioned(spark, path,
      Seq((1, d1, "US")).toDF("rank", "source_date", "country"),
      odsKeys, "source_date")
    assert(Upsert.upsertPartitioned(spark, path, empty, odsKeys,
      "source_date") === 0)
    assert(graft.engine.Manifest.versions(spark, path) === Seq(1L))
  }

  test("a NULL-date row is appended once, however often it is replayed") {
    val path = tmp()
    val batch = Seq((1, Option.empty[Date], "US"))
      .toDF("rank", "source_date", "country")
    val live = Seq((1, Option(d1), "US"))
      .toDF("rank", "source_date", "country")
    assert(Upsert.upsertPartitioned(spark, path, live, odsKeys,
      "source_date") === 1)
    assert(Upsert.upsertPartitioned(spark, path, batch, odsKeys,
      "source_date") === 1)
    assert(Upsert.upsertPartitioned(spark, path, batch, odsKeys,
      "source_date") === 0)
    assert(Upsert.upsertPartitioned(spark, path, batch.union(live),
      odsKeys, "source_date") === 0)
    assert(graft.engine.Manifest.read(spark, path).count() === 2)
  }

  test("overwritePartitions counts its rows from footers, not by a job") {
    val path = tmp()
    def batch(rows: (Int, Date, String)*) = rows.toDF("k", "d", "v")
    Upsert.overwritePartitions(spark, path,
      batch((1, d1, "a"), (2, d1, "b")), "d")
    val (n, actions) = TestSpark.actionsDuring(
      Upsert.overwritePartitions(spark, path,
        batch((1, d1, "a2"), (3, d2, "c")), "d"))
    assert(n === 2)
    assert(!actions.contains("count"),
      s"overwritePartitions ran a count action: $actions")
    assert(graft.engine.Manifest.read(spark, path)
      .select("k", "v").as[(Int, String)].collect().toSet ===
      Set((1, "a2"), (3, "c")))
  }

  test("an overwrite that empties a table's only partition reads as an " +
      "empty table, and the next upsert lands") {
    val path = tmp()
    val day = Seq((1, d1, "US")).toDF("rank", "source_date", "country")
    Upsert.upsertPartitioned(spark, path, day, odsKeys, "source_date")
    val schema = graft.engine.Manifest.read(spark, path).schema
    assert(Upsert.overwritePartitions(spark, path, day.limit(0),
      "source_date", expectedValues = Some(Seq(d1.toString))) === 0)
    val v = graft.engine.Manifest.currentVersion(spark, path).get
    assert(graft.engine.Manifest.filesAsOf(spark, path, v).isEmpty)
    val empty = graft.engine.Manifest.read(spark, path)
    assert(empty.count() === 0)
    assert(empty.schema.map(f => f.name -> f.dataType) ===
      schema.map(f => f.name -> f.dataType))
    assert(Upsert.upsertPartitioned(spark, path, day, odsKeys,
      "source_date") === 1)
    assert(graft.engine.Manifest.read(spark, path)
      .select("rank", "source_date", "country")
      .as[(Int, Date, String)].collect().toSeq === Seq((1, d1, "US")))
  }
}
