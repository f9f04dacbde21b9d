package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Compaction, FileStats, Manifest, WriterLease, ZOrder}

/** File-level data skipping through manifest stats sidecars (round 11):
  * the footer-read envelopes are exact, a 2-D box on a Z-ordered layout
  * schedules a strict subset of files while losing no qualifying row
  * (the superset guarantee), columns without stats never prune, and
  * vacuum/rollback retire sidecars with their versions. Complements
  * q_stats_skipping, which holds the pruned scan to the oracle hash
  * gate — here we assert the pruning EFFECT the oracle cannot see.
  */
class FileStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-filestats").resolve("t").toString

  test("footer envelopes equal the data's true per-file min/max") {
    val path = tmp()
    val df = (0 until 1000)
      .map(i => (i.toLong, i * 0.5, f"s$i%04d"))
      .toDF("x", "y", "sname")
    df.repartitionByRange(4, col("x")).write.parquet(path)
    val files = Manifest.listDataFiles(spark, path)
    val stats = FileStats.collect(spark, path, files,
      Seq("x", "y", "sname"))
    assert(stats.keySet === files.toSet)
    val truth = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("xmin"), max("x").as("xmax"),
        min("y").as("ymin"), max("y").as("ymax"),
        min("sname").as("smin"), max("sname").as("smax"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getString(5), r.getString(6))))
      .toMap
    files.foreach { rel =>
      val (xmin, xmax, ymin, ymax, smin, smax) =
        truth.find(_._1.endsWith(rel)).get._2
      val m = stats(rel)
      assert(m("x") === FileStats.Stat("long", xmin.toString, xmax.toString))
      assert(m("y").typ === "double")
      assert(m("y").min.toDouble === ymin && m("y").max.toDouble === ymax)
      assert(m("sname") === FileStats.Stat("string", smin, smax))
    }
  }

  /** The full skipping path over a Z-ordered layout: strict pruning,
    * no lost rows, stat-less columns conservative. */
  test("2-D box prunes files on a Z-ordered table without losing rows") {
    val path = tmp()
    val grid = for { a <- 0 until 64; b <- 0 until 64 }
      yield (a.toLong, b.toLong, a * 64L + b)
    val df = grid.toDF("a", "b", "payload")
    ZOrder.clusteredWrite(df, "a", "b", 16, path)
    WriterLease.withLease(spark, path) {
      val files = Manifest.listDataFiles(spark, path)
      Manifest.commit(spark, path, files,
        FileStats.collect(spark, path, files, Seq("a", "b")))
    }
    val ranges = Seq(("a", 0.0, 7.0), ("b", 0.0, 7.0))
    val (kept, total) = Manifest.planSkipping(spark, path, ranges)
    assert(total === 16)
    // an 1/64th-area box on a Morton layout touches a handful of files
    assert(kept.nonEmpty && kept.size <= total / 2,
      s"expected real pruning, got ${kept.size}/$total")
    val box = col("a") <= 7 && col("b") <= 7
    val pruned = Manifest.readSkipping(spark, path, ranges)
      .filter(box).select("payload").as[Long].collect().toSet
    val full = Manifest.read(spark, path)
      .filter(box).select("payload").as[Long].collect().toSet
    assert(pruned === full && full.size === 64)
    // column with no stats -> no file can be excluded
    val (keptNoStats, _) =
      Manifest.planSkipping(spark, path, Seq(("payload", 0.0, 1.0)))
    assert(keptNoStats.size === total)
    // a stats-less commit CARRIES the envelopes forward (files are
    // immutable, so they can never go stale — round-11 schema-evolution
    // wave); a table that never collected stats reads unskipped
    WriterLease.withLease(spark, path) {
      Manifest.commit(spark, path, Manifest.currentLive(spark, path))
    }
    val (keptCarried, totalCarried) =
      Manifest.planSkipping(spark, path, ranges)
    assert(keptCarried.toSet === kept.toSet && totalCarried === total)
    val bare = tmp()
    (0 until 100).map(_.toLong).toDF("x")
      .repartitionByRange(4, col("x")).write.parquet(bare)
    WriterLease.withLease(spark, bare) {
      Manifest.commit(spark, bare, Manifest.listDataFiles(spark, bare))
    }
    val (keptBare, totalBare) =
      Manifest.planSkipping(spark, bare, Seq(("x", 0.0, 10.0)))
    assert(keptBare.size === totalBare && totalBare === 4)
  }

  test("compaction with statsCols yields a skipping-capable snapshot") {
    val path = tmp()
    (0 until 512).map(i => (i.toLong, s"p$i")).toDF("k", "v")
      .repartitionByRange(8, col("k")).write.parquet(path)
    // a plain parquet write is no table until its listing is committed
    Manifest.commit(spark, path, Manifest.listDataFiles(spark, path))
    Compaction.compact(spark, path, targetBytesPerFile = 4L * 1024,
      statsCols = Seq("k"), clusterBy = Seq("k"))
    val (kept, total) =
      Manifest.planSkipping(spark, path, Seq(("k", 0.0, 31.0)))
    assert(total > 1 && kept.size < total)
    val got = Manifest.readSkipping(spark, path, Seq(("k", 0.0, 31.0)))
      .filter(col("k") <= 31).count()
    assert(got === 32)
  }

  test("vacuum and rollback retire sidecars with their versions") {
    val path = tmp()
    def commitWithStats(): Long = WriterLease.withLease(spark, path) {
      val files = Manifest.listDataFiles(spark, path)
      Manifest.commit(spark, path, files,
        FileStats.collect(spark, path, files, Seq("x")))
    }
    (0 until 100).map(_.toLong).toDF("x").write.parquet(path)
    commitWithStats()
    (0 until 100).map(_.toLong).toDF("x").write
      .mode("append").parquet(path)
    val v2 = commitWithStats()
    assert(FileStats.read(spark, path, 1L).nonEmpty)
    assert(Manifest.vacuum(spark, path, keep = 1) >= 0)
    assert(FileStats.read(spark, path, 1L).isEmpty)
    assert(FileStats.read(spark, path, v2).nonEmpty)
    // rollback deletes the newer version's sidecar alongside its list
    (0 until 50).map(_.toLong).toDF("x").write
      .mode("append").parquet(path)
    val v3 = commitWithStats()
    Manifest.rollback(spark, path, v2)
    assert(FileStats.read(spark, path, v3).isEmpty)
    assert(Manifest.currentVersion(spark, path) === Some(v2))
  }
}
