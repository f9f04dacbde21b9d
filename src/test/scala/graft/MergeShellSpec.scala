package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CommitConflictException, Manifest, Upsert}

/** Merges into an EMPTY table — a freshly CREATE TABLE'd one, whose
  * manifest version lists no files. An empty table reads as zero rows
  * of its pinned schema, so the merge verbs run their one body over
  * it: with nothing live, the commit is
  * `commitOptimistic(scope = whole table, expected = ∅)` when
  * unpartitioned, and expects no files in the touched date directories
  * when partitioned. A concurrent lease-less append that lands rows
  * sharing keys with the merge's batch therefore makes the commit
  * conflict, and the merge's retry loop merges against the now
  * non-empty table (keys deduped) instead of admitting a second copy.
  */
class MergeShellSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val st = StructType(Seq(
    StructField("k", IntegerType), StructField("d", DateType),
    StructField("cents", LongType)))
  private val d1 = Date.valueOf("2024-07-01")

  private def shell(): String = {
    val p = Files.createTempDirectory("graft-shell").resolve("t").toString
    Manifest.commit(spark, p, Seq.empty, schema = Some(st))
    p
  }

  test("merge into a shell lands the batch; a second merge upserts it") {
    val p = shell()
    assert(Upsert.mergeParquet(spark, p,
      Seq((1, d1, 100L), (2, d1, 200L)).toDF("k", "d", "cents"),
      Seq("k")) === 2L)
    assert(Manifest.read(spark, p).count() === 2)
    assert(Upsert.mergeParquet(spark, p,
      Seq((2, d1, 999L), (3, d1, 300L)).toDF("k", "d", "cents"),
      Seq("k")) === 2L)
    val rows = Manifest.read(spark, p).select("k", "cents").as[(Int, Long)]
      .collect().toMap
    assert(rows === Map(1 -> 100L, 2 -> 999L, 3 -> 300L))
  }

  test("partitioned merge into a shell lands partitioned and keyed") {
    val p = shell()
    assert(Upsert.mergePartitioned(spark, p,
      Seq((1, d1, 100L)).toDF("k", "d", "cents"),
      Seq("k", "d"), "d") === 1L)
    assert(Manifest.livePartitions(spark, p) === Seq("d=2024-07-01"))
    // second merge takes the non-shell path and replaces the key
    assert(Upsert.mergePartitioned(spark, p,
      Seq((1, d1, 777L)).toDF("k", "d", "cents"),
      Seq("k", "d"), "d") === 1L)
    assert(Manifest.read(spark, p).select("cents").as[Long].head() === 777L)
  }

  test("the shell insert's commit shape conflicts when an append beat it " +
      "(the exact ADVICE r13 window)") {
    val p = shell()
    // a concurrent lease-less append lands between the merge's shell
    // check and its staged commit …
    Upsert.append(spark, p, Seq((1, d1, 1L)).toDF("k", "d", "cents"),
      Some("d"))
    // … so the shell path's expected-empty whole-table commit must throw
    // instead of blindly admitting a second copy of key 1
    intercept[CommitConflictException](
      Manifest.commitOptimistic(spark, p, Manifest.PreparedCommit(
        scope = _ => true, expected = Set.empty,
        retire = Set.empty, add = Seq("d=2024-07-01/ghost.parquet"))))
  }

  test("merge racing a same-key append into a shell never yields " +
      "duplicate keys") {
    val p = shell()
    val results = {
      val out = new Array[Either[Throwable, Any]](2)
      val ts = Seq(
        () => Upsert.mergeParquet(spark, p,
          (1 to 10).map(i => (i, d1, i * 10L)).toDF("k", "d", "cents"),
          Seq("k")): Any,
        () => Upsert.append(spark, p,
          Seq((5, d1, 5000L)).toDF("k", "d", "cents"), None): Any
      ).zipWithIndex.map { case (f, i) =>
        new Thread(() => out(i) = try Right(f()) catch {
          case e: Throwable => Left(e)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      out.toSeq
    }
    assert(results.forall(_.isRight), s"racers failed: $results")
    val t = Manifest.read(spark, p)
    val byKey = t.groupBy("k").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    // WriteSerializable allows merge-then-append ordering (the append's
    // row may land after the merge and win k=5 as a later writer per
    // the documented blind-append contract) — but if the APPEND landed
    // first, the merge must have seen and deduped it, so duplicates can
    // only exist when the serialization order is append-after-merge,
    // in which case the merge committed against an EMPTY table and the
    // history shows the append's version AFTER the merge's.
    if (byKey > 0) {
      val vs = Manifest.versions(spark, p)
      // duplicate implies the append is the LAST committed mutation
      val lastFiles = Manifest.filesAsOf(spark, p, vs.last).toSet --
        Manifest.filesAsOf(spark, p, vs.init.last).toSet
      assert(lastFiles.nonEmpty,
        "a duplicate key is only legal as a trailing blind append")
    }
    assert(t.filter(org.apache.spark.sql.functions.col("k") =!= 5)
      .groupBy("k").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
      .count() === 0, "non-raced keys must be unique")
  }

  test("INSERT * keeps the table's column types: an up-cast lands cast, " +
      "any other retyping is refused as schema drift") {
    val p = shell()
    val insertOnly = (src: org.apache.spark.sql.DataFrame) =>
      Upsert.mergeActions(spark, p, src, Seq("k"), Seq.empty, Some(None),
        Seq.empty)
    val e = intercept[IllegalArgumentException](
      insertOnly(Seq((1, d1, "100")).toDF("k", "d", "cents")))
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("cents: string vs table bigint"), e.getMessage)
    assert(Manifest.read(spark, p).count() === 0L)
    // INT into BIGINT, into the empty table and into the non-empty one:
    // every committed file stores BIGINT
    assert(insertOnly(Seq((1, d1, 100)).toDF("k", "d", "cents")) === (0L, 1L))
    assert(insertOnly(Seq((2, d1, 200)).toDF("k", "d", "cents")) === (0L, 1L))
    val files = Manifest.currentLive(spark, p)
    assert(files.nonEmpty)
    files.foreach(f => assert(spark.read.parquet(s"$p/$f").schema("cents")
      .dataType === LongType, f))
    assert(Manifest.read(spark, p).select("k", "cents").as[(Int, Long)]
      .collect().toSet === Set(1 -> 100L, 2 -> 200L))
  }
}
