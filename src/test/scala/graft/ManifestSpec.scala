package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Manifest, Upsert}

/** Snapshot isolation via the atomic per-table manifest (round-11
  * headline): readers resolve ONE manifest before listing files, so a
  * query concurrent with an append/merge/compaction sees the table
  * entirely pre-mutation or entirely post-mutation — the MVCC reader
  * guarantee the reference inherits from Postgres. Plus the free
  * byproducts: time travel, rollback, and orphan-collecting vacuum.
  */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-manifest").resolve("t").toString

  private val d1 = Date.valueOf("2024-05-01")
  private val d2 = Date.valueOf("2024-05-02")
  private val keys = Seq("rank", "source_date", "country")

  private def df(rows: (Int, Date, String, Int)*) =
    rows.toDF("rank", "source_date", "country", "listeners")

  private def content(path: String, v: Option[Long] = None): Set[(Int, Int)] =
    (v match {
      case Some(ver) => Manifest.readAsOf(spark, path, ver)
      case None => Manifest.read(spark, path)
    }).select("rank", "listeners").as[(Int, Int)].collect().toSet

  test("every upsert/merge commits one version; time travel reads each") {
    val path = tmp()
    Upsert.upsertPartitioned(spark, path, df((1, d1, "US", 100)),
      keys, "source_date")
    Upsert.upsertPartitioned(spark, path,
      df((1, d1, "US", 999), (2, d2, "US", 200)), keys, "source_date")
    Upsert.mergePartitioned(spark, path, df((1, d1, "US", 111)),
      keys, "source_date")
    assert(Manifest.versions(spark, path) === Seq(1L, 2L, 3L))
    assert(content(path, Some(1L)) === Set(1 -> 100))
    assert(content(path, Some(2L)) === Set(1 -> 100, 2 -> 200))
    assert(content(path, Some(3L)) === Set(1 -> 111, 2 -> 200))
    assert(content(path) === Set(1 -> 111, 2 -> 200))
  }

  test("a snapshot resolved before a merge is immune to it") {
    val path = tmp()
    Upsert.upsertPartitioned(spark, path,
      df((1, d1, "US", 100), (2, d2, "US", 200)), keys, "source_date")
    val v = Manifest.currentVersion(spark, path).get
    // resolve the reader's file list NOW — the merge below must not
    // disturb it (its files are never renamed or deleted)
    val before = Manifest.readAsOf(spark, path, v)
    Upsert.mergePartitioned(spark, path,
      df((1, d1, "US", 111), (2, d2, "US", 222)), keys, "source_date")
    assert(before.select("rank", "listeners").as[(Int, Int)]
      .collect().toSet === Set(1 -> 100, 2 -> 200))
    assert(content(path) === Set(1 -> 111, 2 -> 222))
  }

  test("a reader racing a multi-partition merge sees all-old or all-new, never mixed") {
    val path = tmp()
    val old = (1 to 6).map(i =>
      (i, if (i % 2 == 0) d1 else d2, "US", i * 10))
    Upsert.upsertPartitioned(spark, path, df(old: _*), keys, "source_date")
    val oldSet = old.map(r => r._1 -> r._4).toSet
    val newSet = old.map(r => r._1 -> (r._4 + 1)).toSet
    val delta = old.map(r => (r._1, r._2, r._3, r._4 + 1))
    @volatile var stop = false
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Set[(Int, Int)]]()
    val reader = new Thread(() => {
      while (!stop) seen.add(content(path))
    })
    reader.start()
    try Upsert.mergePartitioned(spark, path, df(delta: _*), keys, "source_date")
    finally { stop = true; reader.join(30000) }
    seen.add(content(path)) // at least the final state is observed
    import scala.jdk.CollectionConverters._
    val observed = seen.asScala.toSet
    assert(observed.subsetOf(Set(oldSet, newSet)),
      s"reader observed a mixed snapshot: ${observed -- Set(oldSet, newSet)}")
    assert(observed.contains(newSet))
  }

  test("rollback restores a prior snapshot; vacuum collects orphans and retires history") {
    val path = tmp()
    Upsert.upsertPartitioned(spark, path, df((1, d1, "US", 100)),
      keys, "source_date")
    Upsert.mergePartitioned(spark, path, df((1, d1, "US", 111)),
      keys, "source_date")
    Manifest.rollback(spark, path, 1L)
    assert(content(path) === Set(1 -> 100))
    // the rolled-back merge's files are now orphans; vacuum removes
    // them and keeps v1 readable
    val removed = Manifest.vacuum(spark, path, keep = 1)
    assert(removed >= 1, s"expected orphan collection, removed=$removed")
    assert(content(path) === Set(1 -> 100))
    // vacuum after more history retires old versions' files too
    Upsert.mergePartitioned(spark, path, df((1, d1, "US", 222)),
      keys, "source_date")
    Upsert.mergePartitioned(spark, path, df((1, d1, "US", 333)),
      keys, "source_date")
    assert(Manifest.vacuum(spark, path, keep = 1) >= 1)
    assert(content(path) === Set(1 -> 333))
    assert(Manifest.versions(spark, path).size === 1)
    // directory-level husk check: the live set and the dir agree again
    assert(Manifest.listDataFiles(spark, path).toSet ===
      Manifest.currentLive(spark, path).toSet)
  }

  test("livePartitions reports the snapshot's partitions, not orphan dirs") {
    val path = tmp()
    Upsert.upsertPartitioned(spark, path, df((1, d1, "US", 100)),
      keys, "source_date")
    Upsert.upsertPartitioned(spark, path, df((2, d2, "US", 200)),
      keys, "source_date")
    assert(Manifest.livePartitions(spark, path).sorted ===
      Seq("source_date=2024-05-01", "source_date=2024-05-02"))
    Manifest.rollback(spark, path, 1L)
    // day-2's files still sit on disk, but the snapshot excludes them
    assert(Manifest.livePartitions(spark, path) ===
      Seq("source_date=2024-05-01"))
  }

  test("a directory without a manifest is adopted only by an explicit commit") {
    val path = tmp()
    df((1, d1, "US", 100)).write.partitionBy("source_date").parquet(path)
    assert(Manifest.currentVersion(spark, path).isEmpty)
    // the explicit adoption call named by every unmanaged-read failure
    Manifest.commit(spark, path, Manifest.listDataFiles(spark, path))
    assert(content(path) === Set(1 -> 100))
    Upsert.upsertPartitioned(spark, path, df((2, d2, "US", 200)),
      keys, "source_date")
    assert(Manifest.currentVersion(spark, path) === Some(2L))
    assert(content(path) === Set(1 -> 100, 2 -> 200))
  }

  test("a read of a directory without a manifest fails loudly") {
    val path = tmp()
    df((1, d1, "US", 100)).write.partitionBy("source_date").parquet(path)
    val adopt = "Manifest.commit(spark, path, Manifest.listDataFiles(spark, path))"
    Seq[() => Any](() => Manifest.read(spark, path),
      () => Manifest.currentLive(spark, path)).foreach { f =>
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains(adopt), e.getMessage)
    }
    // and a missing path is no table either
    intercept[IllegalStateException](Manifest.read(spark, tmp()))
  }

  test("a replayed first append ignores the orphans of its crashed attempt") {
    val path = tmp()
    val batch = df((1, d1, "US", 100), (2, d1, "US", 200))
    // the crashed attempt: files staged into the table, never committed
    val staging = path + ".__crashed_staging"
    batch.write.partitionBy("source_date").parquet(staging)
    assert(Manifest.stageIn(spark, path, staging).nonEmpty)
    assert(Manifest.currentVersion(spark, path).isEmpty)
    Upsert.append(spark, path, batch, Some("source_date"))
    assert(Manifest.read(spark, path).count() === 2L)
    assert(content(path) === Set(1 -> 100, 2 -> 200))
  }

  test("a fully deleted library table keeps its schema: readable, " +
      "change-fed and mergeable; a schema-less empty version fails loudly") {
    val path = tmp()
    Upsert.upsertPartitioned(spark, path,
      df((1, d1, "US", 100), (2, d2, "US", 200)), keys, "source_date")
    val v1 = Manifest.currentVersion(spark, path).get
    assert(Manifest.schemaAsOf(spark, path, v1).isEmpty,
      "fixture sanity: a library-created table pins no schema")
    val schema = Manifest.read(spark, path).schema
    assert(Upsert.deleteWhere(spark, path, lit(true)) === 2L)
    val v2 = Manifest.currentVersion(spark, path).get
    assert(Manifest.filesAsOf(spark, path, v2).isEmpty)
    assert(Manifest.schemaAsOf(spark, path, v2) === Some(schema))
    assert(schema("source_date").dataType ===
      org.apache.spark.sql.types.DateType)
    assert(Manifest.read(spark, path).count() === 0L)
    assert(graft.engine.ChangeFeed.changes(spark, path, v1, v2, keys)
      .select("rank", graft.engine.ChangeFeed.ChangeCol)
      .as[(Int, String)].collect().toSet ===
      Set((1, "delete"), (2, "delete")))
    val (affected, inserted) = Upsert.mergeActions(spark, path,
      df((3, d1, "US", 300)), keys, Seq(Upsert.MatchedUpdate(None)),
      Some(None), Seq("source_date"))
    assert(affected === 0L && inserted === 1L)
    assert(content(path) === Set(3 -> 300))
    // a zero-file version committed with no schema has no shape to read
    val fresh = tmp()
    Manifest.commit(spark, fresh, Nil)
    val e = intercept[IllegalStateException](Manifest.read(spark, fresh))
    assert(e.getMessage.contains(
      "Manifest.commit(spark, path, Nil, schema = Some("), e.getMessage)
  }

  test("writes into a schema-less zero-file version fail loudly, naming " +
      "the repair; after it the table takes writes") {
    // such a version is what a full delete or an emptying overwrite of
    // an unpinned table committed before zero-file commits pinned a schema
    val path = tmp()
    Manifest.commit(spark, path, Nil)
    val repair = "Manifest.commit(spark, path, Nil, schema = Some("
    val batch = df((1, d1, "US", 100))
    val writes: Seq[(String, () => Any)] = Seq(
      "append" -> (() => Upsert.append(spark, path, batch, Some("source_date"))),
      "upsert" -> (() => Upsert.upsertPartitioned(spark, path, batch, keys,
        "source_date")),
      "merge" -> (() => Upsert.mergeActions(spark, path, batch, keys,
        Seq(Upsert.MatchedUpdate(None)), Some(None), Seq("source_date"))))
    writes.foreach { case (verb, write) =>
      val e = intercept[IllegalStateException](write())
      assert(e.getMessage.contains(repair), s"$verb: ${e.getMessage}")
    }
    Manifest.commit(spark, path, Nil, schema = Some(batch.schema))
    Upsert.append(spark, path, batch, Some("source_date"))
    assert(content(path) === Set(1 -> 100))
  }
}
