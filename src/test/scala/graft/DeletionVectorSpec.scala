package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ChangeFeed, Compaction, DeletionVectors, Manifest, Upsert}

/** Merge-on-read DML ([[graft.engine.Upsert.deleteWhereMor]] /
  * [[updateWhereMor]], [[graft.engine.DeletionVectors]]): a DELETE
  * commits positions, never rewritten files; reads (library and SQL)
  * apply the anti-join; stacked deletes merge position sets; UPDATE
  * lands old-image DVs + new copies in one commit; time travel,
  * change feed, compaction-absorb, vacuum reclamation, and the loud
  * refusals (cap, duplicate basenames) all hold.
  */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-dv").resolve("t").toString

  private val d1 = Date.valueOf("2024-07-01")
  private val d2 = Date.valueOf("2024-07-02")

  /** One file per partition (coalesce(1)) so same-file assertions —
    * stacked-delete pointer merges, vacuum re-point reclamation — are
    * deterministic.
    */
  private def seed(p: String): Unit =
    Upsert.upsertPartitioned(spark, p,
      Seq((1, d1, 100L), (2, d1, 200L), (3, d2, 300L), (4, d2, 400L))
        .toDF("k", "d", "cents").coalesce(1), Seq("k", "d"), "d")

  private def keys(p: String): Set[Int] =
    Manifest.read(spark, p).select("k").as[Int].collect().toSet

  private def dvsNow(p: String): Map[String, Manifest.DvPointer] =
    Manifest.dvsAsOf(spark, p, Manifest.currentVersion(spark, p).get)

  test("MoR delete removes rows WITHOUT touching any data file") {
    val p = tmp(); seed(p)
    val v1 = Manifest.currentVersion(spark, p).get
    val pre = Manifest.currentLive(spark, p)
    assert(Upsert.deleteWhereMor(spark, p, col("k") === 2) === 1L)
    // file list IDENTICAL — only the pointer set changed
    assert(Manifest.currentLive(spark, p).toSet === pre.toSet)
    assert(keys(p) === Set(1, 3, 4))
    val dv = dvsNow(p)
    assert(dv.size === 1 && dv.values.head.rows === 1L)
    // only the d1 file carries a pointer; d2's file scans clean
    assert(dv.keys.forall(_.startsWith("d=2024-07-01/")))
    // time travel: the pre-delete snapshot still serves the row
    assert(Manifest.readAsOf(spark, p, v1).select("k").as[Int]
      .collect().toSet === Set(1, 2, 3, 4))
    // the change feed reports the deletion from a pointer-only diff
    val v2 = Manifest.currentVersion(spark, p).get
    assert(ChangeFeed.changes(spark, p, v1, v2, Seq("k"))
      .select("k", ChangeFeed.ChangeCol).as[(Int, String)]
      .collect().toSet === Set((2, "delete")))
  }

  test("stacked MoR deletes on one file merge their position sets") {
    val p = tmp(); seed(p)
    assert(Upsert.deleteWhereMor(spark, p, col("k") === 1) === 1L)
    val dv1 = dvsNow(p)
    assert(Upsert.deleteWhereMor(spark, p, col("k") === 2) === 1L)
    val dv2 = dvsNow(p)
    assert(keys(p) === Set(3, 4))
    // same data file, re-pointed to a merged 2-position DV object
    assert(dv2.keySet === dv1.keySet)
    assert(dv2.values.head.rows === 2L)
    assert(dv2.values.head.rel !== dv1.values.head.rel)
    // a COW pass over the same rows sees them already gone: no-op
    assert(Upsert.deleteWhere(spark, p, col("k") === 1) === 0L)
  }

  test("MoR update DVs the old image and appends the new in one commit") {
    val p = tmp(); seed(p)
    val pre = Manifest.currentLive(spark, p).toSet
    assert(Upsert.updateWhereMor(spark, p, col("k") === 3,
      Map("cents" -> (col("cents") + 11L))) === 1L)
    val post = Manifest.currentLive(spark, p).toSet
    // original files all survive; exactly the appended copies are new
    assert(pre.subsetOf(post) && (post -- pre).nonEmpty)
    assert(Manifest.read(spark, p).select("k", "cents").as[(Int, Long)]
      .collect().toSet === Set((1, 100L), (2, 200L), (3, 311L), (4, 400L)))
    // one version: the DV and the copies became visible together
    // (readAsOf at current-1 shows the pre-update state)
    val v = Manifest.currentVersion(spark, p).get
    assert(Manifest.readAsOf(spark, p, v - 1).filter(col("k") === 3)
      .select("cents").as[Long].collect().toSeq === Seq(300L))
  }

  test("MoR update of a partition column moves the row's directory") {
    val p = tmp(); seed(p)
    assert(Upsert.updateWhereMor(spark, p, col("k") === 1,
      Map("d" -> lit(d2))) === 1L)
    val rows = Manifest.read(spark, p).filter(col("k") === 1)
      .select("d").as[Date].collect().toSeq
    assert(rows === Seq(d2))
    // the new image physically lives under d=2024-07-02
    val added = Manifest.currentLive(spark, p)
      .filterNot(dvsNow(p).contains)
    assert(added.exists(_.startsWith("d=2024-07-02/")))
  }

  test("NULL-evaluating rows survive a MoR delete (TRUE-only removal)") {
    val p = tmp()
    Upsert.append(spark, p,
      Seq((1, Some(10L)), (2, None), (3, Some(30L)))
        .toDF("k", "v"), None)
    assert(Upsert.deleteWhereMor(spark, p, col("v") > 15L) === 1L)
    assert(keys(p) === Set(1, 2))
  }

  test("predicate pushdown on a DV'd scan still kills the right rows") {
    val p = tmp(); seed(p)
    Upsert.deleteWhereMor(spark, p, col("k") === 2)
    // a pushed filter skips row groups — row_index must stay absolute
    assert(Manifest.read(spark, p).filter(col("cents") >= 200L)
      .select("k").as[Int].collect().toSet === Set(3, 4))
  }

  test("compaction absorbs deletion vectors (clean files, no pointers)") {
    val p = tmp(); seed(p)
    Upsert.deleteWhereMor(spark, p, col("k") === 2)
    Upsert.updateWhereMor(spark, p, col("k") === 4,
      Map("cents" -> lit(444L)))
    assert(dvsNow(p).nonEmpty)
    Compaction.compact(spark, p)
    assert(dvsNow(p).isEmpty)
    assert(Manifest.read(spark, p).select("k", "cents").as[(Int, Long)]
      .collect().toSet === Set((1, 100L), (3, 300L), (4, 444L)))
  }

  test("COW rewrite of a DV'd file keeps its deletions and drops the pointer") {
    val p = tmp(); seed(p)
    Upsert.deleteWhereMor(spark, p, col("k") === 1)  // DV on d1's file
    // COW-delete k=2 — same physical file: the rewrite must read it
    // DV-applied (k=1 stays gone) and retire the pointer with the file
    assert(Upsert.deleteWhere(spark, p, col("k") === 2) === 1L)
    assert(keys(p) === Set(3, 4))
    assert(dvsNow(p).isEmpty)
  }

  test("vacuum reclaims unreferenced DV objects, keeps referenced ones") {
    val p = tmp(); seed(p)
    Upsert.deleteWhereMor(spark, p, col("k") === 1)
    val dvOld = dvsNow(p).values.head.rel
    Upsert.deleteWhereMor(spark, p, col("k") === 2)  // re-points, merges
    val dvNew = dvsNow(p).values.head.rel
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def exists(rel: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$p/$rel"))
    assert(exists(dvOld) && exists(dvNew))
    Manifest.vacuum(spark, p, keep = 1)
    assert(!exists(dvOld) && exists(dvNew))
    assert(keys(p) === Set(3, 4))
  }

  test("the DV row cap refuses loudly, naming the outs") {
    val p = tmp(); seed(p)
    spark.conf.set("spark.graft.dml.dv.maxRows", "1")
    try {
      assert(Upsert.deleteWhereMor(spark, p, col("k") === 1) === 1L)
      val e = intercept[IllegalArgumentException] {
        Upsert.deleteWhereMor(spark, p, col("k") === 2)
      }
      assert(e.getMessage.contains("Compact") ||
        e.getMessage.contains("copy-on-write"))
    } finally spark.conf.unset("spark.graft.dml.dv.maxRows")
  }

  test("duplicate basenames across partition dirs are handled (full-path keys)") {
    // one write task emits the SAME part-file basename into every
    // partition dir it touches — the DV key must be the full path, or
    // a delete in d1's part-00000 would also kill d2's part-00000 rows
    // at the same position. seed() coalesces to one task, so this is
    // exactly the colliding layout.
    val p = tmp(); seed(p)
    val base = Manifest.currentLive(spark, p)
      .map(f => f.substring(f.lastIndexOf('/') + 1)).distinct
    assert(base.size === 1, s"seed no longer collides: $base")
    // k=1 sits at position 0 of d1's file; k=3 at position 0 of d2's —
    // deleting k=1 must NOT touch k=3
    assert(Upsert.deleteWhereMor(spark, p, col("k") === 1) === 1L)
    assert(keys(p) === Set(2, 3, 4))
    assert(Upsert.deleteWhereMor(spark, p, col("k") === 3) === 1L)
    assert(keys(p) === Set(2, 4))
  }

  test("overlapping-file-set deletes keep DV objects duplicate-free") {
    // ADVICE r17 (medium): old DV objects are per-statement and
    // multi-file — merging them UNFILTERED into a later statement's
    // object would copy rows of files NOT touched by that statement
    // (still pointed at the old object), growing live objects
    // superlinearly and undercounting the broadcast-cap accounting.
    val p = tmp(); seed(p)
    // statement 1 touches BOTH files → one shared object
    assert(Upsert.deleteWhereMor(spark, p,
      col("k") === 1 || col("k") === 3) === 2L)
    val dv1 = dvsNow(p)
    assert(dv1.size === 2 && dv1.values.map(_.rel).toSet.size === 1)
    // statement 2 touches ONLY d1's file → its new object must carry
    // d1's prior position + the new one, and NOT d2's position
    assert(Upsert.deleteWhereMor(spark, p, col("k") === 2) === 1L)
    val dv2 = dvsNow(p)
    val d1f = dv2.keys.find(_.startsWith("d=2024-07-01/")).get
    val d2f = dv2.keys.find(_.startsWith("d=2024-07-02/")).get
    assert(dv2(d1f).rows === 2L && dv2(d2f).rows === 1L)
    val actualRows = spark.read.schema(DeletionVectors.Schema)
      .parquet(s"$p/${dv2(d1f).rel}").count()
    assert(actualRows === 2L,
      s"new DV object holds $actualRows rows; pointer accounting says 2")
    assert(keys(p) === Set(4))
  }

  test("vacuum reclaims orphaned DV staging directories") {
    // a crashed DeletionVectors.write leaves _staging_<uuid>/ behind;
    // a committed object is always a renamed-out plain file, so any
    // staging DIRECTORY at reclaim time is an orphan (ADVICE r17)
    val p = tmp(); seed(p)
    Upsert.deleteWhereMor(spark, p, col("k") === 1)
    val live = dvsNow(p).values.head.rel
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(
      s"$p/_graft_manifest/dv/_staging_deadbeef")
    fs.mkdirs(orphan)
    val out = fs.create(new org.apache.hadoop.fs.Path(orphan, "part.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()
    Manifest.vacuum(spark, p, keep = 1)
    assert(!fs.exists(orphan), "orphaned staging dir survived reclaim")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/$live")),
      "the live DV object must survive")
    assert(keys(p) === Set(2, 3, 4))
  }

  test("MoR MERGE: matched clauses commit DVs + appended images, one commit") {
    val p = tmp(); seed(p)
    spark.conf.set("spark.graft.dml.mode", "merge-on-read")
    try {
      val pre = Manifest.currentLive(spark, p).toSet
      val src = Seq((1, d1, 111L), (2, d1, 222L), (5, d2, 555L))
        .toDF("k", "d", "cents")
      val (affected, inserted) = Upsert.mergeProgram(spark, p, src,
        Seq("k"),
        Seq(Upsert.MatchedDelete(Some(col("k") === 1)),
          Upsert.MatchedUpdate(None)),
        Seq.empty, Some(Upsert.InsertSpec(None)), Seq("d"))
      assert(affected === 2L && inserted === 1L)
      // no matched file was rewritten: originals all survive; the only
      // additions are the update image + the insert
      val post = Manifest.currentLive(spark, p).toSet
      assert(pre.subsetOf(post) && (post -- pre).nonEmpty)
      val dv = dvsNow(p)
      assert(dv.size === 1 && dv.values.head.rows === 2L)
      assert(dv.keys.forall(_.startsWith("d=2024-07-01/")))
      assert(Manifest.read(spark, p).select("k", "cents")
        .as[(Int, Long)].collect().toSet ===
        Set((2, 222L), (3, 300L), (4, 400L), (5, 555L)))
      // one snapshot: version-1 shows the pre-merge state wholly
      val v = Manifest.currentVersion(spark, p).get
      assert(Manifest.readAsOf(spark, p, v - 1).select("k", "cents")
        .as[(Int, Long)].collect().toSet ===
        Set((1, 100L), (2, 200L), (3, 300L), (4, 400L)))
    } finally spark.conf.unset("spark.graft.dml.mode")
  }

  test("MoR MERGE into a CREATE TABLE shell inserts through the same body") {
    val p = tmp()
    Manifest.commit(spark, p, Nil, schema = Some(
      Seq((0, d1, 0L)).toDF("k", "d", "cents").schema))
    spark.conf.set("spark.graft.dml.mode", "merge-on-read")
    try {
      val program = (src: org.apache.spark.sql.DataFrame) =>
        Upsert.mergeProgram(spark, p, src, Seq("k"),
          Seq(Upsert.MatchedUpdate(None)), Seq.empty,
          Some(Upsert.InsertSpec(None)), Seq("d"))
      assert(program(Seq((1, d1, 100L), (2, d2, 200L))
        .toDF("k", "d", "cents")) === (0L, 2L))
      assert(Manifest.livePartitions(spark, p) ===
        Seq("d=2024-07-01", "d=2024-07-02"))
      // the table is non-empty now: the matched clause DVs the old image
      assert(program(Seq((2, d2, 222L)).toDF("k", "d", "cents")) === (1L, 0L))
      assert(dvsNow(p).size === 1)
      assert(Manifest.read(spark, p).select("k", "cents").as[(Int, Long)]
        .collect().toSet === Set(1 -> 100L, 2 -> 222L))
    } finally spark.conf.unset("spark.graft.dml.mode")
  }

  test("MoR MERGE matched-only keeps narrow scope; COW by-source untouched") {
    val p = tmp(); seed(p)
    spark.conf.set("spark.graft.dml.mode", "merge-on-read")
    try {
      val src = Seq((2, d1, 999L)).toDF("k", "d", "cents")
      // matched-only: no insert clause → only the touched file DV'd
      val (affected, inserted) = Upsert.mergeProgram(spark, p, src,
        Seq("k"), Seq(Upsert.MatchedUpdate(None)), Seq.empty, None,
        Seq("d"))
      assert(affected === 1L && inserted === 0L)
      assert(Manifest.read(spark, p).filter(col("k") === 2)
        .select("cents").as[Long].head() === 999L)
      // by-source clauses stay copy-on-write by design: the whole-table
      // rewrite must land rewritten files, not pointers
      val (a2, _) = Upsert.mergeProgram(spark, p, src, Seq("k"),
        Seq.empty,
        Seq(Upsert.BySourceDelete(Some(col("k") === 4))), None, Seq("d"))
      assert(a2 === 1L)
      assert(keys(p) === Set(1, 2, 3))
    } finally spark.conf.unset("spark.graft.dml.mode")
  }

  test("SQL catalog reads apply DVs; clean tables keep the stock scan") {
    val root = Files.createTempDirectory("graft-dv-cat").toString
    spark.conf.set("spark.sql.catalog.dvcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dvcat.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvcat.ns")
    spark.sql("""CREATE TABLE dvcat.ns.t (k BIGINT, v BIGINT)
                 TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')""")
    spark.range(0, 10).selectExpr("id as k", "id * 10 as v")
      .createOrReplaceTempView("__dv_src")
    spark.sql("INSERT INTO dvcat.ns.t SELECT k, v FROM __dv_src")
    val files1 = Manifest.currentLive(spark, s"$root/ns/t").toSet
    spark.sql("DELETE FROM dvcat.ns.t WHERE k % 3 = 0")
    // merge-on-read indeed: same files
    assert(Manifest.currentLive(spark, s"$root/ns/t").toSet === files1)
    assert(spark.sql("SELECT sum(v) FROM dvcat.ns.t").as[Long].head ===
      (0L until 10L).filter(_ % 3 != 0).map(_ * 10).sum)
    // the swapped plan carries the anti-join; a clean table's does not
    val dvPlan = spark.sql("SELECT * FROM dvcat.ns.t")
      .queryExecution.optimizedPlan.toString
    assert(dvPlan.contains("LeftAnti"))
    spark.sql("""CREATE TABLE dvcat.ns.clean AS
                 SELECT k, v FROM __dv_src""")
    val cleanPlan = spark.sql("SELECT * FROM dvcat.ns.clean")
      .queryExecution.optimizedPlan.toString
    assert(!cleanPlan.contains("LeftAnti"))
    // VERSION AS OF: the pre-delete snapshot reads without DVs
    assert(spark.sql(
      "SELECT sum(v) FROM dvcat.ns.t VERSION AS OF 2").as[Long].head ===
      (0L until 10L).map(_ * 10).sum)
  }

  test("membership-join predicates work under merge-on-read") {
    val p = tmp(); seed(p)
    val keyDf = Seq(2, 3).toDF("__graft_k")
      .withColumn("__graft_m1", lit(true))
    val prepared = Upsert.PreparedPredicate(
      joins = Seq(Upsert.MembershipJoin(keyDf,
        col("k") === col("__graft_k"), "__graft_m1")),
      predicate = col("__graft_m1") <=> lit(true))
    assert(Upsert.deleteWhereMor(spark, p, prepared) === 2L)
    assert(keys(p) === Set(1, 4))
  }

  test("full-table DELETE on a MoR table clears it copy-on-write, no DVs") {
    val root = Files.createTempDirectory("graft-dv-trunc").toString
    spark.conf.set("spark.sql.catalog.dvtc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dvtc.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvtc.ns")
    spark.sql("""CREATE TABLE dvtc.ns.t (k BIGINT, v BIGINT)
                 TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')""")
    spark.range(0, 20).selectExpr("id as k", "id as v")
      .createOrReplaceTempView("__dv_trunc_src")
    spark.sql("INSERT INTO dvtc.ns.t SELECT k, v FROM __dv_trunc_src")
    val p = s"$root/ns/t"
    val before = Manifest.currentLive(spark, p).toSet
    assert(before.nonEmpty)
    spark.sql("DELETE FROM dvtc.ns.t")
    val v = Manifest.currentVersion(spark, p).get
    // DV'ing every row would keep all data files live under full
    // vectors; the clear must RETIRE them (at most one empty part
    // file survives the unpartitioned rewrite) and bind no pointers
    val after = Manifest.filesAsOf(spark, p, v)
    assert(after.toSet.intersect(before).isEmpty && after.size <= 1)
    assert(Manifest.dvsAsOf(spark, p, v).isEmpty)
    assert(spark.sql("SELECT count(*) FROM dvtc.ns.t").as[Long].head === 0L)
  }

  test("no-match MoR delete is a version no-op") {
    val p = tmp(); seed(p)
    val v = Manifest.currentVersion(spark, p).get
    assert(Upsert.deleteWhereMor(spark, p, col("k") === 99) === 0L)
    assert(Manifest.currentVersion(spark, p).get === v)
    assert(dvsNow(p).isEmpty)
  }
}
