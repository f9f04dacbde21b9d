package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ChangeFeed, Manifest, Upsert}

/** Row-level DELETE ([[graft.engine.Upsert.deleteWhere]]): matching
  * rows vanish, files without matches are NOT rewritten (bit-identical
  * names across the commit), prior snapshots retain the rows, the
  * change feed reports the deletion, a no-match delete is a version
  * no-op, and emptying every touched file still commits cleanly.
  */
class DeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-del").resolve("t").toString

  private val d1 = Date.valueOf("2024-07-01")
  private val d2 = Date.valueOf("2024-07-02")

  private def seed(p: String): Unit =
    Upsert.upsertPartitioned(spark, p,
      Seq((1, d1, 100L), (2, d1, 200L), (3, d2, 300L), (4, d2, 400L))
        .toDF("k", "d", "cents"), Seq("k", "d"), "d")

  private def keys(p: String): Set[Int] =
    Manifest.read(spark, p).select("k").as[Int].collect().toSet

  test("deletes matching rows, leaves untouched files bit-identical, time-travels") {
    val p = tmp(); seed(p)
    val v1 = Manifest.currentVersion(spark, p).get
    val pre = Manifest.currentLive(spark, p)
    val n = Upsert.deleteWhere(spark, p, col("k") === 2)
    assert(n === 1L)
    assert(keys(p) === Set(1, 3, 4))
    val v2 = Manifest.currentVersion(spark, p).get
    val post = Manifest.currentLive(spark, p)
    // d2's file contains no match: same file name survives the commit
    assert(pre.filter(_.startsWith("d=2024-07-02/")).toSet ===
      post.filter(_.startsWith("d=2024-07-02/")).toSet)
    assert(pre.filter(_.startsWith("d=2024-07-01/")).toSet !==
      post.filter(_.startsWith("d=2024-07-01/")).toSet)
    // the pre-delete snapshot still has the row
    assert(Manifest.readAsOf(spark, p, v1).select("k").as[Int]
      .collect().toSet === Set(1, 2, 3, 4))
    // and the change feed reports exactly the deletion
    assert(ChangeFeed.changes(spark, p, v1, v2, Seq("k"))
      .select("k", ChangeFeed.ChangeCol).as[(Int, String)]
      .collect().toSet === Set((2, "delete")))
  }

  test("updateWhere rewrites matches in place, leaves the rest alone") {
    val p = tmp(); seed(p)
    val v1 = Manifest.currentVersion(spark, p).get
    val pre = Manifest.currentLive(spark, p)
    val n = Upsert.updateWhere(spark, p, col("k") === 3,
      Map("cents" -> (col("cents") + 1L)))
    assert(n === 1L)
    assert(Manifest.read(spark, p).select("k", "cents")
      .as[(Int, Long)].collect().toSet ===
      Set((1, 100L), (2, 200L), (3, 301L), (4, 400L)))
    // d1 untouched (no match there), d2 rewritten
    val post = Manifest.currentLive(spark, p)
    assert(pre.filter(_.startsWith("d=2024-07-01/")).toSet ===
      post.filter(_.startsWith("d=2024-07-01/")).toSet)
    // the change feed reports exactly the update, both images
    val v2 = Manifest.currentVersion(spark, p).get
    assert(ChangeFeed.changes(spark, p, v1, v2, Seq("k"))
      .select("k", "cents", ChangeFeed.ChangeCol)
      .as[(Int, Long, String)].collect().toSet ===
      Set((3, 300L, "update_preimage"), (3, 301L, "update_postimage")))
  }

  test("updateWhere on a partition column moves the row to its new partition") {
    val p = tmp(); seed(p)
    assert(Upsert.updateWhere(spark, p, col("k") === 1,
      Map("d" -> org.apache.spark.sql.functions.lit(d2))) === 1L)
    assert(Manifest.read(spark, p).filter(col("d") === d2)
      .select("k").as[Int].collect().toSet === Set(1, 3, 4))
    intercept[IllegalArgumentException] {
      Upsert.updateWhere(spark, p, col("k") === 1,
        Map("nope" -> org.apache.spark.sql.functions.lit(0)))
    }
  }

  test("updateWhere's errors name updateWhere, not deleteWhere") {
    val p = tmp()
    Upsert.append(spark, p,
      Seq((1, 100L, "x")).toDF("k", "cents", "__graft_input_file"), None)
    val keyDf = Seq(1).toDF("__graft_k")
      .withColumn("__graft_m1", org.apache.spark.sql.functions.lit(true))
    val prepared = Upsert.PreparedPredicate(
      joins = Seq(Upsert.MembershipJoin(keyDf,
        col("k") === col("__graft_k"), "__graft_m1")),
      predicate = col("__graft_m1") <=>
        org.apache.spark.sql.functions.lit(true))
    val e = intercept[IllegalArgumentException](Upsert.updateWhere(spark,
      p, prepared, Map("cents" -> org.apache.spark.sql.functions.lit(0L))))
    assert(e.getMessage.startsWith(s"requirement failed: updateWhere into $p"),
      e.getMessage)
  }

  test("a predicate with no matches is a version no-op") {
    val p = tmp(); seed(p)
    val v = Manifest.currentVersion(spark, p).get
    assert(Upsert.deleteWhere(spark, p, col("k") === 99) === 0L)
    assert(Manifest.currentVersion(spark, p) === Some(v))
    assert(keys(p) === Set(1, 2, 3, 4))
  }

  test("NULL-evaluating rows survive a delete (predicate not TRUE = keep)") {
    // SQL DELETE removes rows where the predicate is TRUE; a row where
    // it evaluates NULL is kept. The trap: such a row co-located in a
    // touched file fails BOTH filter(p) and filter(!p) under
    // three-valued logic, so a naive rewrite silently drops it.
    val p = tmp()
    Upsert.upsertPartitioned(spark, p,
      Seq((1, d1, Some(10L)), (2, d1, None), (3, d1, Some(99L)))
        .toDF("k", "d", "cents"), Seq("k", "d"), "d")
    // k=3 matches (cents > 50); k=2 has NULL cents → predicate NULL →
    // must survive, in the SAME file (same partition d1) as the match
    val n = Upsert.deleteWhere(spark, p, col("cents") > 50L)
    assert(n === 1L)
    assert(keys(p) === Set(1, 2))
    assert(Manifest.read(spark, p).filter(col("cents").isNull)
      .select("k").as[Int].collect().toSet === Set(2))
    // and updateWhere leaves the NULL row's values untouched
    assert(Upsert.updateWhere(spark, p, col("cents") > 5L,
      Map("cents" -> (col("cents") + 1L))) === 1L)
    assert(Manifest.read(spark, p).select("k", "cents")
      .as[(Int, Option[Long])].collect().toSet ===
      Set((1, Some(11L)), (2, None)))
  }

  test("delete/update after addColumn reads touched files under the pinned schema") {
    // Touched files can mix pre/post-migration shapes; without the
    // manifest's pinned schema the rewrite would footer-infer from one
    // file and could drop the added column's values (or throw on a
    // predicate referencing it).
    val p = tmp(); seed(p)
    Manifest.addColumn(spark, p,
      org.apache.spark.sql.types.StructField("tier",
        org.apache.spark.sql.types.StringType))
    // land a post-migration row into the SAME d1 partition
    Upsert.upsertPartitioned(spark, p,
      Seq((5, d1, 500L, "gold")).toDF("k", "d", "cents", "tier"),
      Seq("k", "d"), "d")
    // delete keyed on the ADDED column: only the post-migration row
    // matches; pre-migration rows (tier NULL) survive
    assert(Upsert.deleteWhere(spark, p, col("tier") === "gold") === 1L)
    assert(keys(p) === Set(1, 2, 3, 4))
    // update SETTING the added column on a pre-migration row
    assert(Upsert.updateWhere(spark, p, col("k") === 1,
      Map("tier" -> org.apache.spark.sql.functions.lit("silver"))) === 1L)
    assert(Manifest.read(spark, p).select("k", "tier")
      .as[(Int, Option[String])].collect().toSet ===
      Set((1, Some("silver")), (2, None), (3, None), (4, None)))
  }

  test("emptying every touched file drops it from the snapshot") {
    val p = tmp(); seed(p)
    assert(Upsert.deleteWhere(spark, p, col("d") === d1) === 2L)
    assert(keys(p) === Set(3, 4))
    assert(Manifest.currentLive(spark, p)
      .forall(_.startsWith("d=2024-07-02/")))
    // everything: the table empties but stays a readable manifest? No —
    // an empty live set is rejected at read; the delete itself commits
    assert(Upsert.deleteWhere(spark, p, col("cents") > 0L) === 2L)
    assert(Manifest.currentLive(spark, p).isEmpty)
  }
}
