package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Manifest, Upsert}

/** The zero-listing read path: every snapshot read — pinned or not,
  * library or SQL — must resolve through the manifest-served file index,
  * never Spark's listing-based `InMemoryFileIndex`; a version whose
  * `#flen` ledger is incomplete must fail loudly and name the one-shot
  * upgrade commit. The index-class assertions here are the
  * regression guard: a refactor that silently reverts to listing
  * would pass every value check while reintroducing the O(files)
  * metadata storm at scale.
  */
class ManifestScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-mscan").toString
    spark.conf.set("spark.sql.catalog.mscat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mscat.root", r)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mscat.ns")
    r
  }

  private def indexClassesOf(df: org.apache.spark.sql.DataFrame)
      : Seq[String] = {
    val opt = df.queryExecution.optimizedPlan
    val v1 = opt.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => h.location.getClass.getName
        }
    }
    val v2 = opt.collect {
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => s.scan match {
        case p: org.apache.spark.sql.execution.datasources.v2.parquet
            .ParquetScan => p.fileIndex.getClass.getName
      }
    }
    v1 ++ v2
  }

  test("a catalog table's SQL scan resolves through the manifest-served " +
      "index — no listing-based InMemoryFileIndex in the plan") {
    root
    spark.sql("""CREATE TABLE mscat.ns.zl (k BIGINT, cents BIGINT,
                 pri STRING) PARTITIONED BY (pri)""")
    spark.sql("""INSERT INTO mscat.ns.zl VALUES
                 (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a')""")
    val df = spark.sql(
      "SELECT pri, sum(cents) AS c FROM mscat.ns.zl GROUP BY pri")
    val idx = indexClassesOf(df)
    assert(idx.nonEmpty)
    assert(idx.forall(_.contains("ManifestFileIndex")),
      s"catalog scan must be manifest-served, got: $idx")
    assert(df.orderBy("pri").as[(String, Long)].collect().toSeq ===
      Seq(("a", 40L), ("b", 20L)))
  }

  test("a pinned library table's Manifest.read resolves through the " +
      "manifest-served index; values match the legacy read") {
    root
    // a catalog-created table read via the LIBRARY verb (pinned by
    // CREATE, ledger from the commit)
    spark.sql("CREATE TABLE mscat.ns.zl2 (k BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO mscat.ns.zl2 VALUES (1, 10), (2, 20)")
    val df = Manifest.read(spark, s"$root/ns/zl2")
    val idx = indexClassesOf(df)
    assert(idx.nonEmpty && idx.forall(_.contains("ManifestFileIndex")),
      s"library read must be manifest-served, got: $idx")
    assert(df.select("cents").as[Long].collect().sorted.toSeq ===
      Seq(10L, 20L))
  }

  /** Strip the `#flen` header lines of every committed manifest in
    * place — the on-disk shape of a table written before the ledger.
    */
  private def stripLedger(path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(s"$path/_graft_manifest")
    fs.listStatus(mdir).filter(_.getPath.getName.endsWith(".list"))
      .foreach { st =>
        val in = fs.open(st.getPath)
        val lines = try new String(in.readAllBytes(), "UTF-8")
          finally in.close()
        val stripped = lines.split("\n").filterNot(_.startsWith("#flen "))
          .mkString("\n")
        val out = fs.create(st.getPath, true)
        try out.write(stripped.getBytes("UTF-8")) finally out.close()
      }
    // committed manifests are immutable in production, so readers memo
    // them — this simulation mutates them in place and must invalidate
    Manifest.invalidateListMemo(path)
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  /** A catalog-created table with rows 10 and 20 whose committed
    * manifests have lost their `#flen` ledger; returns (path, version).
    */
  private def ledgerlessTable(name: String): (String, Long) = {
    root
    spark.sql(s"CREATE TABLE mscat.ns.$name (k BIGINT, cents BIGINT)")
    spark.sql(s"INSERT INTO mscat.ns.$name VALUES (1, 10), (2, 20)")
    val path = s"$root/ns/$name"
    stripLedger(path)
    val v = Manifest.currentVersion(spark, path).get
    assert(Manifest.fileLengthsAsOf(spark, path, v).isEmpty,
      "fixture sanity: the ledger is gone")
    (path, v)
  }

  private val upgrade =
    "Manifest.commit(spark, path, Manifest.currentLive(spark, path))"

  /** Run the named one-shot upgrade on a ledger-less table at version
    * `v` and check it stats every file without changing the file set.
    */
  private def repairLedger(path: String, v: Long): Unit = {
    val v1 = Manifest.commit(spark, path, Manifest.currentLive(spark, path))
    assert(v1 === v + 1)
    val lens = Manifest.fileLengthsAsOf(spark, path, v1)
    assert(Manifest.filesAsOf(spark, path, v1).forall(lens.contains))
    assert(Manifest.filesAsOf(spark, path, v1).toSet ===
      Manifest.filesAsOf(spark, path, v).toSet,
      "the upgrade must not change the file set")
  }

  test("ledger-incomplete: Manifest.read fails loudly; " +
      "one commit repairs it") {
    val (path, v) = ledgerlessTable("zl3")
    val e = intercept[IllegalStateException](Manifest.read(spark, path))
    assert(e.getMessage.contains(upgrade), e.getMessage)
    assert(Manifest.currentVersion(spark, path).get === v,
      "a refused read must commit nothing")
    repairLedger(path, v)
    val df = Manifest.read(spark, path)
    assert(indexClassesOf(df).forall(_.contains("ManifestFileIndex")))
    assert(df.select("cents").as[Long].collect().sorted.toSeq ===
      Seq(10L, 20L))
  }

  test("ledger-incomplete: a catalog SELECT fails loudly; " +
      "one commit repairs it") {
    val (path, v) = ledgerlessTable("zl9")
    val e = intercept[Exception](
      spark.sql("SELECT sum(cents) FROM mscat.ns.zl9").collect())
    assert(messages(e).contains(upgrade), messages(e))
    assert(Manifest.currentVersion(spark, path).get === v,
      "a refused catalog load must commit nothing")
    repairLedger(path, v)
    val q = spark.sql("SELECT sum(cents) AS c FROM mscat.ns.zl9")
    assert(indexClassesOf(q).forall(_.contains("ManifestFileIndex")))
    assert(q.as[Long].head() === 30L)
  }

  test("a commit that cannot stat an added file commits nothing") {
    root
    spark.sql("CREATE TABLE mscat.ns.zl8 (k BIGINT)")
    spark.sql("INSERT INTO mscat.ns.zl8 VALUES (1)")
    val path = s"$root/ns/zl8"
    val v = Manifest.currentVersion(spark, path).get
    val e = intercept[java.io.IOException](Manifest.commit(spark, path,
      Manifest.currentLive(spark, path) :+ "k=1/never-written.parquet"))
    assert(e.getMessage.contains("never-written.parquet"), e.getMessage)
    assert(Manifest.currentVersion(spark, path).get === v)
    assert(Manifest.read(spark, path).count() === 1L)
  }

  test("an unpinned library table is manifest-served and reads like a " +
      "listing read") {
    val base = Files.createTempDirectory("graft-unpinned").toString
    val path = s"$base/t"
    Upsert.append(spark, path,
      Seq((1L, 10L, java.sql.Date.valueOf("2024-07-01"), 7),
        (2L, 20L, java.sql.Date.valueOf("2024-07-02"), 8))
        .toDF("k", "cents", "d", "h"), Some("d"))
    Upsert.append(spark, path,
      Seq((3L, 30L, java.sql.Date.valueOf("2024-07-03"), 9))
        .toDF("k", "cents", "d", "h"), Some("d"))
    val v = Manifest.currentVersion(spark, path).get
    assert(Manifest.schemaAsOf(spark, path, v).isEmpty,
      "fixture sanity: a library-created table pins no schema")
    val served = Manifest.read(spark, path)
    assert(indexClassesOf(served).nonEmpty &&
      indexClassesOf(served).forall(_.contains("ManifestFileIndex")),
      "an unpinned table must be manifest-served")
    // the listing read of the SAME files: what the served read replaces
    val listed = spark.read.option("basePath", path)
      .parquet(Manifest.filesAsOf(spark, path, v).map(f => s"$path/$f"): _*)
    assert(served.schema === listed.schema)
    assert(served.schema("d").dataType ===
      org.apache.spark.sql.types.DateType, "partition type from dir names")
    assert(served.orderBy("k").collect().toSeq ===
      listed.orderBy("k").collect().toSeq)
    // partition pruning still works on the inferred partition column
    assert(served.filter(col("d") === java.sql.Date.valueOf("2024-07-02"))
      .select("k").as[Long].collect().toSeq === Seq(2L))
  }

  test("_metadata.file_modification_time on a manifest-served read is " +
      "the snapshot's commit instant, not the 1970 epoch (round 17)") {
    root
    spark.sql("CREATE TABLE mscat.ns.zl6 (k BIGINT, cents BIGINT)")
    val before = System.currentTimeMillis()
    spark.sql("INSERT INTO mscat.ns.zl6 VALUES (1, 10)")
    val after = System.currentTimeMillis()
    // the hidden _metadata column is a V1 file-source feature — the
    // library read path (the DSv2 catalog table never exposed it)
    val lib = Manifest.read(spark, s"$root/ns/zl6")
    assert(indexClassesOf(lib).forall(_.contains("ManifestFileIndex")))
    val mt = Manifest.read(spark, s"$root/ns/zl6")
      .select(col("_metadata.file_modification_time").as("mt"))
      .as[java.sql.Timestamp].head().getTime
    assert(mt >= before - 1000 && mt <= after + 1000,
      s"commit-instant mtime expected in [$before, $after], got $mt")
  }

  test("a memoized manifest retired by ANOTHER process's vacuum fails " +
      "loudly at the recheck instead of serving a husk (round 17)") {
    root
    spark.sql("CREATE TABLE mscat.ns.zl7 (k BIGINT)")
    spark.sql("INSERT INTO mscat.ns.zl7 VALUES (1)")
    val path = s"$root/ns/zl7"
    val v = Manifest.currentVersion(spark, path).get
    // warm the memo
    assert(Manifest.filesAsOf(spark, path, v).nonEmpty)
    // simulate a cross-JVM vacuum: the .list key disappears but THIS
    // process's memo was never invalidated
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      f"$path/_graft_manifest/v$v%020d.list"), false)
    val prev = Manifest.MemoRecheckMillis
    Manifest.MemoRecheckMillis = 0L // force the existence recheck
    try {
      val e = intercept[Exception](
        Manifest.filesAsOf(spark, path, v))
      assert(e.getMessage.contains("retired"), e.getMessage)
    } finally Manifest.MemoRecheckMillis = prev
  }

  test("partition pruning on the manifest-served index schedules only " +
      "the matching leaves") {
    root
    spark.sql("""CREATE TABLE mscat.ns.zl4 (k BIGINT, cents BIGINT,
                 pri STRING) PARTITIONED BY (pri)""")
    spark.sql("""INSERT INTO mscat.ns.zl4 VALUES
                 (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')""")
    val df = spark.sql(
      "SELECT sum(cents) FROM mscat.ns.zl4 WHERE pri = 'b'")
    assert(df.as[Long].head() === 20L)
    // the V1 library read over the SAME manifest-served index prunes
    // to one file (the PlanSpec numFiles idiom — the served index's
    // listFiles honors partition filters exactly like the listing one)
    val read = Manifest.read(spark, s"$root/ns/zl4")
      .filter(col("pri") === "b")
    assert(indexClassesOf(read).forall(_.contains("ManifestFileIndex")))
    assert(read.collect().length === 1) // executes THIS QueryExecution
    val scan = read.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(scan.metrics("numFiles").value === 1,
      s"expected 1 scanned file after pruning, got " +
        s"${scan.metrics("numFiles").value}")
  }
}
