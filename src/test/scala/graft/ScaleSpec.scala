package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Bucketing

/** Scale-technique gates: bucketed joins elide the shuffle, salted joins
  * reproduce plain-join results, sketches stay within their error bound.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables join without an exchange") {
    import spark.implicits._
    val orders = graft.engine.Tables.t(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = graft.engine.Tables.t(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Bucketing.writeBucketed(orders, "b_orders", 4, Seq("o_orderkey"))
    Bucketing.writeBucketed(li, "b_lineitem", 4, Seq("o_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.colocatedJoin(spark, "b_orders", "b_lineitem",
        Seq("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      // row parity with the unbucketed join
      val expected = orders.join(li, Seq("o_orderkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sketch-rollup merge verdict flips false on a corrupted daily sketch") {
    // The registered q_sketch_rollup emits within-bound VERDICTS whose
    // oracle side is literal TRUE — this case closes the residual gap
    // (round-10 verdict item 7) by proving the verdict is falsifiable:
    // swap ONE day's sketch for a sketch over a disjoint population
    // (a wrong week's file, a corrupted row) and `merge_consistent`
    // must flip, because the union-merge now estimates ~2x the direct
    // weekly estimate.
    import spark.implicits._
    val week = java.sql.Date.valueOf("2024-06-03")
    val days = Seq(java.sql.Date.valueOf("2024-06-03"),
      java.sql.Date.valueOf("2024-06-04"))
    val ev = days.flatMap(d => (1L to 1000L).map(u => (week, d, u)))
      .toDF("week", "day", "user_id")
    def verdicts(daily: org.apache.spark.sql.DataFrame) = {
      val merged = daily.groupBy(col("week"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
      val direct = ev.groupBy(col("week"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .as("direct_est"),
          countDistinct(col("user_id")).as("exact_users"))
      merged.join(direct, Seq("week"))
        .select(
          (abs(col("merged_est") - col("exact_users")) * 20 <=
            col("exact_users")).as("merged_within_bound"),
          (abs(col("merged_est") - col("direct_est")) * 50 <=
            col("exact_users")).as("merge_consistent"))
        .collect().head
    }
    val daily = ev.groupBy(col("week"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val clean = verdicts(daily)
    assert(clean.getBoolean(0) && clean.getBoolean(1),
      "clean daily sketches must pass both verdicts")
    // corruption: day 2's sketch replaced by one over users 100k+
    val wrong = (1L to 1000L).map(u => (days(1), u + 100000L))
      .toDF("day", "user_id")
      .groupBy(col("day")).agg(hll_sketch_agg(col("user_id")).as("sk"))
      .withColumn("week", lit(week))
    val corrupted = daily.filter(col("day") =!= days(1))
      .unionByName(wrong.select(col("week"), col("day"), col("sk")))
    val bad = verdicts(corrupted)
    assert(!bad.getBoolean(1),
      "merge_consistent must flip false when a daily sketch is corrupted")
  }

  test("salted join reproduces the plain join exactly") {
    val salted = graft.queries.ScaleQueries.qSaltedJoin.run(spark, dir)
      .collect().map(_.toSeq).toSeq
    val ev = graft.engine.Tables.t(spark, dir, "events")
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")).cast("bigint"))
    val plain = ev.select(col("event_type"), cents.as("cents"))
      .join(dim, Seq("event_type"))
      .groupBy(col("event_type"), col("type_weight"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("cents")).cast("double") / 100).as("sum_value"))
      .orderBy(col("event_type")).collect().map(_.toSeq).toSeq
    assert(salted === plain)
  }

  test("generalized merge is touched-files-only: 1 matched date out of " +
      "25 rewrites ~1/25th of the files") {
    import spark.implicits._
    import graft.engine.{Manifest, Upsert}
    val p = java.nio.file.Files.createTempDirectory("graft-mscale")
      .resolve("t").toString
    val dates = (1 to 25).map(i => java.sql.Date.valueOf(
      f"2024-06-$i%02d"))
    val rows = for { d <- dates; k <- 1 to 200 }
      yield ((d.toString.hashCode.toLong & 0xFFFF) * 1000 + k, d, k.toLong)
    Upsert.upsertPartitioned(spark, p,
      rows.toDF("k", "d", "cents").repartition(col("d")),
      Seq("k", "d"), "d")
    val before = Manifest.currentLive(spark, p)
    assert(before.size >= 25, s"expected >=25 files, got ${before.size}")
    // merge UPDATEs 10 keys, all in ONE date
    val d0 = dates.head
    val src = (1 to 10).map(k =>
      ((d0.toString.hashCode.toLong & 0xFFFF) * 1000 + k, d0, 999L))
      .toDF("k", "d", "cents")
    val (affected, inserted) = Upsert.mergeActions(spark, p, src,
      Seq("k", "d"), Seq(Upsert.MatchedUpdate(None)), None, Seq("d"))
    assert(affected === 10L && inserted === 0L)
    val after = Manifest.currentLive(spark, p)
    val survived = before.toSet.intersect(after.toSet)
    // the claim SCALE.md makes: O(files containing matches), not O(table)
    assert(before.size - survived.size <= 2,
      s"rewrote ${before.size - survived.size} of ${before.size} files " +
        "for a single-date merge — touched-files-only claim violated")
    assert(Manifest.read(spark, p)
      .filter(col("cents") === 999L).count() === 10)
  }

  test("compaction shrinks file counts without changing content") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-compact")
      .resolve("t").toString
    // simulate many small incremental appends
    (1 to 12).foreach { day =>
      Seq.tabulate(50)(i => (day * 1000 + i, s"payload$i", java.sql.Date.valueOf(f"2024-06-$day%02d")))
        .toDF("k", "v", "d")
        .repartition(3).write.mode("append").partitionBy("d").parquet(path)
    }
    val before = spark.read.parquet(path)
    val beforeRows = before.collect().map(_.toSeq).toSet
    // plain parquet appends make no table until their listing is committed
    graft.engine.Manifest.commit(spark, path,
      graft.engine.Manifest.listDataFiles(spark, path))
    val (nBefore, nAfter) = graft.engine.Compaction.compact(spark, path, Some("d"))
    assert(nBefore >= 36)
    assert(nAfter < nBefore / 2, s"expected real shrink, got $nBefore -> $nAfter")
    val after = graft.engine.Manifest.read(spark, path)
    assert(after.collect().map(_.toSeq).toSet === beforeRows)
    // still partition-pruned after the rewrite
    val pruned = after.filter(col("d") === java.sql.Date.valueOf("2024-06-03"))
    assert(pruned.count() === 50)
  }

  test("AQE splits a skewed join partition at runtime (the salting complement)") {
    // One hot key owns ~90% of the probe side. With skew-join enabled
    // and a sort-merge join forced, AQE must mark the hot partition
    // skewed and split it — the runtime answer to the same problem
    // q_salted_join solves statically.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
      val fact = spark.range(0, 200000)
        .select(
          when(col("id") % 10 < 9, 0L).otherwise(col("id") % 1000).as("k"),
          lpad(col("id").cast("string"), 100, "x").as("payload"))
      val dim = spark.range(0, 1000)
        .select(col("id").as("k"), col("id").cast("string").as("attr"))
      // global aggregate: a keyed aggregate downstream would REUSE the
      // join's hash partitioning, and AQE declines to split a skewed
      // partition when the split would break a required distribution
      val joined = fact.join(dim, Seq("k"))
        .agg(sum(length(col("payload"))).as("bytes"))
      // execute THIS queryExecution (count() would plan its own), then
      // read the AQE final plan off it
      assert(joined.collect().head.getLong(0) === 200000L * 100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition skewed:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("HLL++ estimate stays within its configured error bound") {
    import spark.implicits._
    val rows = graft.queries.ScaleQueries.qApproxDistinct.run(spark, dir)
      .select("exact_users", "within_bound").as[(Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (exact, ok) =>
      assert(ok, s"HLL estimate outside 5% of exact=$exact")
    }
  }

  test("quantile sketch rank error stays within the verdict bound") {
    import spark.implicits._
    val rows = graft.queries.ScaleQueries.qApproxQuantiles.run(spark, dir)
      .select("n_rows", "p50_ok", "p99_ok")
      .as[(Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, ok50, ok99) =>
      assert(ok50 && ok99, s"sketch rank error outside ±0.005·n (n=$n)")
    }
  }
}
