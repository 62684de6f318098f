package graft

import graft.pipeline.Warehouse
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout plans: bucketing must delete the join shuffle,
  * partitioning must delete the non-matching scan. These are the two
  * write-time layout decisions the 100 TB design leans on. */
class WarehouseSpec extends AnyFunSuite with SparkFixture {

  test("bucketed tables join with no Exchange and no Sort (co-located SMJ)") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
    Warehouse.writeBucketed(li, "graft_li_b", "l_orderkey", 4)
    Warehouse.writeBucketed(o, "graft_o_b", "l_orderkey", 4)
    try {
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.sources.bucketing.enabled" -> "true") {
        val joined = spark.table("graft_li_b")
          .join(spark.table("graft_o_b"), Seq("l_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n$plan")
        // same join on the UNBUCKETED parquet shuffles both sides
        val unbucketed = li.join(o, Seq("l_orderkey"))
          .queryExecution.executedPlan.toString
        assert(unbucketed.contains("Exchange"))
        // and the result is identical either way
        assert(joined.count() === li.join(o, Seq("l_orderkey")).count())
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_li_b")
      spark.sql("DROP TABLE IF EXISTS graft_o_b")
    }
  }

  test("kCore's per-round degree aggregate is Exchange-free on u-bucketed edges") {
    // the SCALE.md remedy for q268 at 100 TB, demonstrated: bucket the
    // symmetrized edge list on u — every peel round's degree count
    // then aggregates within buckets (no shuffle); the keep-set semi
    // joins are node-sized and broadcast. (The v-side semi join is the
    // reason the KEEP SET must broadcast rather than shuffle the
    // u-bucketed edges on v.)
    val ib = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().limit(2000)
    val und = ib.as("a")
      .join(ib.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val edges = und.union(und.select(col("v").as("u"), col("u").as("v")))
    Warehouse.writeBucketed(edges, "graft_edges_b", "u", 4)
    try {
      withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.sources.bucketing.enabled" -> "true") {
        val deg = spark.table("graft_edges_b")
          .groupBy(col("u")).agg(count(lit(1)).as("deg"))
        val plan = deg.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"degree agg on bucketed edges must not shuffle:\n$plan")
        // the unbucketed frame pays the shuffle the layout deletes
        val unb = edges.groupBy(col("u")).agg(count(lit(1)))
          .queryExecution.executedPlan.toString
        assert(unb.contains("Exchange"))
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_edges_b")
  }

  test("triangle wedge self-join is Exchange-free on s-bucketed oriented edges") {
    // the SCALE.md remedy for q171 at 100 TB, demonstrated (r15):
    // materialize Graph.orientEdges once, bucketed on s — the wedge
    // self-join (the Σ outdeg² fan-out stage) then co-locates both
    // sides at the scan and shuffles NOTHING below the join.
    // SCALE.md (r15) records the measured A/B at the 10× pair.
    // deterministic subset (a LIMIT varies per execution and would
    // make the A/B compare graphs that differ)
    val ib = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 3 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val edges = ib.as("a")
      .join(ib.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    Warehouse.writeBucketed(
      graft.ops.Graph.orientEdges(edges), "graft_tri_b", "s", 4)
    try {
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.sources.bucketing.enabled" -> "true") {
        val o = spark.table("graft_tri_b")
        val wedge = o.as("e1").join(o.as("e2"),
          col("e1.s") === col("e2.s") && col("e1.kt") < col("e2.kt"))
        val plan = wedge.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"),
          s"bucketed wedge join must not shuffle:\n$plan")
        // and the full oriented pipeline returns exactly triangleCounts
        val a = graft.ops.Graph.triangleCounts(edges)
        val b = graft.ops.Graph.triangleCountsOriented(o)
        assert(a.exceptAll(b).count() + b.exceptAll(a).count() === 0)
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_tri_b")
  }

  test("PPR supersteps over src-bucketed edges drop the edge-sized shuffles") {
    // the q297/q333 SCALE.md remedy, demonstrated: with the trade
    // edge list bucketed on src, each superstep's edge⋈rank join and
    // the degree aggregate read the layout's partitioning — the only
    // hash shuffle left is the node-sized contribution rollup.
    val eb = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s1"))
      .distinct()
    val edges = eb.select(col("c").as("src"), col("s1").as("dst"))
      .unionByName(eb.select(col("s1").as("src"), col("c").as("dst")))
    // deterministic seed set from a shuffle-free range scan (a LIMIT
    // varies per execution; deriving seeds from `edges` would add the
    // derivation's own shuffles to the count being pinned)
    val seeds = spark.range(1, 6).select((col("id") * 2 + 1).as("node"))
    Warehouse.writeBucketed(edges, "graft_ppr_b", "src", 4)
    try {
      withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.sources.bucketing.enabled" -> "true") {
        def shuffles(p: String): Int =
          "Exchange (hash|range)partitioning".r.findAllIn(p).length
        val bucketed = graft.ops.Graph
          .personalizedPageRank(spark.table("graft_ppr_b"), seeds, 2)
        val raw = graft.ops.Graph.personalizedPageRank(edges, seeds, 2)
        val nB = shuffles(bucketed.queryExecution.executedPlan.toString)
        val nR = shuffles(raw.queryExecution.executedPlan.toString)
        assert(nB < nR,
          s"bucketed layout must delete shuffles (bucketed=$nB raw=$nR)")
        // per-superstep budget: one node-sized contribution rollup —
        // 2 supersteps + the one-time seed-set dedup ⇒ at most 3 hash
        // shuffles end to end; every edge-sized exchange is gone
        assert(nB <= 3, s"expected ≤3 shuffles over the bucketed layout, " +
          s"got $nB:\n${bucketed.queryExecution.executedPlan}")
        assert(raw.exceptAll(bucketed).count() +
          bucketed.exceptAll(raw).count() === 0)
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_ppr_b")
  }

  test("writeShards caps rows per file and round-trips the data ordered") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shard-").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    val n = docs.count()
    Warehouse.writeShards(docs, dir, "doc_id", rowsPerShard = 100, numShards = 3)

    val back = spark.read.parquet(dir)
    assert(back.count() === n, "shard write must be lossless")
    // per-file row cap: no parquet part exceeds rowsPerShard
    val perFile = back.groupBy(input_file_name()).count()
      .select("count").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    assert(perFile.forall(_ <= 100L), s"file over cap: ${perFile.mkString(",")}")
    assert(perFile.length >= (n / 100).toInt, "expected at least ceil(n/cap) files")
    // shards are range-disjoint on the order column: per-file
    // [min,max] intervals must not overlap
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .orderBy("lo")
      .select("lo", "hi").collect().map(r => (r.getLong(0), r.getLong(1)))
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, "overlapping shard ranges")
      case _ =>
    }
  }

  test("z-order layout clusters BOTH dims; a single-column sort clusters one") {
    val li = Tables.lineitem(spark, sfDir).select("l_partkey", "l_suppkey")
    val mm = li.agg(
      min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val (pMin, pMax, sMin, sMax) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
    // normalize both dims to 8 bits (the zOrderKey docstring contract)
    def norm(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      floor((c - lit(lo)).cast("double") * 255.0 / (hi - lo).toDouble).cast("long")
    val withKeys = li
      .withColumn("z", Warehouse.zOrderKey(
        norm(col("l_partkey"), pMin, pMax), norm(col("l_suppkey"), sMin, sMax), 8))
    // avg per-bucket span of each dim under a 16-way range layout
    def spans(df: org.apache.spark.sql.DataFrame,
              key: String): (Double, Double) = {
      val r = df.repartitionByRange(16, col(key))
        .withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg((max("l_partkey") - min("l_partkey")).as("ps"),
          (max("l_suppkey") - min("l_suppkey")).as("ss"))
        .agg(avg("ps"), avg("ss")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val pRange = (pMax - pMin).toDouble
    val sRange = (sMax - sMin).toDouble
    // single-column layout: partkey tightly clustered, suppkey ~unclustered
    val (sp, ss) = spans(withKeys, "l_partkey")
    assert(sp < pRange * 0.2, s"partkey span $sp under its own sort")
    assert(ss > sRange * 0.8, s"suppkey should be unclustered under partkey sort, span $ss")
    // z layout: BOTH dims well below the full range — the skipping win
    val (zp, zs) = spans(withKeys, "z")
    assert(zp < pRange * 0.5, s"partkey span $zp under z layout")
    assert(zs < sRange * 0.5, s"suppkey span $zs under z layout")
  }

  test("partitioned layout prunes non-matching partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part-").toString
    val events = Tables.events(spark, sfDir)
      .withColumn("event_date", to_date(col("ts")))
    Warehouse.writePartitioned(events, dir, "event_date")

    val dates = spark.read.parquet(dir)
      .select("event_date").distinct().collect().map(_.get(0).toString).sorted
    assert(dates.length > 1, "fixture must span multiple dates for this test")

    val q = spark.read.parquet(dir).filter(col("event_date") === dates.head)
    val scan = q.queryExecution.executedPlan.toString
    // the date predicate must reach the scan as a PARTITION filter
    // (directory-level listing skip), not a mere data filter.
    // (DataFrame.inputFiles can't show this — it lists the whole
    // relation before pruning.)
    assert("PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(scan).isDefined,
      s"date predicate did not become a partition filter:\n$scan")
    // correctness: pruned read equals the expected per-date row count
    val expected = events.filter(col("event_date") === dates.head).count()
    assert(q.count() === expected && q.count() > 0)
  }

  test("z-order partitioned table: a 2-D rectangle reads only its interleaved cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zread-").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val b = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val (minP, maxP, minS, maxS) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val pb = expr(s"((l_partkey - $minP) * 8) div ${maxP - minP + 1}")
    val sb = expr(s"((l_suppkey - $minS) * 8) div ${maxS - minS + 1}")
    li.withColumn("zcell", Warehouse.zOrderKey(pb, sb, 3))
      .write.mode("overwrite").partitionBy("zcell").parquet(dir)

    val pbOf = expr("zcell % 2 + ((zcell div 4) % 2) * 2 + " +
      "((zcell div 16) % 2) * 4")
    val sbOf = expr("(zcell div 2) % 2 + ((zcell div 8) % 2) * 2 + " +
      "((zcell div 32) % 2) * 4")
    val q = spark.read.parquet(dir)
      .filter(pbOf.between(2, 5) && sbOf.between(2, 5))

    // the de-interleave references only the partition column, so it
    // must reach the scan as a PARTITION filter (directory skip)
    val scan = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*zcell".r.findFirstIn(scan).isDefined,
      s"zcell de-interleave did not become a partition filter:\n$scan")

    // and the files ACTUALLY read all belong to qualifying cells —
    // the directory-level 2D skip a 1-column sort cannot give
    def interleave(p: Int, s: Int): Int =
      (0 until 3).map(i => (((p >> i) & 1) + 2 * ((s >> i) & 1)) << (2 * i)).sum
    val qualify = (for { p <- 2 to 5; s <- 2 to 5 } yield interleave(p, s)).toSet
    val cellsRead = q.select(input_file_name()).distinct().collect()
      .map(r => "zcell=(\\d+)".r.findFirstMatchIn(r.getString(0)).get.group(1).toInt)
      .toSet
    assert(cellsRead.nonEmpty && cellsRead.subsetOf(qualify),
      s"read cells $cellsRead outside the qualifying rectangle $qualify")

    // correctness: the pruned read equals the plain row-level filter
    val expected = li
      .withColumn("pb", pb).withColumn("sb", sb)
      .filter(col("pb").between(2, 5) && col("sb").between(2, 5)).count()
    assert(q.count() === expected && expected > 0)
  }

  test("rendezvous shards: growth moves ~1/(N+1) of keys, every mover lands on the new shard") {
    import spark.implicits._
    val keys = (0L until 2000L).toDF("k")
    val assigned = keys.select(
        col("k"),
        Warehouse.rendezvousShard(col("k"), 8).as("s8"),
        Warehouse.rendezvousShard(col("k"), 9).as("s9"))
      .as[(Long, Int, Int)].collect()
    // shards are all in range and all used
    assert(assigned.forall(r => r._2 >= 0 && r._2 < 8 && r._3 >= 0 && r._3 < 9))
    assert(assigned.map(_._3).distinct.length === 9)
    // HRW growth property: a key either keeps its shard or moves to
    // the NEW shard 8 — never between old shards (h9 extends h8, so
    // the old argmax only loses to the new hash)
    val movers = assigned.filter(r => r._2 != r._3)
    assert(movers.forall(_._3 === 8),
      s"movers must land on the new shard: ${movers.take(5).toSeq}")
    // expected move fraction 1/9 ≈ 222 of 2000; allow generous slack
    assert(movers.length > 120 && movers.length < 340,
      s"move fraction ${movers.length}/2000 far from 1/9")
    intercept[IllegalArgumentException] {
      Warehouse.rendezvousShard(col("k"), 0)
    }
  }
}
