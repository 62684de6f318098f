package graft.queries

import graft.{Q, Tables}
import graft.ops.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2B "Joins"): equi inner/left/full,
  * semi/anti, range. The reference avoids joins by denormalizing
  * (product rows carry their category inline); at scale the relational
  * form needs them.
  *
  * Scale notes:
  *  - only FIXED-SIZE dimensions (nation = 25 rows, region = 5 rows —
  *    constant at every scale factor) carry a `broadcast()` hint. Tables
  *    that grow with SF (customer 150k×SF, part 200k×SF) are left to
  *    AQE / autoBroadcastJoinThreshold: at 100 TB a forced broadcast of
  *    a multi-GB table OOMs executors, while AQE still broadcasts them
  *    when they happen to be small.
  *  - fact-fact joins (lineitem ⋈ orders) shuffle on the join key — at
  *    100 TB both sides would be bucketed on orderkey at write time so
  *    the shuffle disappears; here AQE handles skew/coalescing.
  *  - the range join is keyed by an equi condition (partkey) with the
  *    range as a residual predicate, so it stays a hash/SMJ join, never
  *    a cartesian BNLJ.
  */
object JoinQueries {

  val queries: Map[String, Q] = Map(
    // backward as-of join (ops.AsOf): each click matched to the user's
    // latest purchase at or before it — the point-in-time lookup, via
    // the union + running-last composition (one shuffle on user_id,
    // never a per-key cross product). DuckDB's native ASOF LEFT JOIN
    // is the oracle. Timestamps projected as epoch micros (lossless —
    // the fixture is µs-exact) for dtype parity in the compare.
    "q75_asof_join" -> ((s, dir) => {
      import graft.ops.AsOf
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event"), col("value").as("p_value"))
      AsOf.asofBackward(clicks, purchases, "user_id", "ts",
          Seq("p_event", "p_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_p_event").as("p_event"),
          round(col("asof_p_value"), 4).as("p_value"))
        .orderBy("event_id")
    }),

    // forward as-of join: each click matched to the user's EARLIEST
    // purchase at or after it — the "next event after" lookup, same
    // union + running-last composition as q75 scanned in descending
    // timestamp order. DuckDB's native ASOF LEFT JOIN with `>=` is
    // the oracle.
    "q90_asof_forward" -> ((s, dir) => {
      import graft.ops.AsOf
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event"), col("value").as("p_value"))
      AsOf.asofForward(clicks, purchases, "user_id", "ts",
          Seq("p_event", "p_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_p_event").as("p_event"),
          round(col("asof_p_value"), 4).as("p_value"))
        .orderBy("event_id")
    }),

    // NEAREST as-of join (pandas merge_asof direction='nearest') —
    // completes the as-of direction matrix (q75 backward, q90
    // forward): each click matched to the temporally CLOSEST purchase
    // by the same user, distances in exact integer microseconds, a
    // distance tie preferring the backward (earlier) match, same-ts
    // right duplicates resolved by greatest payload (asofImpl's rule).
    // Two key shuffles (one per direction), never a range self-join;
    // the oracle replays the argmin directly over the per-user join.
    "q294_asof_nearest" -> ((s, dir) => {
      import graft.ops.AsOf
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event"), col("value").as("p_value"))
      AsOf.asofNearest(clicks, purchases, "user_id", "ts",
          Seq("p_event", "p_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_p_event").as("p_event"),
          round(col("asof_p_value"), 4).as("p_value"))
        .orderBy("event_id")
    }),

    // salted skew-safe join through the ops.Skew seam: the explicit
    // hot-key mitigation MUST produce exactly what the plain join
    // produces — which makes the plain join its oracle (same contract
    // as q35's salted agg). Deterministic salt from the fact row id;
    // dim side exploded buckets×.
    "q37_salted_join" -> ((s, dir) => {
      import graft.ops.Skew
      val li = Tables.lineitem(s, dir)
      val supp = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Skew.saltedJoin(li, supp, "l_suppkey",
          factTieBreak = col("l_orderkey") * 10 + col("l_linenumber"), buckets = 8)
        .groupBy(col("s_name"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("s_name")
    }),

    // semi-join reduction (LIP): the selective dim predicate reaches
    // the fact side BELOW its shuffle as a broadcast semi join on the
    // distinct surviving keys, so only matching lineitem rows are
    // shuffled into the (hinted shuffle-hash) main join. Exact rewrite
    // ⇒ the plain join is the oracle; PlanShapeSpec pins the
    // semi-before-shuffle shape.
    "q84_lip_join" -> ((s, dir) => {
      import graft.ops.JoinOpt
      val p = Tables.part(s, dir).filter(col("p_size") <= 3)
      val li = JoinOpt.semiReduce(Tables.lineitem(s, dir), p, "l_partkey", "p_partkey")
      li.join(p.hint("shuffle_hash"), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("p_brand")
    }),

    // fact ⋈ fact equi inner join on the natural key.
    "q10_join_inner" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 200000.0)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // left outer + aggregate: customers with their order count (0 kept).
    "q11_join_left_agg" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    // left semi = EXISTS. Builds only the key set on the right.
    "q12_join_semi" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // left anti = NOT EXISTS (null-safe, unlike NOT IN).
    "q13_join_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // range join: equi key + range residual — stays a hash join.
    // part scales with SF → no forced broadcast; AQE decides.
    "q14_join_range" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(p,
          li("l_partkey") === p("p_partkey") &&
          li("l_quantity").between(p("p_size"), p("p_size") + lit(10)))
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy("p_partkey")
    }),

    // star join: fact + dimensions, revenue per region. Only the
    // fixed-size dims (nation/region) are broadcast-hinted; customer
    // grows with SF so its join picks broadcast vs shuffle at runtime.
    // Exact money math: cast to decimal before summing (order-invariant),
    // surface as double (deterministic decimal→double conversion).
    "q15_join_star" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name")
    }),

    // right outer: every customer kept, order columns null when no
    // high-value order exists. Null sort order made explicit (Spark
    // defaults NULLS FIRST on ASC, DuckDB NULLS LAST).
    "q17_join_right" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 450000.0)
      val c = Tables.customer(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
    }),

    // full outer between two aggregated sides (both may miss keys).
    "q16_join_full" -> ((s, dir) => {
      val byNationC = Tables.customer(s, dir)
        .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_customers"))
      val byNationS = Tables.supplier(s, dir)
        .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_suppliers"))
      byNationC.join(byNationS, Seq("nationkey"), "full")
        .select(
          col("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy("nationkey")
    }),

    // COMPOSITE analytics pipeline (the TPC-H Q3 shape, composed from
    // the reference's R8-R10 query pattern at warehouse scale:
    // mercadolibre_pipeline_dag.py:75): segment-filtered customer ⋈
    // date-filtered orders ⋈ ship-after lineitem → per-order revenue
    // agg → top-10. This is the first query where join ordering, AQE
    // broadcast selection, partial aggregation, and top-k pushdown all
    // interact in ONE plan — every other query gates one operator.
    // Scale shape: both selective filters push into the scans; the
    // SF-scaling customer side carries NO forced broadcast (AQE
    // broadcasts the filtered segment when it fits, shuffles when it
    // doesn't); the orderkey agg rides the lineitem ⋈ orders join key;
    // the top-10 plans as TakeOrderedAndProject (per-partition heaps +
    // driver merge, never a global sort). Exact money math: per-row
    // revenue cast to decimal before the order-invariant sum, surfaced
    // as double. PlanShapeSpec pins broadcast-on-customer and the
    // TakeOrderedAndProject.
    "q119_composite_topk" -> ((s, dir) => {
      // the date columns read as TIMESTAMP_NTZ; an NTZ-typed literal
      // keeps the comparison cast-free on the COLUMN side so both date
      // predicates push into the parquet scans (a to_timestamp literal
      // would wrap the columns in casts and defeat pushdown).
      val cutoff = lit("1995-06-01 00:00:00").cast("timestamp_ntz")
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
      val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
          col("o_orderpriority"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    }),

    // HAVING-QUALIFIED JOIN-BACK (the TPC-H Q18 "large volume
    // customer" shape): filter a fact table by ITS OWN aggregate —
    // orders whose total lineitem quantity exceeds a threshold, joined
    // back to orders + customer for presentation, top-100 by price.
    // Scale shape: the qualifying set comes from a partial-aggregating
    // groupBy on l_orderkey (one fixed-size row per order map-side —
    // lineitem bytes never shuffle), and the HAVING keeps only the
    // heavy tail, so the join-back runs against a tiny aggregate side
    // that AQE broadcasts into orders; customer (SF-scaling) carries
    // no forced broadcast per the file-header rule; the top-100 plans
    // as TakeOrderedAndProject. The naive alternative — joining
    // lineitem to orders FIRST and aggregating the joined width —
    // would shuffle the whole fact twice; aggregating first is the
    // canonical pre-aggregation pushdown this query gates.
    "q136_having_join_back" -> ((s, dir) => {
      val qualifying = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      qualifying.join(o, qualifying("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"),
          col("l_orderkey").as("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(100)
    }),

    // CORRELATED-SUBQUERY DECORRELATION (the TPC-H Q17 shape):
    // lineitems below half their part's average quantity, for one
    // brand — the classic "compare each row to its group's aggregate"
    // semantic that arrives as a correlated scalar subquery. The
    // textbook decorrelation self-joins the fact against a per-part
    // aggregate: two full fact scans and two fact shuffles — dead at
    // 100 TB. This plan instead (1) broadcast-reduces lineitem by the
    // selective brand dim FIRST (partkey is the part table's key, so
    // the filter removes no lineitems OF a qualifying part — the
    // per-part average over the reduced set is identical to the
    // correlated subquery's), then (2) computes the average as a
    // window over l_partkey and (3) reuses that same hash partitioning
    // for the final per-part groupBy — ONE shuffle of the ~1/25
    // reduced set, one fact scan. PlanShapeSpec pins the single
    // l_partkey Exchange. Averages of integer-valued quantities are
    // exact in double at any accumulation order; revenue follows the
    // q135 decimal-before-sum convention.
    "q137_correlated_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#13")
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, dir)
      val reduced = li.join(p, li("l_partkey") === p("p_partkey"))
      val w = Window.partitionBy(col("l_partkey"))
      reduced
        .withColumn("avg_qty", avg(col("l_quantity")).over(w))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .groupBy(col("l_partkey"))
        .agg(
          count(lit(1)).as("n_small"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("small_revenue"))
        .orderBy("l_partkey")
    }),

    // DISTRIBUTION-OF-COUNTS (the TPC-H Q13 "customer distribution"
    // shape): how many customers placed exactly k orders, INCLUDING
    // k=0 — the double aggregation whose outer key is the inner
    // aggregate's value. The zero bucket forces an outer join (an
    // inner join silently drops order-less customers — the classic
    // Q13 bug). Scale shape: orders pre-aggregates to one count per
    // custkey BEFORE the join (map-side partial, orders bytes never
    // shuffle — the q136 aggregation-pushdown theme), customer left
    // joins the count table on the shared custkey shuffle, and the
    // second aggregate runs over the tiny count domain. The oracle
    // evaluates the textbook join-then-count formulation — the
    // pre-aggregation must be invisible in the answer.
    "q139_custdist" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val cnt = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      c.join(cnt, c("c_custkey") === cnt("o_custkey"), "left_outer")
        .select(coalesce(col("n"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // SCALAR-THRESHOLD + ANTI-JOIN (the TPC-H Q22 "global sales
    // opportunity" shape): above-average-balance customers LAPSED
    // since 1999 (no order on/after the cutoff), per nation — the
    // remaining classic subquery pair after q137: a scalar subquery
    // threshold (decorrelates to a one-row aggregate broadcast via
    // cross join) and a correlated NOT EXISTS (decorrelates to a
    // left-anti join). Scale shape: the threshold side is one row; the
    // date predicate pushes into the orders scan BEFORE the anti join,
    // which then pre-distincts to one 8-byte key per recent customer
    // (map-side partial) — the network never carries order rows; anti
    // semantics ignore multiplicity, making the dedup free of risk.
    // Money math per the q135 convention (decimal-before-sum; the
    // average divides the exact decimal sum by the count).
    "q141_anti_exists" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("avg_bal"))
      val cutoff = lit("1999-01-01 00:00:00").cast("timestamp_ntz")
      val ordered = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= cutoff)
        .select(col("o_custkey")).distinct()
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(ordered, c("c_custkey") === ordered("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").as("total_bal"))
        .orderBy("c_nationkey")
    }),

    // BUCKETED fact-fact join: lineitem ⋈ orders both bucketed (and
    // sorted) on orderkey at write time (Warehouse.writeBucketed), so
    // the join — and the groupBy on the same key — run with ZERO
    // Exchange: the shuffle is paid once when the tables are written
    // and amortized over every subsequent query, the core 100 TB
    // warehouse layout claim. PlanShapeSpec pins the Exchange-free
    // plan; this query pins the RESULTS read back through the bucketed
    // layout against the plain-parquet DuckDB oracle. Aggregates are
    // chosen order-invariant (counts, integer-valued sums, max) so the
    // hash match is exact. Setup is once per session per fixture dir
    // (catalog-guarded); the bucket write itself is spec'd Exchange-free
    // in WarehouseSpec.
    "q96_bucketed_join" -> ((s, dir) => {
      val (lTbl, oTbl) = bucketedTables(s, dir)
      val l = s.table(lTbl)
      val o = s.table(oTbl)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).as("sum_qty"),
          max(col("o_totalprice")).as("o_totalprice"))
        .orderBy("l_orderkey")
    }),

    // MATERIALIZED-VIEW REWRITE (plans.RewriteAggOnRollup — the §4.2
    // Rule seam doing the oldest warehouse trick): the canonical
    // revenue-by-flag report over a day-aligned shipdate year is
    // written against the RAW lineitem scan, and the OPTIMIZER
    // redirects it onto the day-grain rollup table (Warehouse.
    // writeDailyRevenueRollup) — SUM of daily decimal partials is
    // associative, so the DuckDB oracle computing from RAW lineitem
    // must still hash-match bit-for-bit: the gate proves the rewrite
    // sound, not just plausible. At 100 TB this is |days|×|flags|
    // rows scanned instead of the fact table, maintained once by
    // ingest. MvRewriteSpec pins the plan actually scans the rollup
    // (and that misaligned bounds / foreign aggregates decline to the
    // fact scan — the honest MV-matching limitation).
    "q336_rollup_rewrite" -> ((s, dir) => {
      dailyRollup(s, dir)
      val lo = lit("1995-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1996-01-01 00:00:00").cast("timestamp_ntz")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_returnflag"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).as("rev_d"),
          count(lit(1)).as("n_lines"))
        .select(col("l_returnflag"), col("n_lines"),
          col("rev_d").cast("double").as("revenue"))
        .orderBy("l_returnflag")
    }),

    // SUBSET-GROUPING MV REWRITE (r15 — the second rewrite pattern,
    // proving the matcher is a re-aggregation LAW and not a
    // memorized shape): the DAILY revenue report groups by
    // day-of-shipdate — grouping keys {day} ⊂ rollup keys
    // (day, l_returnflag) — so RewriteAggOnRollup answers it from the
    // same rollup by re-aggregating OVER the flag (SUM of the 3
    // per-flag partials per day; decimal sums associative ⇒ the RAW
    // lineitem oracle still hash-matches bit-for-bit). Quarter range
    // [1995-03-01, 1995-06-01): the rewritten scan reads 92×|flags|
    // rollup rows instead of the quarter's fact lines. MvRewriteSpec
    // pins the rollup scan, the month-grain decline, and the
    // intra-day decline at this shape.
    "q341_daily_rollup_rewrite" -> ((s, dir) => {
      dailyRollup(s, dir)
      val lo = lit("1995-03-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1995-06-01 00:00:00").cast("timestamp_ntz")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_shipdate").cast("date").cast("timestamp_ntz")
          .as("day"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).as("rev_d"),
          count(lit(1)).as("n_lines"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_lines"), col("rev_d").cast("double").as("revenue"))
        .orderBy("day")
    }),

    // DYNAMIC PARTITION PRUNING (VERDICT r10 #2): the single most
    // common 100 TB warehouse read pattern after bucketing — a fact
    // table date-partitioned at write time (Warehouse.writePartitioned,
    // the reference's date-scoped report query run against a
    // partitioned snapshot history: mercadolibre_pipeline_dag.py:75),
    // joined to a FILTERED dim whose join key is the partition column.
    // The month set is only known at runtime (it comes out of the dim
    // filter), so static partition pruning can't apply; Catalyst's
    // PartitionPruning rule instead plants a dynamicpruningexpression
    // subquery in the fact scan's PartitionFilters — the fact side
    // lists and reads ONLY the matching month directories, never
    // touching the other ~97% of a 7-year corpus' bytes. PlanShapeSpec
    // pins the dynamicpruningexpression; the oracle replays the
    // semantics over the plain unpartitioned parquet, so the layout
    // must change the plan, never the answer. Aggregates follow the
    // q96/q119 exact-money conventions (order-invariant decimal sums).
    "q133_dpp_join" -> ((s, dir) => {
      val fact = s.read.parquet(partitionedLineitem(s, dir))
      val lo = lit("1995-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1995-04-01 00:00:00").cast("timestamp_ntz")
      val months = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
        .distinct()
      fact.join(months, Seq("ship_month"))
        .groupBy(col("ship_month"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy("ship_month")
    }),

    // EDIT-DISTANCE-1 SIMILARITY JOIN (ops.Dedup.editOneJoin): all
    // customer-name pairs within one typo of each other — the fuzzy
    // key join (deletion-neighborhood blocking + levenshtein verify).
    // The DuckDB oracle is the NAIVE quadratic cross join, so the hash
    // match proves the deletion-signature candidate set is LOSSLESS,
    // exactly the q147 discipline.
    "q164_edit_join" -> ((s, dir) => {
      graft.ops.Dedup.editOneJoin(
          Tables.customer(s, dir), "c_custkey", "c_name")
        .orderBy("id_a", "id_b")
    }),

    // PAGERANK, 3 supersteps (ops.Graph.pageRank), over the
    // SYMMETRIZED customer–supplier trade graph (node = 2·custkey /
    // 2·suppkey+1 — disjoint key spaces; symmetrization guarantees
    // out-degree >= 1, the no-dangling precondition). The WHOLE
    // 3-iteration FIXED-POINT build sits under the hash gate — the
    // DuckDB oracle unrolls the same three supersteps as CTEs in the
    // same 1e-12-unit integer arithmetic, so every join, every floor
    // division, and every long sum must be bit-identical (the q121
    // multi-iteration discipline applied to link analysis; a floating
    // formulation was tried first and diverged on a round-half
    // boundary at sf0.01 — see the op scaladoc).
    "q163_pagerank" -> ((s, dir) => {
      val eb = tradeEdges(s, dir)
      // the DERIVED edge list (scan+join+distinct) is re-read by every
      // superstep — checkpoint it once at the call site (r22, VERDICT
      // r21 #7; the op stays bucketing-transparent, so a bucketed
      // caller's layout survives).
      val edges = Checkpoints(bothWays(eb))
      graft.ops.Graph.pageRank(edges, iterations = 3)
        .orderBy("node")
    }),

    // HITS hubs/authorities (Graph.hits) on the DIRECTED
    // customer→supplier purchase graph — hubs = customers whose
    // baskets span the authoritative suppliers, authorities =
    // suppliers bought by the strong hubs (the mutually-reinforcing
    // definition PageRank's single score can't express). Same
    // disjoint-id encoding as q163 (2c / 2s+1), 2 iterations, integer
    // fixed-point normalization per half-step — the whole mutual
    // recursion hash-matches the unrolled DuckDB replay.
    "q297_hits" -> ((s, dir) => {
      // derived edge build read by all four half-step joins —
      // checkpoint at the call site (r22, VERDICT r21 #7; the q163
      // comment)
      val edges = Checkpoints(tradeEdges(s, dir, ids = ("src", "dst")))
      graft.ops.Graph.hits(edges, iterations = 2)
        .orderBy("node")
    }),

    // MULTI-SOURCE BFS (ops.Graph.bfs) — minimum hop distance from
    // the ASIA supplier set over the HIGH-VOLUME trade graph
    // (l_quantity ≥ 48 keeps ~6% of lineitems — the sparsified graph
    // where distance is informative; the full graph saturates at 2
    // hops): the reachability / blast-radius primitive beside q163's
    // scores and q268's density. Same disjoint-id encoding as q163
    // (2c / 2s+1), symmetrized, 3 levels — every distance 0/1/2/3 is
    // LIVE at all three SFs and unreachable nodes exist (141 of 160
    // reached at sf0.001), checked at design time; a 4th level is
    // structurally empty on this bipartite graph (all suppliers are
    // reached by level 2), so 3 is the honest bound. Level-synchronous
    // frontier joins, deterministic min-dist fixpoint ⇒ HASH-GATED
    // against a WITH RECURSIVE replay (the q303 discipline).
    "q327_bfs_hops" -> ((s, dir) => {
      val eb = tradeEdges(s, dir, keep = Some(col("l_quantity") >= 48))
      val edges = bothWays(eb)
      val seeds = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select((col("s_suppkey") * 2 + 1).as("node"))
      graft.ops.Graph.bfs(edges, seeds, maxHops = 3).orderBy("node")
    }),

    // PERSONALIZED PAGERANK (ops.Graph.personalizedPageRank —
    // Haveliwala 2002) seeded on the ASIA suppliers over q163's FULL
    // symmetrized trade graph: "how relevant is every participant to
    // the ASIA supply portfolio" — the seed-biased relevance score
    // beside q163's global importance, q297's mutual reinforcement,
    // and q327's hop distances (which share the seed set: distance
    // says HOW FAR, this says HOW MUCH). Same 1e-12 integer
    // fixed-point, 2 supersteps, restart mass only on seeds; nodes
    // outside the 2-hop neighborhood read EXACTLY 0 (integer math —
    // locality is bit-visible, not approximate). The whole build
    // hash-matches the unrolled DuckDB replay.
    "q333_personalized_pagerank" -> ((s, dir) => {
      val eb = tradeEdges(s, dir)
      // derived edge build read by every superstep — checkpoint at
      // the call site (r22, VERDICT r21 #7; the q163 comment)
      val edges = Checkpoints(bothWays(eb))
      val seeds = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select((col("s_suppkey") * 2 + 1).as("node"))
      graft.ops.Graph.personalizedPageRank(edges, seeds, iterations = 2)
        .orderBy("node")
    }),

    // CONNECTED COMPONENTS VIA STAR CONTRACTION (ops.Graph.ccStar —
    // Kiveris et al. 2014's alternating large-star/small-star, r15):
    // the O(log n)-ROUND CC beside q212's unrolled min-label
    // supersteps (hashmin). The input is the graph where hashmin
    // is at its WORST: per-user event chains ordered by time — paths
    // ~70 nodes deep at sf0.01 (~700 at sf0.1), so hashmin needs a
    // superstep per hop while star contraction collapses each chain
    // in a handful of edge-rewriting rounds (GraphSpec asserts the
    // 200-node path lands under the 30-round cap and that ccStar ≡
    // a union-find min-label reference on cycles/stars/random
    // graphs). The oracle is the INDEPENDENT closed-form answer the
    // construction admits — a chain links ALL of a user's events, so each
    // component is exactly one multi-event user (comp = min event_id,
    // size = event count) — the q303 discipline: same answer, via a
    // route that shares no code with the iterated operator.
    "q343_cc_star" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("next_id", lead(col("event_id"), 1).over(w))
        .filter(col("next_id").isNotNull)
        .select(col("event_id").as("u"), col("next_id").as("v"))
      graft.ops.Graph.ccStar(edges)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
        .orderBy("comp")
    }),

    // RANDOM-WALK CORPUS (DeepWalk/node2vec data prep — Perozzi et
    // al. 2014; r15): the sequence generator that turns a graph into
    // training text for embedding models — the graph-side sibling of
    // the q183 contrastive builder. One 3-hop walk per customer node
    // over the symmetrized trade graph; the "random" next hop is the
    // repo's md5-coin discipline (q337's treatment coin): next(cur,t)
    // = argmin over neighbors v of (md5(cur:t:v), v) — deterministic,
    // engine-replayable, step-indexed so consecutive hops decorrelate.
    // Scale shape: the per-step transition choice collapses to a
    // NODE-SIZED map (one argmin groupBy over edges per step — next
    // depends only on (cur, t)), so each hop is a node-sized join,
    // never a per-walk fan-out; 3 steps = 3 bounded joins.
    "q346_random_walks" -> ((s, dir) => {
      val eb = tradeEdges(s, dir)
      val edges = bothWays(eb)
      def nextHop(t: Int) = edges
        .select(col("src"), col("dst"),
          substring(md5(concat_ws(":", col("src"), lit(t), col("dst"))),
            1, 8).as("h"))
        .groupBy("src")
        .agg(min(struct(col("h"), col("dst"))).as("m"))
        .select(col("src"), col("m.dst").as("next"))
      var walk = eb.select(col("c")).distinct()
        .select(col("c").as("start"), col("c").as("cur"))
      for (t <- 1 to 3) {
        val nh = nextHop(t)
        walk = walk.join(nh, walk("cur") === nh("src"))
          .drop("src", "cur")
          .withColumn(s"hop$t", col("next"))
          .withColumnRenamed("next", "cur")
      }
      walk.select(col("start"), col("hop1"), col("hop2"), col("hop3"))
        .orderBy("start")
    }),

    // WEIGHTED SSSP via bounded-hop Bellman–Ford (Graph.sssp; r16) —
    // the weighted companion to q303's BFS: THAT counts hops, THIS
    // sums edge costs. Graph: the symmetrized customer–supplier trade
    // graph (q333/q346's), edge weight a SYMMETRIC content-addressed
    // integer 1..1000 per canonical pair (md5 over least:greatest, the
    // md5-coin discipline — both directions share the weight, so the
    // undirected metric is well-defined and engine-replayable).
    // Source: the minimum customer node; 4 relaxation rounds ⇒ the
    // EXACT min-cost path using ≤ 4 edges (the declared bounded-hop
    // semantic — the trade graph is dense bipartite, so 4 rounds
    // reach the whole component). Every step is integer min-plus; the
    // oracle unrolls the same 4 rounds as CTEs. Scale: each round is
    // one node-sized join on src + one min groupBy — bucket edges on
    // src at 100 TB (the measured q171/q333 remedy) and the join side
    // is Exchange-free.
    "q347_sssp_weighted" -> ((s, dir) => {
      val eb = tradeEdges(s, dir)
      val edges = bothWays(eb)
        .withColumn("w",
          conv(substring(md5(concat_ws(":", lit("sw"),
            least(col("src"), col("dst")),
            greatest(col("src"), col("dst")))), 1, 6), 16, 10)
            .cast("long") % 1000L + 1L)
      val src = eb.agg(min(col("c")).as("node"))
      graft.ops.Graph.sssp(edges, src, 4).orderBy("node")
    }),

    // DBSCAN density clustering (Cluster.dbscan; r16) — the q210 grid
    // kernel + ccStar composed into the Ester et al. 1996 classic.
    // Points are PLANTED (the q344/q342 positive discipline — the
    // fixture has no planar columns, and an unplanted uniform field
    // would make every point noise): 1-in-5 ids are uniform noise on
    // the 1M×1M grid; the rest scatter around one of 16
    // content-addressed cluster centers — mostly in a dense ±900
    // box, but 1-in-7 in a sparse ±2500 HALO (without the halo, at
    // sf0.01+ the 75-point boxes are so dense that EVERY member is
    // core and the border branch goes vacuous — the design-time
    // audit that shaped q342's top_row_gray; halo points are too
    // sparse to be core but often ε-adjacent to the box ⇒ border),
    // so core/border/noise ALL fire at every SF (counts inspected:
    // 14/38/98 at sf0.001, 1077/30/393 at sf0.01).
    // ε = 1000, minPts = 6 (neighborhood includes the point
    // itself). Border points take
    // the MINIMUM adjacent core's cluster — the deterministic variant
    // of the paper's scan-order-dependent assignment — and the DuckDB
    // oracle is the NAIVE QUADRATIC ε-join + recursive min-label
    // closure, so the hash match proves the grid kernel loses no pair
    // AND star contraction labels every component exactly (the q210 /
    // q303 double discipline in one gate).
    "q348_dbscan" -> ((s, dir) => {
      def hex(tag: String, k: org.apache.spark.sql.Column, n: Int) =
        conv(substring(md5(concat_ws(":", lit(tag), k)), 1, n), 16, 10)
          .cast("long")
      val base = Tables.customer(s, dir).select(col("c_custkey").as("id"))
        .withColumn("k", col("id") % 16)
        .withColumn("noise", hex("dbn", col("id"), 4) % 5 === 0)
        .withColumn("halo", hex("dbh", col("id"), 4) % 7 === 0)
      def jitter(tag: String) =
        when(col("halo"), hex(tag, col("id"), 6) % 5001L - 2500L)
          .otherwise(hex(tag, col("id"), 6) % 1801L - 900L)
      val pts = base.select(col("id"),
        when(col("noise"), hex("dbux", col("id"), 6) % 1000000L)
          .otherwise(hex("dbcx", col("k"), 6) % 900000L + 50000L +
            jitter("dbjx")).as("x"),
        when(col("noise"), hex("dbuy", col("id"), 6) % 1000000L)
          .otherwise(hex("dbcy", col("k"), 6) % 900000L + 50000L +
            jitter("dbjy")).as("y"))
      graft.ops.Cluster.dbscan(pts, 1000L, 6).orderBy("id")
    }),

    // ITEM–ITEM COLLABORATIVE FILTERING (Sarwar et al. 2001 — the
    // recommender primitive; r16): cosine similarity over binary
    // order-occurrence vectors, sim(p,q) = |orders(p,q)| /
    // √(|orders(p)|·|orders(q)|), top-3 neighbors per item. The
    // co-occurrence counts ride q171's co-purchase wedge (pairs are
    // output-sized, per-order fan-out bounded by basket²,
    // never parts²); the similarity is ONE double division + sqrt of
    // exact integer counts ROUNDED 6dp, and the per-item top-3 is the
    // PLAIN window idiom — which the GroupedTopK Rule re-plans onto
    // the bounded-heap physical operator in any graft session (the
    // q287 seam, third consumer), ranked by the ROUNDED score so both
    // engines order identical doubles (ties broken by neighbor id).
    // At 100 TB: co-occurrence groupBy partitions by pair, the heap
    // top-k shuffles k rows per item, and the whole thing is the
    // q171 bucket-on-src story if the wedge dominates.
    "q350_item_cf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ib = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val deg = ib.groupBy(col("l_partkey").as("p"))
        .agg(count(lit(1)).as("d"))
      val co = basketPairs(ib)
        .groupBy(col("a.l_partkey").as("p"), col("b.l_partkey").as("q"))
        .agg(count(lit(1)).as("n_co"))
      val sym = co.select(col("p"), col("q"), col("n_co"))
        .unionByName(co.select(col("q").as("p"), col("p").as("q"),
          col("n_co")))
      // deg is part-domain (one row per part) — parts grow with SF, so
      // it must NOT be hint-broadcast (the q102/q119 discipline: at
      // fixture scale AQE broadcasts it by SIZE, at 100 TB part
      // cardinality it shuffle-joins; a forced broadcast OOMs the
      // driver). Plan-pinned in PlanShapeSpec (r17).
      val scored = sym
        .join(deg.select(col("p"), col("d").as("dp")), Seq("p"))
        .join(deg.select(col("p").as("q"), col("d").as("dq")),
          Seq("q"))
        .select(col("p").as("item"), col("q").as("other"), col("n_co"),
          round(col("n_co").cast("double") /
            sqrt(col("dp").cast("double") * col("dq").cast("double")), 6)
            .as("cos_sim"))
      val w = Window.partitionBy("item")
        .orderBy(desc("cos_sim"), col("other"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("item"), col("other"), col("n_co"),
          col("cos_sim"), col("rn").cast("long").as("rn"))
        .orderBy("item", "rn")
    }),

    // ASSOCIATION RULES (Agrawal & Srikant 1994, the level-2 Apriori
    // slice — r16): the RULES view of q350's co-occurrence counts —
    // CF ranks neighbors by symmetric cosine, THIS scores DIRECTED
    // p→q implications by confidence = co/deg(p) and lift =
    // co·N/(deg(p)·deg(q)), the basket-analysis classic. Counts ride
    // the same output-sized wedge; min co ≥ 2 prunes singleton
    // noise; the report is the global top-50 by (rounded lift,
    // antecedent, consequent) — a TakeOrdered, bounded output, total
    // order ⇒ a deterministic cut. All moments exact integers; two
    // closed-form doubles per rule, 6dp.
    "q357_assoc_rules" -> ((s, dir) => {
      val ib = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val tot = ib.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val deg = ib.groupBy(col("l_partkey").as("p"))
        .agg(count(lit(1)).as("d"))
      val co = basketPairs(ib)
        .groupBy(col("a.l_partkey").as("p"), col("b.l_partkey").as("q"))
        .agg(count(lit(1)).as("n_co"))
      val sym = co.select(col("p").as("antecedent"),
          col("q").as("consequent"), col("n_co"))
        .unionByName(co.select(col("q").as("antecedent"),
          col("p").as("consequent"), col("n_co")))
      // deg joins deliberately UNHINTED (part-domain scales with SF —
      // the q102/q119 AQE discipline; see q350's note). tot stays a
      // forced broadcast: it is ONE row at any scale.
      sym.filter(col("n_co") >= 2)
        .join(deg.select(col("p").as("antecedent"),
          col("d").as("da")), Seq("antecedent"))
        .join(deg.select(col("p").as("consequent"),
          col("d").as("dc")), Seq("consequent"))
        .crossJoin(broadcast(tot))
        .select(col("antecedent"), col("consequent"), col("n_co"),
          round(col("n_co").cast("double") / col("da").cast("double"), 6)
            .as("confidence"),
          round((col("n_co") * col("n_orders")).cast("double") /
            (col("da") * col("dc")).cast("double"), 6).as("lift"))
        .orderBy(desc("lift"), col("antecedent"), col("consequent"))
        .limit(50)
    }),

    // GRAPH MODULARITY (Newman & Girvan 2004 — the community-QUALITY
    // metric; r16): q212 label-propagates communities, THIS scores
    // them — Q = Σ_c [e_c/m − (d_c/2m)²] over the same quantity=1
    // trade subgraph, rewritten to the single exact-integer fraction
    // Q = (4m·E_in − Σ_c d_c²) / (4m²) so there is ONE double
    // division at the end (numerator/denominator ≪ 2⁵³ at every SF).
    // E_in = canonical edges whose endpoints share a label (two
    // node-sized label joins), d_c from one degree groupBy — nothing
    // beyond q212's own shuffles. The honest fixture reading: hashmin
    // labels on a near-bipartite trade graph give modest Q (inspected
    // — positive but far from 1), which is exactly what a quality
    // metric is FOR.
    "q358_modularity" -> ((s, dir) => {
      val eb = tradeEdges(s, dir, keep = Some(col("l_quantity") === 1))
      val edges = bothWays(eb)
      val labels = graft.ops.Graph.labelPropagate(edges, supersteps = 3)
      val mE = eb
        .join(labels.select(col("node").as("c"), col("label").as("lc")),
          Seq("c"))
        .join(labels.select(col("node").as("s1"), col("label").as("ls")),
          Seq("s1"))
        .agg(count(lit(1)).as("m"),
          sum(when(col("lc") === col("ls"), 1L).otherwise(0L)).as("e_in"))
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      val stats = deg.join(labels, Seq("node"))
        .groupBy(col("label")).agg(sum(col("d")).as("dc"))
        .agg(count(lit(1)).as("n_communities"),
          sum(col("dc") * col("dc")).as("d2"))
      mE.crossJoin(broadcast(stats))
        .select(col("m"), col("n_communities"), col("e_in"),
          round((lit(4L) * col("m") * col("e_in") - col("d2")).cast("double")
            / (lit(4L) * col("m") * col("m")).cast("double"), 6)
            .as("q_modularity"))
    }),

    // DEGREE ASSORTATIVITY (Newman 2002 — do hubs attach to hubs?;
    // r16): the third graph-STRUCTURE metric beside q171's triangles
    // (local clustering) and q358's modularity (community quality):
    // Pearson correlation of endpoint degrees over every directed
    // edge-end of the symmetrized trade graph. All moments exact
    // Longs (each < 2⁵³ individually), the Pearson combination done
    // IN DOUBLE from those exact inputs in one documented op order —
    // bit-replayable. Shape: one degree groupBy + two node-sized
    // joins + one scalar aggregate; nothing scales past the edge
    // list. The honest fixture reading: a bipartite customer–supplier
    // graph is DISASSORTATIVE — r reads ≈ −1 (−0.9994/−0.9958/−0.9945
    // at the three SFs, inspected): every edge pairs a low-degree
    // customer with a high-degree supplier, the bipartite signature
    // read exactly; the metric would move toward 0 only on a graph
    // with within-side degree mixing.
    "q359_assortativity" -> ((s, dir) => {
      val eb = tradeEdges(s, dir)
      val edges = bothWays(eb)
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      val moments = edges
        .join(deg.select(col("node").as("src"), col("d").as("du")),
          Seq("src"))
        .join(deg.select(col("node").as("dst"), col("d").as("dv")),
          Seq("dst"))
        .agg(count(lit(1)).as("m2"),
          sum(col("du")).as("sx"),
          sum(col("du") * col("dv")).as("sxy"),
          sum(col("du") * col("du")).as("sxx"))
      moments.select(
        expr("m2 div 2").as("m_edges"),
        round((col("m2").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("m2").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("r_assort"))
    }),

    // ONE-LEVEL LOUVAIN REFINEMENT (Blondel et al. 2008's local-move
    // phase with locally-dominant parallel selection; r17 — VERDICT
    // r16 missing #3): the OPTIMIZER for the q358 metric. Same
    // quantity=1 trade graph, same 3-superstep hashmin init as
    // q212/q358; two bounded rounds of exact-integer best-move
    // refinement (Graph.louvainRefine — every applied move strictly
    // increases Q, proven in the scaladoc via disjoint-community
    // selection). Output: every node's refined community plus the
    // CONSTANT before/after modularity columns (q358's exact-integer
    // fraction, one rounded double each) — the hash gates the full
    // assignment AND the improvement claim in one artifact.
    // Non-vacuity inspected: q_refined > q_init at every SF (moves
    // actually apply), and both Q values replay in the oracle.
    "q363_louvain_refine" -> ((s, dir) => {
      // eb / init / deg each feed MULTIPLE consumers (refinement +
      // both Q computations) — checkpoint once so labelPropagate and
      // the base trade-graph join don't replay per consumer (they
      // did: 27 s isolated at sf0.1 before, the q365 lazy-chain
      // lesson applied here too).
      val eb = Checkpoints(tradeEdges(s, dir, keep = Some(col("l_quantity") === 1)))
      val edges = bothWays(eb)
      val init = Checkpoints(graft.ops.Graph.labelPropagate(edges, supersteps = 3))
      val refined = graft.ops.Graph.louvainRefine(edges, init, rounds = 2)
      val deg = Checkpoints(edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d")))
      def qOf(l: org.apache.spark.sql.DataFrame) = {
        val mE = eb
          .join(l.select(col("node").as("c"), col("label").as("lc")),
            Seq("c"))
          .join(l.select(col("node").as("s1"), col("label").as("ls")),
            Seq("s1"))
          .agg(count(lit(1)).as("m"),
            sum(when(col("lc") === col("ls"), 1L).otherwise(0L)).as("e_in"))
        val d2 = deg.join(l, Seq("node"))
          .groupBy(col("label")).agg(sum(col("d")).as("dc"))
          .agg(sum(col("dc") * col("dc")).as("d2"))
        mE.crossJoin(broadcast(d2))
          .select(round(
            (lit(4L) * col("m") * col("e_in") - col("d2")).cast("double")
              / (lit(4L) * col("m") * col("m")).cast("double"), 6).as("q"))
      }
      refined.select(col("node"), col("label").as("community"))
        .crossJoin(broadcast(qOf(init).select(col("q").as("q_init"))))
        .crossJoin(broadcast(qOf(refined).select(col("q").as("q_refined"))))
        .orderBy("node")
    }),

    // LOUVAIN LEVEL 2 — the FULL Blondel pyramid step (Blondel et al.
    // 2008 phase 2 + a second phase 1; r18, VERDICT r17 next #3):
    // q363 stops where single-NODE moves stop paying; the pyramid's
    // next rung contracts each level-1 community to a super-node
    // (Graph.louvainContract — inter-community weights, intra as
    // self-loops, Q preserved EXACTLY by the louvainMove weight
    // conventions) and re-runs the local-move phase on the WEIGHTED
    // super-graph (Graph.louvainMove), where one move now relocates a
    // whole community. Same exact-integer ΔQ (2·M₂ scale), same
    // locally-dominant selection, so Q still strictly increases per
    // applying round — and the super-graph is COMMUNITY-sized, so
    // level 2 costs a fraction of level 1 at any scale. Output: every
    // node's level-2 community (super labels expanded back through
    // the level-1 assignment) + the CONSTANT q_level1/q_level2
    // modularity columns (computed on the BASE graph both times — the
    // contraction-exactness claim is thereby gated, not assumed).
    // Non-vacuity inspected: q_level2 > q_level1 at every SF (whole-
    // community merges apply where q363's node moves had dried up).
    "q367_louvain_level2" -> ((s, dir) => {
      // same base graph, init, and level-1 refinement as q363 (the
      // pyramid's lower rung is shared machinery, not a re-derivation)
      val eb = Checkpoints(tradeEdges(s, dir, keep = Some(col("l_quantity") === 1)))
      val edges = bothWays(eb)
      val init = graft.ops.Graph.labelPropagate(edges, supersteps = 3)
      // ONE level-1 round (vs q363's two): the pyramid's division of
      // labor — a finer level-1 partition leaves the coarse merge
      // work to level 2, which is where this query's new machinery
      // lives; with two level-1 rounds the sf0.001 super-graph was
      // already merge-optimal and level 2 was the identity (vacuous —
      // caught by inspection, the q366 lesson)
      val lvl1 = Checkpoints(graft.ops.Graph.louvainRefine(edges, init, rounds = 1))
      // contract to the weighted super-graph and re-run the move
      // phase with each community starting as its own super-community
      val sup = Checkpoints(graft.ops.Graph.louvainContract(
        edges.withColumn("w", lit(1L)), lvl1))
      val supInit = sup.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      val moved = graft.ops.Graph.louvainMove(sup, supInit, rounds = 2)
      val lvl2 = Checkpoints(lvl1
        .join(moved.select(col("label").as("l2"), col("node").as("label")),
          Seq("label"))
        .select(col("node"), col("l2").as("label")))
      val deg = Checkpoints(edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d")))
      def qOf(l: org.apache.spark.sql.DataFrame) = {
        val mE = eb
          .join(l.select(col("node").as("c"), col("label").as("lc")),
            Seq("c"))
          .join(l.select(col("node").as("s1"), col("label").as("ls")),
            Seq("s1"))
          .agg(count(lit(1)).as("m"),
            sum(when(col("lc") === col("ls"), 1L).otherwise(0L)).as("e_in"))
        val d2 = deg.join(l, Seq("node"))
          .groupBy(col("label")).agg(sum(col("d")).as("dc"))
          .agg(sum(col("dc") * col("dc")).as("d2"))
        mE.crossJoin(broadcast(d2))
          .select(round(
            (lit(4L) * col("m") * col("e_in") - col("d2")).cast("double")
              / (lit(4L) * col("m") * col("m")).cast("double"), 6).as("q"))
      }
      lvl2.select(col("node"), col("label").as("community"))
        .crossJoin(broadcast(qOf(lvl1).select(col("q").as("q_level1"))))
        .crossJoin(broadcast(qOf(lvl2).select(col("q").as("q_level2"))))
        .orderBy("node")
    }),

    // FULL LOUVAIN PYRAMID (Blondel et al. 2008, both phases looped —
    // r19, VERDICT r18 next #2): q363 gates the move phase, q367 one
    // contract+move step; THIS runs the complete multi-level driver
    // (Graph.louvainPyramid) from the canonical cold start — every
    // node its own community, ONE move round per level, three levels
    // of move→contract→move on geometrically shrinking super-graphs.
    // Level 1 pair-merges singletons on the base graph, level 2
    // relocates whole pairs on the ~n/2-node super-graph, level 3
    // whole quads — the agglomeration schedule real community
    // detection ships (vs q367's labelPropagate warm start). Output:
    // every node's level-3 community + the CONSTANT q_level1/2/3
    // modularity columns, all computed on the BASE graph (gating the
    // contraction-exactness claim per level, not assuming it).
    // Non-vacuity inspected PER LEVEL (the q367 first-cut lesson):
    // q_level1 < q_level2 < q_level3 strictly at every gated SF —
    // each level applies real merges. At 100 TB: level 1 is
    // louvainMove's one-join-one-groupBy round on the full edge list;
    // every later level runs on a community-counted graph.
    "q370_louvain_pyramid" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir, keep = Some(col("l_quantity") === 1)))
      val edges = bothWays(eb)
        .withColumn("w", lit(1L))
      val lv = graft.ops.Graph.louvainPyramid(edges, levels = 3,
        moveRounds = 1)
      val deg = Checkpoints(edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d")))
      def qOf(l: org.apache.spark.sql.DataFrame) = {
        val mE = eb
          .join(l.select(col("node").as("c"), col("label").as("lc")),
            Seq("c"))
          .join(l.select(col("node").as("s1"), col("label").as("ls")),
            Seq("s1"))
          .agg(count(lit(1)).as("m"),
            sum(when(col("lc") === col("ls"), 1L).otherwise(0L)).as("e_in"))
        val d2 = deg.join(l, Seq("node"))
          .groupBy(col("label")).agg(sum(col("d")).as("dc"))
          .agg(sum(col("dc") * col("dc")).as("d2"))
        mE.crossJoin(broadcast(d2))
          .select(round(
            (lit(4L) * col("m") * col("e_in") - col("d2")).cast("double")
              / (lit(4L) * col("m") * col("m")).cast("double"), 6).as("q"))
      }
      lv(2).select(col("node"), col("label").as("community"))
        .crossJoin(broadcast(qOf(lv(0)).select(col("q").as("q_level1"))))
        .crossJoin(broadcast(qOf(lv(1)).select(col("q").as("q_level2"))))
        .crossJoin(broadcast(qOf(lv(2)).select(col("q").as("q_level3"))))
        .orderBy("node")
    }),

    // EARLIEST-ARRIVAL TEMPORAL REACHABILITY (Wu et al. 2014 — r17):
    // the TIME-RESPECTING traversal beside q342 BFS (hops) and q347
    // SSSP (weights): an edge is usable only at-or-after your arrival
    // at its source, so a hop-shorter path can be temporally USELESS
    // (its edges run backward in time) while a longer one arrives.
    // Graph = the customer↔supplier trade edges STAMPED with their
    // order date as a yyyymmdd Long (year/month/day arithmetic — the
    // q349 parity class; ordering = chronology); seed = the minimum
    // customer node at t = 0; 4 relaxation rounds, integer min-plus
    // style, per-round checkpoint + the sssp (count, Σarr) scalar
    // early-exit witness. Non-vacuity inspected: the constraint
    // BINDS on VALUES — the dense trade graph reaches every node in
    // 4 hops either way, but 233 of 1600 nodes at sf0.01 arrive
    // STRICTLY LATER than the unconstrained min-timestamp decoration
    // would claim (their early edges run backward in time).
    "q364_temporal_reach" -> ((s, dir) => {
      // two consumers (edge build + seed min) — checkpoint once
      val eb = Checkpoints(tradeEdges(s, dir, extra = Seq(yyyymmdd)))
      val edges = bothWays(eb)
      val seed = eb.agg(min(col("c")).as("node"))
      graft.ops.Graph.earliestArrival(edges, seed, 0L, rounds = 4)
        .orderBy("node")
    }),

    // LATEST-DEPARTURE temporal reachability (Wu et al. 2014; r18,
    // VERDICT r17 next #4): q364's time-REVERSED dual on the same
    // machinery — ld(u) = the latest time you can still be at u and
    // reach the TARGET by the deadline; an edge is usable iff its
    // timestamp also makes the downstream node's own departure
    // (t ≤ ld(v)). Same dated trade graph; target = the minimum
    // customer node; deadline = 1997-01-01 as a yyyymmdd Long —
    // INSIDE the corpus's 1992–1998 date range, so the deadline
    // itself prunes (every post-deadline edge is unusable). 4
    // reverse max-relaxation rounds, per-round checkpoint + the
    // (count, Σld) scalar witness (monotone UP here). NOT a mirror
    // of q364's answer: GraphSpec's diamond pins a graph where the
    // earliest-arrival route (through the early middle edge) and the
    // latest-departure route (the late direct edge) differ. Non-
    // vacuity inspected: the t ≤ ld(v) constraint binds on VALUES —
    // nodes whose unconstrained max-usable-edge decoration would
    // claim a later departure hold a strictly earlier ld (their late
    // edges lead only to nodes already past their own departure).
    "q368_latest_departure" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir, extra = Seq(yyyymmdd)))
      val edges = bothWays(eb)
      val target = eb.agg(min(col("c")).as("node"))
      graft.ops.Graph.latestDeparture(edges, target, 19970101L,
          rounds = 4)
        .orderBy("node")
    }),

    // FASTEST (duration-minimal) JOURNEY (Wu et al. 2014; r18): the
    // third temporal objective on the q364/q368 machinery — not WHEN
    // you arrive (q364) or when you must leave (q368) but how long
    // you're IN TRANSIT, and the answers disagree: the fastest
    // journey may depart LATE on a route earliest-arrival ignores.
    // Timestamps are EPOCH DAYS here (datediff from 1970-01-01), not
    // q364's yyyymmdd encoding: yyyymmdd is order-isomorphic (fine
    // for min/max objectives) but its differences aren't durations,
    // and this query's objective IS a difference. State = (node, dep,
    // arr) per distinct seed out-time — the dep-stratified
    // earliest-arrival relax, exact by the first-hop argument in the
    // scaladoc; seed out-degree bounds the strata (12 distinct
    // out-dates at sf0.01, inspected — node-linear state). 4 rounds,
    // per-round checkpoint, (count, Σarr) witness. Non-vacuity
    // inspected: departing later PAYS on values — at sf0.01, 1416 of
    // 1600 reachable nodes pick a journey departing strictly after
    // the seed's earliest out-time, every one of them beating the
    // earliest-departure stratum's transit to the same node outright
    // (141 of 160 at sf0.001, likewise all strict wins).
    "q369_fastest_journey" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir, extra = Seq(
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("t"))))
      val edges = bothWays(eb)
      val seed = eb.agg(min(col("c")).as("node"))
      graft.ops.Graph.fastestJourney(edges, seed, rounds = 4)
        .orderBy("node")
    }),

    // BETWEENNESS CENTRALITY, sampled-source Brandes (Brandes 2001;
    // Brandes & Pich 2007 sampling — r19, VERDICT r18 next #3): the
    // one classic graph-structure metric the registry lacked beside
    // degree/PageRank/HITS/CC/k-core/k-truss/communities. Graph =
    // the full symmetrized customer↔supplier trade graph; sources =
    // the 8 customer nodes winning a deterministic md5 total order
    // (ORDER BY md5('bc:'||node) LIMIT 8 — SF-stable sample SIZE, so
    // per-source state stays |S|×nodes at every scale); maxHops = 4
    // covers the dense trade graph's sampled eccentricities. σ path
    // counts are exact Longs; the σv/σw·(1+δw) dependency terms are
    // quantized to 1e-6 units with ONE truncating integer division
    // each (term = σv·(scale+δw) div σw — the pageRank fixed-point
    // discipline), so δ and the final BC are exact BIGINTs that any
    // 64-bit engine replays bit-identically; overflow guards
    // (σ ≤ 1e7, δ ≤ 1e11) fail loudly past the documented envelope.
    // Non-vacuity inspected: suppliers dominate the top of the
    // ranking (they bridge customer neighborhoods) and the sampled
    // δ spreads over >4 decades — the quantization is exercised far
    // from its truncation floor.
    "q371_betweenness" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir))
      val edges = bothWays(eb)
      val srcs = eb.select(col("c").as("node")).distinct()
        .orderBy(md5(concat(lit("bc:"), col("node").cast("string"))),
          col("node"))
        .limit(8)
      graft.ops.Graph.betweenness(edges, srcs, maxHops = 4)
        .orderBy("node")
    }),

    // SHORTEST (minimum-hop) time-respecting JOURNEY (Wu et al. 2014
    // — r19, VERDICT r18 next #4): the FOURTH temporal objective,
    // completing the taxonomy on q364/q368/q369's machinery — not
    // when you arrive, when you leave, or how long you ride, but how
    // many EDGES you need. NOT static BFS distance (q327's metric):
    // the hop-shortest static route can run backward in time while a
    // longer detour respects it. The constraint only BINDS from a
    // LATE start (inspected — from t=0 the dense trade graph realizes
    // every static shortest path chronologically and the two metrics
    // coincide everywhere, the vacuous first cut): seeding at
    // 1997-10-01 (late in the 1992–1998 corpus range) forces 179 of
    // 1600 sf0.01 nodes (20/160 at sf0.001) to take STRICTLY more
    // hops than static BFS and drops 6 sf0.01 nodes entirely. Same
    // dated trade graph as q364 (yyyymmdd Longs — hop counts need
    // only the ORDER, so the q349 parity encoding is safe here,
    // unlike q369's durations); seed = the minimum SUPPLIER node
    // (q364 seeds the min customer — decorrelated fixtures); 5
    // rounds, per-round checkpoint, the (count, Σarr) monotone
    // witness. Output also carries the earliest ≤5-hop arrival (the
    // q364 decoration riding the same groupBy).
    "q372_shortest_journey" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir, extra = Seq(yyyymmdd)))
      val edges = bothWays(eb)
      val seed = eb.agg(min(col("s1")).as("node"))
      graft.ops.Graph.shortestJourney(edges, seed, 19971001L, rounds = 5)
        .orderBy("node")
    }),

    // HARMONIC CENTRALITY, sampled sources (Marchiori & Latora 2000;
    // Boldi & Vigna 2014 — r19): the closeness-family metric the
    // registry lacked beside q371's betweenness — "how NEAR is v to
    // everyone" vs betweenness's "how often is v ON the way". The
    // harmonic form (Σ 1/d, not 1/Σd) stays finite per-pair on
    // disconnected graphs, so the ≤4-hop horizon degrades it
    // gracefully (beyond-horizon pairs contribute 0) instead of
    // zeroing whole nodes. Same symmetrized trade graph as q371;
    // sources = the 8 customers winning the md5('hc:'||node) total
    // order — a DIFFERENT salt from q371's 'bc:', so the two
    // centralities sample decorrelated source sets. 1/d terms are
    // quantized to 1e-6 units by ONE truncating division per
    // (source-distance) class (scale div d — DuckDB `//` replays it),
    // summed as exact BIGINTs. Non-vacuity inspected: per-level
    // frontier sizes 78/1192/2/0 at sf0.001 (the dense trade graph
    // exhausts inside 3 hops — the d=4 round fires and finds nothing,
    // the honest horizon case) and 253/11962/547/30 at sf0.01 (all
    // four distance classes realized, so every quantized 1/d constant
    // reaches the hash).
    "q373_harmonic" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir))
      val edges = bothWays(eb)
      val srcs = eb.select(col("c").as("node")).distinct()
        .orderBy(md5(concat(lit("hc:"), col("node").cast("string"))),
          col("node"))
        .limit(8)
      graft.ops.Graph.harmonicCentrality(edges, srcs, maxHops = 4)
        .orderBy("node")
    }),

    // RECIPROCITY of a directed graph (Garlaschelli & Loffredo 2004,
    // "Patterns of Link Reciprocity in Directed Networks" — r19): the
    // fraction r = L↔/L of directed edges whose reverse also exists,
    // plus the density-corrected ρ = (r − ā)/(1 − ā) that separates
    // genuinely reciprocal wiring from what density alone predicts
    // (ρ > 0 reciprocal, < 0 anti-reciprocal). The registry's graph
    // metrics were all on SYMMETRIZED graphs — q374 is the first
    // direction-sensitive structure summary. Digraph: within-order
    // purchase SEQUENCE — u→v iff some order lists part u on a lower
    // l_linenumber than part v (TPC-H linenumbers give each order a
    // deterministic item sequence); a reverse edge appears only when
    // another order bought the pair in the OPPOSITE sequence, so r
    // measures cross-order ordering consistency. Exact BIGINTs: L,
    // L↔ (self-join on the transposed edge), n; r/ā/ρ are IEEE
    // double expressions over those exact integers with ONE rounding
    // each at 6dp (both engines replay the identical op sequence).
    // Non-vacuity inspected — and the honest reading is the POINT of
    // ρ: r = 0.228508 (sf0.001) vs 0.025595 (sf0.01) looks like
    // reciprocity collapsing, but ā tracks it (0.225628/0.025291)
    // and ρ = +0.003719/+0.000312 — the sequence digraph is as
    // reciprocal as its density predicts (random pairing), exactly
    // the null case Garlaschelli & Loffredo built ρ to expose; raw r
    // alone would have claimed 23% "reciprocity" at sf0.001. All six
    // output cells are live (m_recip = 2052/2588 — the probe finds
    // real reverse pairs). At 100 TB: edge build = one self-join per
    // order (basket²-bounded like q171), the reciprocity probe = one
    // equi self-join on (u,v); all shuffles key on part pairs.
    "q374_reciprocity" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      val e = Checkpoints(li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") < col("b.l_linenumber") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .distinct())
      val recip = e.join(e.select(col("v").as("u"), col("u").as("v")),
        Seq("u", "v"), "left_semi")
      val nodes = e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node")))
        .agg(countDistinct(col("node")).as("n"))
      e.agg(count(lit(1)).as("m")).crossJoin(
          recip.agg(count(lit(1)).as("m_recip")))
        .crossJoin(nodes)
        .select(col("n"), col("m"), col("m_recip"),
          round(col("m_recip").cast("double") / col("m").cast("double"),
            6).as("r_recip"),
          round(col("m").cast("double") /
            (col("n") * (col("n") - 1)).cast("double"), 6).as("density"),
          round((col("m_recip").cast("double") / col("m").cast("double") -
            col("m").cast("double") /
              (col("n") * (col("n") - 1)).cast("double")) /
            (lit(1.0) - col("m").cast("double") /
              (col("n") * (col("n") - 1)).cast("double")), 6).as("rho"))
    }),

    // LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998 — r19):
    // per-node C(v) = 2·tri/(deg·(deg−1)) on the full part
    // co-purchase graph — the micro-scale "are my neighbors
    // neighbors" signal beside q171's raw triangle counts (same
    // canonical graph, so the two gates cross-check: q375's tri
    // column must replay q171 exactly where both emit). Degree-1
    // nodes emit lcc_scaled = 0 rather than dropping (a leaf is
    // structurally meaningful); the ratio is ONE truncating integer
    // division into 1e-6 units (DuckDB `//`), so the whole output is
    // exact BIGINTs. Spark side enumerates degree-oriented
    // compact-forward (arboricity-bounded); the oracle re-derives
    // per-corner counts from the INDEPENDENT id-ordered triple join.
    // Non-vacuity: 1733 distinct lcc values spanning [0.0756, 0.1364]
    // at sf0.01 (196 in [0.441, 0.516] at sf0.001 — denser small
    // graph, higher clustering); the fixture has no deg ≤ 1 node, so
    // that branch is pinned by GraphSpec, not the gate.
    "q375_local_clustering" -> ((s, dir) => {
      // deliberately NOT checkpointed (unlike q365's peel loop): the
      // operator references the edge frame five times, but every
      // reference reads the SAME distinct-exchange output, so shuffle
      // reuse already dedups the basket² build — measured at sf0.1:
      // q375 = 15.5 s / 562 MB vs q171 alone = 17.7 s / 531 MB (the
      // degree+ratio add ~30 MB); a localCheckpoint moved neither
      // number (15.9 s / 573 MB) and would only take the plan out of
      // the lazy end-to-end form the hash oracle gates. (r21: both
      // wedge joins inside triangleCounts now run SHUFFLE_HASH — see
      // triangleCountsOriented; sf1 wall 843 → 69.5 s at zero spill.)
      val edges = coPurchaseEdges(Tables.lineitem(s, dir))
      graft.ops.Graph.localClustering(edges).orderBy("node")
    }),

    // SAMPLED ECCENTRICITY / diameter lower bound (Magnien, Latapy &
    // Habib 2009 — r19): the global-extent metric beside q373's
    // harmonic (how NEAR a node is on average) — how FAR the worst
    // case is. Same symmetrized trade graph; sources = the 8
    // customers winning the md5('ecc:'||node) order (third
    // decorrelated salt beside 'bc:'/'hc:'); maxHops = 4. Per source:
    // ecc = deepest realized BFS level, n_reached, and the HONESTY
    // flag — is_exact = 1 iff that source's frontier emptied strictly
    // before the bound (its BFS exhausted; ecc is the true
    // eccentricity of its component), else the row is a lower bound.
    // max(ecc) lower-bounds the graph diameter. All-integer output —
    // max/count only, nothing to quantize. Non-vacuity inspected:
    // sf0.001 exhausts every source (7 exact at ecc 2, 1 at ecc 3 —
    // n_reached 159 = the whole component, diameter ≥ 3); sf0.01
    // realizes BOTH flag values (3 exact at ecc 3, 5 horizon-bounded
    // at ecc 4), so the exhaustion and lower-bound branches both
    // reach the hash; GraphSpec pins both branches by hand as well.
    "q376_eccentricity" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir))
      val edges = bothWays(eb)
      val srcs = eb.select(col("c").as("node")).distinct()
        .orderBy(md5(concat(lit("ecc:"), col("node").cast("string"))),
          col("node"))
        .limit(8)
      graft.ops.Graph.eccentricity(edges, srcs, maxHops = 4)
        .orderBy("node")
    }),

    // SAMPLED ARTICULATION-POINT TEST (cut vertices; Tarjan 1972's
    // notion, per-candidate BFS instead of the sequential DFS — r19):
    // the connectivity-ROBUSTNESS question beside q376's extent
    // (eccentricity) and q373's nearness — "does the component hang
    // on this node". Graph = the QUANTITY-1 trade graph (q212's
    // sparse fixture — the full trade graph is min-degree-3 dense
    // with no cut vertices at all, inspected; the quantity filter
    // leaves 52/521 degree-1 leaves whose suppliers really do cut).
    // Candidates = the 4 md5('ap:')-lowest suppliers + 4 lowest
    // customers (per-side sampling so BOTH verdicts realize:
    // suppliers own leaf customers ⇒ articulation; leaf/low-degree
    // customers don't cut). maxHops = 8 with the refined honesty
    // contract (see the scaladoc: all-reached is definitive at ANY
    // bound, unreached needs exhaustion). Non-vacuity inspected:
    // verdicts split 4/4 (suppliers cut, customers don't) at ALL
    // THREE SFs, and every contract shape reaches the hash —
    // definitive negatives everywhere, definitive positives
    // (exhausted BFS), and at sf0.01 exactly one supplier row lands
    // is_exact = 0 (frontier still alive at the bound: an UNPROVEN
    // positive — the honesty flag genuinely fires on the fixture,
    // not just in the spec).
    "q389_articulation" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir, keep = Some(col("l_quantity") === 1)))
      val edges = bothWays(eb)
      def side(c: org.apache.spark.sql.Column, tag: String) =
        eb.select(c.as("node")).distinct()
          .orderBy(md5(concat(lit(tag), col("node").cast("string"))),
            col("node"))
          .limit(4)
      val cands = side(col("s1"), "ap:").unionByName(side(col("c"), "ap:"))
      graft.ops.Graph.articulation(edges, cands, maxHops = 8)
        .orderBy("node")
    }),

    // DETERMINISTIC RANDOM-WALK CORPUS (DeepWalk — Perozzi et al.
    // 2014; r19): the graph-embedding DATA-PREP step — one 5-step
    // walk from every node of the symmetrized trade graph, the
    // token-sequence corpus a skip-gram embedder consumes. Walk
    // randomness is content-addressed (md5 argmin per step, the
    // q124/q379 coin discipline) so the corpus replays byte-identical
    // in any engine — no RNG state, restart-safe, and the gate can
    // hash it. Non-vacuity inspected: walks genuinely wander (98.8%
    // / 99.7% of step-2 positions differ from the start at
    // sf0.001/sf0.01 — on the bipartite graph step 2 returns to the
    // start's side, so equality is POSSIBLE and its rarity is the
    // signal) and every walk reaches full length (the symmetrized
    // graph has no sink; the sink-stop branch is spec-pinned).
    "q387_walk_corpus" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir))
      val edges = bothWays(eb)
      graft.ops.Graph.deterministicWalks(edges, length = 5)
        .orderBy("start", "step")
    }),

    // CLOSED-TRIAD CENSUS (Davis & Leinhardt 1972; Milo et al. 2002
    // — r19): the directed-motif spectrum of the Brand#2%
    // purchase-SEQUENCE digraph (q374's direction-sensitive graph,
    // q365's brand restriction to keep the triangle enumeration
    // wedge-bounded at sf1) — q171/q375 count triangles, this
    // classifies their ORIENTATIONS into the seven closed classes
    // (transitive vs cyclic singles, the three one-mutual 120s, 210,
    // 300). The class CASE is pinned semantically by GraphSpec
    // hand-built triads of every class (cross-engine hash agreement
    // alone can't catch a mislabeled branch — both sides replay the
    // same CASE). Non-vacuity inspected: all SEVEN classes realized
    // at sf0.001 (030T 1197, 030C 319, the three 120s 175–334, 210
    // 83, 300 5); sf0.01 realizes SIX — the sparser brand digraph
    // has no triple-mutual triangle (300 fixture-absent there;
    // pinned at sf0.001 and by the spec's hand-built case).
    // Transitive dominates cyclic ~4–5:1 at both SFs — the Milo
    // feedforward-over-feedback signature an ordering-derived
    // digraph should show.
    "q388_triad_census" -> ((s, dir) => {
      val pk = Tables.part(s, dir).filter(col("p_brand").like("Brand#2%"))
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, dir)
        .join(pk, col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      val de = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") < col("b.l_linenumber") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      graft.ops.Graph.triadCensus(de).orderBy("triad_class")
    }),

    // KATZ CENTRALITY (Katz 1953 — r19): attenuated walk-COUNT
    // centrality, the classic index between degree and eigenvector
    // centrality — distinct from PageRank (q212) in exactly one
    // structural way: no out-degree normalization, so a prolific hub
    // radiates full influence along every edge instead of splitting
    // it. 4 bounded levels at α = 1/8 on the symmetrized trade graph
    // (the sssp gateable-prefix discipline); v_{k+1} = (Σ in-walk
    // mass) div 8 — exact Long sums, ONE truncating division per
    // node-level, the pageRank fixed-point rules; loud cap at 1e17
    // (measured envelope: max degree 679 at EVERY fixture incl.
    // derived sf1 — disjoint-key copies preserve degree — gives
    // v4 ≤ 5.2e16 even in the all-max over-bound). Non-vacuity
    // inspected, and the measurement is the interesting part: at
    // sf0.001 the Katz top-10 IS the degree top-10 (all suppliers),
    // but at sf0.01 the overlap is 0/10 and the top-10 is ALL
    // CUSTOMERS — on a bipartite graph the dominant k=4 even-walk
    // term is side-balanced (Σ walks alternates sides), so the raw
    // walk mass genuinely re-ranks instead of rescaling degree; Katz
    // is measurably NOT a degree/PageRank monotone on this fixture.
    "q381_katz" -> ((s, dir) => {
      val eb = Checkpoints(tradeEdges(s, dir))
      val edges = bothWays(eb)
      graft.ops.Graph.katz(edges, levels = 4).orderBy("node")
    }),

    // BUTTERFLY COUNTING (Sanei-Mehri et al. 2018 — r19): the 2×2-
    // biclique census of the NATIVE customer–supplier bipartite
    // graph. Every motif gate so far (q171 triangles, q365 truss,
    // q375 clustering) works the PROJECTED co-purchase graph because
    // bipartite graphs have no triangles at all; the butterfly is the
    // smallest cohesion motif that exists on the bipartite original —
    // two customers sharing two suppliers. Per-supplier counts via
    // wedge aggregation pivoting on the CUSTOMER side (deg ≈ 30 at
    // every SF, while supplier degree grows with SF — the pivot
    // choice is the scale lever, same logic as q171's degree
    // orientation); C(w,2) = w·(w−1) div 2 is exact (even product),
    // BIGINT end to end. Non-vacuity inspected: wedge multiplicities
    // reach w = 144/215 at sf0.001/sf0.01 with 45/4950 pairs past the
    // w=2 floor (the quadratic C(w,2) term dominates, not the floor),
    // and every supplier lands in ≥1 butterfly at both gated SFs.
    "q377_butterfly" -> ((s, dir) => {
      val eb = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("l"), col("l_suppkey").as("r"))
        .distinct()
      graft.ops.Graph.butterflyCounts(eb).orderBy("node")
    }),

    // DETERMINISTIC LUBY MIS (Luby 1986 — r19): parallel maximal-
    // independent-set rounds with md5 priorities — the symmetry-
    // breaking primitive (matching, coloring, scheduling all reduce
    // to it) the registry lacked; also the first gate whose ITERATION
    // is driven by content-addressed randomness rather than graph
    // values. 3 bounded rounds on the part co-purchase graph (the
    // sssp gateable-prefix discipline); output labels joiners by
    // round, removed neighbors by round, and the still-live remainder
    // honestly. Independence is exact at any bound (adjacent joiners
    // are impossible — the smaller md5 blocks the larger); maximality
    // holds only when no live rows remain, which the fixture does NOT
    // reach in 3 rounds at either SF — the live branch is a real
    // output, not dead code. Non-vacuity inspected: all three
    // statuses populated at both gated SFs and joiners arrive in
    // EVERY round (sf0.001: mis 2/1/3 by round, removed 157/21/14,
    // live 2; sf0.01: mis 16/10/15, removed 1218/314/258, live 169).
    "q379_mis" -> ((s, dir) => {
      val und = coPurchaseEdges(Tables.lineitem(s, dir))
      val edges = und.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      graft.ops.Graph.luby(edges, rounds = 3)
        .orderBy("node")
    }),

    // K-TRUSS PEELING (Cohen 2008 — the triangle-dense subgraph
    // beside q240's k-core: core peels on DEGREE, truss peels on
    // EDGE SUPPORT = common-neighbor count, the community-detection
    // primitive that survives hub noise; r17): 3 BOUNDED peel rounds
    // at k = 6 (drop edges in < 4 triangles) over the Brand#2x
    // co-purchase graph — brand-family restriction keeps the wedge
    // volume 1/25th of q171's while the peel stays LIVE at every SF
    // (718→713 / 8907→213 / 95575→2593 edges, inspected — both the
    // survive and peel branches fire). Support = one wedge join per
    // round (the q171 kernel: adjacency ⋈ adjacency on the shared
    // endpoint, closed by the third edge — output-sized, never
    // parts³); rounds are BOUNDED like sssp's (the gateable prefix of
    // the fixpoint — converged rounds are no-ops, so they are skipped); final
    // support recomputed on the surviving graph with left+coalesce
    // so a 0-support survivor reads honestly. At 100 TB: q171's
    // degree-oriented enumeration + bucket-on-src apply per round
    // unchanged.
    "q365_ktruss" -> ((s, dir) => {
      val pk = Tables.part(s, dir).filter(col("p_brand").like("Brand#2%"))
        .select(col("p_partkey"))
      def support(ed: org.apache.spark.sql.DataFrame) = {
        val adj = ed.select(col("u").as("s1"), col("v").as("t1"))
          .unionByName(ed.select(col("v").as("s1"), col("u").as("t1")))
        val tri = ed
          .join(adj, col("u") === col("s1"))
          .select(col("u"), col("v"), col("t1").as("w"))
          .filter(col("w") =!= col("v"))
          .join(adj.select(col("s1").as("v"), col("t1").as("w")),
            Seq("v", "w"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
        ed.join(tri, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            coalesce(col("sup"), lit(0L)).as("sup"))
      }
      // the peel rounds run in Graph.fixpoint, so each round
      // checkpoints (the ccStar lineage rule — without it round r
      // recomputes rounds 1..r−1 and support() references its input
      // three times, so the lazy chain re-ran the base wedge join ~3⁴
      // times: 413 s at sf0.1, measured) and frees the round it
      // supersedes. A round only removes edges, so an unchanged edge
      // count is an unchanged edge set: every later round would be a
      // no-op, and the loop stops there. Checkpoints are edge-bounded
      // (≤ ~100k × 2 longs); the final round's backs the returned frame.
      val e = graft.ops.Graph.fixpoint(coPurchaseEdges(Tables.lineitem(s, dir)
          .join(pk, col("l_partkey") === col("p_partkey"), "left_semi")),
        Seq(count(lit(1))), maxRounds = 3)(graft.ops.Graph.unchanged) { (held, _) =>
        support(held.last).filter(col("sup") >= 4).select(col("u"), col("v"))
      }.last
      support(e).orderBy("u", "v")
    }),

    // TRIANGLE COUNTING (ops.Graph.triangleCounts) on the part
    // co-purchase graph (parts bought together in an order) — the
    // clustering/community primitive. The Spark side runs the
    // DEGREE-ORIENTED compact-forward enumeration (hub fan-out
    // bounded by the arboricity); the DuckDB oracle enumerates via
    // the INDEPENDENT id-ordered triple join — the hash match proves
    // the orientation loses and double-counts nothing.
    "q171_triangles" -> ((s, dir) => {
      val edges = coPurchaseEdges(Tables.lineitem(s, dir))
      graft.ops.Graph.triangleCounts(edges).orderBy("node")
    }),

    // JARO-WINKLER RECORD LINKAGE (Winkler 1990; the census-bureau
    // fuzzy-match scorer — Spark ships levenshtein/soundex but NOT
    // Jaro-Winkler, so this is the custom-Expression seam made gated:
    // expressions.JaroWinklerSim, codegen'd, semantics adjudicated
    // against DuckDB's native jaro_winkler_similarity, which is
    // exactly what the oracle calls — any drift in window/
    // transposition/boost handling hash-mismatches). Blocked on the
    // name's last token (the standard blocking-key discipline:
    // candidate pairs are per-block, never corpus²), name_a < name_b
    // dedupes the pair space, and the JW filter compares ROUNDED
    // scores (the last ULP of the double tree is not contractual).
    // Scale shape: distinct names → equi self-join on the block key →
    // row-local codegen'd scoring; fan-out is Σ block², bounded by the
    // biggest block, the q185 orientation note applies.
    "q264_jw_linkage" -> ((s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
        .select(col("p_name").as("name"),
          substring_index(col("p_name"), " ", -1).as("block"))
      names.as("a").join(names.as("b"),
          col("a.block") === col("b.block") && col("a.name") < col("b.name"))
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
          round(call_function("graft_jaro_winkler",
            col("a.name"), col("b.name")), 6).as("sim"))
        .filter(col("sim") >= 0.8)
        .orderBy(desc("sim"), col("name_a"), col("name_b"))
    }),

    // ENTITY RESOLUTION END-TO-END (the MDM/survivorship operator —
    // Fellegi–Sunter linkage composed with transitive clustering):
    // q264's blocked Jaro–Winkler pair scoring at a tighter 0.9
    // threshold → EXACT connected components (Dedup.
    // connectedComponents over ccStar, min-id labels — a~b, b~c
    // clusters {a,b,c} even when a≁c directly) → one canonical
    // (min-name) survivor per entity cluster with its member count.
    // The Spark side iterates to the fixpoint; the oracle replays it
    // as a WITH RECURSIVE transitive closure + min — the iterative
    // operator is still hash-gated because the FIXPOINT is
    // deterministic even though the round count is not part of the
    // contract. Scale: pair space is per-block (never corpus²), the
    // CC rounds run on the PAIR graph only (q81's discipline).
    "q303_entity_resolution" -> ((s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
        .select(col("p_name").as("name"),
          substring_index(col("p_name"), " ", -1).as("block"))
      val pairs = names.as("a").join(names.as("b"),
          col("a.block") === col("b.block") && col("a.name") < col("b.name"))
        .filter(round(call_function("graft_jaro_winkler",
          col("a.name"), col("b.name")), 6) >= 0.9)
        .select(col("a.name").as("id_a"), col("b.name").as("id_b"))
      graft.ops.Dedup.connectedComponents(pairs)
        .groupBy(col("comp").as("canonical"))
        .agg(count(lit(1)).as("cluster_size"), max(col("id")).as("max_member"))
        .orderBy("canonical")
    }),

    // GOLDEN-RECORD SURVIVORSHIP (the MDM step AFTER q303's entity
    // resolution: q303 finds the clusters, this builds the master
    // record each cluster publishes): every part ROW maps to its
    // entity cluster (q303's JW-0.9 blocked pairs → exact connected
    // components; names in no pair are singleton clusters via
    // coalesce), then field-level survivorship rules conflate the
    // member records — min id (stable key), MODE brand with a
    // deterministic min-brand tiebreak (consensus field), max price
    // (freshest-list-price convention), plus the record/name counts
    // that audit the merge. The mode is two map-side-combined
    // aggregates + an equi-join on (cluster, max count) — no
    // per-cluster window, no collect. Scale: survivorship aggregates
    // shuffle on the cluster label exactly once; the CC rounds run on
    // the PAIR graph only (q303's shape).
    "q328_golden_record" -> ((s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
        .select(col("p_name").as("name"),
          substring_index(col("p_name"), " ", -1).as("block"))
      val pairs = names.as("a").join(names.as("b"),
          col("a.block") === col("b.block") && col("a.name") < col("b.name"))
        .filter(round(call_function("graft_jaro_winkler",
          col("a.name"), col("b.name")), 6) >= 0.9)
        .select(col("a.name").as("id_a"), col("b.name").as("id_b"))
      val lab = graft.ops.Dedup.connectedComponents(pairs)
      val recs = Tables.part(s, dir)
        .join(lab.withColumnRenamed("id", "p_name"), Seq("p_name"), "left")
        .select(coalesce(col("comp"), col("p_name")).as("canonical"),
          col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_retailprice"))
      val bc = recs.groupBy(col("canonical"), col("p_brand"))
        .agg(count(lit(1)).as("cnt"))
      val mode = bc
        .join(bc.groupBy("canonical").agg(max(col("cnt")).as("mc")),
          Seq("canonical"))
        .filter(col("cnt") === col("mc"))
        .groupBy("canonical").agg(min(col("p_brand")).as("golden_brand"))
      recs.groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_records"),
          countDistinct(col("p_name")).as("n_names"),
          min(col("p_partkey")).as("golden_partkey"),
          max(col("p_retailprice")).as("golden_price"))
        .join(mode, Seq("canonical"))
        .orderBy("canonical")
    }),

    // K-CORE DECOMPOSITION (ops.Graph.kCore — Seidman 1983 peel) of
    // the q171 co-purchase graph: the maximal subgraph where every
    // part keeps ≥ k co-purchase partners, the dense-core extractor
    // for community seeding / fraud-ring mining. Iterative-fixpoint ⇒
    // not SQL-expressible, rows-only under the driver contract;
    // exactness is carried by GraphSpec's brute-force peel oracle on
    // a known graph. Edges symmetrized before the peel (kCore's
    // precondition); k chosen so the fixture core is a strict,
    // non-empty subgraph at both SFs.
    "q268_kcore" -> ((s, dir) => {
      val und = coPurchaseEdges(Tables.lineitem(s, dir))
      val edges = und.union(und.select(col("v").as("u"), col("u").as("v")))
      graft.ops.Graph.kCore(edges, 4).orderBy("node")
    }),

    // ADAMIC–ADAR link prediction (ops.Graph.adamicAdar) on the
    // supplier–customer bipartite graph: suppliers sharing customers,
    // each shared customer z weighted 1/ln(deg(z)) — rare customers
    // bind suppliers more than promiscuous ones. The adjacency is
    // ORIENTED with suppliers as nodes and customers as wedge centers
    // — customer fan-out is ~35 distinct suppliers vs ~500 customers
    // per supplier, so the wedge join fans Σ deg² ≈ 23M terms at
    // sf0.1 instead of the 345M the other orientation pays (the
    // operator's scale lever, documented on adamicAdar). Terms
    // quantize to DECIMAL(18,10) before the pair sum; top-100 via
    // TakeOrderedAndProject.
    "q185_adamic_adar" -> ((s, dir) => {
      val adj = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("node"), col("o_custkey").as("nbr"))
      graft.ops.Graph.adamicAdar(adj)
        .select(col("a"), col("b"), col("n_common"),
          col("aa_score").cast("double").as("aa_score"))
        .orderBy(desc("aa_score"), col("a"), col("b"))
        .limit(100)
    }),

    // JOIN-SIZE ESTIMATION from count-min sketches (Sketch.
    // countMinInnerProduct — the CM inner-product estimator): two
    // fixed-size counter tables built in each table's own ingest
    // pass answer |lineitem ⋈ orders| without touching either table
    // again — the optimizer-statistics primitive behind join
    // reordering at 100 TB, where rescanning to count is exactly
    // what you can't do. One-sided like the point estimates (never
    // below the true size; bucket collisions only add). The exact
    // join count rides along as the audit column; the whole
    // lifecycle — both builds, the depth·width-sized product, the
    // min — runs under the hash gate via the md5 bucket discipline.
    "q198_join_size_est" -> ((s, dir) => {
      val ca = graft.ops.Sketch.countMinBuild(
        Tables.lineitem(s, dir).select(col("l_orderkey").as("k")),
        "k", 4, 1024, 13L)
      val cb = graft.ops.Sketch.countMinBuild(
        Tables.orders(s, dir).select(col("o_orderkey").as("k")),
        "k", 4, 1024, 13L)
      val est = graft.ops.Sketch.countMinInnerProduct(ca, cb)
      val exact = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("exact_join_rows"))
      est.crossJoin(broadcast(exact))
    }),

    // COORDINATED (join-consistent) SAMPLING: both tables sample by
    // the SAME content-addressed coin on the JOIN KEY — md5(orderkey)
    // prefix < '4' keeps ~25% of keys — so each side filters
    // INDEPENDENTLY at the scan (no coordination channel, no key
    // exchange) yet their samples join losslessly: sample(A) ⋈
    // sample(B) ≡ sample(A ⋈ B). That identity IS the hash gate
    // here — the Spark side joins two independently-filtered scans,
    // the oracle samples the JOIN once; the estimator column scales
    // the sampled revenue by 1/rate. The 100 TB point: uncoordinated
    // (row-random) samples of two tables make their join an
    // intersection of independent events — rate² survival and a
    // biased estimate — while key-coordinated sampling keeps every
    // surviving order INTACT with all its lineitems.
    "q202_coordinated_sample" -> ((s, dir) => {
      def keep(key: org.apache.spark.sql.Column) =
        substring(md5(concat(key.cast("string"), lit(":cs"))), 1, 1) < "4"
      val li = Tables.lineitem(s, dir).filter(keep(col("l_orderkey")))
      val ord = Tables.orders(s, dir).filter(keep(col("o_orderkey")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
        .select(col("o_orderstatus"), col("n_sampled"),
          col("rev").cast("double").as("sampled_rev"),
          (col("rev") * 4).cast("double").as("est_total_rev"))
        .orderBy("o_orderstatus")
    }),

    // GRID-BUCKETED PROXIMITY SELF-JOIN (the spatial/radius-join
    // kernel — fixed-grid spatial hashing, the classic cell
    // decomposition behind every distributed spatial join): each
    // customer gets a deterministic planar position in a
    // 1M × 1M-unit integer grid (content-addressed md5 coordinates,
    // the q124/q202 coin discipline — engine-replayable, no fixture
    // column needed), and the query finds every pair within radius
    // R = 5000 units. The naive formulation is the O(n²) distance
    // cross join; the grid kernel joins each point's 3×3 neighbor
    // cells (cell side = R) against home cells — candidates drop
    // from n² to n × local-density, the inherent output-sized cost.
    // One side explodes to 9 cells, the other stays put, so each
    // pair matches in EXACTLY one (home-cell, neighbor-offset)
    // combination — no post-dedup. Distance test is INTEGER dist² ≤
    // R² (coords are integers, so squares are exact bigints — no
    // sqrt, no float boundary ties). The DuckDB oracle IS the naive
    // quadratic join, so the hash match proves the grid loses no
    // pair (candidate losslessness, q147/q164 precedent). At 100 TB:
    // candidates partition by cell — co-located, skew bounded by the
    // densest cell (shard hot cells like q142 hot terms if needed).
    "q210_grid_proximity" -> ((s, dir) => {
      val r = 5000L
      def axis(tag: String) =
        conv(substring(md5(concat(lit(tag), col("c_custkey").cast("string"))),
          1, 6), 16, 10).cast("long") % 1000000L
      val pts = Tables.customer(s, dir)
        .select(col("c_custkey").as("id"),
          axis("gx:").as("x"), axis("gy:").as("y"))
      val cells = pts.select(col("id"), col("x"), col("y"),
        expr(s"x div ${r}L").as("cx"), expr(s"y div ${r}L").as("cy"))
      val probes = cells.select(col("id").as("a_id"),
          col("x").as("ax"), col("y").as("ay"),
          explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
            struct((col("cx") + dx).as("cx"),
              (col("cy") + dy).as("cy")))): _*)).as("c"))
        .select(col("a_id"), col("ax"), col("ay"),
          col("c.cx").as("cx"), col("c.cy").as("cy"))
      probes.join(cells.select(col("id").as("b_id"), col("x").as("bx"),
          col("y").as("by"), col("cx"), col("cy")), Seq("cx", "cy"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("dist2",
          (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
        .filter(col("dist2") <= r * r)
        .select(col("a_id"), col("b_id"), col("dist2"))
        .orderBy("a_id", "b_id")
    }),

    // ONLY-LATE-SUPPLIER (TPC-H Q21 shape — "suppliers who kept
    // multi-supplier orders waiting": the EXISTS + NOT-EXISTS double
    // correlation, the classic relational-calculus stress query).
    // A supplier is charged for an order when its line shipped > 90
    // days after the order date, the order has ≥ 2 distinct
    // suppliers, and NO OTHER supplier was late on it. Spark-first
    // formulation: instead of Q21's two correlated self-joins
    // against the fact, aggregate ONCE per (order, supplier) with
    // a late flag, then close both correlations with order-level
    // counts on the SAME orderkey shuffle (count of suppliers,
    // count of late suppliers) — the fact table is scanned once and
    // shuffled once; the oracle is the textbook EXISTS/NOT-EXISTS
    // formulation, so the hash match proves the count-based
    // decorrelation is exact.
    "q211_only_late_supplier" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("late"))
      val perSupp = li.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("supp_late"))
      val perOrder = perSupp.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("supp_late"), 1L).otherwise(0L)).as("n_late"))
      perSupp.filter(col("supp_late"))
        .join(perOrder.filter(col("n_supp") >= 2 && col("n_late") === 1),
          Seq("l_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("l_suppkey"))
    }),

    // BOUNDED-SUPERSTEP MIN-LABEL PROPAGATION (ops.Graph.
    // labelPropagate — the HashMin component-labeling kernel) on the
    // symmetrized customer–supplier trade graph (q163's node space):
    // after 3 supersteps each node holds the minimum node id within
    // distance 3 — the bounded-radius community/component label. The
    // state is an integer MIN, so the whole iterated build is
    // engine-exact with no quantization; the DuckDB oracle unrolls
    // the same 3 supersteps as CTEs (q163's discipline minus the
    // fixed-point machinery it doesn't need). The graph is THINNED
    // to quantity-1 trades — the full trade graph collapses to one
    // label within 3 hops (diameter ~4), which would gate only a
    // single output row; the sparse subgraph leaves ~45 bounded-
    // radius communities at sf0.01, so the label histogram carries
    // real structure.
    "q212_label_propagation" -> ((s, dir) => {
      val eb = tradeEdges(s, dir, keep = Some(col("l_quantity") === 1))
      val edges = bothWays(eb)
      graft.ops.Graph.labelPropagate(edges, supersteps = 3)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
          max(col("node")).as("max_node"))
        .orderBy(desc("n_nodes"), col("label"))
    }),

    // TOP-REVENUE SUPPLIER WITH TIES (TPC-H Q15 shape — the
    // view-plus-scalar-max pattern: a revenue view, then every
    // supplier achieving its maximum). Spark-first: the "view" is
    // one partial-agg-combined groupBy over the date-windowed scan
    // (filter pushed to parquet); the scalar max is a ONE-ROW
    // broadcast joined back as an equality — no second scan of the
    // fact, no window over all suppliers. Revenue quantizes to
    // DECIMAL(18,4) per line before the sum (q135's disc_price
    // discipline), so max and the tie equality are engine-exact —
    // float revenue would make "equals the max" a coin flip.
    "q216_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.join(broadcast(mx), col("total_rev") === col("max_rev"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }),

    // BOM EXPLOSION — bounded-depth transitive closure with
    // multiplicity products (the bill-of-materials rollup: total
    // units of every descendant component per root assembly). The
    // part hierarchy derives deterministically from keys (child c →
    // parent c div 8 when c mod 8 ∈ {1,2,3} and the parent part
    // exists — a forest, each child one parent), per-edge quantity
    // (c mod 3) + 1, roots = parts below 250. Spark-first: the
    // frontier-join loop (q163's superstep discipline — 6 unrolled
    // levels, ≥ the forest's possible depth at any fixture SF since
    // 250·8⁶ ≫ max key; deeper levels join empty frontiers at ~zero
    // cost), integer unit products throughout. The DuckDB oracle is
    // WITH RECURSIVE — a GENUINELY different evaluation strategy
    // (fixpoint iteration vs fixed unroll), so the hash match also
    // proves the unroll depth actually exhausted the closure.
    "q229_bom_explosion" -> ((s, dir) => {
      val pk = Tables.part(s, dir).select(col("p_partkey"))
      val edges = pk.select(col("p_partkey").as("child"))
        .filter(col("child") % 8 >= 1 && col("child") % 8 <= 3)
        .withColumn("parent", expr("child div 8"))
        .join(pk.select(col("p_partkey").as("parent")), Seq("parent"))
        .withColumn("qty", col("child") % 3 + 1)
      val roots = pk.filter(col("p_partkey") < 250)
        .select(col("p_partkey").as("root"))
      var frontier = roots.select(col("root"), col("root").as("node"),
        lit(1L).as("units"))
      var closure = frontier
      for (_ <- 1 to 6) {
        frontier = frontier.join(edges, col("node") === col("parent"))
          .select(col("root"), col("child").as("node"),
            (col("units") * col("qty")).as("units"))
        closure = closure.unionByName(frontier)
      }
      closure.filter(col("node") =!= col("root"))
        .groupBy(col("root"))
        .agg(count(lit(1)).as("n_components"), sum(col("units")).as("total_units"))
        .orderBy("root")
    }),

    // AUDIENCE OVERLAP MATRIX (the segment Venn every marketing /
    // training-mixture stack needs: |A ∩ B| for all segment pairs
    // WITHOUT one join per pair): each customer's segment SET is
    // assembled in one pass — their market segment plus behavioral
    // tags (frequent ≥ 8 orders, big_spender > 2M cents lifetime,
    // urgent_buyer if any 1-URGENT order) — then a<b pairs explode
    // ROW-LOCALLY from the sorted per-user set (q162's basket
    // discipline: fan-out bounded by segments-per-user², ~4² here,
    // never corpus²) and one groupBy counts every cell. Sizes join
    // back so each row carries overlap_ppm of the SMALLER side —
    // the containment-leaning convention. Exact cents thresholds.
    "q234_audience_overlap" -> ((s, dir) => {
      val perUser = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum((round(col("o_totalprice"), 2).cast("decimal(18,2)") * 100)
            .cast("long")).as("cents"),
          max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
            .as("urgent"))
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), array_sort(concat(
          array(col("c_mktsegment")),
          when(col("n_orders") >= 8, array(lit("frequent")))
            .otherwise(array().cast("array<string>")),
          when(col("cents") > 200000000L, array(lit("big_spender")))
            .otherwise(array().cast("array<string>")),
          when(col("urgent") === 1, array(lit("urgent_buyer")))
            .otherwise(array().cast("array<string>")))).as("segs"))
      val sizes = perUser.select(explode(col("segs")).as("seg"))
        .groupBy(col("seg")).agg(count(lit(1)).as("size"))
      val pairs = perUser.select(explode(expr(
        """flatten(transform(segs, (a, i) ->
           transform(slice(segs, i + 2, size(segs)), b ->
             struct(a AS sa, b AS sb))))""")).as("p"))
        .groupBy(col("p.sa").as("seg_a"), col("p.sb").as("seg_b"))
        .agg(count(lit(1)).as("n_overlap"))
      pairs
        .join(sizes.select(col("seg").as("seg_a"), col("size").as("size_a")),
          Seq("seg_a"))
        .join(sizes.select(col("seg").as("seg_b"), col("size").as("size_b")),
          Seq("seg_b"))
        .select(col("seg_a"), col("seg_b"), col("n_overlap"),
          col("size_a"), col("size_b"),
          expr("(n_overlap * 1000000) div least(size_a, size_b)")
            .as("overlap_ppm"))
        .orderBy("seg_a", "seg_b")
    }),

    // LOCAL-SUPPLIER REVENUE (TPC-H Q5 shape — the five-way join
    // whose distinguishing clause is the LOCALITY predicate
    // c_nationkey = s_nationkey: revenue only counts when customer
    // and supplier share a nation). Join order matters at 100 TB:
    // orders filters by date FIRST (pushed), the two fact joins
    // shuffle on their keys, nation/region broadcast; the locality
    // predicate rides the supplier join as a residual — no extra
    // shuffle. Exact decimal revenue.
    "q240_local_supplier" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .select(col("o_orderkey"), col("o_custkey"))
      val rev = Tables.lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select(col("c_custkey"),
          col("c_nationkey")), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"),
          col("s_nationkey")), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      rev.join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("revenue"))
        .select(col("n_name"), col("revenue").cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),

    // PROMO REVENUE SHARE (TPC-H Q14 shape — the conditional-
    // aggregate ratio: what fraction of a month's revenue came from
    // promo-class parts). One lineitem×part join (part's two columns
    // prune to the scan), both the conditional and total revenue in
    // ONE aggregate pass — CASE inside sum, the no-second-scan
    // discipline; exact decimal sums, one final double division,
    // share in integer ppm alongside for the engine-exact column.
    "q241_promo_share" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
      li.join(Tables.part(s, dir).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type").startsWith("PROMO"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)")))
            .as("promo_rev"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).as("total_rev"))
        .withColumn("promo_tt", (col("promo_rev") * 10000).cast("long"))
        .withColumn("total_tt", (col("total_rev") * 10000).cast("long"))
        .select(col("promo_rev").cast("double").as("promo_rev"),
          col("total_rev").cast("double").as("total_rev"),
          expr("(promo_tt * 1000000) div total_tt").as("promo_ppm"))
    }),

    // DISJUNCTIVE-PREDICATE JOIN (TPC-H Q19 shape — the OR-of-ANDs
    // filter that stresses predicate normalization: three
    // brand/size/quantity bands, any of which qualifies a line).
    // Catalyst extracts the common l_partkey = p_partkey conjunct so
    // the join stays EQUI (the naive reading is a theta join); the
    // per-band residuals evaluate post-join. Exact decimal revenue.
    "q242_disjunctive_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(p, col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 40)) ||
          (col("p_brand") === "Brand#24" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 60))))
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).as("revenue"))
        .select(col("n_lines"), col("revenue").cast("double").as("revenue"))
    }),

    // RETURNED-ITEM CUSTOMER RANKING (TPC-H Q10 shape — "which
    // customers cost us the most in returns last quarter": the
    // returned-lines fact joined back through orders to the customer
    // dimension, top 20 by lost revenue). The returnflag filter cuts
    // the fact FIRST (pushed to the scan); customer attributes join
    // AFTER the per-customer aggregate — the aggregate-then-enrich
    // order that keeps the wide dimension off the fact shuffle;
    // TakeOrderedAndProject for the top 20.
    "q243_returned_customers" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .select(col("o_orderkey"), col("o_custkey"))
      val lost = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("lost_rev"), count(lit(1)).as("n_lines"))
      lost.join(Tables.customer(s, dir).select(col("c_custkey"),
          col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("n_lines"), col("lost_rev").cast("double").as("lost_rev"))
        .orderBy(desc("lost_rev"), col("c_custkey"))
        .limit(20)
    }),

    // PRIORITY × LATENESS MATRIX (TPC-H Q12 shape on the columns
    // this fixture has — Q12's point is the CASE-sum matrix over a
    // join: count lines urgent/non-urgent × late/on-time in ONE
    // aggregate pass, no per-cell scans). The late predicate is the
    // q211 family's integer-day compare; all four cells come from
    // two CASE sums plus complements.
    "q244_priority_lateness" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .withColumn("urgent",
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .agg(
          sum(when(col("urgent") && col("late"), 1L).otherwise(0L))
            .as("urgent_late"),
          sum(when(col("urgent") && !col("late"), 1L).otherwise(0L))
            .as("urgent_ontime"),
          sum(when(!col("urgent") && col("late"), 1L).otherwise(0L))
            .as("other_late"),
          sum(when(!col("urgent") && !col("late"), 1L).otherwise(0L))
            .as("other_ontime"))
    }),

    // NATION-PAIR TRADE VOLUME (TPC-H Q7 shape — revenue flowing
    // between two specific nations, by direction and year: the
    // nation-pair disjunction that makes the dimension filter a
    // PAIR predicate, not two independent ones). Supplier and
    // customer nations resolve through two broadcast dim joins; the
    // pair disjunction evaluates as a residual on the already-joined
    // row; year is integer extraction. Exact decimal revenue per
    // (supp_nation, cust_nation, year) cell.
    "q245_nation_trade" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"),
          col("s_nationkey").as("supp_nation")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, dir).select(col("c_custkey"),
          col("c_nationkey").as("cust_nation")),
          col("o_custkey") === col("c_custkey"))
      li.filter((col("supp_nation") === 3 && col("cust_nation") === 2) ||
          (col("supp_nation") === 2 && col("cust_nation") === 3))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).as("yr"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).as("volume"))
        .select(col("supp_nation"), col("cust_nation"), col("yr"),
          col("volume").cast("double").as("volume"))
        .orderBy("supp_nation", "cust_nation", "yr")
    }),

    // NATIONAL MARKET SHARE BY YEAR (TPC-H Q8 shape — one nation's
    // share of a market's revenue per year: the conditional-sum
    // ratio OVER a grouped axis, Q14's trick per group). Market =
    // customers of one region; the focal supplier nation's revenue
    // share per order-year as integer ppm of exact ten-thousandths
    // (no float division until the display column). Region/nation
    // dims broadcast; one fact pass.
    "q246_market_share" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_regionkey") === 1)
        .select(col("c_custkey"))
      val rows = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"),
          col("s_nationkey")), col("l_suppkey") === col("s_suppkey"))
      rows.groupBy(year(col("o_orderdate")).as("yr"))
        .agg(
          sum(when(col("s_nationkey") === 3,
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)")))
            .as("focal_rev"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).as("market_rev"))
        .withColumn("focal_tt", (col("focal_rev") * 10000).cast("long"))
        .withColumn("market_tt", (col("market_rev") * 10000).cast("long"))
        .select(col("yr"), col("focal_rev").cast("double").as("focal_rev"),
          col("market_rev").cast("double").as("market_rev"),
          expr("(focal_tt * 1000000) div market_tt").as("share_ppm"))
        .orderBy("yr")
    }),

    // FILTERED-AGGREGATE FORECAST (TPC-H Q6 — the simplest classic:
    // one scan, three pushable predicates, one product sum. Included
    // for surface completeness; its entire 100 TB story is that ALL
    // THREE predicates reach the parquet scan and nothing shuffles
    // but one partial-agg row per task).
    "q247_forecast_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 10)
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * col("l_discount"))
            .cast("decimal(18,4)")).as("revenue_effect"))
        .select(col("n_lines"),
          col("revenue_effect").cast("double").as("revenue_effect"))
    }),
  )

  /** Once-per-session setup for q133: lineitem re-written
    * date-partitioned by ship month (84 directories over the 7-year
    * fixture — low-cardinality by construction, the writePartitioned
    * contract). Memoized per (application, fixture dir); the directory
    * is TempDirs scratch, self-cleaning at JVM exit. */
  private val dppFactPaths =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private val rollupPaths =
    scala.collection.mutable.Map[(String, String), String]()

  /** Once-per-session build of the day-grain revenue rollup for `dir`
    * + the confs that arm plans.RewriteAggOnRollup against THIS
    * fixture's lineitem scan (the partitionedLineitem discipline). */
  private def dailyRollup(s: org.apache.spark.sql.SparkSession,
                          dir: String): String = {
    val path = rollupPaths.synchronized {
      rollupPaths.getOrElseUpdate((s.sparkContext.applicationId, dir), {
        val p = graft.TempDirs.scratch("graft-rollup-")
        graft.pipeline.Warehouse.writeDailyRevenueRollup(
          Tables.lineitem(s, dir), p)
        p
      })
    }
    s.conf.set("spark.graft.rollup.daily.path", path)
    s.conf.set("spark.graft.rollup.daily.source", s"$dir/lineitem.parquet")
    path
  }

  private def partitionedLineitem(s: org.apache.spark.sql.SparkSession,
                                  dir: String): String =
    dppFactPaths.synchronized {
      dppFactPaths.getOrElseUpdate((s.sparkContext.applicationId, dir), {
        val path = graft.TempDirs.scratch("graft-dpp-")
        graft.pipeline.Warehouse.writePartitioned(
          Tables.lineitem(s, dir)
            .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM")),
          path, "ship_month")
        path
      })
    }

  /** Once-per-session setup for q96: write lineitem/orders as bucketed
    * + sorted managed tables on their join key. Table names carry the
    * fixture dir (one pair per SF); `catalog.tableExists` makes the
    * setup idempotent across repeated query invocations in one session.
    * `repartition(buckets, key)` uses the same murmur3-pmod placement
    * as the bucket spec, so each write task holds exactly one bucket →
    * ONE file per bucket, which is what lets Spark trust the sortBy
    * metadata at read time. */
  private def bucketedTables(s: org.apache.spark.sql.SparkSession,
                             dir: String): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val lTbl = s"graft_bkt_lineitem$tag"
    val oTbl = s"graft_bkt_orders$tag"
    this.synchronized {
      if (!s.catalog.tableExists(lTbl))
        graft.pipeline.Warehouse.writeBucketed(
          Tables.lineitem(s, dir).repartition(8, col("l_orderkey")),
          lTbl, "l_orderkey", 8)
      if (!s.catalog.tableExists(oTbl))
        graft.pipeline.Warehouse.writeBucketed(
          Tables.orders(s, dir).repartition(8, col("o_orderkey")),
          oTbl, "o_orderkey", 8)
    }
    (lTbl, oTbl)
  }

  /** The customer–supplier TRADE GRAPH of the graph queries over
    * orders: one distinct row per (customer, supplier) pair that share
    * an order, customers as node 2·o_custkey and suppliers as
    * 2·l_suppkey + 1 (disjoint key spaces, so one id column holds
    * both). `keep` filters lineitem before the join; `extra` are more
    * edge columns over the order's `o_orderdate` (the temporal
    * queries' day stamp `t`), part of the distinct key. The two id
    * columns are named `ids`, (c, s1) unless given: a rename above the
    * distinct would put a projection into the caller's plan. */
  private def tradeEdges(s: SparkSession, dir: String,
                         keep: Option[Column] = None,
                         extra: Seq[Column] = Nil,
                         ids: (String, String) = ("c", "s1")): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val orderCols = Seq("o_orderkey", "o_custkey") ++
      (if (extra.isEmpty) Nil else Seq("o_orderdate"))
    keep.fold(li)(li.filter)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(orderCols.map(col): _*),
        col("l_orderkey") === col("o_orderkey"))
      .select(Seq((col("o_custkey") * 2).as(ids._1),
        (col("l_suppkey") * 2 + 1).as(ids._2)) ++ extra: _*)
      .distinct()
  }

  /** The order date as a yyyymmdd day stamp `t`, a `tradeEdges` extra. */
  private def yyyymmdd: Column =
    (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
      dayofmonth(col("o_orderdate"))).cast("long").as("t")

  /** Trade edges (c, s1, rest…) in both directions, as (src, dst, rest…). */
  private def bothWays(eb: DataFrame): DataFrame = {
    val rest = eb.columns.toSeq.filterNot(Set("c", "s1")).map(col)
    eb.select(col("c").as("src") +: col("s1").as("dst") +: rest: _*)
      .unionByName(eb.select(col("s1").as("src") +: col("c").as("dst") +: rest: _*))
  }

  /** Every pair of parts bought in one order, once: the self-join of a
    * distinct (l_orderkey, l_partkey) basket frame `ib` as `a` ⋈ `b`
    * with a.l_partkey < b.l_partkey. Output-sized (Σ basket²), never
    * parts². */
  private def basketPairs(ib: DataFrame): DataFrame =
    ib.as("a").join(ib.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
      col("a.l_partkey") < col("b.l_partkey"))

  /** The part CO-PURCHASE graph over lineitem rows `li`: distinct
    * (u, v), u < v, for parts bought together in an order. */
  private def coPurchaseEdges(li: DataFrame): DataFrame =
    basketPairs(li.select(col("l_orderkey"), col("l_partkey")).distinct())
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()

  val oracles: Map[String, String] = Map(
    // the IDENTITY under test: the oracle samples the JOIN once by
    // the same key coin; the Spark side joined two independently-
    // sampled scans — they must hash-match exactly.
    "q202_coordinated_sample" ->
      """SELECT o_orderstatus, count(*) AS n_sampled,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sampled_rev,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 4 AS DOUBLE)
        |         AS est_total_rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR) || ':cs'), 1, 1) < '4'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the full CM lifecycle on both tables: same md5 buckets, same
    // counter builds, same per-row inner product, same min.
    "q198_join_size_est" ->
      """WITH ha AS (
        |  SELECT t.r,
        |         CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':13:' ||
        |                CAST(l_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 1024
        |           AS bucket
        |  FROM lineitem CROSS JOIN range(4) t(r)),
        |ca AS (SELECT r, bucket, count(*) AS ca FROM ha GROUP BY r, bucket),
        |hb AS (
        |  SELECT t.r,
        |         CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':13:' ||
        |                CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 1024
        |           AS bucket
        |  FROM orders CROSS JOIN range(4) t(r)),
        |cb AS (SELECT r, bucket, count(*) AS cb FROM hb GROUP BY r, bucket),
        |ip AS (
        |  SELECT ca.r, CAST(sum(ca.ca * cb.cb) AS BIGINT) AS ip
        |  FROM ca JOIN cb USING (r, bucket) GROUP BY ca.r),
        |est AS (SELECT min(ip) AS cm_join_est FROM ip),
        |ex AS (
        |  SELECT count(*) AS exact_join_rows
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT cm_join_est, exact_join_rows FROM est CROSS JOIN ex""".stripMargin,
    // same orientation, same quantized terms, same tie-broken top-100.
    "q185_adamic_adar" ->
      """WITH adj AS (
        |  SELECT DISTINCT l.l_suppkey AS node, o.o_custkey AS nbr
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |deg AS (SELECT nbr, count(*) AS deg FROM adj GROUP BY nbr),
        |term AS (
        |  SELECT adj.nbr, adj.node,
        |         CAST(round(1.0 / ln(deg.deg::DOUBLE), 10)
        |              AS DECIMAL(18,10)) AS term
        |  FROM adj JOIN deg USING (nbr) WHERE deg.deg >= 2)
        |SELECT x.node AS a, y.node AS b, count(*) AS n_common,
        |       CAST(sum(x.term) AS DOUBLE) AS aa_score
        |FROM term x JOIN term y
        |  ON x.nbr = y.nbr AND x.node < y.node
        |GROUP BY x.node, y.node
        |ORDER BY aa_score DESC, a, b LIMIT 100""".stripMargin,
    // the INDEPENDENT formulation: the quadratic levenshtein cross
    // join the deletion-neighborhood blocking exists to kill.
    "q164_edit_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // the three supersteps unrolled as CTEs, in the SAME 1e-12-unit
    // integer arithmetic as the Spark side (`//` here ≡ `div` there —
    // truncating division, identical on the all-positive ranks; long
    // sums are exact, so there is no rounding anywhere to diverge).
    "q297_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT 2*o_custkey AS src, 2*l_suppkey + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT e.dst, sum(h0.h) AS raw
        |        FROM e JOIN h0 ON e.src = h0.node GROUP BY e.dst),
        |a1 AS (SELECT dst AS node,
        |              (raw * 1000000) // (SELECT sum(raw) FROM a1r) AS a
        |       FROM a1r),
        |h1r AS (SELECT e.src, sum(a1.a) AS raw
        |        FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
        |h1 AS (SELECT src AS node,
        |              (raw * 1000000) // (SELECT sum(raw) FROM h1r) AS h
        |       FROM h1r),
        |a2r AS (SELECT e.dst, sum(h1.h) AS raw
        |        FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
        |a2 AS (SELECT dst AS node,
        |              (raw * 1000000) // (SELECT sum(raw) FROM a2r) AS a
        |       FROM a2r),
        |h2r AS (SELECT e.src, sum(a2.a) AS raw
        |        FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
        |h2 AS (SELECT src AS node,
        |              (raw * 1000000) // (SELECT sum(raw) FROM h2r) AS h
        |       FROM h2r)
        |SELECT coalesce(h2.node, a2.node) AS node,
        |       CAST(coalesce(h2.h, 0) AS BIGINT) AS hub_fp,
        |       CAST(coalesce(a2.a, 0) AS BIGINT) AS auth_fp
        |FROM h2 FULL OUTER JOIN a2 ON h2.node = a2.node
        |ORDER BY node""".stripMargin,
    "q163_pagerank" ->
      """WITH eb AS (
        |  SELECT DISTINCT 2*o_custkey AS c, 2*l_suppkey + 1 AS s1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s1 AS dst FROM eb
        |      UNION ALL SELECT s1 AS src, c AS dst FROM eb),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |n AS (SELECT count(*) AS nn FROM d),
        |r0 AS (SELECT d.src AS node, d.deg,
        |              1000000000000 // n.nn AS pr_fp
        |       FROM d CROSS JOIN n),
        |c1 AS (SELECT e.dst, r.pr_fp // r.deg AS cb
        |       FROM e JOIN r0 r ON e.src = r.node),
        |s1x AS (SELECT dst, sum(cb) AS sm FROM c1 GROUP BY dst),
        |r1 AS (SELECT d.src AS node, d.deg,
        |              (15 * 1000000000000) // (100 * n.nn)
        |              + (85 * coalesce(s1x.sm, 0)) // 100 AS pr_fp
        |       FROM d LEFT JOIN s1x ON d.src = s1x.dst CROSS JOIN n),
        |c2 AS (SELECT e.dst, r.pr_fp // r.deg AS cb
        |       FROM e JOIN r1 r ON e.src = r.node),
        |s2x AS (SELECT dst, sum(cb) AS sm FROM c2 GROUP BY dst),
        |r2 AS (SELECT d.src AS node, d.deg,
        |              (15 * 1000000000000) // (100 * n.nn)
        |              + (85 * coalesce(s2x.sm, 0)) // 100 AS pr_fp
        |       FROM d LEFT JOIN s2x ON d.src = s2x.dst CROSS JOIN n),
        |c3 AS (SELECT e.dst, r.pr_fp // r.deg AS cb
        |       FROM e JOIN r2 r ON e.src = r.node),
        |s3x AS (SELECT dst, sum(cb) AS sm FROM c3 GROUP BY dst),
        |r3 AS (SELECT d.src AS node, d.deg,
        |              (15 * 1000000000000) // (100 * n.nn)
        |              + (85 * coalesce(s3x.sm, 0)) // 100 AS pr_fp
        |       FROM d LEFT JOIN s3x ON d.src = s3x.dst CROSS JOIN n)
        |SELECT node, deg, CAST(pr_fp AS BIGINT) AS pr_fp
        |FROM r3 ORDER BY node""".stripMargin,
    // the INDEPENDENT id-ordered enumeration (u<v<w triple join) —
    // a different total order than the Spark side's degree one, so
    // agreement is a real cross-check of the enumeration itself.
    "q264_jw_linkage" ->
      """WITH n AS (
        |  SELECT DISTINCT p_name AS name,
        |         string_split(p_name, ' ')[-1] AS block
        |  FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       round(jaro_winkler_similarity(a.name, b.name), 6) AS sim
        |FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
        |WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.8
        |ORDER BY sim DESC, name_a, name_b""".stripMargin,
    "q303_entity_resolution" ->
      """WITH RECURSIVE n AS (
        |  SELECT DISTINCT p_name AS name,
        |         string_split(p_name, ' ')[-1] AS block
        |  FROM part),
        |pairs AS (
        |  SELECT a.name AS u, b.name AS v
        |  FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
        |  WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.9),
        |e AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |walk(s, m) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e) t
        |  UNION
        |  SELECT w.s, e.v FROM walk w JOIN e ON w.m = e.u),
        |lab AS (SELECT s AS id, min(m) AS comp FROM walk GROUP BY s)
        |SELECT comp AS canonical, CAST(count(*) AS BIGINT) AS cluster_size,
        |       max(id) AS max_member
        |FROM lab GROUP BY comp ORDER BY canonical""".stripMargin,
    // computed from RAW lineitem — the rewrite must not change a bit
    "q336_rollup_rewrite" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // computed from RAW lineitem — the subset-grouping rewrite must
    // re-aggregate the per-(day, flag) partials to the same bits
    "q341_daily_rollup_rewrite" ->
      """SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS day,
        |       count(*) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1995-06-01 00:00:00'
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "q333_personalized_pagerank" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM eb
        |      UNION ALL SELECT s AS src, c AS dst FROM eb),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |sd AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey
        |       WHERE r_name = 'ASIA'),
        |f AS (SELECT d.src, d.deg,
        |             CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS sf
        |      FROM d LEFT JOIN sd ON d.src = sd.node),
        |ns AS (SELECT sum(sf) AS n_seeds FROM f),
        |r0 AS (SELECT f.src AS node, f.deg, f.sf,
        |              CASE WHEN f.sf = 1
        |                   THEN 1000000000000 // ns.n_seeds
        |                   ELSE 0 END AS pr
        |       FROM f CROSS JOIN ns),
        |c1 AS (SELECT e.dst, r.pr // r.deg AS cb
        |       FROM e JOIN r0 r ON e.src = r.node),
        |s1x AS (SELECT dst, sum(cb) AS sm FROM c1 GROUP BY dst),
        |r1 AS (SELECT f.src AS node, f.deg, f.sf,
        |              CASE WHEN f.sf = 1
        |                   THEN (15 * 1000000000000) // (100 * ns.n_seeds)
        |                   ELSE 0 END
        |              + (85 * coalesce(s1x.sm, 0)) // 100 AS pr
        |       FROM f LEFT JOIN s1x ON f.src = s1x.dst CROSS JOIN ns),
        |c2 AS (SELECT e.dst, r.pr // r.deg AS cb
        |       FROM e JOIN r1 r ON e.src = r.node),
        |s2x AS (SELECT dst, sum(cb) AS sm FROM c2 GROUP BY dst),
        |r2 AS (SELECT f.src AS node, f.deg, f.sf,
        |              CASE WHEN f.sf = 1
        |                   THEN (15 * 1000000000000) // (100 * ns.n_seeds)
        |                   ELSE 0 END
        |              + (85 * coalesce(s2x.sm, 0)) // 100 AS pr
        |       FROM f LEFT JOIN s2x ON f.src = s2x.dst CROSS JOIN ns)
        |SELECT node, deg, CAST(pr AS BIGINT) AS ppr_fp
        |FROM r2 ORDER BY node""".stripMargin,
    "q328_golden_record" ->
      """WITH RECURSIVE n AS (
        |  SELECT DISTINCT p_name AS name,
        |         string_split(p_name, ' ')[-1] AS block
        |  FROM part),
        |pairs AS (
        |  SELECT a.name AS u, b.name AS v
        |  FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
        |  WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.9),
        |e AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |walk(s, m) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e) t
        |  UNION
        |  SELECT w.s, e.v FROM walk w JOIN e ON w.m = e.u),
        |lab AS (SELECT s AS id, min(m) AS comp FROM walk GROUP BY s),
        |recs AS (
        |  SELECT coalesce(l.comp, p.p_name) AS canonical,
        |         p.p_partkey, p.p_name, p.p_brand, p.p_retailprice
        |  FROM part p LEFT JOIN lab l ON p.p_name = l.id),
        |bc AS (SELECT canonical, p_brand, count(*) AS cnt
        |       FROM recs GROUP BY 1, 2),
        |mx AS (SELECT canonical, max(cnt) AS mc FROM bc GROUP BY 1),
        |md AS (SELECT bc.canonical, min(bc.p_brand) AS golden_brand
        |       FROM bc JOIN mx ON bc.canonical = mx.canonical
        |                      AND bc.cnt = mx.mc
        |       GROUP BY 1)
        |SELECT r.canonical, count(*) AS n_records,
        |       count(DISTINCT r.p_name) AS n_names,
        |       min(r.p_partkey) AS golden_partkey,
        |       max(r.p_retailprice) AS golden_price, md.golden_brand
        |FROM recs r JOIN md ON r.canonical = md.canonical
        |GROUP BY r.canonical, md.golden_brand
        |ORDER BY r.canonical""".stripMargin,
    "q327_bfs_hops" ->
      """WITH RECURSIVE eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity >= 48),
        |e AS (SELECT c AS src, s AS dst FROM eb
        |      UNION SELECT s, c FROM eb),
        |seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier
        |          JOIN nation ON s_nationkey = n_nationkey
        |          JOIN region ON n_regionkey = r_regionkey
        |          WHERE r_name = 'ASIA'),
        |walk(node, d) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON w.node = e.src
        |  WHERE w.d < 3)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
    // the same md5 hex coin, replayed; per-(src, step) argmin via a
    // (hash, dst) row_number — ties broken identically to the struct
    // min on the Spark side
    "q346_random_walks" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM eb
        |      UNION ALL SELECT s, c FROM eb),
        |n1 AS (SELECT src, dst AS next FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src
        |    ORDER BY substr(md5(src || ':1:' || dst), 1, 8), dst) AS rn
        |  FROM e) x WHERE rn = 1),
        |n2 AS (SELECT src, dst AS next FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src
        |    ORDER BY substr(md5(src || ':2:' || dst), 1, 8), dst) AS rn
        |  FROM e) x WHERE rn = 1),
        |n3 AS (SELECT src, dst AS next FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src
        |    ORDER BY substr(md5(src || ':3:' || dst), 1, 8), dst) AS rn
        |  FROM e) x WHERE rn = 1),
        |starts AS (SELECT DISTINCT c AS start FROM eb)
        |SELECT w.start, a.next AS hop1, b.next AS hop2, d.next AS hop3
        |FROM starts w
        |JOIN n1 a ON a.src = w.start
        |JOIN n2 b ON b.src = a.next
        |JOIN n3 d ON d.src = b.next
        |ORDER BY w.start""".stripMargin,
    // same degree joins, same exact-Long moments, same double
    // combination
    "q359_assortativity" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM eb
        |      UNION ALL SELECT s, c FROM eb),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY 1),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m2,
        |         CAST(sum(du.d) AS BIGINT) AS sx,
        |         CAST(sum(du.d * dv.d) AS BIGINT) AS sxy,
        |         CAST(sum(du.d * du.d) AS BIGINT) AS sxx
        |  FROM e JOIN deg du ON e.src = du.node
        |         JOIN deg dv ON e.dst = dv.node)
        |SELECT m2 // 2 AS m_edges,
        |       round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |             (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |         AS r_assort
        |FROM mo""".stripMargin,
    // same wedge, directed rules, same one-division moments, same
    // total-order top-50 cut
    "q357_assoc_rules" ->
      """WITH ib AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |          AS n_orders FROM ib),
        |deg AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS d
        |        FROM ib GROUP BY 1),
        |co AS (SELECT a.l_partkey AS p, b.l_partkey AS q,
        |              CAST(count(*) AS BIGINT) AS n_co
        |       FROM ib a JOIN ib b
        |         ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2),
        |sym AS (SELECT p AS antecedent, q AS consequent, n_co FROM co
        |        UNION ALL SELECT q, p, n_co FROM co)
        |SELECT s.antecedent, s.consequent, s.n_co,
        |       round(CAST(s.n_co AS DOUBLE) / da.d, 6) AS confidence,
        |       round(CAST(s.n_co * t.n_orders AS DOUBLE) / (da.d * dc.d), 6)
        |         AS lift
        |FROM sym s
        |JOIN deg da ON s.antecedent = da.p
        |JOIN deg dc ON s.consequent = dc.p
        |CROSS JOIN tot t
        |WHERE s.n_co >= 2
        |ORDER BY lift DESC, s.antecedent, s.consequent
        |LIMIT 50""".stripMargin,
    // q212's three unrolled hashmin supersteps + the exact-integer
    // modularity fraction over the same labels
    "q358_modularity" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity = 1),
        |e AS (SELECT c AS src, s1 AS dst FROM eb
        |      UNION ALL SELECT s1, c FROM eb),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |l1 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l0 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l0 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |l2 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l1 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l1 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |l3 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l2 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l2 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |me AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(CASE WHEN lc.label = ls.label THEN 1 ELSE 0 END)
        |           AS BIGINT) AS e_in
        |  FROM eb JOIN l3 lc ON eb.c = lc.node
        |          JOIN l3 ls ON eb.s1 = ls.node),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY 1),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_communities,
        |         CAST(sum(dc * dc) AS BIGINT) AS d2
        |  FROM (SELECT l.label, CAST(sum(d.d) AS BIGINT) AS dc
        |        FROM deg d JOIN l3 l ON d.node = l.node
        |        GROUP BY l.label))
        |SELECT me.m, st.n_communities, me.e_in,
        |       round(CAST(4 * me.m * me.e_in - st.d2 AS DOUBLE) /
        |         (4 * me.m * me.m), 6) AS q_modularity
        |FROM me CROSS JOIN st""".stripMargin,
    // the same 4 time-respecting relaxation rounds unrolled; the
    // t >= arr(u) constraint rides the join predicate
    "q364_temporal_reach" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
        |         CAST(year(o_orderdate) * 10000 +
        |              month(o_orderdate) * 100 +
        |              day(o_orderdate) AS BIGINT) AS t
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst, t FROM eb
        |     UNION ALL SELECT s, c, t FROM eb),
        |a0 AS MATERIALIZED (
        |  SELECT min(c) AS node, CAST(0 AS BIGINT) AS arr FROM eb),
        |a1 AS MATERIALIZED (
        |  SELECT node, min(arr) AS arr FROM (
        |    SELECT node, arr FROM a0
        |    UNION ALL
        |    SELECT e.dst AS node, e.t AS arr
        |    FROM a0 JOIN e ON a0.node = e.src AND e.t >= a0.arr)
        |  GROUP BY node),
        |a2 AS MATERIALIZED (
        |  SELECT node, min(arr) AS arr FROM (
        |    SELECT node, arr FROM a1
        |    UNION ALL
        |    SELECT e.dst AS node, e.t AS arr
        |    FROM a1 JOIN e ON a1.node = e.src AND e.t >= a1.arr)
        |  GROUP BY node),
        |a3 AS MATERIALIZED (
        |  SELECT node, min(arr) AS arr FROM (
        |    SELECT node, arr FROM a2
        |    UNION ALL
        |    SELECT e.dst AS node, e.t AS arr
        |    FROM a2 JOIN e ON a2.node = e.src AND e.t >= a2.arr)
        |  GROUP BY node),
        |a4 AS (
        |  SELECT node, min(arr) AS arr FROM (
        |    SELECT node, arr FROM a3
        |    UNION ALL
        |    SELECT e.dst AS node, e.t AS arr
        |    FROM a3 JOIN e ON a3.node = e.src AND e.t >= a3.arr)
        |  GROUP BY node)
        |SELECT node, arr FROM a4 ORDER BY node""".stripMargin,

    // q364's dual, reversed: 4 max-relaxation rounds against the
    // REVERSE edges, the t <= ld constraint riding the join predicate
    "q368_latest_departure" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
        |         CAST(year(o_orderdate) * 10000 +
        |              month(o_orderdate) * 100 +
        |              day(o_orderdate) AS BIGINT) AS t
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst, t FROM eb
        |     UNION ALL SELECT s, c, t FROM eb),
        |d0 AS MATERIALIZED (
        |  SELECT min(c) AS node, CAST(19970101 AS BIGINT) AS ld FROM eb),
        |d1 AS MATERIALIZED (
        |  SELECT node, max(ld) AS ld FROM (
        |    SELECT node, ld FROM d0
        |    UNION ALL
        |    SELECT e.src AS node, e.t AS ld
        |    FROM d0 JOIN e ON d0.node = e.dst AND e.t <= d0.ld)
        |  GROUP BY node),
        |d2 AS MATERIALIZED (
        |  SELECT node, max(ld) AS ld FROM (
        |    SELECT node, ld FROM d1
        |    UNION ALL
        |    SELECT e.src AS node, e.t AS ld
        |    FROM d1 JOIN e ON d1.node = e.dst AND e.t <= d1.ld)
        |  GROUP BY node),
        |d3 AS MATERIALIZED (
        |  SELECT node, max(ld) AS ld FROM (
        |    SELECT node, ld FROM d2
        |    UNION ALL
        |    SELECT e.src AS node, e.t AS ld
        |    FROM d2 JOIN e ON d2.node = e.dst AND e.t <= d2.ld)
        |  GROUP BY node),
        |d4 AS (
        |  SELECT node, max(ld) AS ld FROM (
        |    SELECT node, ld FROM d3
        |    UNION ALL
        |    SELECT e.src AS node, e.t AS ld
        |    FROM d3 JOIN e ON d3.node = e.dst AND e.t <= d3.ld)
        |  GROUP BY node)
        |SELECT node, ld FROM d4 ORDER BY node""".stripMargin,

    // the dep-stratified earliest-arrival relax unrolled 4 rounds
    // (state keyed (node, dep); the t >= arr constraint in the join
    // predicate), then the duration argmin with (dur, dep) tie-break
    "q369_fastest_journey" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
        |         CAST(datediff('day', DATE '1970-01-01', o_orderdate)
        |           AS BIGINT) AS t
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst, t FROM eb
        |     UNION ALL SELECT s, c, t FROM eb),
        |sd AS (SELECT min(c) AS node FROM eb),
        |f0 AS MATERIALIZED (
        |  SELECT DISTINCT sd.node, e.t AS dep, e.t AS arr
        |  FROM sd JOIN e ON e.src = sd.node),
        |f1 AS MATERIALIZED (
        |  SELECT node, dep, min(arr) AS arr FROM (
        |    SELECT node, dep, arr FROM f0
        |    UNION ALL
        |    SELECT e.dst AS node, f.dep, e.t AS arr
        |    FROM f0 f JOIN e ON f.node = e.src AND e.t >= f.arr)
        |  GROUP BY node, dep),
        |f2 AS MATERIALIZED (
        |  SELECT node, dep, min(arr) AS arr FROM (
        |    SELECT node, dep, arr FROM f1
        |    UNION ALL
        |    SELECT e.dst AS node, f.dep, e.t AS arr
        |    FROM f1 f JOIN e ON f.node = e.src AND e.t >= f.arr)
        |  GROUP BY node, dep),
        |f3 AS MATERIALIZED (
        |  SELECT node, dep, min(arr) AS arr FROM (
        |    SELECT node, dep, arr FROM f2
        |    UNION ALL
        |    SELECT e.dst AS node, f.dep, e.t AS arr
        |    FROM f2 f JOIN e ON f.node = e.src AND e.t >= f.arr)
        |  GROUP BY node, dep),
        |f4 AS MATERIALIZED (
        |  SELECT node, dep, min(arr) AS arr FROM (
        |    SELECT node, dep, arr FROM f3
        |    UNION ALL
        |    SELECT e.dst AS node, f.dep, e.t AS arr
        |    FROM f3 f JOIN e ON f.node = e.src AND e.t >= f.arr)
        |  GROUP BY node, dep),
        |res AS (SELECT node, dep, arr, arr - dep AS dur FROM f4),
        |best AS (SELECT node, min(dur) AS dur FROM res GROUP BY node),
        |pick AS (
        |  SELECT r.node, r.dur, min(r.dep) AS dep
        |  FROM res r JOIN best b ON r.node = b.node AND r.dur = b.dur
        |  GROUP BY r.node, r.dur)
        |SELECT node, dep, dep + dur AS arr, dur
        |FROM pick ORDER BY node""".stripMargin,

    // q364's unroll with a first-seen-round column riding the same
    // per-round min-groupBy (fresh candidates enter at hop literal r,
    // survivors keep their smaller first-seen round), seeded at the
    // min SUPPLIER with the late 1997-10-01 start, 5 rounds
    "q372_shortest_journey" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
        |         CAST(year(o_orderdate) * 10000 +
        |              month(o_orderdate) * 100 +
        |              day(o_orderdate) AS BIGINT) AS t
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst, t FROM eb
        |     UNION ALL SELECT s, c, t FROM eb),
        |a0 AS MATERIALIZED (
        |  SELECT min(s) AS node, CAST(0 AS BIGINT) AS hops,
        |         CAST(19971001 AS BIGINT) AS arr FROM eb),
        |a1 AS MATERIALIZED (
        |  SELECT node, min(hops) AS hops, min(arr) AS arr FROM (
        |    SELECT node, hops, arr FROM a0
        |    UNION ALL
        |    SELECT e.dst AS node, CAST(1 AS BIGINT) AS hops, e.t AS arr
        |    FROM a0 JOIN e ON a0.node = e.src AND e.t >= a0.arr)
        |  GROUP BY node),
        |a2 AS MATERIALIZED (
        |  SELECT node, min(hops) AS hops, min(arr) AS arr FROM (
        |    SELECT node, hops, arr FROM a1
        |    UNION ALL
        |    SELECT e.dst AS node, CAST(2 AS BIGINT) AS hops, e.t AS arr
        |    FROM a1 JOIN e ON a1.node = e.src AND e.t >= a1.arr)
        |  GROUP BY node),
        |a3 AS MATERIALIZED (
        |  SELECT node, min(hops) AS hops, min(arr) AS arr FROM (
        |    SELECT node, hops, arr FROM a2
        |    UNION ALL
        |    SELECT e.dst AS node, CAST(3 AS BIGINT) AS hops, e.t AS arr
        |    FROM a2 JOIN e ON a2.node = e.src AND e.t >= a2.arr)
        |  GROUP BY node),
        |a4 AS MATERIALIZED (
        |  SELECT node, min(hops) AS hops, min(arr) AS arr FROM (
        |    SELECT node, hops, arr FROM a3
        |    UNION ALL
        |    SELECT e.dst AS node, CAST(4 AS BIGINT) AS hops, e.t AS arr
        |    FROM a3 JOIN e ON a3.node = e.src AND e.t >= a3.arr)
        |  GROUP BY node),
        |a5 AS (
        |  SELECT node, min(hops) AS hops, min(arr) AS arr FROM (
        |    SELECT node, hops, arr FROM a4
        |    UNION ALL
        |    SELECT e.dst AS node, CAST(5 AS BIGINT) AS hops, e.t AS arr
        |    FROM a4 JOIN e ON a4.node = e.src AND e.t >= a4.arr)
        |  GROUP BY node)
        |SELECT node, hops, arr FROM a5 ORDER BY node""".stripMargin,

    // sampled-source harmonic centrality unrolled: md5('hc:')-ordered
    // 8-source sample, 4 DISTINCT-frontier BFS levels (NOT EXISTS
    // anti against the settled union), each level's per-node source
    // count weighted by the truncated 1000000 // d — the same
    // constants the Spark loop's `scale div d` produces
    "q373_harmonic" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM eb
        |     UNION ALL SELECT s, c FROM eb),
        |srcs AS (SELECT c AS node FROM (SELECT DISTINCT c FROM eb)
        |         ORDER BY md5('hc:' || c), c LIMIT 8),
        |f0 AS MATERIALIZED (SELECT node AS s, node FROM srcs),
        |set0 AS MATERIALIZED (SELECT s, node FROM f0),
        |f1 AS MATERIALIZED (
        |  SELECT DISTINCT f.s, e.dst AS node
        |  FROM f0 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set0 p
        |                    WHERE p.s = f.s AND p.node = e.dst)),
        |set1 AS MATERIALIZED (SELECT * FROM set0
        |        UNION ALL SELECT s, node FROM f1),
        |f2 AS MATERIALIZED (
        |  SELECT DISTINCT f.s, e.dst AS node
        |  FROM f1 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set1 p
        |                    WHERE p.s = f.s AND p.node = e.dst)),
        |set2 AS MATERIALIZED (SELECT * FROM set1
        |        UNION ALL SELECT s, node FROM f2),
        |f3 AS MATERIALIZED (
        |  SELECT DISTINCT f.s, e.dst AS node
        |  FROM f2 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set2 p
        |                    WHERE p.s = f.s AND p.node = e.dst)),
        |set3 AS MATERIALIZED (SELECT * FROM set2
        |        UNION ALL SELECT s, node FROM f3),
        |f4 AS MATERIALIZED (
        |  SELECT DISTINCT f.s, e.dst AS node
        |  FROM f3 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set3 p
        |                    WHERE p.s = f.s AND p.node = e.dst))
        |SELECT node, CAST(sum(hc) AS BIGINT) AS hc_scaled FROM (
        |  SELECT node, count(*) * (1000000 // 1) AS hc FROM f1 GROUP BY node
        |  UNION ALL
        |  SELECT node, count(*) * (1000000 // 2) AS hc FROM f2 GROUP BY node
        |  UNION ALL
        |  SELECT node, count(*) * (1000000 // 3) AS hc FROM f3 GROUP BY node
        |  UNION ALL
        |  SELECT node, count(*) * (1000000 // 4) AS hc FROM f4 GROUP BY node)
        |GROUP BY node HAVING sum(hc) > 0 ORDER BY node""".stripMargin,

    // same 4-level unrolled BFS under the 'ecc:' salt; per-source max
    // realized level + reach count, exactness = absence from the
    // level-4 frontier
    "q376_eccentricity" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM eb
        |     UNION ALL SELECT s, c FROM eb),
        |srcs AS (SELECT c AS node FROM (SELECT DISTINCT c FROM eb)
        |         ORDER BY md5('ecc:' || c), c LIMIT 8),
        |f0 AS MATERIALIZED (SELECT node AS s, node FROM srcs),
        |set0 AS MATERIALIZED (SELECT s, node FROM f0),
        |f1 AS MATERIALIZED (
        |  SELECT DISTINCT f.s, e.dst AS node
        |  FROM f0 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set0 p
        |                    WHERE p.s = f.s AND p.node = e.dst)),
        |set1 AS MATERIALIZED (SELECT * FROM set0
        |        UNION ALL SELECT s, node FROM f1),
        |f2 AS MATERIALIZED (
        |  SELECT DISTINCT f.s, e.dst AS node
        |  FROM f1 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set1 p
        |                    WHERE p.s = f.s AND p.node = e.dst)),
        |set2 AS MATERIALIZED (SELECT * FROM set1
        |        UNION ALL SELECT s, node FROM f2),
        |f3 AS MATERIALIZED (
        |  SELECT DISTINCT f.s, e.dst AS node
        |  FROM f2 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set2 p
        |                    WHERE p.s = f.s AND p.node = e.dst)),
        |set3 AS MATERIALIZED (SELECT * FROM set2
        |        UNION ALL SELECT s, node FROM f3),
        |f4 AS MATERIALIZED (
        |  SELECT DISTINCT f.s, e.dst AS node
        |  FROM f3 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set3 p
        |                    WHERE p.s = f.s AND p.node = e.dst)),
        |lv AS (
        |  SELECT s, CAST(1 AS BIGINT) AS d, count(*) AS c FROM f1 GROUP BY s
        |  UNION ALL
        |  SELECT s, CAST(2 AS BIGINT), count(*) FROM f2 GROUP BY s
        |  UNION ALL
        |  SELECT s, CAST(3 AS BIGINT), count(*) FROM f3 GROUP BY s
        |  UNION ALL
        |  SELECT s, CAST(4 AS BIGINT), count(*) FROM f4 GROUP BY s),
        |unf AS (SELECT DISTINCT s FROM f4)
        |SELECT lv.s AS node, max(lv.d) AS ecc,
        |       CAST(sum(lv.c) AS BIGINT) AS n_reached,
        |       CAST(CASE WHEN unf.s IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |         AS is_exact
        |FROM lv LEFT JOIN unf ON lv.s = unf.s
        |GROUP BY lv.s, unf.s ORDER BY node""".stripMargin,

    // same 4+4 per-side md5 sample; 8 unrolled G−v BFS levels
    // (dst <> cand exclusion, NOT EXISTS anti), neighbor-reach
    // counts, exhaustion from the level-8 frontier, the same
    // definitive-vs-unproven verdict CASE
    "q389_articulation" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity = 1),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM eb
        |     UNION ALL SELECT s, c FROM eb),
        |cands AS (
        |  SELECT node FROM (
        |    SELECT s AS node FROM (SELECT DISTINCT s FROM eb)
        |    ORDER BY md5('ap:' || s), s LIMIT 4)
        |  UNION ALL
        |  SELECT node FROM (
        |    SELECT c AS node FROM (SELECT DISTINCT c FROM eb)
        |    ORDER BY md5('ap:' || c), c LIMIT 4)),
        |nbrs AS MATERIALIZED (
        |  SELECT DISTINCT cands.node AS cand, e.dst AS nbr
        |  FROM cands JOIN e ON cands.node = e.src),
        |nc AS (SELECT cand, CAST(count(*) AS BIGINT) AS n_neighbors
        |       FROM nbrs GROUP BY cand),
        |f0 AS MATERIALIZED (
        |  SELECT cand, min(nbr) AS node FROM nbrs GROUP BY cand),
        |set0 AS MATERIALIZED (SELECT cand, node FROM f0),
        |f1 AS MATERIALIZED (
        |  SELECT DISTINCT f.cand, e.dst AS node
        |  FROM f0 f JOIN e ON f.node = e.src
        |  WHERE e.dst <> f.cand
        |    AND NOT EXISTS (SELECT 1 FROM set0 p
        |                    WHERE p.cand = f.cand AND p.node = e.dst)),
        |set1 AS MATERIALIZED (SELECT * FROM set0
        |        UNION ALL SELECT cand, node FROM f1),
        |f2 AS MATERIALIZED (
        |  SELECT DISTINCT f.cand, e.dst AS node
        |  FROM f1 f JOIN e ON f.node = e.src
        |  WHERE e.dst <> f.cand
        |    AND NOT EXISTS (SELECT 1 FROM set1 p
        |                    WHERE p.cand = f.cand AND p.node = e.dst)),
        |set2 AS MATERIALIZED (SELECT * FROM set1
        |        UNION ALL SELECT cand, node FROM f2),
        |f3 AS MATERIALIZED (
        |  SELECT DISTINCT f.cand, e.dst AS node
        |  FROM f2 f JOIN e ON f.node = e.src
        |  WHERE e.dst <> f.cand
        |    AND NOT EXISTS (SELECT 1 FROM set2 p
        |                    WHERE p.cand = f.cand AND p.node = e.dst)),
        |set3 AS MATERIALIZED (SELECT * FROM set2
        |        UNION ALL SELECT cand, node FROM f3),
        |f4 AS MATERIALIZED (
        |  SELECT DISTINCT f.cand, e.dst AS node
        |  FROM f3 f JOIN e ON f.node = e.src
        |  WHERE e.dst <> f.cand
        |    AND NOT EXISTS (SELECT 1 FROM set3 p
        |                    WHERE p.cand = f.cand AND p.node = e.dst)),
        |set4 AS MATERIALIZED (SELECT * FROM set3
        |        UNION ALL SELECT cand, node FROM f4),
        |f5 AS MATERIALIZED (
        |  SELECT DISTINCT f.cand, e.dst AS node
        |  FROM f4 f JOIN e ON f.node = e.src
        |  WHERE e.dst <> f.cand
        |    AND NOT EXISTS (SELECT 1 FROM set4 p
        |                    WHERE p.cand = f.cand AND p.node = e.dst)),
        |set5 AS MATERIALIZED (SELECT * FROM set4
        |        UNION ALL SELECT cand, node FROM f5),
        |f6 AS MATERIALIZED (
        |  SELECT DISTINCT f.cand, e.dst AS node
        |  FROM f5 f JOIN e ON f.node = e.src
        |  WHERE e.dst <> f.cand
        |    AND NOT EXISTS (SELECT 1 FROM set5 p
        |                    WHERE p.cand = f.cand AND p.node = e.dst)),
        |set6 AS MATERIALIZED (SELECT * FROM set5
        |        UNION ALL SELECT cand, node FROM f6),
        |f7 AS MATERIALIZED (
        |  SELECT DISTINCT f.cand, e.dst AS node
        |  FROM f6 f JOIN e ON f.node = e.src
        |  WHERE e.dst <> f.cand
        |    AND NOT EXISTS (SELECT 1 FROM set6 p
        |                    WHERE p.cand = f.cand AND p.node = e.dst)),
        |set7 AS MATERIALIZED (SELECT * FROM set6
        |        UNION ALL SELECT cand, node FROM f7),
        |f8 AS MATERIALIZED (
        |  SELECT DISTINCT f.cand, e.dst AS node
        |  FROM f7 f JOIN e ON f.node = e.src
        |  WHERE e.dst <> f.cand
        |    AND NOT EXISTS (SELECT 1 FROM set7 p
        |                    WHERE p.cand = f.cand AND p.node = e.dst)),
        |set8 AS MATERIALIZED (SELECT * FROM set7
        |        UNION ALL SELECT cand, node FROM f8),
        |unf AS (SELECT DISTINCT cand FROM f8),
        |reach AS (
        |  SELECT n.cand, CAST(count(*) AS BIGINT) AS n_reached
        |  FROM nbrs n
        |  WHERE EXISTS (SELECT 1 FROM set8 s
        |                WHERE s.cand = n.cand AND s.node = n.nbr)
        |  GROUP BY n.cand)
        |SELECT nc.cand AS node, nc.n_neighbors,
        |       coalesce(reach.n_reached, 0) AS n_reached,
        |       CAST(CASE WHEN coalesce(reach.n_reached, 0) < nc.n_neighbors
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_articulation,
        |       CAST(CASE WHEN coalesce(reach.n_reached, 0) = nc.n_neighbors
        |                   OR unf.cand IS NULL
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_exact
        |FROM nc LEFT JOIN reach ON nc.cand = reach.cand
        |        LEFT JOIN unf ON nc.cand = unf.cand
        |ORDER BY node""".stripMargin,

    // five unrolled argmin steps: per-step coin join, min(coin)
    // groupBy, equality join back
    "q387_walk_corpus" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM eb
        |     UNION ALL SELECT s, c FROM eb),
        |w0 AS (SELECT node AS start, node FROM (
        |         SELECT DISTINCT src AS node FROM e)),
        |c1 AS MATERIALIZED (
        |  SELECT w.start, e.dst,
        |         md5('dw:' || w.start || ':1:' || e.dst) AS coin
        |  FROM w0 w JOIN e ON w.node = e.src),
        |w1 AS MATERIALIZED (
        |  SELECT c.start, c.dst AS node FROM c1 c
        |  JOIN (SELECT start, min(coin) AS coin FROM c1 GROUP BY start) m
        |    USING (start, coin)),
        |c2 AS MATERIALIZED (
        |  SELECT w.start, e.dst,
        |         md5('dw:' || w.start || ':2:' || e.dst) AS coin
        |  FROM w1 w JOIN e ON w.node = e.src),
        |w2 AS MATERIALIZED (
        |  SELECT c.start, c.dst AS node FROM c2 c
        |  JOIN (SELECT start, min(coin) AS coin FROM c2 GROUP BY start) m
        |    USING (start, coin)),
        |c3 AS MATERIALIZED (
        |  SELECT w.start, e.dst,
        |         md5('dw:' || w.start || ':3:' || e.dst) AS coin
        |  FROM w2 w JOIN e ON w.node = e.src),
        |w3 AS MATERIALIZED (
        |  SELECT c.start, c.dst AS node FROM c3 c
        |  JOIN (SELECT start, min(coin) AS coin FROM c3 GROUP BY start) m
        |    USING (start, coin)),
        |c4 AS MATERIALIZED (
        |  SELECT w.start, e.dst,
        |         md5('dw:' || w.start || ':4:' || e.dst) AS coin
        |  FROM w3 w JOIN e ON w.node = e.src),
        |w4 AS MATERIALIZED (
        |  SELECT c.start, c.dst AS node FROM c4 c
        |  JOIN (SELECT start, min(coin) AS coin FROM c4 GROUP BY start) m
        |    USING (start, coin)),
        |c5 AS MATERIALIZED (
        |  SELECT w.start, e.dst,
        |         md5('dw:' || w.start || ':5:' || e.dst) AS coin
        |  FROM w4 w JOIN e ON w.node = e.src),
        |w5 AS MATERIALIZED (
        |  SELECT c.start, c.dst AS node FROM c5 c
        |  JOIN (SELECT start, min(coin) AS coin FROM c5 GROUP BY start) m
        |    USING (start, coin))
        |SELECT start, step, node FROM (
        |  SELECT start, CAST(0 AS BIGINT) AS step, node FROM w0
        |  UNION ALL SELECT start, CAST(1 AS BIGINT), node FROM w1
        |  UNION ALL SELECT start, CAST(2 AS BIGINT), node FROM w2
        |  UNION ALL SELECT start, CAST(3 AS BIGINT), node FROM w3
        |  UNION ALL SELECT start, CAST(4 AS BIGINT), node FROM w4
        |  UNION ALL SELECT start, CAST(5 AS BIGINT), node FROM w5)
        |ORDER BY start, step""".stripMargin,

    // same canonical pair states over the sequence digraph, same
    // id-ordered triple join, the identical class CASE tree
    "q388_triad_census" ->
      """WITH pk AS (SELECT p_partkey FROM part
        |            WHERE p_brand LIKE 'Brand#2%'),
        |li AS (SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
        |       WHERE l_partkey IN (SELECT p_partkey FROM pk)),
        |de AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_linenumber < b.l_linenumber
        |                     AND a.l_partkey <> b.l_partkey),
        |und AS (SELECT DISTINCT least(u, v) AS x, greatest(u, v) AS y
        |        FROM de),
        |ps AS MATERIALIZED (
        |  SELECT und.x, und.y,
        |         CASE WHEN f.u IS NOT NULL AND r.u IS NOT NULL THEN 'bi'
        |              WHEN f.u IS NOT NULL THEN 'f'
        |              ELSE 'r' END AS st
        |  FROM und
        |  LEFT JOIN de f ON f.u = und.x AND f.v = und.y
        |  LEFT JOIN de r ON r.u = und.y AND r.v = und.x),
        |tri AS (
        |  SELECT e1.st AS s_uv, e2.st AS s_vw, e3.st AS s_uw
        |  FROM ps e1
        |  JOIN ps e2 ON e1.y = e2.x
        |  JOIN ps e3 ON e3.x = e1.x AND e3.y = e2.y),
        |cls AS (
        |  SELECT CASE
        |    WHEN (CASE WHEN s_uv = 'bi' THEN 1 ELSE 0 END +
        |          CASE WHEN s_vw = 'bi' THEN 1 ELSE 0 END +
        |          CASE WHEN s_uw = 'bi' THEN 1 ELSE 0 END) = 3 THEN '300'
        |    WHEN (CASE WHEN s_uv = 'bi' THEN 1 ELSE 0 END +
        |          CASE WHEN s_vw = 'bi' THEN 1 ELSE 0 END +
        |          CASE WHEN s_uw = 'bi' THEN 1 ELSE 0 END) = 2 THEN '210'
        |    WHEN (CASE WHEN s_uv = 'bi' THEN 1 ELSE 0 END +
        |          CASE WHEN s_vw = 'bi' THEN 1 ELSE 0 END +
        |          CASE WHEN s_uw = 'bi' THEN 1 ELSE 0 END) = 0 THEN
        |      CASE WHEN (s_uv = 'f' AND s_vw = 'f' AND s_uw = 'r')
        |             OR (s_uv = 'r' AND s_vw = 'r' AND s_uw = 'f')
        |           THEN '030C' ELSE '030T' END
        |    WHEN s_uv = 'bi' THEN
        |      CASE WHEN s_uw = 'r' AND s_vw = 'r' THEN '120_in'
        |           WHEN s_uw = 'f' AND s_vw = 'f' THEN '120_out'
        |           ELSE '120_mixed' END
        |    WHEN s_uw = 'bi' THEN
        |      CASE WHEN s_uv = 'r' AND s_vw = 'f' THEN '120_in'
        |           WHEN s_uv = 'f' AND s_vw = 'r' THEN '120_out'
        |           ELSE '120_mixed' END
        |    ELSE
        |      CASE WHEN s_uv = 'f' AND s_uw = 'f' THEN '120_in'
        |           WHEN s_uv = 'r' AND s_uw = 'r' THEN '120_out'
        |           ELSE '120_mixed' END
        |    END AS triad_class
        |  FROM tri)
        |SELECT triad_class, CAST(count(*) AS BIGINT) AS n
        |FROM cls GROUP BY triad_class ORDER BY triad_class""".stripMargin,

    // four unrolled mat-vec levels: exact sums, one // 8 per
    // node-level, running total
    "q381_katz" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM eb
        |     UNION ALL SELECT s, c FROM eb),
        |v0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS v FROM (
        |         SELECT DISTINCT src AS node FROM e)),
        |v1 AS MATERIALIZED (
        |  SELECT e.dst AS node, CAST(sum(v.v) AS BIGINT) // 8 AS v
        |  FROM v0 v JOIN e ON v.node = e.src GROUP BY e.dst),
        |v2 AS MATERIALIZED (
        |  SELECT e.dst AS node, CAST(sum(v.v) AS BIGINT) // 8 AS v
        |  FROM v1 v JOIN e ON v.node = e.src GROUP BY e.dst),
        |v3 AS MATERIALIZED (
        |  SELECT e.dst AS node, CAST(sum(v.v) AS BIGINT) // 8 AS v
        |  FROM v2 v JOIN e ON v.node = e.src GROUP BY e.dst),
        |v4 AS MATERIALIZED (
        |  SELECT e.dst AS node, CAST(sum(v.v) AS BIGINT) // 8 AS v
        |  FROM v3 v JOIN e ON v.node = e.src GROUP BY e.dst)
        |SELECT node, CAST(sum(v) AS BIGINT) AS katz_fp FROM (
        |  SELECT node, v FROM v1
        |  UNION ALL SELECT node, v FROM v2
        |  UNION ALL SELECT node, v FROM v3
        |  UNION ALL SELECT node, v FROM v4)
        |GROUP BY node ORDER BY node""".stripMargin,

    // same customer-pivoted wedge aggregation; C(w,2) by the exact
    // even-product floor division
    "q377_butterfly" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey AS l, l_suppkey AS r
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |p AS MATERIALIZED (
        |  SELECT a.r AS r1, b.r AS r2, CAST(count(*) AS BIGINT) AS w
        |  FROM eb a JOIN eb b ON a.l = b.l AND a.r < b.r
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |bfp AS (SELECT r1, r2, (w * (w - 1)) // 2 AS bf FROM p)
        |SELECT node, CAST(sum(bf) AS BIGINT) AS bf FROM (
        |  SELECT r1 AS node, bf FROM bfp
        |  UNION ALL SELECT r2, bf FROM bfp)
        |GROUP BY node ORDER BY node""".stripMargin,

    // three Luby rounds unrolled: md5 priorities, per-round live-
    // neighbor minimum, joiner test (no live neighbor OR strictly
    // smallest), neighbor removal, live-set shrink
    "q379_mis" ->
      """WITH ib AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |        FROM ib a JOIN ib b ON a.l_orderkey = b.l_orderkey
        |                           AND a.l_partkey < b.l_partkey),
        |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
        |     UNION ALL SELECT v, u FROM und),
        |l0 AS MATERIALIZED (
        |  SELECT node, md5('mis:' || node) AS p
        |  FROM (SELECT DISTINCT src AS node FROM e)),
        |nm1 AS (SELECT e.dst AS node, min(l.p) AS np
        |        FROM l0 l JOIN e ON l.node = e.src
        |        WHERE e.dst IN (SELECT node FROM l0)
        |        GROUP BY e.dst),
        |m1 AS MATERIALIZED (
        |  SELECT l.node FROM l0 l LEFT JOIN nm1 ON l.node = nm1.node
        |  WHERE nm1.np IS NULL OR l.p < nm1.np),
        |r1 AS MATERIALIZED (
        |  SELECT DISTINCT e.dst AS node
        |  FROM m1 JOIN e ON m1.node = e.src
        |  WHERE e.dst IN (SELECT node FROM l0)),
        |l1 AS MATERIALIZED (
        |  SELECT node, p FROM l0
        |  WHERE node NOT IN (SELECT node FROM m1)
        |    AND node NOT IN (SELECT node FROM r1)),
        |nm2 AS (SELECT e.dst AS node, min(l.p) AS np
        |        FROM l1 l JOIN e ON l.node = e.src
        |        WHERE e.dst IN (SELECT node FROM l1)
        |        GROUP BY e.dst),
        |m2 AS MATERIALIZED (
        |  SELECT l.node FROM l1 l LEFT JOIN nm2 ON l.node = nm2.node
        |  WHERE nm2.np IS NULL OR l.p < nm2.np),
        |r2 AS MATERIALIZED (
        |  SELECT DISTINCT e.dst AS node
        |  FROM m2 JOIN e ON m2.node = e.src
        |  WHERE e.dst IN (SELECT node FROM l1)),
        |l2 AS MATERIALIZED (
        |  SELECT node, p FROM l1
        |  WHERE node NOT IN (SELECT node FROM m2)
        |    AND node NOT IN (SELECT node FROM r2)),
        |nm3 AS (SELECT e.dst AS node, min(l.p) AS np
        |        FROM l2 l JOIN e ON l.node = e.src
        |        WHERE e.dst IN (SELECT node FROM l2)
        |        GROUP BY e.dst),
        |m3 AS MATERIALIZED (
        |  SELECT l.node FROM l2 l LEFT JOIN nm3 ON l.node = nm3.node
        |  WHERE nm3.np IS NULL OR l.p < nm3.np),
        |r3 AS MATERIALIZED (
        |  SELECT DISTINCT e.dst AS node
        |  FROM m3 JOIN e ON m3.node = e.src
        |  WHERE e.dst IN (SELECT node FROM l2)),
        |l3 AS (
        |  SELECT node FROM l2
        |  WHERE node NOT IN (SELECT node FROM m3)
        |    AND node NOT IN (SELECT node FROM r3))
        |SELECT node, status, round FROM (
        |  SELECT node, 'mis' AS status, CAST(1 AS BIGINT) AS round FROM m1
        |  UNION ALL SELECT node, 'removed', CAST(1 AS BIGINT) FROM r1
        |  UNION ALL SELECT node, 'mis', CAST(2 AS BIGINT) FROM m2
        |  UNION ALL SELECT node, 'removed', CAST(2 AS BIGINT) FROM r2
        |  UNION ALL SELECT node, 'mis', CAST(3 AS BIGINT) FROM m3
        |  UNION ALL SELECT node, 'removed', CAST(3 AS BIGINT) FROM r3
        |  UNION ALL SELECT node, 'live', CAST(0 AS BIGINT) FROM l3)
        |ORDER BY node""".stripMargin,

    // same sequence digraph, L↔ via the transposed semi-join, the
    // identical IEEE expression tree for r/density/rho (exact BIGINT
    // operands, one 6dp rounding each)
    "q374_reciprocity" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_linenumber < b.l_linenumber
        |   AND a.l_partkey <> b.l_partkey),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |mr AS (SELECT CAST(count(*) AS BIGINT) AS m_recip FROM e
        |       WHERE EXISTS (SELECT 1 FROM e r
        |                     WHERE r.u = e.v AND r.v = e.u)),
        |nn AS (SELECT CAST(count(DISTINCT node) AS BIGINT) AS n FROM (
        |         SELECT u AS node FROM e UNION ALL SELECT v FROM e))
        |SELECT n, m, m_recip,
        |       round(CAST(m_recip AS DOUBLE) / CAST(m AS DOUBLE), 6)
        |         AS r_recip,
        |       round(CAST(m AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6)
        |         AS density,
        |       round((CAST(m_recip AS DOUBLE) / CAST(m AS DOUBLE) -
        |              CAST(m AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) /
        |             (1.0 - CAST(m AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)),
        |             6) AS rho
        |FROM mm, mr, nn""".stripMargin,

    // per-node Watts-Strogatz clustering: degree from the symmetrized
    // ends, per-corner triangle counts from the INDEPENDENT
    // id-ordered triple join (q171's oracle kernel), ratio by one
    // floor division into 1e-6 units
    "q375_local_clustering" ->
      """WITH ib AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM ib a JOIN ib b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY node),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1
        |        JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (SELECT a AS node FROM tri
        |            UNION ALL SELECT b FROM tri
        |            UNION ALL SELECT c FROM tri),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
        |       FROM corners GROUP BY node)
        |SELECT d.node, d.deg, coalesce(tc.tri, 0) AS tri,
        |       CASE WHEN d.deg <= 1 THEN 0
        |            ELSE (2 * coalesce(tc.tri, 0) * 1000000)
        |                 // (d.deg * (d.deg - 1)) END AS lcc_scaled
        |FROM deg d LEFT JOIN tc ON d.node = tc.node
        |ORDER BY d.node""".stripMargin,

    // sampled-source Brandes unrolled: md5-ordered 8-source sample,
    // 4 forward BFS levels keyed (s, node) accumulating exact BIGINT
    // sigma (NOT EXISTS anti against the settled union), then the
    // backward dependency levels with each term quantized by ONE
    // floor division (sig*(1e6+dl)//sw — positive operands, so
    // DuckDB // ≡ Spark div), summed exactly as BIGINTs
    "q371_betweenness" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM eb
        |     UNION ALL SELECT s, c FROM eb),
        |srcs AS (SELECT c AS node FROM (SELECT DISTINCT c FROM eb)
        |         ORDER BY md5('bc:' || c), c LIMIT 8),
        |f0 AS MATERIALIZED (
        |  SELECT node AS s, node, CAST(1 AS BIGINT) AS sig FROM srcs),
        |set0 AS MATERIALIZED (SELECT s, node FROM f0),
        |f1 AS MATERIALIZED (
        |  SELECT f.s, e.dst AS node, CAST(sum(f.sig) AS BIGINT) AS sig
        |  FROM f0 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set0 p
        |                    WHERE p.s = f.s AND p.node = e.dst)
        |  GROUP BY 1, 2),
        |set1 AS MATERIALIZED (SELECT * FROM set0
        |        UNION ALL SELECT s, node FROM f1),
        |f2 AS MATERIALIZED (
        |  SELECT f.s, e.dst AS node, CAST(sum(f.sig) AS BIGINT) AS sig
        |  FROM f1 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set1 p
        |                    WHERE p.s = f.s AND p.node = e.dst)
        |  GROUP BY 1, 2),
        |set2 AS MATERIALIZED (SELECT * FROM set1
        |        UNION ALL SELECT s, node FROM f2),
        |f3 AS MATERIALIZED (
        |  SELECT f.s, e.dst AS node, CAST(sum(f.sig) AS BIGINT) AS sig
        |  FROM f2 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set2 p
        |                    WHERE p.s = f.s AND p.node = e.dst)
        |  GROUP BY 1, 2),
        |set3 AS MATERIALIZED (SELECT * FROM set2
        |        UNION ALL SELECT s, node FROM f3),
        |f4 AS MATERIALIZED (
        |  SELECT f.s, e.dst AS node, CAST(sum(f.sig) AS BIGINT) AS sig
        |  FROM f3 f JOIN e ON f.node = e.src
        |  WHERE NOT EXISTS (SELECT 1 FROM set3 p
        |                    WHERE p.s = f.s AND p.node = e.dst)
        |  GROUP BY 1, 2),
        |b4 AS MATERIALIZED (
        |  SELECT s, node, sig, CAST(0 AS BIGINT) AS dl FROM f4),
        |b3 AS MATERIALIZED (
        |  SELECT f.s, f.node, f.sig,
        |         coalesce(CAST(sum((f.sig * (1000000 + w.dl)) // w.sig)
        |           AS BIGINT), 0) AS dl
        |  FROM f3 f
        |  LEFT JOIN e ON f.node = e.src
        |  LEFT JOIN b4 w ON w.s = f.s AND w.node = e.dst
        |  GROUP BY 1, 2, 3),
        |b2 AS MATERIALIZED (
        |  SELECT f.s, f.node, f.sig,
        |         coalesce(CAST(sum((f.sig * (1000000 + w.dl)) // w.sig)
        |           AS BIGINT), 0) AS dl
        |  FROM f2 f
        |  LEFT JOIN e ON f.node = e.src
        |  LEFT JOIN b3 w ON w.s = f.s AND w.node = e.dst
        |  GROUP BY 1, 2, 3),
        |b1 AS MATERIALIZED (
        |  SELECT f.s, f.node, f.sig,
        |         coalesce(CAST(sum((f.sig * (1000000 + w.dl)) // w.sig)
        |           AS BIGINT), 0) AS dl
        |  FROM f1 f
        |  LEFT JOIN e ON f.node = e.src
        |  LEFT JOIN b2 w ON w.s = f.s AND w.node = e.dst
        |  GROUP BY 1, 2, 3),
        |b0 AS MATERIALIZED (
        |  SELECT f.s, f.node, f.sig,
        |         coalesce(CAST(sum((f.sig * (1000000 + w.dl)) // w.sig)
        |           AS BIGINT), 0) AS dl
        |  FROM f0 f
        |  LEFT JOIN e ON f.node = e.src
        |  LEFT JOIN b1 w ON w.s = f.s AND w.node = e.dst
        |  GROUP BY 1, 2, 3)
        |SELECT node, CAST(sum(dl) AS BIGINT) AS bc_scaled FROM (
        |  SELECT s, node, dl FROM b0
        |  UNION ALL SELECT s, node, dl FROM b1
        |  UNION ALL SELECT s, node, dl FROM b2
        |  UNION ALL SELECT s, node, dl FROM b3
        |  UNION ALL SELECT s, node, dl FROM b4)
        |WHERE node <> s GROUP BY node HAVING sum(dl) > 0
        |ORDER BY node""".stripMargin,

    // same three peel rounds unrolled (each round: symmetrized
    // adjacency, wedge-closed support count, threshold filter), then
    // the final left-joined support readout
    "q365_ktruss" ->
      """WITH pk AS (SELECT p_partkey FROM part
        |            WHERE p_brand LIKE 'Brand#2%'),
        |ib AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |       WHERE l_partkey IN (SELECT p_partkey FROM pk)),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM ib a JOIN ib b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey),
        |a0 AS MATERIALIZED (SELECT u AS s, v AS t FROM e0
        |                    UNION ALL SELECT v, u FROM e0),
        |s0 AS MATERIALIZED (
        |  SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
        |  FROM e0 e JOIN a0 x ON e.u = x.s AND x.t <> e.v
        |            JOIN a0 y ON y.s = e.v AND y.t = x.t
        |  GROUP BY e.u, e.v),
        |e1 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e0 e
        |  JOIN s0 s ON e.u = s.u AND e.v = s.v WHERE s.sup >= 4),
        |a1 AS MATERIALIZED (SELECT u AS s, v AS t FROM e1
        |                    UNION ALL SELECT v, u FROM e1),
        |s1 AS MATERIALIZED (
        |  SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
        |  FROM e1 e JOIN a1 x ON e.u = x.s AND x.t <> e.v
        |            JOIN a1 y ON y.s = e.v AND y.t = x.t
        |  GROUP BY e.u, e.v),
        |e2 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e1 e
        |  JOIN s1 s ON e.u = s.u AND e.v = s.v WHERE s.sup >= 4),
        |a2 AS MATERIALIZED (SELECT u AS s, v AS t FROM e2
        |                    UNION ALL SELECT v, u FROM e2),
        |s2 AS MATERIALIZED (
        |  SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
        |  FROM e2 e JOIN a2 x ON e.u = x.s AND x.t <> e.v
        |            JOIN a2 y ON y.s = e.v AND y.t = x.t
        |  GROUP BY e.u, e.v),
        |e3 AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e2 e
        |  JOIN s2 s ON e.u = s.u AND e.v = s.v WHERE s.sup >= 4),
        |a3 AS MATERIALIZED (SELECT u AS s, v AS t FROM e3
        |                    UNION ALL SELECT v, u FROM e3),
        |s3 AS MATERIALIZED (
        |  SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
        |  FROM e3 e JOIN a3 x ON e.u = x.s AND x.t <> e.v
        |            JOIN a3 y ON y.s = e.v AND y.t = x.t
        |  GROUP BY e.u, e.v)
        |SELECT e.u, e.v, coalesce(s.sup, CAST(0 AS BIGINT)) AS sup
        |FROM e3 e LEFT JOIN s3 s ON e.u = s.u AND e.v = s.v
        |ORDER BY e.u, e.v""".stripMargin,

    // the same 3 hashmin supersteps, then BOTH louvain rounds
    // unrolled: per round the neighbor-community counts, community
    // degrees, exact-integer ΔQ candidates, per-node best move, the
    // locally-dominant two-endpoint rank filter, and the label apply —
    // then q358's modularity fraction computed over the INIT and the
    // REFINED labels (one rounded double each)
    "q363_louvain_refine" ->
      """WITH eb AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity = 1),
        |e AS MATERIALIZED (SELECT c AS src, s1 AS dst FROM eb
        |      UNION ALL SELECT s1, c FROM eb),
        |deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY 1),
        |mt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS mm FROM eb),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |l1 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l0 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l0 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |l2 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l1 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l1 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |r0 AS MATERIALIZED (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS lab
        |  FROM l2 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l2 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |k1 AS MATERIALIZED (SELECT e.src AS node, l.lab AS nb_lab,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM e JOIN r0 l ON e.dst = l.node GROUP BY 1, 2),
        |dc1 AS MATERIALIZED (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dlab
        |        FROM r0 l JOIN deg d ON l.node = d.node GROUP BY 1),
        |cand1 AS (
        |  SELECT k.node, cur.lab AS a, k.nb_lab AS b,
        |         4 * mt.mm * (k.k - coalesce(ka.k, 0)) -
        |         2 * d.d * (db.dlab - da.dlab + d.d) AS dq
        |  FROM k1 k
        |  JOIN r0 cur ON k.node = cur.node
        |  JOIN deg d ON k.node = d.node
        |  JOIN dc1 da ON cur.lab = da.lab
        |  JOIN dc1 db ON k.nb_lab = db.lab
        |  LEFT JOIN k1 ka ON ka.node = k.node AND ka.nb_lab = cur.lab
        |  CROSS JOIN mt
        |  WHERE k.nb_lab <> cur.lab),
        |best1 AS (SELECT node, a, b, dq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY node
        |              ORDER BY dq DESC, b) AS rn
        |    FROM cand1 WHERE dq > 0) WHERE rn = 1),
        |ex1 AS (SELECT a AS comm, node, b, dq FROM best1
        |        UNION ALL SELECT b, node, b, dq FROM best1),
        |app1 AS (SELECT node, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comm
        |              ORDER BY dq DESC, node, b) AS rk
        |    FROM ex1) GROUP BY node, b HAVING max(rk) = 1),
        |r1 AS MATERIALIZED (SELECT l.node, coalesce(a.b, l.lab) AS lab
        |       FROM r0 l LEFT JOIN app1 a ON l.node = a.node),
        |k2 AS MATERIALIZED (SELECT e.src AS node, l.lab AS nb_lab,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM e JOIN r1 l ON e.dst = l.node GROUP BY 1, 2),
        |dc2 AS MATERIALIZED (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dlab
        |        FROM r1 l JOIN deg d ON l.node = d.node GROUP BY 1),
        |cand2 AS (
        |  SELECT k.node, cur.lab AS a, k.nb_lab AS b,
        |         4 * mt.mm * (k.k - coalesce(ka.k, 0)) -
        |         2 * d.d * (db.dlab - da.dlab + d.d) AS dq
        |  FROM k2 k
        |  JOIN r1 cur ON k.node = cur.node
        |  JOIN deg d ON k.node = d.node
        |  JOIN dc2 da ON cur.lab = da.lab
        |  JOIN dc2 db ON k.nb_lab = db.lab
        |  LEFT JOIN k2 ka ON ka.node = k.node AND ka.nb_lab = cur.lab
        |  CROSS JOIN mt
        |  WHERE k.nb_lab <> cur.lab),
        |best2 AS (SELECT node, a, b, dq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY node
        |              ORDER BY dq DESC, b) AS rn
        |    FROM cand2 WHERE dq > 0) WHERE rn = 1),
        |ex2 AS (SELECT a AS comm, node, b, dq FROM best2
        |        UNION ALL SELECT b, node, b, dq FROM best2),
        |app2 AS (SELECT node, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comm
        |              ORDER BY dq DESC, node, b) AS rk
        |    FROM ex2) GROUP BY node, b HAVING max(rk) = 1),
        |r2 AS MATERIALIZED (SELECT l.node, coalesce(a.b, l.lab) AS lab
        |       FROM r1 l LEFT JOIN app2 a ON l.node = a.node),
        |qi AS (
        |  SELECT round(CAST(4 * me.m * me.e_in - st.d2 AS DOUBLE) /
        |         (4 * me.m * me.m), 6) AS q
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(CASE WHEN lc.lab = ls.lab THEN 1 ELSE 0 END)
        |                 AS BIGINT) AS e_in
        |        FROM eb JOIN r0 lc ON eb.c = lc.node
        |                JOIN r0 ls ON eb.s1 = ls.node) me
        |  CROSS JOIN (SELECT CAST(sum(dc * dc) AS BIGINT) AS d2
        |              FROM (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dc
        |                    FROM deg d JOIN r0 l ON d.node = l.node
        |                    GROUP BY l.lab)) st),
        |qr AS (
        |  SELECT round(CAST(4 * me.m * me.e_in - st.d2 AS DOUBLE) /
        |         (4 * me.m * me.m), 6) AS q
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(CASE WHEN lc.lab = ls.lab THEN 1 ELSE 0 END)
        |                 AS BIGINT) AS e_in
        |        FROM eb JOIN r2 lc ON eb.c = lc.node
        |                JOIN r2 ls ON eb.s1 = ls.node) me
        |  CROSS JOIN (SELECT CAST(sum(dc * dc) AS BIGINT) AS d2
        |              FROM (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dc
        |                    FROM deg d JOIN r2 l ON d.node = l.node
        |                    GROUP BY l.lab)) st)
        |SELECT r2.node, r2.lab AS community, qi.q AS q_init, qr.q AS q_refined
        |FROM r2 CROSS JOIN qi CROSS JOIN qr
        |ORDER BY node""".stripMargin,

    // q363's verified init + ONE level-1 move round (r1 only —
    // q367 intentionally stops level 1 early so level 2 has coarse
    // merge work; see the DataFrame-side comment; q363's own unroll
    // runs two rounds), then the pyramid step: contraction to the
    // weighted super-graph (inter weights both directions, intra as
    // single self-loops), TWO weighted move rounds (gain scale
    // 2·M₂ = Σw; self-loops excluded from k, included in degree),
    // label expansion, and the base-graph modularity of both levels
    "q367_louvain_level2" ->
      """WITH eb AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity = 1),
        |e AS MATERIALIZED (SELECT c AS src, s1 AS dst FROM eb
        |      UNION ALL SELECT s1, c FROM eb),
        |deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY 1),
        |mt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS mm FROM eb),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |l1 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l0 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l0 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |l2 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l1 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l1 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |r0 AS MATERIALIZED (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS lab
        |  FROM l2 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l2 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |k1 AS MATERIALIZED (SELECT e.src AS node, l.lab AS nb_lab,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM e JOIN r0 l ON e.dst = l.node GROUP BY 1, 2),
        |dc1 AS MATERIALIZED (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dlab
        |        FROM r0 l JOIN deg d ON l.node = d.node GROUP BY 1),
        |cand1 AS (
        |  SELECT k.node, cur.lab AS a, k.nb_lab AS b,
        |         4 * mt.mm * (k.k - coalesce(ka.k, 0)) -
        |         2 * d.d * (db.dlab - da.dlab + d.d) AS dq
        |  FROM k1 k
        |  JOIN r0 cur ON k.node = cur.node
        |  JOIN deg d ON k.node = d.node
        |  JOIN dc1 da ON cur.lab = da.lab
        |  JOIN dc1 db ON k.nb_lab = db.lab
        |  LEFT JOIN k1 ka ON ka.node = k.node AND ka.nb_lab = cur.lab
        |  CROSS JOIN mt
        |  WHERE k.nb_lab <> cur.lab),
        |best1 AS (SELECT node, a, b, dq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY node
        |              ORDER BY dq DESC, b) AS rn
        |    FROM cand1 WHERE dq > 0) WHERE rn = 1),
        |ex1 AS (SELECT a AS comm, node, b, dq FROM best1
        |        UNION ALL SELECT b, node, b, dq FROM best1),
        |app1 AS (SELECT node, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comm
        |              ORDER BY dq DESC, node, b) AS rk
        |    FROM ex1) GROUP BY node, b HAVING max(rk) = 1),
        |r1 AS MATERIALIZED (SELECT l.node, coalesce(a.b, l.lab) AS lab
        |       FROM r0 l LEFT JOIN app1 a ON l.node = a.node),
        |sup AS MATERIALIZED (
        |  SELECT la.lab AS src, lb.lab AS dst, CAST(count(*) AS BIGINT) AS w
        |  FROM e JOIN r1 la ON e.src = la.node
        |         JOIN r1 lb ON e.dst = lb.node
        |  GROUP BY 1, 2),
        |sdeg AS MATERIALIZED (SELECT src AS node, CAST(sum(w) AS BIGINT) AS d
        |        FROM sup GROUP BY 1),
        |sm AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM sup),
        |s0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sup),
        |sk1 AS MATERIALIZED (
        |  SELECT s.src AS node, l.lab AS nb_lab, CAST(sum(s.w) AS BIGINT) AS k
        |  FROM sup s JOIN s0 l ON s.dst = l.node
        |  WHERE s.src <> s.dst GROUP BY 1, 2),
        |sdc1 AS MATERIALIZED (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dlab
        |        FROM s0 l JOIN sdeg d ON l.node = d.node GROUP BY 1),
        |scand1 AS (
        |  SELECT k.node, cur.lab AS a, k.nb_lab AS b,
        |         2 * sm.m2 * (k.k - coalesce(ka.k, 0)) -
        |         2 * d.d * (db.dlab - da.dlab + d.d) AS dq
        |  FROM sk1 k
        |  JOIN s0 cur ON k.node = cur.node
        |  JOIN sdeg d ON k.node = d.node
        |  JOIN sdc1 da ON cur.lab = da.lab
        |  JOIN sdc1 db ON k.nb_lab = db.lab
        |  LEFT JOIN sk1 ka ON ka.node = k.node AND ka.nb_lab = cur.lab
        |  CROSS JOIN sm
        |  WHERE k.nb_lab <> cur.lab),
        |sbest1 AS (SELECT node, a, b, dq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY node
        |              ORDER BY dq DESC, b) AS rn
        |    FROM scand1 WHERE dq > 0) WHERE rn = 1),
        |sex1 AS (SELECT a AS comm, node, b, dq FROM sbest1
        |         UNION ALL SELECT b, node, b, dq FROM sbest1),
        |sapp1 AS (SELECT node, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comm
        |              ORDER BY dq DESC, node, b) AS rk
        |    FROM sex1) GROUP BY node, b HAVING max(rk) = 1),
        |s1f AS MATERIALIZED (SELECT l.node, coalesce(a.b, l.lab) AS lab
        |       FROM s0 l LEFT JOIN sapp1 a ON l.node = a.node),
        |sk2 AS MATERIALIZED (
        |  SELECT s.src AS node, l.lab AS nb_lab, CAST(sum(s.w) AS BIGINT) AS k
        |  FROM sup s JOIN s1f l ON s.dst = l.node
        |  WHERE s.src <> s.dst GROUP BY 1, 2),
        |sdc2 AS MATERIALIZED (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dlab
        |        FROM s1f l JOIN sdeg d ON l.node = d.node GROUP BY 1),
        |scand2 AS (
        |  SELECT k.node, cur.lab AS a, k.nb_lab AS b,
        |         2 * sm.m2 * (k.k - coalesce(ka.k, 0)) -
        |         2 * d.d * (db.dlab - da.dlab + d.d) AS dq
        |  FROM sk2 k
        |  JOIN s1f cur ON k.node = cur.node
        |  JOIN sdeg d ON k.node = d.node
        |  JOIN sdc2 da ON cur.lab = da.lab
        |  JOIN sdc2 db ON k.nb_lab = db.lab
        |  LEFT JOIN sk2 ka ON ka.node = k.node AND ka.nb_lab = cur.lab
        |  CROSS JOIN sm
        |  WHERE k.nb_lab <> cur.lab),
        |sbest2 AS (SELECT node, a, b, dq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY node
        |              ORDER BY dq DESC, b) AS rn
        |    FROM scand2 WHERE dq > 0) WHERE rn = 1),
        |sex2 AS (SELECT a AS comm, node, b, dq FROM sbest2
        |         UNION ALL SELECT b, node, b, dq FROM sbest2),
        |sapp2 AS (SELECT node, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comm
        |              ORDER BY dq DESC, node, b) AS rk
        |    FROM sex2) GROUP BY node, b HAVING max(rk) = 1),
        |s2f AS MATERIALIZED (SELECT l.node, coalesce(a.b, l.lab) AS lab
        |       FROM s1f l LEFT JOIN sapp2 a ON l.node = a.node),
        |lv2 AS MATERIALIZED (
        |  SELECT r.node, s.lab FROM r1 r JOIN s2f s ON r.lab = s.node),
        |q1 AS (
        |  SELECT round(CAST(4 * me.m * me.e_in - st.d2 AS DOUBLE) /
        |         (4 * me.m * me.m), 6) AS q
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(CASE WHEN lc.lab = ls.lab THEN 1 ELSE 0 END)
        |                 AS BIGINT) AS e_in
        |        FROM eb JOIN r1 lc ON eb.c = lc.node
        |                JOIN r1 ls ON eb.s1 = ls.node) me
        |  CROSS JOIN (SELECT CAST(sum(dc * dc) AS BIGINT) AS d2
        |              FROM (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dc
        |                    FROM deg d JOIN r1 l ON d.node = l.node
        |                    GROUP BY l.lab)) st),
        |q2 AS (
        |  SELECT round(CAST(4 * me.m * me.e_in - st.d2 AS DOUBLE) /
        |         (4 * me.m * me.m), 6) AS q
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(CASE WHEN lc.lab = ls.lab THEN 1 ELSE 0 END)
        |                 AS BIGINT) AS e_in
        |        FROM eb JOIN lv2 lc ON eb.c = lc.node
        |                JOIN lv2 ls ON eb.s1 = ls.node) me
        |  CROSS JOIN (SELECT CAST(sum(dc * dc) AS BIGINT) AS d2
        |              FROM (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dc
        |                    FROM deg d JOIN lv2 l ON d.node = l.node
        |                    GROUP BY l.lab)) st)
        |SELECT lv2.node, lv2.lab AS community, q1.q AS q_level1,
        |       q2.q AS q_level2
        |FROM lv2 CROSS JOIN q1 CROSS JOIN q2
        |ORDER BY node""".stripMargin,

    // the complete pyramid unrolled: singleton init, then per level
    // ONE move round (unit-weight on the base, weighted 2·M₂-scale on
    // each contracted super-graph — q367's verified CTE blocks) + the
    // weighted contraction, expansions back to base nodes, and all
    // three base-graph modularity fractions
    "q370_louvain_pyramid" ->
      """WITH eb AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity = 1),
        |e AS MATERIALIZED (SELECT c AS src, s1 AS dst FROM eb
        |      UNION ALL SELECT s1, c FROM eb),
        |deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY 1),
        |mt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS mm FROM eb),
        |r0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM e),
        |k1 AS MATERIALIZED (SELECT e.src AS node, l.lab AS nb_lab,
        |              CAST(count(*) AS BIGINT) AS k
        |       FROM e JOIN r0 l ON e.dst = l.node GROUP BY 1, 2),
        |dc1 AS MATERIALIZED (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dlab
        |        FROM r0 l JOIN deg d ON l.node = d.node GROUP BY 1),
        |cand1 AS (
        |  SELECT k.node, cur.lab AS a, k.nb_lab AS b,
        |         4 * mt.mm * (k.k - coalesce(ka.k, 0)) -
        |         2 * d.d * (db.dlab - da.dlab + d.d) AS dq
        |  FROM k1 k
        |  JOIN r0 cur ON k.node = cur.node
        |  JOIN deg d ON k.node = d.node
        |  JOIN dc1 da ON cur.lab = da.lab
        |  JOIN dc1 db ON k.nb_lab = db.lab
        |  LEFT JOIN k1 ka ON ka.node = k.node AND ka.nb_lab = cur.lab
        |  CROSS JOIN mt
        |  WHERE k.nb_lab <> cur.lab),
        |best1 AS (SELECT node, a, b, dq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY node
        |              ORDER BY dq DESC, b) AS rn
        |    FROM cand1 WHERE dq > 0) WHERE rn = 1),
        |ex1 AS (SELECT a AS comm, node, b, dq FROM best1
        |        UNION ALL SELECT b, node, b, dq FROM best1),
        |app1 AS (SELECT node, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comm
        |              ORDER BY dq DESC, node, b) AS rk
        |    FROM ex1) GROUP BY node, b HAVING max(rk) = 1),
        |r1 AS MATERIALIZED (SELECT l.node, coalesce(a.b, l.lab) AS lab
        |       FROM r0 l LEFT JOIN app1 a ON l.node = a.node),
        |sup1 AS MATERIALIZED (
        |  SELECT la.lab AS src, lb.lab AS dst, CAST(count(*) AS BIGINT) AS w
        |  FROM e JOIN r1 la ON e.src = la.node
        |         JOIN r1 lb ON e.dst = lb.node
        |  GROUP BY 1, 2),
        |tdeg AS MATERIALIZED (SELECT src AS node, CAST(sum(w) AS BIGINT) AS d
        |        FROM sup1 GROUP BY 1),
        |tm AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM sup1),
        |t0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sup1),
        |tk1 AS MATERIALIZED (
        |  SELECT s.src AS node, l.lab AS nb_lab, CAST(sum(s.w) AS BIGINT) AS k
        |  FROM sup1 s JOIN t0 l ON s.dst = l.node
        |  WHERE s.src <> s.dst GROUP BY 1, 2),
        |tdc1 AS MATERIALIZED (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dlab
        |        FROM t0 l JOIN tdeg d ON l.node = d.node GROUP BY 1),
        |tcand1 AS (
        |  SELECT k.node, cur.lab AS a, k.nb_lab AS b,
        |         2 * tm.m2 * (k.k - coalesce(ka.k, 0)) -
        |         2 * d.d * (db.dlab - da.dlab + d.d) AS dq
        |  FROM tk1 k
        |  JOIN t0 cur ON k.node = cur.node
        |  JOIN tdeg d ON k.node = d.node
        |  JOIN tdc1 da ON cur.lab = da.lab
        |  JOIN tdc1 db ON k.nb_lab = db.lab
        |  LEFT JOIN tk1 ka ON ka.node = k.node AND ka.nb_lab = cur.lab
        |  CROSS JOIN tm
        |  WHERE k.nb_lab <> cur.lab),
        |tbest1 AS (SELECT node, a, b, dq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY node
        |              ORDER BY dq DESC, b) AS rn
        |    FROM tcand1 WHERE dq > 0) WHERE rn = 1),
        |tex1 AS (SELECT a AS comm, node, b, dq FROM tbest1
        |         UNION ALL SELECT b, node, b, dq FROM tbest1),
        |tapp1 AS (SELECT node, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comm
        |              ORDER BY dq DESC, node, b) AS rk
        |    FROM tex1) GROUP BY node, b HAVING max(rk) = 1),
        |t1 AS MATERIALIZED (SELECT l.node, coalesce(a.b, l.lab) AS lab
        |       FROM t0 l LEFT JOIN tapp1 a ON l.node = a.node),
        |lv2 AS MATERIALIZED (
        |  SELECT r.node, t.lab FROM r1 r JOIN t1 t ON r.lab = t.node),
        |sup2 AS MATERIALIZED (
        |  SELECT ta.lab AS src, tb.lab AS dst, CAST(sum(s.w) AS BIGINT) AS w
        |  FROM sup1 s JOIN t1 ta ON s.src = ta.node
        |              JOIN t1 tb ON s.dst = tb.node
        |  GROUP BY 1, 2),
        |udeg AS MATERIALIZED (SELECT src AS node, CAST(sum(w) AS BIGINT) AS d
        |        FROM sup2 GROUP BY 1),
        |um AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM sup2),
        |u0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sup2),
        |uk1 AS MATERIALIZED (
        |  SELECT s.src AS node, l.lab AS nb_lab, CAST(sum(s.w) AS BIGINT) AS k
        |  FROM sup2 s JOIN u0 l ON s.dst = l.node
        |  WHERE s.src <> s.dst GROUP BY 1, 2),
        |udc1 AS MATERIALIZED (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dlab
        |        FROM u0 l JOIN udeg d ON l.node = d.node GROUP BY 1),
        |ucand1 AS (
        |  SELECT k.node, cur.lab AS a, k.nb_lab AS b,
        |         2 * um.m2 * (k.k - coalesce(ka.k, 0)) -
        |         2 * d.d * (db.dlab - da.dlab + d.d) AS dq
        |  FROM uk1 k
        |  JOIN u0 cur ON k.node = cur.node
        |  JOIN udeg d ON k.node = d.node
        |  JOIN udc1 da ON cur.lab = da.lab
        |  JOIN udc1 db ON k.nb_lab = db.lab
        |  LEFT JOIN uk1 ka ON ka.node = k.node AND ka.nb_lab = cur.lab
        |  CROSS JOIN um
        |  WHERE k.nb_lab <> cur.lab),
        |ubest1 AS (SELECT node, a, b, dq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY node
        |              ORDER BY dq DESC, b) AS rn
        |    FROM ucand1 WHERE dq > 0) WHERE rn = 1),
        |uex1 AS (SELECT a AS comm, node, b, dq FROM ubest1
        |         UNION ALL SELECT b, node, b, dq FROM ubest1),
        |uapp1 AS (SELECT node, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comm
        |              ORDER BY dq DESC, node, b) AS rk
        |    FROM uex1) GROUP BY node, b HAVING max(rk) = 1),
        |u1 AS MATERIALIZED (SELECT l.node, coalesce(a.b, l.lab) AS lab
        |       FROM u0 l LEFT JOIN uapp1 a ON l.node = a.node),
        |lv3 AS MATERIALIZED (
        |  SELECT l.node, u.lab FROM lv2 l JOIN u1 u ON l.lab = u.node),
        |q1 AS (
        |  SELECT round(CAST(4 * me.m * me.e_in - st.d2 AS DOUBLE) /
        |         (4 * me.m * me.m), 6) AS q
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(CASE WHEN lc.lab = ls.lab THEN 1 ELSE 0 END)
        |                 AS BIGINT) AS e_in
        |        FROM eb JOIN r1 lc ON eb.c = lc.node
        |                JOIN r1 ls ON eb.s1 = ls.node) me
        |  CROSS JOIN (SELECT CAST(sum(dc * dc) AS BIGINT) AS d2
        |              FROM (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dc
        |                    FROM deg d JOIN r1 l ON d.node = l.node
        |                    GROUP BY l.lab)) st),
        |q2 AS (
        |  SELECT round(CAST(4 * me.m * me.e_in - st.d2 AS DOUBLE) /
        |         (4 * me.m * me.m), 6) AS q
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(CASE WHEN lc.lab = ls.lab THEN 1 ELSE 0 END)
        |                 AS BIGINT) AS e_in
        |        FROM eb JOIN lv2 lc ON eb.c = lc.node
        |                JOIN lv2 ls ON eb.s1 = ls.node) me
        |  CROSS JOIN (SELECT CAST(sum(dc * dc) AS BIGINT) AS d2
        |              FROM (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dc
        |                    FROM deg d JOIN lv2 l ON d.node = l.node
        |                    GROUP BY l.lab)) st),
        |q3 AS (
        |  SELECT round(CAST(4 * me.m * me.e_in - st.d2 AS DOUBLE) /
        |         (4 * me.m * me.m), 6) AS q
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(CASE WHEN lc.lab = ls.lab THEN 1 ELSE 0 END)
        |                 AS BIGINT) AS e_in
        |        FROM eb JOIN lv3 lc ON eb.c = lc.node
        |                JOIN lv3 ls ON eb.s1 = ls.node) me
        |  CROSS JOIN (SELECT CAST(sum(dc * dc) AS BIGINT) AS d2
        |              FROM (SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dc
        |                    FROM deg d JOIN lv3 l ON d.node = l.node
        |                    GROUP BY l.lab)) st)
        |SELECT lv3.node, lv3.lab AS community, q1.q AS q_level1,
        |       q2.q AS q_level2, q3.q AS q_level3
        |FROM lv3 CROSS JOIN q1 CROSS JOIN q2 CROSS JOIN q3
        |ORDER BY node""".stripMargin,
    // the same wedge counts + cosine + window top-3, ranked by the
    // identically-rounded score — the independent window form gates
    // the GroupedTopK physical operator's third consumer
    "q350_item_cf" ->
      """WITH ib AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |deg AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS d
        |        FROM ib GROUP BY 1),
        |co AS (SELECT a.l_partkey AS p, b.l_partkey AS q,
        |              CAST(count(*) AS BIGINT) AS n_co
        |       FROM ib a JOIN ib b
        |         ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2),
        |sym AS (SELECT p, q, n_co FROM co
        |        UNION ALL SELECT q, p, n_co FROM co),
        |scored AS (
        |  SELECT s.p AS item, s.q AS other, s.n_co,
        |         round(s.n_co / sqrt(CAST(dp.d AS DOUBLE) * dq.d), 6)
        |           AS cos_sim
        |  FROM sym s JOIN deg dp ON s.p = dp.p JOIN deg dq ON s.q = dq.p),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY item
        |            ORDER BY cos_sim DESC, other) AS rn
        |  FROM scored)
        |SELECT item, other, n_co, cos_sim, CAST(rn AS BIGINT) AS rn
        |FROM ranked WHERE rn <= 3 ORDER BY item, rn""".stripMargin,
    // the same 4 Bellman–Ford relaxation rounds unrolled as CTEs
    // (q163/q212's integer fixed-point discipline — min-plus needs no
    // scaling); the weight replays the same md5 hex coin
    "q347_sssp_weighted" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |de AS (SELECT c AS src, s AS dst FROM eb
        |       UNION ALL SELECT s, c FROM eb),
        |e AS (SELECT src, dst,
        |        CAST(('0x' || substr(md5('sw:' || least(src, dst) || ':' ||
        |          greatest(src, dst)), 1, 6)) AS BIGINT) % 1000 + 1 AS w
        |      FROM de),
        |d0 AS (SELECT min(c) AS node, CAST(0 AS BIGINT) AS dist FROM eb),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT e.dst, d0.dist + e.w FROM d0 JOIN e ON e.src = d0.node)
        |  GROUP BY node),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT e.dst, d1.dist + e.w FROM d1 JOIN e ON e.src = d1.node)
        |  GROUP BY node),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT e.dst, d2.dist + e.w FROM d2 JOIN e ON e.src = d2.node)
        |  GROUP BY node),
        |d4 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT * FROM d3 UNION ALL
        |  SELECT e.dst, d3.dist + e.w FROM d3 JOIN e ON e.src = d3.node)
        |  GROUP BY node)
        |SELECT node, dist FROM d4 ORDER BY node""".stripMargin,
    // the NAIVE quadratic ε-join + recursive min-label closure — the
    // independent route that proves the grid kernel lossless and the
    // star-contraction labels exact in one hash
    "q348_dbscan" ->
      """WITH RECURSIVE base AS (
        |  SELECT c_custkey AS id, c_custkey % 16 AS k,
        |         CAST(('0x' || substr(md5('dbn:' || c_custkey), 1, 4))
        |           AS BIGINT) % 5 = 0 AS noise,
        |         CAST(('0x' || substr(md5('dbh:' || c_custkey), 1, 4))
        |           AS BIGINT) % 7 = 0 AS halo
        |  FROM customer),
        |pts AS (
        |  SELECT id,
        |    CASE WHEN noise
        |      THEN CAST(('0x' || substr(md5('dbux:' || id), 1, 6)) AS BIGINT)
        |           % 1000000
        |      ELSE CAST(('0x' || substr(md5('dbcx:' || k), 1, 6)) AS BIGINT)
        |           % 900000 + 50000
        |         + CASE WHEN halo
        |             THEN CAST(('0x' || substr(md5('dbjx:' || id), 1, 6))
        |               AS BIGINT) % 5001 - 2500
        |             ELSE CAST(('0x' || substr(md5('dbjx:' || id), 1, 6))
        |               AS BIGINT) % 1801 - 900 END END AS x,
        |    CASE WHEN noise
        |      THEN CAST(('0x' || substr(md5('dbuy:' || id), 1, 6)) AS BIGINT)
        |           % 1000000
        |      ELSE CAST(('0x' || substr(md5('dbcy:' || k), 1, 6)) AS BIGINT)
        |           % 900000 + 50000
        |         + CASE WHEN halo
        |             THEN CAST(('0x' || substr(md5('dbjy:' || id), 1, 6))
        |               AS BIGINT) % 5001 - 2500
        |             ELSE CAST(('0x' || substr(md5('dbjy:' || id), 1, 6))
        |               AS BIGINT) % 1801 - 900 END END AS y
        |  FROM base),
        |pairs AS (
        |  SELECT a.id AS a, b.id AS b FROM pts a JOIN pts b
        |  ON a.id < b.id
        | AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 1000*1000),
        |nbr AS (SELECT a AS id, b AS nb FROM pairs
        |        UNION ALL SELECT b, a FROM pairs),
        |deg AS (SELECT id, count(*) AS n FROM nbr GROUP BY id),
        |core AS (SELECT p.id FROM pts p LEFT JOIN deg USING (id)
        |         WHERE coalesce(n, 0) + 1 >= 6),
        |ce AS (SELECT p.a, p.b FROM pairs p
        |       JOIN core ca ON p.a = ca.id
        |       JOIN core cb ON p.b = cb.id),
        |ces AS (SELECT a AS u, b AS v FROM ce UNION ALL SELECT b, a FROM ce),
        |lbl AS (
        |  SELECT id AS node, id AS lab FROM core
        |  UNION
        |  SELECT ces.v, lbl.lab FROM lbl JOIN ces ON ces.u = lbl.node),
        |comp AS (SELECT node AS id, min(lab) AS cluster FROM lbl
        |         GROUP BY node),
        |border AS (SELECT n.id, min(c.cluster) AS cluster
        |           FROM nbr n JOIN comp c ON n.nb = c.id
        |           WHERE n.id NOT IN (SELECT id FROM core)
        |           GROUP BY n.id),
        |lab AS (SELECT * FROM comp UNION ALL SELECT * FROM border)
        |SELECT p.id,
        |       CASE WHEN p.id IN (SELECT id FROM core) THEN 'core'
        |            WHEN l.cluster IS NOT NULL THEN 'border'
        |            ELSE 'noise' END AS role,
        |       l.cluster
        |FROM pts p LEFT JOIN lab l ON p.id = l.id
        |ORDER BY p.id""".stripMargin,
    // the independent closed form: a time-ordered chain connects ALL
    // of a user's events, so each multi-event user IS one component
    "q343_cc_star" ->
      """SELECT min(event_id) AS comp,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       max(event_id) AS max_node
        |FROM events GROUP BY user_id
        |HAVING count(*) >= 2 ORDER BY comp""".stripMargin,
    "q171_triangles" ->
      """WITH ib AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM ib a JOIN ib b
        |        ON a.l_orderkey = b.l_orderkey
        |       AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1
        |        JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (SELECT a AS node FROM tri
        |            UNION ALL SELECT b FROM tri
        |            UNION ALL SELECT c FROM tri)
        |SELECT node, count(*) AS n_triangles
        |FROM corners GROUP BY node ORDER BY node""".stripMargin,
    "q119_composite_topk" ->
      """SELECT l_orderkey,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-06-01'
        |  AND l_shipdate > TIMESTAMP '1995-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    // the INDEPENDENT formulation: the genuine scalar subquery and
    // correlated NOT EXISTS — the Spark side's broadcast + anti-join
    // decorrelation must reproduce it.
    "q141_anti_exists" ->
      """SELECT c_nationkey, count(*) AS n_cust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                          / count(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // the INDEPENDENT formulation: the textbook left-join-then-count;
    // the Spark side's pre-aggregation must not change the answer.
    "q139_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q136_having_join_back" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |       epoch_us(o_orderdate) AS o_orderdate_us,
        |       o_totalprice, total_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 250) q
        |JOIN orders   ON q.l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    // the INDEPENDENT formulation: DuckDB evaluates the genuine
    // correlated scalar subquery; the Spark side must reproduce it
    // through the broadcast-reduce + window decorrelation.
    "q137_correlated_avg" ->
      """SELECT l_partkey, count(*) AS n_small,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS small_revenue
        |FROM lineitem l JOIN part p ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < 0.5 * (SELECT avg(li.l_quantity)
        |                          FROM lineitem li
        |                          WHERE li.l_partkey = l.l_partkey)
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,
    // the oracle reads the PLAIN parquet — bucketing must change the
    // plan (no Exchange), never the answer. sum(l_quantity) is an
    // integer-valued double: exact at any accumulation order.
    // the oracle replays the month-set semantics over the PLAIN
    // parquet: partition layout + DPP must change the plan only.
    "q133_dpp_join" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       count(*) AS n_lines,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE strftime(l_shipdate, '%Y-%m') IN
        |      (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') FROM orders
        |       WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |         AND o_orderdate < TIMESTAMP '1995-04-01')
        |GROUP BY ship_month ORDER BY ship_month""".stripMargin,
    "q96_bucketed_join" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |       sum(l_quantity) AS sum_qty,
        |       max(o_totalprice) AS o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q84_lip_join" ->
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 3
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q37_salted_join" ->
      """SELECT s_name, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    "q90_asof_forward" ->
      """SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |       p.event_id AS p_event, round(p.value, 4) AS p_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts >= c.ts
        |ORDER BY c.event_id""".stripMargin,
    "q294_asof_nearest" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts, event_id AS p_event, value AS p_value
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |         p.p_event, p.p_value,
        |         row_number() OVER (PARTITION BY c.event_id
        |           ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
        |                    epoch_us(p.ts),
        |                    p.p_event DESC, p.p_value DESC) AS rn
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id)
        |SELECT event_id, user_id, ts_us, p_event,
        |       round(p_value, 4) AS p_value
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q75_asof_join" ->
      """SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |       p.event_id AS p_event, round(p.value, 4) AS p_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,
    "q10_join_inner" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 200000.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q11_join_left_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q12_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q13_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q14_join_range" ->
      """SELECT p_partkey, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  AND l_quantity BETWEEN p_size AND p_size + 10
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,
    "q15_join_star" ->
      """SELECT r_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q17_join_right" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM (SELECT * FROM orders WHERE o_totalprice > 450000.0) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,
    "q16_join_full" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |       COALESCE(c.n_customers, 0) AS n_customers,
        |       COALESCE(s.n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
        |ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin,
    // the NAIVE quadratic distance join — the hash match proves the
    // grid kernel's 3×3-cell candidate set loses no pair.
    "q210_grid_proximity" ->
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |         CAST(('0x' || substr(md5('gx:' || CAST(c_custkey AS VARCHAR)),
        |           1, 6)) AS BIGINT) % 1000000 AS x,
        |         CAST(('0x' || substr(md5('gy:' || CAST(c_custkey AS VARCHAR)),
        |           1, 6)) AS BIGINT) % 1000000 AS y
        |  FROM customer)
        |SELECT a.id AS a_id, b.id AS b_id,
        |       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      <= 5000 * 5000
        |ORDER BY a_id, b_id""".stripMargin,
    // the textbook EXISTS / NOT-EXISTS double correlation — the
    // independent formulation of the count-based decorrelation.
    "q211_only_late_supplier" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
        |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late) l1
        |WHERE EXISTS (
        |    SELECT 1 FROM li l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM li l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY l_suppkey
        |ORDER BY numwait DESC, l_suppkey""".stripMargin,
    // the same 3 HashMin supersteps unrolled as CTEs (q163's
    // discipline — integer min state needs no fixed-point scaling).
    "q212_label_propagation" ->
      """WITH eb AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity = 1),
        |e AS (SELECT c AS src, s1 AS dst FROM eb
        |      UNION ALL SELECT s1, c FROM eb),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |l1 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l0 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l0 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |l2 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l1 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l1 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst),
        |l3 AS (
        |  SELECT l.node, least(l.label, coalesce(m.nbr_min, l.label)) AS label
        |  FROM l2 l LEFT JOIN (
        |    SELECT e.dst, min(l.label) AS nbr_min
        |    FROM e JOIN l2 l ON e.src = l.node GROUP BY e.dst) m
        |  ON l.node = m.dst)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
        |       min(node) AS min_node, max(node) AS max_node
        |FROM l3 GROUP BY label
        |ORDER BY n_nodes DESC, label""".stripMargin,
    // the textbook Q15 formulation: the revenue CTE referenced twice,
    // max as a scalar subquery.
    "q216_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice * (1 - l_discount)
        |             AS DECIMAL(18,4))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    // the genuinely recursive fixpoint — if the Spark unroll were one
    // level short, this oracle would find the missing rows.
    "q229_bom_explosion" ->
      """WITH RECURSIVE e AS (
        |  SELECT c.p_partkey AS child, c.p_partkey // 8 AS parent,
        |         c.p_partkey % 3 + 1 AS qty
        |  FROM part c JOIN part p ON p.p_partkey = c.p_partkey // 8
        |  WHERE c.p_partkey % 8 IN (1, 2, 3)),
        |cl AS (
        |  SELECT p_partkey AS root, p_partkey AS node,
        |         CAST(1 AS BIGINT) AS units
        |  FROM part WHERE p_partkey < 250
        |  UNION ALL
        |  SELECT cl.root, e.child, cl.units * e.qty
        |  FROM cl JOIN e ON e.parent = cl.node)
        |SELECT root, CAST(count(*) AS BIGINT) AS n_components,
        |       CAST(sum(units) AS BIGINT) AS total_units
        |FROM cl WHERE node <> root
        |GROUP BY root ORDER BY root""".stripMargin,
    // same segment assembly; the pair enumeration is the RELATIONAL
    // self-join on (user, seg<seg) — independent of the row-local
    // explode.
    "q234_audience_overlap" ->
      """WITH u AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         sum(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
        |             * 100 AS BIGINT)) AS cents,
        |         max(CASE WHEN o_orderpriority = '1-URGENT'
        |                  THEN 1 ELSE 0 END) AS urgent
        |  FROM orders GROUP BY 1),
        |sg AS (
        |  SELECT c_custkey,
        |         [c_mktsegment]
        |         || (CASE WHEN n_orders >= 8 THEN ['frequent']
        |                  ELSE CAST([] AS VARCHAR[]) END)
        |         || (CASE WHEN cents > 200000000 THEN ['big_spender']
        |                  ELSE CAST([] AS VARCHAR[]) END)
        |         || (CASE WHEN urgent = 1 THEN ['urgent_buyer']
        |                  ELSE CAST([] AS VARCHAR[]) END) AS segs
        |  FROM u JOIN customer ON o_custkey = c_custkey),
        |e AS (SELECT c_custkey, unnest(segs) AS seg FROM sg),
        |sizes AS (SELECT seg, CAST(count(*) AS BIGINT) AS size
        |          FROM e GROUP BY 1),
        |p AS (
        |  SELECT a.seg AS seg_a, b.seg AS seg_b,
        |         CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM e a JOIN e b
        |    ON a.c_custkey = b.c_custkey AND a.seg < b.seg
        |  GROUP BY 1, 2)
        |SELECT seg_a, seg_b, n_overlap,
        |       sa.size AS size_a, sb.size AS size_b,
        |       CAST((n_overlap * 1000000) // least(sa.size, sb.size)
        |            AS BIGINT) AS overlap_ppm
        |FROM p JOIN sizes sa ON p.seg_a = sa.seg
        |       JOIN sizes sb ON p.seg_b = sb.seg
        |ORDER BY seg_a, seg_b""".stripMargin,
    // the textbook Q5 formulation with the locality equality.
    "q240_local_supplier" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |            AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |JOIN supplier ON l_suppkey  = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    // Q14's conditional-sum ratio; the ppm from the same integer
    // ten-thousandths.
    "q241_promo_share" ->
      """WITH a AS (
        |  SELECT
        |    sum(CASE WHEN p_type LIKE 'PROMO%'
        |             THEN CAST(l_extendedprice * (1 - l_discount)
        |                  AS DECIMAL(18,4))
        |             ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_rev,
        |    sum(CAST(l_extendedprice * (1 - l_discount)
        |        AS DECIMAL(18,4))) AS total_rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01')
        |SELECT CAST(promo_rev AS DOUBLE) AS promo_rev,
        |       CAST(total_rev AS DOUBLE) AS total_rev,
        |       CAST((CAST(promo_rev * 10000 AS BIGINT) * 1000000)
        |            // CAST(total_rev * 10000 AS BIGINT) AS BIGINT)
        |         AS promo_ppm
        |FROM a""".stripMargin,
    // Q19's OR-of-ANDs verbatim.
    "q242_disjunctive_join" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |            AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 40)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 60)""".stripMargin,
    // Q10's returned-lines ranking.
    "q243_returned_customers" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |            AS DECIMAL(18,4))) AS DOUBLE) AS lost_rev
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_nationkey
        |ORDER BY lost_rev DESC, c_custkey LIMIT 20""".stripMargin,
    // Q12's CASE-sum matrix.
    "q244_priority_lateness" ->
      """SELECT
        |  CAST(sum(CASE WHEN urgent AND late THEN 1 ELSE 0 END) AS BIGINT)
        |    AS urgent_late,
        |  CAST(sum(CASE WHEN urgent AND NOT late THEN 1 ELSE 0 END)
        |    AS BIGINT) AS urgent_ontime,
        |  CAST(sum(CASE WHEN NOT urgent AND late THEN 1 ELSE 0 END)
        |    AS BIGINT) AS other_late,
        |  CAST(sum(CASE WHEN NOT urgent AND NOT late THEN 1 ELSE 0 END)
        |    AS BIGINT) AS other_ontime
        |FROM (
        |  SELECT l_shipdate > o_orderdate + INTERVAL 90 DAY AS late,
        |         o_orderpriority IN ('1-URGENT', '2-HIGH') AS urgent
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin,
    // the textbook Q7 pair-disjunction formulation.
    "q245_nation_trade" ->
      """SELECT s_nationkey AS supp_nation, c_nationkey AS cust_nation,
        |       CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |            AS DECIMAL(18,4))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey  = s_suppkey
        |JOIN customer ON o_custkey  = c_custkey
        |WHERE (s_nationkey = 3 AND c_nationkey = 2)
        |   OR (s_nationkey = 2 AND c_nationkey = 3)
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, yr""".stripMargin,
    // Q8's conditional share per year; ppm from the same integer
    // ten-thousandths.
    "q246_market_share" ->
      """WITH rows_ AS (
        |  SELECT year(o_orderdate) AS yr, s_nationkey,
        |         CAST(l_extendedprice * (1 - l_discount)
        |              AS DECIMAL(18,4)) AS rev
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey  = c_custkey
        |  JOIN nation   ON c_nationkey = n_nationkey
        |  JOIN supplier ON l_suppkey  = s_suppkey
        |  WHERE n_regionkey = 1),
        |a AS (
        |  SELECT CAST(yr AS INTEGER) AS yr,
        |         sum(CASE WHEN s_nationkey = 3 THEN rev
        |                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS focal_rev,
        |         sum(rev) AS market_rev
        |  FROM rows_ GROUP BY 1)
        |SELECT yr, CAST(focal_rev AS DOUBLE) AS focal_rev,
        |       CAST(market_rev AS DOUBLE) AS market_rev,
        |       CAST((CAST(focal_rev * 10000 AS BIGINT) * 1000000)
        |            // CAST(market_rev * 10000 AS BIGINT) AS BIGINT)
        |         AS share_ppm
        |FROM a ORDER BY yr""".stripMargin,
    // Q6 verbatim.
    "q247_forecast_revenue" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice * l_discount
        |            AS DECIMAL(18,4))) AS DOUBLE) AS revenue_effect
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 10""".stripMargin,
  )
}
