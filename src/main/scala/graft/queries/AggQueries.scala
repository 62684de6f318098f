package graft.queries

import graft.{Q, Tables}
import graft.ops.Skew
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2B "Aggregation"): group-by agg,
  * count-distinct, approx-distinct (HLL++), rollup/cube/grouping sets.
  * Generalizes the reference's R12 emptiness test (COUNT(*) = 0 —
  * reference: mercadolibre_pipeline_dag.py:84-87).
  *
  * Scale notes: groupBy.agg compiles to partial (map-side) + final hash
  * aggregation — the shuffle carries one row per group per partition,
  * not the raw data. count(DISTINCT) expands to a two-phase aggregate;
  * at 100 TB prefer approx_count_distinct (HLL++, fixed-size sketch,
  * single pass) — q25 demonstrates it (excluded from the SQL oracle per
  * contract; bounded-error property-tested instead).
  * Float discipline: money sums go through DECIMAL(18,2) (associative,
  * order-invariant under Spark's unordered partial aggregation) and are
  * surfaced as DOUBLE; integer-valued doubles (l_quantity) sum exactly
  * in IEEE double at these magnitudes, no cast needed.
  */
object AggQueries {

  val queries: Map[String, Q] = Map(
    // single-pass column profiling (ops.Profile): n / nulls / distinct
    // / min / max for three columns in ONE scan + ONE aggregation,
    // exploded to a row per column. String/integral columns only in
    // the gated query — float/timestamp rendering is engine-specific.
    "q89_profile" -> ((s, dir) => {
      import graft.ops.Profile
      Profile.profile(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .orderBy("col_name")
    }),

    // CONSTRAINT-SUITE VALIDATION (ops/Profile.audit — the Deequ /
    // Great-Expectations gate): six declarative checks over orders in
    // ONE aggregation over ONE scan, exploded to (check, metric,
    // threshold, passed). unique_custkey is EXPECTED to fail (repeat
    // customers) — the suite must report failure, not mask it; the
    // oracle recomputes every ratio relationally, so a drifted metric
    // OR a flipped pass/fail hash-mismatches.
    "q146_quality_audit" -> ((s, dir) => {
      import graft.ops.Profile
      val n = count(lit(1)).cast("double")
      Profile.audit(Tables.orders(s, dir), Seq(
        ("complete_custkey", count(col("o_custkey")) / n, 1.0),
        ("nonneg_totalprice",
          count(when(col("o_totalprice") >= 0, 1)) / n, 1.0),
        ("recent_orderdate",
          count(when(col("o_orderdate") >= lit("1993-01-01").cast("date"), 1)) / n, 0.5),
        ("unique_custkey", countDistinct(col("o_custkey")) / n, 1.0),
        ("unique_orderkey", countDistinct(col("o_orderkey")) / n, 1.0),
        ("valid_status",
          count(when(col("o_orderstatus").isin("O", "F", "P"), 1)) / n, 1.0)))
        .orderBy("check_name")
    }),

    // EMPIRICAL CDF VIA THE TWO-PHASE RANGE PREFIX SUM — this query
    // puts Profile.runningTotalByRange itself under the DuckDB hash
    // gate (ProfileSpec pins it ≡ the single-window form; here an
    // independent engine recomputes the running sums): per distinct
    // price, cumulative count / total. NO single-partition window
    // anywhere in the plan — the range-partitioned prefix sum carries
    // the global order, the only funnel being the partitions-sized
    // offset table. The result is invariant to the sampled range
    // boundaries by construction (offsets correct for whatever
    // placement was realized), which is exactly what the cross-engine
    // hash match certifies.
    "q160_empirical_cdf" -> ((s, dir) => {
      import graft.ops.Profile
      val freq = Tables.lineitem(s, dir)
        .filter(col("l_extendedprice").isNotNull)
        .groupBy(col("l_extendedprice").as("v")).agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum("cnt").as("total"))
      Profile.runningTotalByRange(freq, "v", "cnt", 16)
        .crossJoin(broadcast(total))
        .select(col("v"), col("cnt"),
          (col("running_total").cast("double") / col("total")).as("cdf"))
        .orderBy("v")
    }),

    // EQUI-DEPTH HISTOGRAM (ops/Profile.equiDepthHistogram): 8 buckets
    // over l_extendedprice at distinct-value granularity — a value
    // never splits, so the bucket rule is deterministic without a
    // row-level tiebreak (the ntile trap). The corpus collapses to the
    // value-frequency table before the single-partition cumulative
    // window (O(distinct), documented seam); the total broadcasts as a
    // one-row cross join.
    "q148_equi_depth_hist" -> ((s, dir) => {
      import graft.ops.Profile
      Profile.equiDepthHistogram(Tables.lineitem(s, dir), "l_extendedprice", 8)
    }),

    // heavy hitters via the approx_top_k sketch (fixed-size state per
    // partition — the 100 TB shape for "most frequent tokens": state
    // is maxItemsTracked items regardless of corpus size, vs a full
    // groupBy whose shuffle scales with DISTINCT tokens). Run UNDER
    // capacity (64 ≥ the corpus' 31 distinct tokens at every SF) the
    // sketch counts are exact, so the exact GROUP BY is a true oracle;
    // OVER capacity only the estimate ordering survives — both modes
    // are pinned in ApproxDistinctSpec. All 31 items are emitted and
    // re-sorted by token: the top-k CUT at a count tie is
    // sketch-internal-order-dependent, the tracked counts are not.
    "q38_heavy_hitters" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .agg(expr("approx_top_k(token, 64, 64)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("token"), col("e.count").as("est_count"))
        .orderBy("token")
    }),

    // FULL TPC-H Q1 (pricing summary report, VERDICT r10 #6): q20
    // gates the bare grouped-aggregate shape; this gates the classic
    // full-width composite — pushed date predicate + eight aggregates
    // per group including the compound disc-price/charge expressions.
    // Scale shape: the widest partial-aggregate row this engine ships
    // (2 keys × 8 buffers) still map-side combines to ~4 rows per
    // partition before the shuffle — partial-agg width costs buffer
    // memory, never shuffle volume. Money math follows the q119
    // convention: per-row double product cast to decimal BEFORE the
    // order-invariant sum, surfaced as double; averages divide the
    // exact decimal sum by the group count instead of avg()'s
    // order-dependent double accumulation (l_quantity is
    // integer-valued, so its plain avg is exact everywhere).
    "q135_pricing_summary" -> ((s, dir) => {
      val cutoff = lit("1998-09-02 00:00:00").cast("timestamp_ntz")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= cutoff)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("sum_charge"),
          avg(col("l_quantity")).as("avg_qty"),
          (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("avg_price"),
          (sum(col("l_discount").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("n_lines"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q1 shape: the canonical partial+final hash aggregate.
    "q20_agg_sum" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          avg(col("l_quantity")).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q21_count_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")
    }),

    "q22_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q23_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // GROUPING SETS via the engine's SQL surface (temp view + spark.sql).
    "q24_grouping_sets" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    // PIVOT: long → wide reshaping. Values are ENUMERATED explicitly —
    // the implicit form runs a distinct-collection job first AND makes
    // the output schema data-dependent, both wrong at 100 TB.
    "q26_pivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")))
        .orderBy("l_returnflag")
    }),

    // UNPIVOT (wide → long, pivot's inverse): ids stay, the enumerated
    // value columns melt into (metric, value) rows. Row-local — no
    // shuffle at all; output is exactly 2× the input rows.
    "q27_unpivot" -> ((s, dir) => {
      Tables.part(s, dir)
        .select("p_partkey", "p_size", "p_retailprice")
        .withColumn("p_size", col("p_size").cast("double"))
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")),
          "metric", "value")
        .orderBy("p_partkey", "metric")
    }),

    // deterministic string aggregation: collect_list is unordered by
    // contract (partial agg merge order is nondeterministic), so the
    // engine form is array_sort BEFORE join — order-stable at any
    // parallelism.
    "q28_string_agg" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // exact percentiles (linear interpolation — same definition as
    // DuckDB quantile_cont). At 100 TB use approx_percentile: the exact
    // form materializes per-group value buffers.
    "q29_percentile" -> ((s, dir) => {
      // ONE percentile(array(...)) buffer, not one per quantile: the
      // exact Percentile aggregate materializes a per-group value
      // buffer, and two scalar calls would build (and shuffle) it
      // twice for identical input.
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.9))").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p50"),
          round(element_at(col("ps"), 2), 4).as("p90"))
        .orderBy("l_returnflag")
    }),

    // approx_percentile sketch — the 100 TB path the exact q29 form
    // points at (GK/KLL-style quantile summary: fixed-size state, no
    // per-group value buffer). No SQL oracle (approx, sketch-
    // implementation-defined); ApproxDistinctSpec property-bounds the
    // rank error vs the exact percentile.
    "q36_approx_percentile" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p50"),
          round(element_at(col("ps"), 2), 4).as("p90"))
        .orderBy("l_returnflag")
    }),

    // salted two-phase aggregation through the ops.Skew seam: the
    // explicit hot-key mitigation MUST produce exactly what the plain
    // groupBy produces — which makes plain GROUP BY its oracle. Sums
    // are integer-valued doubles (exact in IEEE at any merge order);
    // the count partials merge as SUM.
    "q35_salted_agg" -> ((s, dir) => {
      Skew.saltedAgg(Tables.lineitem(s, dir),
          key = col("l_returnflag"), tieBreak = col("l_orderkey"), buckets = 8,
          partial = Seq(sum(col("l_quantity")).as("__ps"), count(lit(1)).as("__pc")),
          merge = Seq(sum(col("__ps")).as("sum_qty"), sum(col("__pc")).as("n_rows")))
        .orderBy("key")
    }),

    // MARKET-BASKET PAIRWISE LIFT (co-occurrence mining): for brand
    // pairs bought together in >= 10 orders, lift = N·c(a,b) /
    // (c(a)·c(b)). Scale shape: pair generation is ROW-LOCAL — one
    // l_orderkey shuffle collects each basket's distinct brands
    // (basket size is bounded by lines-per-order, ~7, NOT by SF), then
    // a sorted higher-order-function comprehension emits the a < b
    // pairs in place; the naive self-join-per-basket the oracle uses
    // would shuffle the item table twice and explode skewed baskets
    // quadratically in the join. The per-brand and total-basket counts
    // are domain-bounded (25 brands / one row) — broadcast by
    // construction. Lift arithmetic: exact long products, ONE double
    // division, round 6 (q131 discipline).
    "q162_basket_lift" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")).distinct()
      val baskets = items.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
      val pairCounts = baskets
        .select(explode(flatten(expr(
          """transform(bs, (x, i) ->
            |  transform(slice(bs, i + 2, size(bs)),
            |            y -> struct(x AS a, y AS b)))""".stripMargin))).as("p"))
        .groupBy(col("p.a").as("brand_a"), col("p.b").as("brand_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 10)
      val singles = items.groupBy(col("p_brand")).agg(count(lit(1)).as("c"))
      pairCounts
        .join(broadcast(singles.select(
          col("p_brand").as("brand_a"), col("c").as("c_a"))), "brand_a")
        .join(broadcast(singles.select(
          col("p_brand").as("brand_b"), col("c").as("c_b"))), "brand_b")
        .crossJoin(broadcast(nBaskets))
        .select(col("brand_a"), col("brand_b"), col("n_ab"),
          round((col("n_baskets") * col("n_ab")).cast("double")
            / (col("c_a") * col("c_b")).cast("double"), 6).as("lift"))
        .orderBy("brand_a", "brand_b")
    }),

    // ORDER-INVARIANT GROUP CHECKSUM (ops.Profile.groupChecksum):
    // fingerprint lineitem per returnflag so replicas/engines compare
    // by exchanging 3 triples instead of 600k rows. The DuckDB oracle
    // recomputes the same content-addressed sum INDEPENDENTLY — the
    // hash match is literally the operator doing its job across two
    // engines. l_quantity is integer-valued; it rides as BIGINT
    // because double→string rendering is engine-specific.
    "q165_group_checksum" -> ((s, dir) => {
      graft.ops.Profile.groupChecksum(
          Tables.lineitem(s, dir), "l_returnflag",
          concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("bigint"), col("l_linestatus")))
        .orderBy("l_returnflag")
    }),

    // WEIGHTED MEDIAN per group (the robust-aggregation primitive
    // plain percentile_approx cannot express — each row counts with
    // its weight): smallest price whose running weight reaches half
    // the group total, quantity-weighted over lineitem. Exact integer
    // weight sums on ONE (group, order) window; the qualifying set is
    // a suffix of the order, so min(price) over it IS the threshold
    // row's price — no second window. Same |groups|-parallelism seam
    // as q176: at billions of rows per group the per-group total
    // order moves to the two-phase range prefix sum (q160 machinery).
    "q178_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = Tables.lineitem(s, dir).select(
        col("l_returnflag"), col("l_extendedprice").as("p"),
        col("l_quantity").cast("bigint").as("q"),
        col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy("p", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = b.groupBy(col("l_returnflag"))
        .agg(sum(col("q")).as("total_weight"))
      b.withColumn("cum", sum(col("q")).over(w))
        .join(broadcast(tot), Seq("l_returnflag"))
        .filter(col("cum") * 2 >= col("total_weight"))
        .groupBy(col("l_returnflag"), col("total_weight"))
        .agg(min(col("p")).as("wmedian"))
        .orderBy("l_returnflag")
    }),

    // PAIRWISE CORRELATION MATRIX in ONE aggregation (profiling
    // depth — the multivariate companion of q175): Pearson r for all
    // three pairs among quantity/price/discount per returnflag, from
    // exact DECIMAL(18,4) moment sums (ten moments, one scan, one
    // map-side-combined shuffle — built-in corr() is
    // merge-order-dependent in its float accumulation and is exactly
    // what this formulation replaces). The closed form runs once per
    // GROUP on cast-to-double exact sums — q169's discipline, so the
    // sum-of-squares identity is safe here too.
    "q181_corr_matrix" -> ((s, dir) => {
      val b = Tables.lineitem(s, dir).select(
        col("l_returnflag"),
        col("l_quantity").cast("decimal(19,4)").as("x"),
        col("l_extendedprice").cast("decimal(19,4)").as("y"),
        col("l_discount").cast("decimal(19,4)").as("z"))
      val m = b.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("z")).cast("double").as("sz"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("z") * col("z")).cast("double").as("szz"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("z")).cast("double").as("sxz"),
        sum(col("y") * col("z")).cast("double").as("syz"))
      def corr2(sab: org.apache.spark.sql.Column,
                sa: org.apache.spark.sql.Column, sb: org.apache.spark.sql.Column,
                saa: org.apache.spark.sql.Column, sbb: org.apache.spark.sql.Column) =
        round((col("n").cast("double") * sab - sa * sb) /
          sqrt((col("n").cast("double") * saa - sa * sa) *
               (col("n").cast("double") * sbb - sb * sb)), 6)
      m.select(col("l_returnflag"), col("n"),
          corr2(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
            .as("corr_qty_price"),
          corr2(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
            .as("corr_qty_disc"),
          corr2(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
            .as("corr_price_disc"))
        .orderBy("l_returnflag")
    }),

    // HLL++ sketch — the 100 TB path for distinct counts. No SQL oracle
    // (approx); ApproxDistinctSpec property-bounds the error vs exact.
    "q25_approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
        .orderBy("l_returnflag")
    }),

    // BENFORD FIRST-DIGIT AUDIT (ops.Profile.benford) over extended
    // price — the fraud/quality screen for amount columns: observed
    // leading-digit shares vs log10(1+1/d), with per-digit chi-square
    // contributions. TPC-H prices are uniform-ish, NOT Benford — the
    // audit correctly reporting a violation is itself under the gate
    // (q146's deliberately-failing-check discipline). Leading digit
    // via exact integer rendering of floor(x), never libm log10; one
    // narrow scan collapsing to 9 counter rows.
    "q188_benford" -> ((s, dir) => {
      graft.ops.Profile.benford(Tables.lineitem(s, dir), "l_extendedprice")
        .orderBy("digit")
    }),

    // GINI COEFFICIENT per nation (ops.Profile.gini) over non-negative
    // customer balances — the concentration measure on the exact rank
    // formula: G = (2Σi·x_i − (n+1)Σx)/(nΣx). Ranks from row_number
    // under the (x, custkey) total order (tie-swap-invariant sum);
    // Σi·x_i as exact long×decimal products; one nationkey shuffle
    // feeds window + aggregate.
    "q191_gini" -> ((s, dir) => {
      graft.ops.Profile.gini(Tables.customer(s, dir),
          Seq("c_nationkey"), "c_acctbal", "c_custkey")
        .orderBy("c_nationkey")
    }),

    // LEARNED-BINNING TRAIN/APPLY (the feature-store discretization
    // pattern): equi-depth cut points learned on a content-addressed
    // ~50% train split (q76's md5 coin — reproducible, partition-
    // invariant), then applied to EVERY row as bucket = #{cuts < v}.
    // The train/apply seam is the point: the cuts a production system
    // persists are learned once and applied to each day's batch
    // without re-sorting anything — here both halves run in one plan
    // under the hash gate. Cuts are the upper edges of q148's
    // distinct-value-granularity histogram (k−1 rows, broadcast); the
    // apply side is a narrow cross join + count, never a sort.
    "q194_binning_apply" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_id"),
          round(col("value"), 4).cast("decimal(18,4)").as("v"))
      val train = ev.filter(
        substring(md5(concat(col("event_id").cast("string"), lit(":bin"))),
          1, 1) < lit("8"))
      val cuts = graft.ops.Profile.equiDepthHistogram(train, "v", 8)
        .filter(col("bucket") < 7).select(col("hi").as("cut"))
      ev.crossJoin(broadcast(cuts))
        .groupBy(col("event_id"), col("v"))
        .agg(sum(when(col("v") > col("cut"), 1L).otherwise(0L)).as("bucket"))
        .select(col("event_id"), col("v").cast("double").as("v"),
          col("bucket"))
        .orderBy("event_id")
    }),

    // ABC CLASSIFICATION (Pareto/contribution analysis — the
    // inventory/revenue-concentration report): parts ranked by
    // revenue desc, class A while the running cumulative stays
    // within 80% of total, B within 95%, C after. The boundary
    // compares are EXACT INTEGER-SCALED DECIMAL inequalities
    // (5·cum ≤ 4·total, 20·cum ≤ 19·total) — no float share ever
    // computed, so the class cut cannot drift cross-engine. The
    // corpus collapses to the part-revenue table first (one
    // map-side-combined shuffle); the running sum is a window over
    // the PART DOMAIN under the (rev desc, partkey) total order —
    // q148's documented O(domain) seam, with runningTotalByRange as
    // the large-domain path.
    "q203_abc_class" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      val ord = Window.orderBy(desc("rev"), col("l_partkey"))
      rev
        .withColumn("cum", sum(col("rev")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(col("rev")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("l_partkey"), col("rev").cast("double").as("rev"),
          when(col("cum") * 5 <= col("total") * 4, lit("A"))
            .when(col("cum") * 20 <= col("total") * 19, lit("B"))
            .otherwise(lit("C")).as("abc_class"))
        .orderBy("l_partkey")
    }),

    // FRACTION-OF-TOTAL HAVING (TPC-H Q11 shape — "parts worth more
    // than 0.05% of total inventory value": a HAVING whose threshold
    // is a scalar aggregate over the SAME table). Spark-first: one
    // partial-agg-combined groupBy builds the per-part values, the
    // grand total is a ONE-ROW broadcast (not a second scan — it
    // re-aggregates the part-sized intermediate), and the fraction
    // test is the INTEGER cross-multiplication value·2000 > total on
    // exact cents — no float share, no epsilon (q203's inequality
    // discipline applied to the Q11 threshold).
    "q220_value_fraction" -> ((s, dir) => {
      val v = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum((round(col("l_extendedprice"), 2).cast("decimal(18,2)") * 100)
          .cast("long")).as("value_cents"))
      val tot = v.agg(sum(col("value_cents")).as("total_cents"))
      v.crossJoin(broadcast(tot))
        .filter(col("value_cents") * 2000L > col("total_cents"))
        .select(col("l_partkey"), col("value_cents"))
        .orderBy(desc("value_cents"), col("l_partkey"))
    }),

    // HERFINDAHL–HIRSCHMAN CONCENTRATION INDEX per market (the
    // antitrust / portfolio-concentration screen — the scalar
    // companion to q191's Gini curve): market = customer segment,
    // "firm" = customer nation; HHI = Σ firm-share² in the 0–10 000
    // convention. Shares are INTEGER basis points of exact cents —
    // share_ppm = rev·10⁶ div market_total — and HHI sums
    // share_ppm² div 10⁶, so no float share ever exists (q203's
    // inequality discipline). Two aggregations: (market, firm) cents
    // off one orders×customer join, then the market rollup; both
    // market- and firm-cardinality, never order-cardinality, after
    // the first groupBy.
    "q222_hhi" -> ((s, dir) => {
      val byFirm = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(sum((round(col("o_totalprice"), 2).cast("decimal(18,2)") * 100)
          .cast("long")).as("rev_cents"))
      val seg = byFirm.groupBy(col("c_mktsegment"))
        .agg(sum(col("rev_cents")).as("seg_cents"))
      byFirm.join(seg, Seq("c_mktsegment"))
        .withColumn("share_ppm",
          expr("(rev_cents * 1000000) div seg_cents"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_firms"),
          expr("sum(share_ppm * share_ppm) div 100000000").as("hhi"))
        .orderBy("c_mktsegment")
    }),

    // RATIO-TO-PARENT at two hierarchy levels (the drill-down
    // companion to q22's rollup — every nation's share of its
    // REGION and every region's share of the WORLD, the
    // percent-of-parent column every BI hierarchy shows): one
    // orders×customer aggregate to nation grain, then nation→region
    // (25-row broadcast) and the shares as INTEGER ppm cross-
    // divisions — region totals and the grand total come from
    // re-aggregating the nation-sized rollup, never rescanning
    // orders; no float share exists (q222's discipline).
    "q228_ratio_to_parent" -> ((s, dir) => {
      val byNation = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum((round(col("o_totalprice"), 2).cast("decimal(18,2)") * 100)
          .cast("long")).as("nation_cents"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
      val byRegion = byNation.groupBy(col("n_regionkey"))
        .agg(sum(col("nation_cents")).as("region_cents"))
      val total = byRegion.agg(sum(col("region_cents")).as("total_cents"))
      byNation.join(byRegion, Seq("n_regionkey"))
        .crossJoin(broadcast(total))
        .select(col("n_regionkey"), col("c_nationkey"), col("nation_cents"),
          expr("(nation_cents * 1000000) div region_cents")
            .as("share_of_region_ppm"),
          expr("(region_cents * 1000000) div total_cents")
            .as("region_share_ppm"))
        .orderBy("n_regionkey", "c_nationkey")
    }),

    // TOP-K PLUS "OTHER" ROLLUP (the BI long-tail collapse — every
    // dashboard's "top 10 and everything else" pie): top 10 nations
    // by revenue as labeled rows, the remaining tail as ONE 'OTHER'
    // row carrying its nation count. Spark-first: ONE nation-grain
    // aggregate (the q228 rollup shape), rank once, then both
    // branches re-aggregate the 25-row intermediate — the fact table
    // is never scanned twice (the naive form unions two scans with
    // a NOT IN). Exact cents rank with key tie-break; the label is
    // the nation key rendered as a string so both branches share a
    // column type.
    "q231_topk_other" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byNation = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum((round(col("o_totalprice"), 2).cast("decimal(18,2)") * 100)
          .cast("long")).as("rev_cents"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("rev_cents"), col("c_nationkey"))))
      val top = byNation.filter(col("rnk") <= 10)
        .select(concat(lit("nation_"), col("c_nationkey")).as("label"),
          col("rev_cents"), lit(1L).as("n_nations"), col("rnk"))
      val other = byNation.filter(col("rnk") > 10)
        .agg(sum(col("rev_cents")).as("rev_cents"),
          count(lit(1)).as("n_nations"))
        .select(lit("OTHER").as("label"), col("rev_cents"),
          col("n_nations"), lit(11L).as("rnk"))
      top.unionByName(other).orderBy("rnk", "label")
    }),

    // BACKLOG AGING REPORT (the open-order health snapshot every ops
    // team runs: how old is what we still owe, by priority): open
    // orders aged against a fixed snapshot date into the standard
    // 90/365/3-year buckets, counts and exact-cent value per
    // (bucket, priority) cell. All integer datediff arithmetic —
    // bucket edges are integer-day compares, so no row can straddle
    // an edge differently across engines. One scan, one
    // partial-agg-combined groupBy; the status+date filter pushes to
    // the parquet scan.
    "q233_backlog_aging" -> ((s, dir) => {
      val snapshot = lit("2001-09-01").cast("timestamp_ntz")
      Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "O")
        .withColumn("age_days", datediff(snapshot, col("o_orderdate")))
        .withColumn("age_bucket",
          when(col("age_days") <= 90, "a_0_90d")
            .when(col("age_days") <= 365, "b_91_365d")
            .when(col("age_days") <= 1095, "c_1_3y")
            .otherwise("d_over_3y"))
        .groupBy(col("age_bucket"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum((round(col("o_totalprice"), 2).cast("decimal(18,2)") * 100)
            .cast("long")).as("value_cents"),
          min(col("age_days")).as("min_age"), max(col("age_days")).as("max_age"))
        .orderBy("age_bucket", "o_orderpriority")
    }),

    // LATE-LINE ORDER COUNTS (TPC-H Q4 shape — "orders in a window
    // with AT LEAST ONE late line, by priority": the EXISTS →
    // LEFT SEMI join composite). The semi join keeps each order at
    // most once however many lines are late — the dedup-free
    // existence test (an inner join + distinct would shuffle every
    // matching line); the window filter pushes to the orders scan
    // and the semi join shuffles only keys.
    "q236_late_orders" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz"))
      val lateLines = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey").as("lo_key"),
          col("o_orderdate").as("lo_date")),
          col("l_orderkey") === col("lo_key"))
        .filter(col("l_shipdate") > col("lo_date") + expr("INTERVAL 30 DAYS"))
        .select(col("l_orderkey"))
      ord.join(lateLines, col("o_orderkey") === col("l_orderkey"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TRIMMED MEAN per group (the robust location estimate between
    // q149's Hampel outliers and q199's winsorization — drop the
    // tails instead of clipping them): per return flag, the mean of
    // extended prices with the bottom and top 10% of ROWS removed by
    // exact rank. Rank bounds are INTEGER cross-multiplications
    // (10·rank > n, 10·rank ≤ 9n — no float percent), the kept
    // middle sums as exact decimal, ONE double division at the end.
    // One key shuffle carries the rank window and the aggregate.
    // Scale seam: l_returnflag has THREE values, so the rank sort
    // runs at parallelism 3 (4.3 s at sf0.1 — the bench's one
    // low-parallelism window); by-rank trimming needs a per-group
    // total order, and the production path for low-cardinality
    // groups is the two-phase range-partitioned rank
    // (Profile.runningTotalByRange, gated by q160) — same exact
    // bounds, domain-partitioned sort.
    "q237_trimmed_mean" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("p"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).cast("decimal(18,2)").as("p"))
        .withColumn("rnk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("l_returnflag")))
        .filter(col("rnk") * 10 > col("n") && col("rnk") * 10 <= col("n") * 9)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"), sum(col("p")).as("kept_sum"))
        .select(col("l_returnflag"), col("n_kept"),
          (col("kept_sum").cast("double") / col("n_kept").cast("double"))
            .as("trimmed_mean"))
        .orderBy("l_returnflag")
    }),

    // POST-STRATIFIED ESTIMATOR (survey calibration — reweight a
    // BIASED sample's per-stratum means by the POPULATION's stratum
    // shares; Horvitz–Thompson's everyday cousin): the "sample" is a
    // deterministically skewed subset (md5 coin keeps ~75% of
    // AUTOMOBILE customers but ~25% of others), the population
    // shares come from the full customer table, and the calibrated
    // mean Σ_s share_s·mean_s corrects the skew. Exact decimal
    // stratum sums; shares as integer ppm; ONE final double
    // recombination. The naive (uncorrected) sample mean rides along
    // so the output SHOWS the correction. Population strata table is
    // segment-sized — broadcast.
    "q239_post_stratified" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val keep = substring(md5(concat(col("c_custkey").cast("string"),
        lit(":ps"))), 1, 1) <
        when(col("c_mktsegment") === "AUTOMOBILE", "c").otherwise("4")
      val sample = cust.filter(keep)
        .select(col("c_mktsegment"),
          round(col("c_acctbal"), 2).cast("decimal(18,2)").as("bal"))
      val pop = cust.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("pop_n"))
      val popTot = pop.agg(sum(col("pop_n")).as("pop_total"))
      val strat = sample.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_s"), sum(col("bal")).as("sum_s"))
        .join(broadcast(pop), Seq("c_mktsegment"))
        .crossJoin(broadcast(popTot))
        .select(col("c_mktsegment"), col("n_s"), col("pop_n"),
          expr("(pop_n * 1000000) div pop_total").as("share_ppm"),
          (col("sum_s").cast("double") / col("n_s").cast("double"))
            .as("mean_s"))
      // per-stratum terms quantize to DECIMAL(18,6) BEFORE the final
      // sum (5 doubles summed raw would be partition-order-dependent);
      // the naive mean is exact-decimal-sum / count, never avg(double).
      strat
        .select(col("n_s"),
          round(col("share_ppm").cast("double") * col("mean_s"), 6)
            .cast("decimal(18,6)").as("term"))
        .agg(sum(col("n_s")).as("n_sampled"),
          round(sum(col("term")).cast("double") / 1000000.0, 6)
            .as("calibrated_mean"))
        .crossJoin(broadcast(sample.agg(
          round(sum(col("bal")).cast("double") / count(lit(1)), 6)
            .as("naive_mean"))))
        .select(col("n_sampled"), col("naive_mean"), col("calibrated_mean"))
    }),

    // (the ranked frame below is SHARED by q249/q252/q254 — see
    // rankedPriceFrame: one checkpoint per session, not per query)
    // TRIMMED MEAN VIA THE TWO-PHASE RANGE RANK — q237's documented
    // production path DEMONSTRATED: the same exact by-rank trim, but
    // the total order (flag, price, key) rides
    // Profile.runningTotalByRange's range-partitioned prefix count
    // (32-way sort) instead of a 3-partition window; per-group ranks
    // recover from the GLOBAL running count minus each group's start
    // offset (one flag-sized aggregate + broadcast join). Same
    // integer bounds, same decimal sum — and the oracle is q237's
    // verbatim, so the hash match proves the two-phase rank IS the
    // single-window rank. Measured honestly at sf0.1: 5.2 s vs the
    // window form's 3.5 s — the one-time checkpoint materialization
    // outweighs the 3→32 parallelism gain when 600k rows still fit a
    // task's sort; the two-phase form is for the regime where a
    // GROUP exceeds one task (its cost is O(n/p) per task + a
    // partition-count offset table, vs the window's O(group) single
    // task) — the correctness demonstration is the point here, the
    // crossover lives beyond the fixture.
    "q249_trimmed_mean_ranged" -> ((s, dir) => {
      val ranked = rankedPriceFrame(s, dir)
      val offs = ranked.groupBy(col("l_returnflag"))
        .agg(min(col("rn")).as("g_start"), count(lit(1)).as("n"))
      ranked.join(broadcast(offs), Seq("l_returnflag"))
        .withColumn("rnk", col("rn") - col("g_start") + 1)
        .filter(col("rnk") * 10 > col("n") && col("rnk") * 10 <= col("n") * 9)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"), sum(col("p")).as("kept_sum"))
        .select(col("l_returnflag"), col("n_kept"),
          (col("kept_sum").cast("double") / col("n_kept").cast("double"))
            .as("trimmed_mean"))
        .orderBy("l_returnflag")
    }),

    // GROUPED EXACT MEDIAN at the q249 two-phase discipline — the
    // percentile analog of the trimmed-mean pair: percentile_approx
    // trades error for one pass; this is the EXACT by-rank median
    // with NO single-task group sort. The global total order (flag,
    // price, key) rides Profile.runningTotalByRange's range-
    // partitioned prefix count (32-way parallel sort); per-group
    // ranks recover from the global running count minus each group's
    // start offset (flag-sized aggregate, broadcast back). Median =
    // mean of the middle one/two ranks — ranks (n+1) div 2 and
    // (n+2) div 2, which coincide for odd n — so the "interpolation"
    // is an exact decimal sum over ≤2 rows and ONE double division,
    // identical IEEE both engines. Scale shape: O(n/p) per task +
    // a partition-count offset table; a group larger than one task's
    // sort memory changes nothing (the q237→q249 crossover argument,
    // AggQueries.scala:742).
    // GROUPED MAD OUTLIER GATE (median absolute deviation — the
    // robust dispersion the monitoring literature prefers over
    // σ-based z-scores precisely because outliers corrupt σ but not
    // MAD; Hampel's identifier): per event type over the value
    // amounts, median m, MAD = median(|v − m|), and the count beyond
    // the standard 3·1.4826·MAD fence (107–124 per group at sf0.01,
    // ratios to ~18×MAD — live). The first cut audited brand PRICES
    // and was VACUOUS at every SF: on a bounded uniform distribution
    // max|v − m| = 2·MAD exactly, so NO Hampel fence ≥ 2 can ever
    // fire — structurally, not by bad luck (the q316 lesson: pick a
    // heavy-tailed measurand or the gate proves nothing). EVERYTHING
    // exact: both medians are TYPE-1 LOWER order statistics (rank
    // (n+1) div 2 — a data value, so |v − m| stays an exact DECIMAL;
    // q252's mean-of-middles form would push deviations onto
    // doubles), picked by TWO passes of the two-phase range rank (no
    // per-group window, no global window — the q249/q252 machinery
    // run twice), and the fence is the integer-scaled compare
    // dev·10000 > mad·44478 (3·1.4826 = 4.4478) — no float boundary.
    "q324_grouped_mad_outliers" -> ((s, dir) => {
      val rows = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value"), 2).cast("decimal(18,2)").as("v"),
          col("event_id"))
      val r1 = graft.ops.Sampling.rankedByRange(rows,
        Seq("event_type", "v", "event_id"), 32)
      val o1 = r1.groupBy("event_type")
        .agg(min("rn").as("g1"), count(lit(1)).as("n"))
      val med = r1.join(broadcast(o1), Seq("event_type"))
        .filter(col("rn") - col("g1") + 1 === expr("(n + 1) div 2"))
        .select(col("event_type"), col("v").as("med"))
      val dev = rows.join(broadcast(med), Seq("event_type"))
        .withColumn("dev", abs(col("v") - col("med")))
      val r2 = graft.ops.Sampling.rankedByRange(dev,
        Seq("event_type", "dev", "event_id"), 32)
      val o2 = r2.groupBy("event_type")
        .agg(min("rn").as("g2"), count(lit(1)).as("n2"))
      val mad = r2.join(broadcast(o2), Seq("event_type"))
        .filter(col("rn") - col("g2") + 1 === expr("(n2 + 1) div 2"))
        .select(col("event_type"), col("dev").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          max(col("med")).as("med_v"),
          max(col("mad")).as("mad_v"),
          sum(when(col("dev") * 10000 > col("mad") * 44478, 1L)
            .otherwise(0L)).as("n_outliers"),
          max(col("dev")).as("maxdev"))
        .select(col("event_type"), col("n_rows"),
          round(col("med_v").cast("double"), 2).as("median"),
          round(col("mad_v").cast("double"), 2).as("mad"),
          col("n_outliers"),
          round(col("maxdev").cast("double"), 2).as("max_dev"))
        .orderBy("event_type")
    }),

    "q252_grouped_median" -> ((s, dir) => {
      val ranked = rankedPriceFrame(s, dir)
      val offs = ranked.groupBy(col("l_returnflag"))
        .agg(min(col("rn")).as("g_start"), count(lit(1)).as("n"))
      ranked.join(broadcast(offs), Seq("l_returnflag"))
        .withColumn("rnk", col("rn") - col("g_start") + 1)
        .filter(col("rnk") === expr("(n + 1) div 2") ||
          col("rnk") === expr("(n + 2) div 2"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n_rows"),
          round(sum(col("p")).cast("double") / count(lit(1)), 6)
            .as("median"))
        .orderBy("l_returnflag")
    }),

    // REORDER-RATE ANALYSIS (the Instacart-style repeat-purchase
    // metric that drives replenishment/recommendation features): per
    // brand, the fraction of (customer, part) purchase relationships
    // spanning MORE than one distinct order — plus the mean orders
    // per relationship. Two map-side-combined aggregations: (customer,
    // part) distinct-order counts, then the brand rollup; exact
    // integer counts, one double division each.
    "q318_reorder_rates" -> ((s, dir) => {
      val rel = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"), col("o_custkey"), col("l_partkey"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"))
      rel.groupBy("brand")
        .agg(count(lit(1)).as("n_relationships"),
          sum(when(col("n_orders") > 1, 1L).otherwise(0L)).as("n_repeat"),
          sum(col("n_orders")).as("total_orders"))
        .select(col("brand"), col("n_relationships"), col("n_repeat"),
          round(col("n_repeat").cast("double") /
            col("n_relationships").cast("double"), 6).as("reorder_rate"),
          round(col("total_orders").cast("double") /
            col("n_relationships").cast("double"), 6).as("orders_per_rel"))
        .orderBy("brand")
    }),

    // GROUPED WEIGHTED MEDIAN (quantity-weighted price per brand) —
    // q300's global operator grouped: per brand, the smallest price v
    // whose cumulative quantity weight reaches half the brand total.
    // The cumulative weight is a PARTITIONED window (25 brand
    // partitions — the allowed shape; the default RANGE frame gives
    // all v-ties one shared total, so the pick is partition-order
    // independent), weights exact DECIMALs, the half test integer-
    // style 2·cum ≥ total. Brand totals broadcast (25 rows).
    "q302_grouped_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          round(col("l_extendedprice"), 2).cast("decimal(18,2)").as("v"),
          col("l_quantity").cast("decimal(18,2)").as("wt"))
      val tot = li.groupBy("brand")
        .agg(sum(col("wt")).as("tw"), count(lit(1)).as("n_rows"))
      li.withColumn("cum",
          sum(col("wt")).over(Window.partitionBy("brand").orderBy("v")))
        .join(broadcast(tot), Seq("brand"))
        .filter(col("cum") * 2 >= col("tw"))
        .groupBy("brand")
        .agg(min(col("v")).as("vm"),
          first(col("tw")).as("tw2"), first(col("n_rows")).as("n_rows"))
        .select(col("brand"), col("n_rows"),
          round(col("tw2").cast("double"), 2).as("total_weight"),
          round(col("vm").cast("double"), 2).as("weighted_median"))
        .orderBy("brand")
    }),

    // GROUPED EXACT DECILE VECTOR — q252 generalized from one rank
    // to nine in the SAME single two-phase pass: the global range
    // rank is computed once; each group's nine target ranks
    // (type-1/lower quantile, rank = ceil(d·n/10) in exact integer
    // arithmetic) materialize as a 9-row-per-group broadcast table
    // joined back on (group, rank). Adds NOTHING per extra quantile
    // but one small join — the reason the two-phase layout beats
    // nine percentile_approx calls (which would still be
    // approximate) or nine window sorts. Exact decimal values ride
    // to the output untouched — no interpolation, the decile IS a
    // data value.
    "q254_grouped_deciles" -> ((s, dir) => {
      val ranked = rankedPriceFrame(s, dir)
      val offs = ranked.groupBy(col("l_returnflag"))
        .agg(min(col("rn")).as("g_start"), count(lit(1)).as("n"))
      val targets = offs
        .select(col("l_returnflag").as("t_flag"), col("g_start"), col("n"),
          explode(sequence(lit(1L), lit(9L))).as("decile"))
        .withColumn("rnk", expr("(decile * n + 9) div 10"))
      ranked.join(broadcast(targets),
          col("l_returnflag") === col("t_flag") &&
          col("rn") - col("g_start") + 1 === col("rnk"))
        .select(col("l_returnflag"), col("decile"),
          col("p").cast("double").as("value"))
        .orderBy("l_returnflag", "decile")
    }),
  )

  val oracles: Map[String, String] = Map(
    // same integer digit rendering, same unrounded chi tree, rounded
    // only at the output columns.
    "q188_benford" ->
      """WITH v AS (
        |  SELECT l_extendedprice AS x FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1),
        |o AS (
        |  SELECT CAST(substr(CAST(CAST(floor(x) AS BIGINT) AS VARCHAR), 1, 1)
        |              AS INT) AS digit,
        |         count(*) AS n_obs
        |  FROM v GROUP BY 1),
        |t AS (SELECT sum(n_obs) AS n_total FROM o),
        |d AS (SELECT CAST(r + 1 AS INT) AS digit FROM range(9) t(r)),
        |j AS (
        |  SELECT d.digit, coalesce(o.n_obs, 0) AS n_obs, t.n_total,
        |         coalesce(o.n_obs, 0)::DOUBLE / t.n_total::DOUBLE AS p_obs,
        |         log10(1::DOUBLE + 1::DOUBLE / d.digit::DOUBLE) AS p_exp
        |  FROM d LEFT JOIN o USING (digit) CROSS JOIN t)
        |SELECT digit, n_obs, round(p_obs, 8) AS p_obs,
        |       round(p_exp, 8) AS p_exp,
        |       round(n_total::DOUBLE * (p_obs - p_exp) * (p_obs - p_exp)
        |             / p_exp, 8) AS chi_term
        |FROM j ORDER BY digit""".stripMargin,
    // same total order, same exact integer-scaled boundary compares.
    "q203_abc_class" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |r AS (
        |  SELECT l_partkey, rev,
        |         sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |                        ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(rev) OVER () AS total
        |  FROM rev)
        |SELECT l_partkey, CAST(rev AS DOUBLE) AS rev,
        |       CASE WHEN cum * 5 <= total * 4 THEN 'A'
        |            WHEN cum * 20 <= total * 19 THEN 'B'
        |            ELSE 'C' END AS abc_class
        |FROM r ORDER BY l_partkey""".stripMargin,
    // replay of the q148 histogram rule on the same md5 train split,
    // then the same #{cuts < v} apply.
    "q194_binning_apply" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |tr AS (
        |  SELECT * FROM ev
        |  WHERE substr(md5(CAST(event_id AS VARCHAR) || ':bin'), 1, 1) < '8'),
        |freq AS (SELECT v, count(*) AS cnt FROM tr GROUP BY v),
        |cf AS (
        |  SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum,
        |         sum(cnt) OVER () AS total
        |  FROM freq),
        |bk AS (
        |  SELECT v, CAST(floor(((cum - cnt) * 8)::DOUBLE / total) AS BIGINT)
        |            AS bucket
        |  FROM cf),
        |hist AS (SELECT bucket, max(v) AS hi FROM bk GROUP BY bucket),
        |cuts AS (SELECT hi AS cut FROM hist WHERE bucket < 7)
        |SELECT e.event_id, CAST(e.v AS DOUBLE) AS v,
        |       CAST(sum(CASE WHEN e.v > c.cut THEN 1 ELSE 0 END) AS BIGINT)
        |         AS bucket
        |FROM ev e CROSS JOIN cuts c
        |GROUP BY e.event_id, e.v ORDER BY event_id""".stripMargin,
    // same total order, same exact long×decimal moments, same IEEE
    // recombination.
    "q191_gini" ->
      """WITH v AS (
        |  SELECT c_nationkey, c_custkey,
        |         CAST(round(c_acctbal, 2) AS DECIMAL(18,2)) AS x
        |  FROM customer WHERE c_acctbal IS NOT NULL AND c_acctbal >= 0),
        |r AS (
        |  SELECT c_nationkey, x,
        |         CAST(row_number() OVER (PARTITION BY c_nationkey
        |                                 ORDER BY x, c_custkey) AS BIGINT) AS i
        |  FROM v),
        |m AS (
        |  SELECT c_nationkey, count(*) AS n, sum(x) AS sx,
        |         sum(x * i) AS six
        |  FROM r GROUP BY c_nationkey)
        |SELECT c_nationkey, n,
        |       CASE WHEN sx = 0 THEN NULL
        |            ELSE round((2::DOUBLE * six::DOUBLE
        |                        - (n + 1)::DOUBLE * sx::DOUBLE)
        |                       / (n::DOUBLE * sx::DOUBLE), 6) END AS gini
        |FROM m ORDER BY c_nationkey""".stripMargin,
    // same ten exact decimal moments, same closed form, same order.
    "q181_corr_matrix" ->
      """WITH b AS (
        |  SELECT l_returnflag AS rf,
        |         CAST(l_quantity AS DECIMAL(19,4)) AS x,
        |         CAST(l_extendedprice AS DECIMAL(19,4)) AS y,
        |         CAST(l_discount AS DECIMAL(19,4)) AS z
        |  FROM lineitem),
        |m AS (
        |  SELECT rf, count(*) AS n,
        |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(z) AS DOUBLE) AS sz,
        |         CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(y*y) AS DOUBLE) AS syy,
        |         CAST(sum(z*z) AS DOUBLE) AS szz,
        |         CAST(sum(x*y) AS DOUBLE) AS sxy, CAST(sum(x*z) AS DOUBLE) AS sxz,
        |         CAST(sum(y*z) AS DOUBLE) AS syz
        |  FROM b GROUP BY rf)
        |SELECT rf AS l_returnflag, n,
        |       round((n::DOUBLE * sxy - sx * sy)
        |             / sqrt((n::DOUBLE * sxx - sx * sx)
        |                    * (n::DOUBLE * syy - sy * sy)), 6) AS corr_qty_price,
        |       round((n::DOUBLE * sxz - sx * sz)
        |             / sqrt((n::DOUBLE * sxx - sx * sx)
        |                    * (n::DOUBLE * szz - sz * sz)), 6) AS corr_qty_disc,
        |       round((n::DOUBLE * syz - sy * sz)
        |             / sqrt((n::DOUBLE * syy - sy * sy)
        |                    * (n::DOUBLE * szz - sz * sz)), 6) AS corr_price_disc
        |FROM m ORDER BY l_returnflag""".stripMargin,
    // same running weight sums over the same total order.
    "q178_weighted_median" ->
      """WITH b AS (
        |  SELECT l_returnflag AS rf, l_extendedprice AS p,
        |         CAST(l_quantity AS BIGINT) AS q,
        |         l_orderkey AS ok, l_linenumber AS ln
        |  FROM lineitem),
        |c AS (
        |  SELECT rf, p,
        |         sum(q) OVER (PARTITION BY rf ORDER BY p, ok, ln
        |                      ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND CURRENT ROW) AS cum
        |  FROM b),
        |t AS (SELECT rf, CAST(sum(q) AS BIGINT) AS tot FROM b GROUP BY rf)
        |SELECT c.rf AS l_returnflag, t.tot AS total_weight,
        |       min(p) AS wmedian
        |FROM c JOIN t ON c.rf = t.rf
        |WHERE 2 * cum >= tot
        |GROUP BY c.rf, t.tot ORDER BY l_returnflag""".stripMargin,
    // the same content-addressed sum, recomputed from scratch: 14 hex
    // digits of md5 parse via the 0x-cast (q124 idiom), sum exactly,
    // reduce mod 2^52 to the float64-exact BIGINT wire shape.
    "q165_group_checksum" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |       CAST(sum(CAST(('0x' || substr(md5(
        |         l_orderkey || '|' || l_linenumber || '|' ||
        |         CAST(l_quantity AS BIGINT) || '|' || l_linestatus),
        |         1, 14)) AS BIGINT)) % 4503599627370496 AS BIGINT)
        |         AS checksum
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // INDEPENDENT formulation: the naive per-basket self-join (fine at
    // fixture scale in DuckDB); the Spark side's row-local pair
    // comprehension must reproduce it exactly.
    "q162_basket_lift" ->
      """WITH ib AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM ib),
        |ca AS (SELECT p_brand, count(*) AS c FROM ib GROUP BY p_brand),
        |pc AS (
        |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |         count(*) AS n_ab
        |  FROM ib a JOIN ib b
        |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |  GROUP BY 1, 2)
        |SELECT pc.brand_a, pc.brand_b, pc.n_ab,
        |       round(CAST(nb.n * pc.n_ab AS DOUBLE)
        |             / CAST(ca1.c * ca2.c AS DOUBLE), 6) AS lift
        |FROM pc
        |CROSS JOIN nb
        |JOIN ca ca1 ON ca1.p_brand = pc.brand_a
        |JOIN ca ca2 ON ca2.p_brand = pc.brand_b
        |WHERE pc.n_ab >= 10
        |ORDER BY brand_a, brand_b""".stripMargin,
    "q135_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |       avg(l_quantity) AS avg_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |       CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q38_heavy_hitters" ->
      """SELECT token, count(*) AS est_count
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY token""".stripMargin,
    "q89_profile" ->
      """SELECT col_name, n, n_null, n_distinct, min_value, max_value FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n,
        |         count(*) - count(o_orderkey) AS n_null,
        |         count(DISTINCT o_orderkey) AS n_distinct,
        |         CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |         CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |         count(DISTINCT o_custkey),
        |         CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |         count(DISTINCT o_orderstatus),
        |         CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM orders)
        |ORDER BY col_name""".stripMargin,
    // every ratio recomputed relationally; thresholds cast to DOUBLE
    // (a bare 1.0 literal is DECIMAL in DuckDB and would type-drift).
    "q146_quality_audit" ->
      """WITH m AS (
        |  SELECT count(*)::DOUBLE AS n,
        |         count(o_custkey)::DOUBLE AS nn_cust,
        |         count(CASE WHEN o_totalprice >= 0 THEN 1 END)::DOUBLE AS nonneg,
        |         count(CASE WHEN o_orderdate >= DATE '1993-01-01' THEN 1 END)::DOUBLE AS recent,
        |         count(DISTINCT o_custkey)::DOUBLE AS d_cust,
        |         count(DISTINCT o_orderkey)::DOUBLE AS d_ok,
        |         count(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END)::DOUBLE AS valid
        |  FROM orders)
        |SELECT check_name, metric, threshold, metric >= threshold AS passed FROM (
        |  SELECT 'complete_custkey' AS check_name, nn_cust / n AS metric,
        |         1.0::DOUBLE AS threshold FROM m
        |  UNION ALL SELECT 'nonneg_totalprice', nonneg / n, 1.0::DOUBLE FROM m
        |  UNION ALL SELECT 'recent_orderdate', recent / n, 0.5::DOUBLE FROM m
        |  UNION ALL SELECT 'unique_custkey', d_cust / n, 1.0::DOUBLE FROM m
        |  UNION ALL SELECT 'unique_orderkey', d_ok / n, 1.0::DOUBLE FROM m
        |  UNION ALL SELECT 'valid_status', valid / n, 1.0::DOUBLE FROM m) u
        |ORDER BY check_name""".stripMargin,
    // the plain single-window running sum — the independent engine's
    // recomputation of the two-phase range prefix sum.
    "q160_empirical_cdf" ->
      """WITH f AS (
        |  SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM f)
        |SELECT v, cnt,
        |       CAST(CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS DOUBLE)
        |         / total AS cdf
        |FROM f, t ORDER BY v""".stripMargin,
    // same distinct-value CDF bucket rule; the window sum is HUGEINT
    // in DuckDB, so every count is pinned back to BIGINT before the
    // double division.
    "q148_equi_depth_hist" ->
      """WITH f AS (
        |  SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM f),
        |c AS (SELECT v, cnt,
        |             CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM f)
        |SELECT CAST(floor(((cum - cnt) * 8)::DOUBLE / total) AS BIGINT) AS bucket,
        |       min(v) AS lo, max(v) AS hi, CAST(sum(cnt) AS BIGINT) AS n_rows
        |FROM c, t GROUP BY 1 ORDER BY 1""".stripMargin,
    // the salted rewrite is invisible in the result — plain GROUP BY
    // is the oracle. count(*) stays BIGINT (no sum-of-BIGINT HUGEINT
    // drift — that was q56's round-3 failure mode).
    "q35_salted_agg" ->
      """SELECT l_returnflag AS key, sum(l_quantity) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY key""".stripMargin,
    "q27_unpivot" ->
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part)
        |ORDER BY p_partkey, metric""".stripMargin,
    "q28_string_agg" ->
      """SELECT o_orderpriority,
        |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q29_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q26_pivot" ->
      """SELECT l_returnflag,
        |       sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F",
        |       sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q20_agg_sum" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       avg(l_quantity) AS avg_qty,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q21_count_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q22_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q23_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q24_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    // the textbook Q11 formulation — HAVING against a scalar subquery
    // over the same aggregation.
    "q220_value_fraction" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |         sum(CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
        |             * 100 AS BIGINT)) AS value_cents
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, CAST(value_cents AS BIGINT) AS value_cents
        |FROM v
        |WHERE value_cents * 2000 > (SELECT sum(value_cents) FROM v)
        |ORDER BY value_cents DESC, l_partkey""".stripMargin,
    // same integer-ppm shares, HHI in the 0–10000 convention.
    "q222_hhi" ->
      """WITH f AS (
        |  SELECT c_mktsegment, c_nationkey,
        |         sum(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
        |             * 100 AS BIGINT)) AS rev_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT c_mktsegment, sum(rev_cents) AS seg_cents
        |  FROM f GROUP BY 1),
        |sh AS (
        |  SELECT f.c_mktsegment,
        |         (f.rev_cents * 1000000) // s.seg_cents AS share_ppm
        |  FROM f JOIN s USING (c_mktsegment))
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_firms,
        |       CAST(sum(share_ppm * share_ppm) // 100000000 AS BIGINT)
        |         AS hhi
        |FROM sh GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // same two-level integer ppm shares off the nation-grain rollup.
    "q228_ratio_to_parent" ->
      """WITH n AS (
        |  SELECT c_nationkey,
        |         sum(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
        |             * 100 AS BIGINT)) AS nation_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |nr AS (
        |  SELECT n_regionkey, c_nationkey, nation_cents
        |  FROM n JOIN nation ON c_nationkey = n_nationkey),
        |r AS (
        |  SELECT n_regionkey, sum(nation_cents) AS region_cents
        |  FROM nr GROUP BY 1),
        |t AS (SELECT sum(region_cents) AS total_cents FROM r)
        |SELECT nr.n_regionkey, nr.c_nationkey,
        |       CAST(nr.nation_cents AS BIGINT) AS nation_cents,
        |       CAST((nr.nation_cents * 1000000) // r.region_cents AS BIGINT)
        |         AS share_of_region_ppm,
        |       CAST((r.region_cents * 1000000) // t.total_cents AS BIGINT)
        |         AS region_share_ppm
        |FROM nr JOIN r USING (n_regionkey) CROSS JOIN t
        |ORDER BY n_regionkey, c_nationkey""".stripMargin,
    // same single nation-grain rollup, both branches off it.
    "q231_topk_other" ->
      """WITH n AS (
        |  SELECT c_nationkey,
        |         sum(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
        |             * 100 AS BIGINT)) AS rev_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |r AS (
        |  SELECT c_nationkey, rev_cents,
        |         row_number() OVER (ORDER BY rev_cents DESC, c_nationkey)
        |           AS rnk
        |  FROM n)
        |SELECT 'nation_' || c_nationkey AS label,
        |       CAST(rev_cents AS BIGINT) AS rev_cents,
        |       CAST(1 AS BIGINT) AS n_nations, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 10
        |UNION ALL
        |SELECT 'OTHER', CAST(sum(rev_cents) AS BIGINT),
        |       CAST(count(*) AS BIGINT), CAST(11 AS BIGINT)
        |FROM r WHERE rnk > 10
        |ORDER BY rnk, label""".stripMargin,
    // same integer-day buckets at the same snapshot.
    "q233_backlog_aging" ->
      """WITH o AS (
        |  SELECT o_orderpriority, o_totalprice,
        |         datediff('day', o_orderdate, TIMESTAMP '2001-09-01')
        |           AS age_days
        |  FROM orders WHERE o_orderstatus = 'O')
        |SELECT CASE WHEN age_days <= 90 THEN 'a_0_90d'
        |            WHEN age_days <= 365 THEN 'b_91_365d'
        |            WHEN age_days <= 1095 THEN 'c_1_3y'
        |            ELSE 'd_over_3y' END AS age_bucket,
        |       o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
        |           * 100 AS BIGINT)) AS BIGINT) AS value_cents,
        |       CAST(min(age_days) AS INTEGER) AS min_age,
        |       CAST(max(age_days) AS INTEGER) AS max_age
        |FROM o GROUP BY 1, 2
        |ORDER BY age_bucket, o_orderpriority""".stripMargin,
    // the textbook Q4 EXISTS formulation.
    "q236_late_orders" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // same integer rank bounds under the same total order.
    "q237_trimmed_mean" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS p,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)),
        |                    l_orderkey, l_linenumber) AS rnk,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(p) AS DOUBLE) / count(*) AS trimmed_mean
        |FROM r
        |WHERE rnk * 10 > n AND rnk * 10 <= n * 9
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // same skewed coin, same population shares, same quantized terms.
    "q239_post_stratified" ->
      """WITH sample AS (
        |  SELECT c_mktsegment,
        |         CAST(round(c_acctbal, 2) AS DECIMAL(18,2)) AS bal
        |  FROM customer
        |  WHERE substr(md5(CAST(c_custkey AS VARCHAR) || ':ps'), 1, 1)
        |        < CASE WHEN c_mktsegment = 'AUTOMOBILE'
        |               THEN 'c' ELSE '4' END),
        |pop AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS pop_n
        |  FROM customer GROUP BY 1),
        |pt AS (SELECT sum(pop_n) AS pop_total FROM pop),
        |st AS (
        |  SELECT s.c_mktsegment, CAST(count(*) AS BIGINT) AS n_s,
        |         sum(s.bal) AS sum_s
        |  FROM sample s GROUP BY 1),
        |terms AS (
        |  SELECT st.n_s,
        |         CAST(round(
        |           CAST((pop.pop_n * 1000000) // pt.pop_total AS DOUBLE)
        |           * (CAST(st.sum_s AS DOUBLE) / st.n_s), 6)
        |           AS DECIMAL(18,6)) AS term
        |  FROM st JOIN pop USING (c_mktsegment) CROSS JOIN pt)
        |SELECT (SELECT CAST(sum(n_s) AS BIGINT) FROM terms) AS n_sampled,
        |       (SELECT round(CAST(sum(bal) AS DOUBLE) / count(*), 6)
        |        FROM sample) AS naive_mean,
        |       round(CAST(sum(term) AS DOUBLE) / 1000000.0, 6)
        |         AS calibrated_mean
        |FROM terms""".stripMargin,
    // q237's oracle VERBATIM — the gate proves the two-phase rank
    // equals the single-window rank.
    "q249_trimmed_mean_ranged" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS p,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)),
        |                    l_orderkey, l_linenumber) AS rnk,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(p) AS DOUBLE) / count(*) AS trimmed_mean
        |FROM r
        |WHERE rnk * 10 > n AND rnk * 10 <= n * 9
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the single-window formulation of the same by-rank median — the
    // independent check that the two-phase global rank picks exactly
    // the middle row(s) per group.
    "q318_reorder_rates" ->
      """WITH rel AS (
        |  SELECT p_brand AS brand, o_custkey, l_partkey,
        |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, o_custkey, l_partkey)
        |SELECT brand,
        |       CAST(count(*) AS BIGINT) AS n_relationships,
        |       CAST(sum(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_repeat,
        |       round(CAST(sum(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END)
        |             AS DOUBLE) / count(*), 6) AS reorder_rate,
        |       round(CAST(sum(n_orders) AS DOUBLE) / count(*), 6)
        |         AS orders_per_rel
        |FROM rel GROUP BY brand ORDER BY brand""".stripMargin,

    "q302_grouped_weighted_median" ->
      """WITH li AS (
        |  SELECT p_brand AS brand,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS v,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS wt
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |t AS (SELECT brand, sum(wt) AS tw, CAST(count(*) AS BIGINT) AS n_rows
        |      FROM li GROUP BY brand),
        |r AS (SELECT brand, v,
        |             sum(wt) OVER (PARTITION BY brand ORDER BY v) AS cum
        |      FROM li)
        |SELECT r.brand, t.n_rows,
        |       round(CAST(t.tw AS DOUBLE), 2) AS total_weight,
        |       round(CAST(min(r.v) AS DOUBLE), 2) AS weighted_median
        |FROM r JOIN t ON r.brand = t.brand
        |WHERE r.cum * 2 >= t.tw
        |GROUP BY r.brand, t.n_rows, t.tw
        |ORDER BY r.brand""".stripMargin,

    // the INDEPENDENT single-window formulation of both median picks;
    // same type-1 lower ranks, same integer-scaled fence
    "q324_grouped_mad_outliers" ->
      """WITH rws AS (
        |  SELECT event_type,
        |         CAST(round(value, 2) AS DECIMAL(18,2)) AS v, event_id
        |  FROM events WHERE value IS NOT NULL),
        |r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |              ORDER BY v, event_id) AS rnk,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM rws),
        |med AS (SELECT event_type, v AS med FROM r1 WHERE rnk = (n + 1) // 2),
        |dv AS (
        |  SELECT r.event_type, r.v, abs(r.v - m.med) AS dev, m.med,
        |         r.event_id
        |  FROM rws r JOIN med m USING (event_type)),
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |              ORDER BY dev, event_id) AS rnk,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dv),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rnk = (n + 1) // 2)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(CAST(max(d.med) AS DOUBLE), 2) AS median,
        |       round(CAST(max(t.mad) AS DOUBLE), 2) AS mad,
        |       CAST(sum(CASE WHEN d.dev * 10000 > t.mad * 44478
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       round(CAST(max(d.dev) AS DOUBLE), 2) AS max_dev
        |FROM dv d JOIN mad t USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q252_grouped_median" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS p,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)),
        |                    l_orderkey, l_linenumber) AS rnk,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
        |       round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS median
        |FROM r
        |WHERE rnk = (n + 1) // 2 OR rnk = (n + 2) // 2
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the same type-1 quantile ranks from the same single-window
    // rank — nine rows per group via the range() lateral.
    "q254_grouped_deciles" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS p,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)),
        |                    l_orderkey, l_linenumber) AS rnk,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |d AS (SELECT CAST(r + 1 AS BIGINT) AS decile FROM range(9) t(r))
        |SELECT l_returnflag, decile, CAST(p AS DOUBLE) AS value
        |FROM r JOIN d ON rnk = (decile * n + 9) // 10
        |ORDER BY l_returnflag, decile""".stripMargin,
  )

  /** Once-per-session shared total order for the by-rank family
    * (q249 trimmed mean, q252 median, q254 deciles): the (flag,
    * price, key) global range rank — runningTotalByRange's
    * checkpoint-materialized frame — builds ONCE and every consumer
    * joins its own group offsets / target ranks against it. The
    * "reuse a partitioning across stages" discipline: one sorted
    * materialization amortizes over every quantile-shaped question
    * asked of the same order, exactly how a production pipeline
    * treats an expensive global sort. A session memo
    * (`Checkpoints.shared`): the range checkpoint stays with it. */
  private def rankedPriceFrame(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Checkpoints.shared(s, dir, "rankedPrices") {
      val rows = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"),
          round(col("l_extendedprice"), 2).cast("decimal(18,2)").as("p"))
        .withColumn("ok", struct(col("l_returnflag"), col("p"),
          col("l_orderkey"), col("l_linenumber")))
        .withColumn("one", lit(1L))
      graft.ops.Profile.runningTotalByRange(rows, "ok", "one", 32)
        .withColumnRenamed("running_total", "rn")
    }
}
