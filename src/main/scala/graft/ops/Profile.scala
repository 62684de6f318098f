package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality pass a pipeline runs before
  * trusting a new drop of upstream data: row count, null count,
  * distinct count, min/max per column, as one tidy row per column.
  *
  * Scale shape: ONE aggregation over ONE scan for all columns (the
  * naive per-column loop scans the table N times). The multi-
  * countDistinct plans as a single Expand + aggregate — the standard
  * Spark shape for mixed distinct aggregates; for TB-scale profiling
  * swap `countDistinct` for `approx_count_distinct` at the call site
  * (same output schema, sketch-sized state). The single result row
  * then explodes into per-column rows driver-free.
  *
  * min/max surface as strings so heterogeneous columns share one
  * output schema. Callers that need engine-portable output (the q89
  * oracle) should profile string/integral columns — float→string and
  * timestamp→string formatting is engine-specific.
  */
object Profile {

  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profile needs at least one column")
    val aggs = columns.flatMap { c =>
      Seq(
        count(col(c)).as(s"__${c}__nonnull"),
        countDistinct(col(c)).as(s"__${c}__distinct"),
        min(col(c)).cast("string").as(s"__${c}__min"),
        max(col(c)).cast("string").as(s"__${c}__max"))
    }
    val row = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val perCol = columns.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n"),
        (col("__n") - col(s"__${c}__nonnull")).as("n_null"),
        col(s"__${c}__distinct").as("n_distinct"),
        col(s"__${c}__min").as("min_value"),
        col(s"__${c}__max").as("max_value"))
    }
    row.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Constraint-suite validation (the Deequ/Great-Expectations pattern,
    * declarative): each check is (name, metric aggregate → double,
    * minimum passing value); ALL metrics evaluate in ONE aggregation
    * over ONE scan (the per-check-loop shape scans N times), then the
    * single result row explodes into (check_name, metric, threshold,
    * passed) — the gate a pipeline evaluates before promoting a new
    * drop of upstream data, and the audit row it archives either way.
    *
    * Engine-portable metrics are RATIOS of counts (count_if/count,
    * countDistinct/count): exact integer-over-integer IEEE division,
    * so the pass/fail booleans and the metric doubles hash-compare
    * across engines. Mixed countDistinct + conditional counts plan as
    * the standard single Expand + aggregate (q89 precedent). */
  def audit(df: DataFrame, checks: Seq[(String, Column, Double)]): DataFrame = {
    require(checks.nonEmpty, "audit needs at least one check")
    val aggs = checks.zipWithIndex.map { case ((_, m, _), i) =>
      m.cast("double").as(s"__m$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perCheck = checks.zipWithIndex.map { case ((name, _, min), i) =>
      struct(
        lit(name).as("check_name"),
        col(s"__m$i").as("metric"),
        lit(min).as("threshold"),
        (col(s"__m$i") >= lit(min)).as("passed"))
    }
    row.select(explode(array(perCheck: _*)).as("c")).select("c.*")
  }

  /** Equi-depth histogram over ONE column, k buckets, at DISTINCT-VALUE
    * granularity: a value never splits across buckets (the principled
    * tie rule — row-level ntile splits equal values by arbitrary row
    * order), so bucket populations are as equal as the value
    * multiplicities allow. The optimizer-statistics / data-skipping
    * primitive.
    *
    * Scale shape: the corpus collapses to the DISTINCT-VALUE frequency
    * table first (one map-side-combined shuffle — the only corpus-
    * sized pass); the cumulative position then needs a TOTAL ORDER
    * over distinct values, which is a single-partition window — the
    * honest seam, O(distinct values) not O(rows), same class as
    * q142's posting lists (fine up to ~10M distincts; above that,
    * range-partition the frequency table and two-phase the running
    * sum). The row total broadcasts as a one-row cross join, never a
    * second table-wide window. Bucket id = floor(k × start_position /
    * total) on exact integer counts cast to double — identical IEEE
    * arithmetic in any engine below 2^53. */
  def equiDepthHistogram(df: DataFrame, c: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df.filter(col(c).isNotNull)
      .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
    // cum AND total from ONE Window pass (same partition/order spec,
    // two frames → one WindowExec, one sort): a separate total
    // aggregate branch would RE-SCAN the table — the first cut of this
    // operator did exactly that, two full scans per histogram.
    val ord = Window.orderBy("v")
    freq
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("total", sum(col("cnt")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("bucket",
        floor(((col("cum") - col("cnt")) * k).cast("double") / col("total"))
          .cast("bigint"))
      .groupBy("bucket")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("cnt")).as("n_rows"))
      .orderBy("bucket")
  }

  /** Distributed running total — the two-phase prefix sum that removes
    * the single-partition global-window funnel when the ordered domain
    * is too large for one task (equiDepthHistogram's documented seam;
    * also the general cumulative-metric primitive):
    *
    *  1. range-partition on `orderCol` (equal keys co-locate; the
    *     partitioner's sampled boundaries only place rows, they never
    *     appear in the result);
    *  2. per-partition totals collapse to `partitions` rows whose
    *     exclusive running sum — a window over that TINY table — is
    *     each partition's OFFSET, broadcast back;
    *  3. a per-partition window (parallel across partitions) adds the
    *     local prefix sum to the offset.
    *
    * Wall-clock is one range shuffle + one parallel local sort —
    * O(n/p) memory per task instead of O(n) in one task.
    *
    * The partition-id column is evaluated in two branches (offsets and
    * probe); both hang off the SAME range exchange, which Spark
    * deduplicates (ReuseExchange / AQE stage cache) so the sampled
    * boundaries are computed once and the ids agree — pinned in
    * ProfileSpec alongside result equality with the single-window
    * form. Requires a non-null `orderCol`; `valueCol` nulls sum as
    * zero (SQL sum semantics). */
  /** ORDER-INVARIANT GROUP CHECKSUM — the replication/migration audit
    * primitive: fingerprint a table (per group) WITHOUT moving its
    * rows, so two replicas — or two ENGINES, this one and the oracle —
    * can be compared by exchanging a handful of (group, n_rows,
    * checksum) triples. Each row's canonical representation hashes to
    * md5, the first 14 hex digits (56 bits) parse to an integer, the
    * terms SUM exactly (DECIMAL(38,0) — no overflow below ~10^21
    * rows), and the sum is reduced mod 2^52 to a BIGINT wire value —
    * commutative and associative, so the result is independent of row
    * order, partitioning, and merge shape (the property a naive "hash
    * of concatenated rows" lacks), and any engine with md5 + 64-bit
    * hex parsing replays it bit-identically. The 2^52 reduction keeps
    * the published checksum inside float64's exact-integer range, so
    * downstream comparators that route through double (pandas, JSON)
    * cannot corrupt it; modular sums stay order-invariant.
    *
    * Multiset semantics: duplicate rows add twice — intentional (a
    * replica that doubled a row must NOT checksum-match). Detection
    * only, not adversarial integrity: 52-bit state makes accidental
    * corruption collisions ~2^-52 per group but an adversary could
    * craft compensating rows; use a MAC'd canonical column for that.
    * Scale shape: the signature is scan-local (codegen'd md5 + conv);
    * the only shuffle is the domain-sized group agg.
    *
    * `canonical` must render every column deterministically across
    * engines — integers and strings compose safely with concat_ws;
    * cast integer-valued doubles to BIGINT first (double→string
    * formatting is engine-specific). NULL DISCIPLINE: concat_ws skips
    * nulls, so a null and an empty string render identically — for
    * nullable columns wrap each in coalesce(col, '<sentinel>') or two
    * replicas differing only in null-ness would checksum-match. */
  def groupChecksum(df: DataFrame, groupCol: String,
                    canonical: Column): DataFrame =
    df.withColumn("__sig",
        conv(substring(md5(canonical), 1, 14), 16, 10).cast("decimal(38,0)"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("__sig")) % lit(4503599627370496L))
          .cast("long").as("checksum"))

  /** BENFORD FIRST-DIGIT AUDIT (Benford 1938; the fraud/corruption
    * screen for financial and telemetry columns): observed leading-
    * digit shares vs the Benford expectation log10(1 + 1/d), one row
    * per digit 1–9 with the chi-square contribution. A clean organic
    * amount column tracks the curve; fabricated or truncated data
    * shows up as a fat digit.
    *
    * Determinism discipline: the leading digit is the first character
    * of floor(x) rendered as a BIGINT string — floor never changes the
    * leading digit of an x >= 1, and integer rendering is identical in
    * every engine — NOT floor(x/10^floor(log10 x)), whose libm log10
    * can land exactly-on-power-of-ten values in the wrong decade, and
    * not decimal rendering, whose rounding at the cast is engine-
    * specific. Requires values >= 1 (rows below are excluded; callers
    * with sub-unit domains should pre-scale). p_obs is exact int/int
    * IEEE division; chi terms are one fixed IEEE tree on exact counts,
    * rounded at 8.
    *
    * Scale shape: ONE narrow scan collapses to at most 9 counter rows
    * (map-side combine); the expected-share math runs on the 9-row
    * frame with the total as a one-row broadcast. */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val obs = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val total = obs.agg(sum(col("n_obs")).as("n_total"))
    val domain = obs.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    domain.join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .withColumn("p_exp", log10(lit(1.0) + lit(1.0) / col("digit")))
      .withColumn("p_obs",
        col("n_obs").cast("double") / col("n_total").cast("double"))
      .withColumn("chi_term",
        round(col("n_total").cast("double") *
          (col("p_obs") - col("p_exp")) * (col("p_obs") - col("p_exp")) /
          col("p_exp"), 8))
      .select(col("digit"), col("n_obs"), round(col("p_obs"), 8).as("p_obs"),
        round(col("p_exp"), 8).as("p_exp"), col("chi_term"))
  }

  /** GINI COEFFICIENT per group (the concentration/inequality measure
    * — revenue concentration per region, token-share skew per source)
    * by the exact rank formula on the sorted sample:
    * G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx), i = 1-based rank.
    *
    * Determinism discipline: x quantizes to DECIMAL(18,2) up front;
    * the rank is row_number under the TOTAL order (x, id) — ties get
    * consecutive ranks, and the formula's Σ i·x_i is tie-order-
    * invariant because equal x's swap ranks without changing the sum.
    * Σ i·x_i accumulates as exact long×decimal products; the final G
    * is one fixed IEEE tree, rounded at 6 — engine-replayable (q191).
    * Requires non-negative values: negatives make G ill-defined and
    * are dropped (documented, standard practice); a group with Σx = 0
    * returns null.
    *
    * Scale shape: one key shuffle feeds the per-group rank window and
    * the moment aggregation — no global sort. The window is
    * O(group size) per task, q176/q178's per-group-order seam. */
  def gini(df: DataFrame, groupCols: Seq[String], valueCol: String,
           idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = round(col(valueCol), 2).cast("decimal(18,2)")
    val ranked = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .withColumn("__x", x)
      .withColumn("__i", row_number().over(
        Window.partitionBy(groupCols.map(col): _*)
          .orderBy(col("__x"), col(idCol))).cast("long"))
    ranked.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__i")).as("__six"))
      .withColumn("gini",
        when(col("__sx") === 0, lit(null).cast("double")).otherwise(
          round((lit(2.0) * col("__six").cast("double") -
            (col("n") + 1).cast("double") * col("__sx").cast("double")) /
            (col("n").cast("double") * col("__sx").cast("double")), 6)))
      .drop("__sx", "__six")
  }

  /** Two-phase range-partitioned running total (q148's O(domain)
    * window seam's escape hatch; gated cross-engine by q160): range-
    * partition on the order key, per-partition prefix sums, then add
    * each partition's broadcast start offset.
    *
    * The checkpoint is REQUIRED for correctness, not an
    * optimization: `ranged` feeds TWO subtrees (the offsets aggregate
    * and the join input), and Spark's range exchange draws its
    * partition boundaries from a RANDOM-SEED sample per evaluated
    * exchange — if the optimizer does not reuse one exchange for both
    * subtrees (AQE sometimes does not), the offsets describe
    * DIFFERENT boundaries than the join branch's partitioning and the
    * running totals silently shift. Observed live: q249's two-phase
    * trim disagreed with its oracle at sf0.01 on exactly this;
    * ProfileSpec's equality test had only ever exercised the
    * exchange-reuse path. Materializing the ranged frame once pins
    * one set of boundaries for both consumers (the Dedup iterative-
    * pass discipline). */
  def runningTotalByRange(df: DataFrame, orderCol: String, valueCol: String,
                          partitions: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranged = Checkpoints(df.repartitionByRange(partitions, col(orderCol))
      .withColumn("__pid", spark_partition_id()))
    val offsets = ranged.groupBy("__pid").agg(sum(col(valueCol)).as("__ptot"))
      .withColumn("__off", coalesce(sum(col("__ptot")).over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0)))
      .select(col("__pid"), col("__off"))
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn("running_total",
        sum(col(valueCol)).over(
          Window.partitionBy("__pid").orderBy(orderCol)) + col("__off"))
      .drop("__pid")
  }
}
