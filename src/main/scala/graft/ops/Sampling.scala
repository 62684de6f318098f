package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling and dataset-splitting operators for training-data
  * pipelines: deterministic content-hash splits (train/eval membership
  * must be a pure function of the example, never of row order,
  * partitioning, or cluster size) and seeded stratified sampling.
  *
  * Scale design: the hash split is ROW-LOCAL (a codegen'd md5 compare
  * — no shuffle, no state, reproducible on any engine that can md5);
  * stratified sampling is Spark's per-stratum Bernoulli sampleBy —
  * one scan, no shuffle, seed-deterministic. */
object Sampling {

  /** Split label as a pure function of a key column: "train" iff the
    * md5 hex of the key sorts below the threshold prefix. Uniformity
    * comes from md5; determinism from content addressing — appending,
    * re-partitioning, or re-ordering the corpus never flips a row's
    * split. `thresholdHex` sets the train fraction: each leading hex
    * char ≈ 1/16 of mass (e.g. "cc" ≈ 204/256 ≈ 79.7% train).
    *
    * Engine-portable by construction (md5 + string compare exist
    * everywhere) — which also makes it DuckDB-oracle-checkable. */
  def hashSplitLabel(key: Column, thresholdHex: String): Column = {
    require(thresholdHex.nonEmpty &&
      thresholdHex.forall(c => "0123456789abcdef".contains(c)),
      "thresholdHex must be lowercase hex")
    when(substring(md5(key.cast("string")), 1, thresholdHex.length) < thresholdHex,
      lit("train")).otherwise(lit("eval"))
  }

  def hashSplit(df: DataFrame, keyCol: String, thresholdHex: String,
                labelCol: String = "split"): DataFrame =
    df.withColumn(labelCol, hashSplitLabel(col(keyCol), thresholdHex))

  /** Deterministic k-per-group sample — the bounded, reproducible
    * alternative to per-group reservoir sampling: rank rows inside
    * each group by (md5 of the key, then the key itself as the total
    * tie-break) and keep the first k. The md5 ranking is a uniform
    * random order that is a pure function of content, so the kept set
    * is invariant under row order, partitioning, and appends of
    * NON-sampled rows — and reproducible by any engine with md5
    * (hence DuckDB-oracle-checkable, q88, unlike an xxhash64 or
    * rand() ranking).
    *
    * Scale shape: one shuffle on the group key; the per-group sort is
    * a window over each group's rows. For groups large enough that
    * even sorting them is hostile, compose with a pre-filter on the
    * md5 prefix (hashSplitLabel) to cut each group to ~k·safety first
    * — documented rather than automatic, because the prefix bound
    * depends on the group-size floor. */
  def groupSample(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(keyCol).cast("string")).asc, col(keyCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Per-stratum CONTENT-ADDRESSED Bernoulli sample: a row is kept iff
    * the 6-hex-char prefix of md5(key ":" seed) sorts below the
    * stratum's threshold prefix (floor(fraction · 16^6) as 6 lowercase
    * hex digits — granularity 1/16M, far below Bernoulli noise at any
    * stratum size). Strata absent from `fractions` are dropped (null
    * threshold ⇒ predicate null ⇒ filtered), matching sampleBy.
    *
    * Deliberately NOT DataFrameStatFunctions.sampleBy: that plans a
    * `Filter UDF(strata, rand(seed))` — a codegen-breaking UDF whose
    * rand() stream is per-PARTITION seeded, so the kept-set silently
    * changes whenever the data is repartitioned. Hashing the key
    * instead keeps the whole filter codegen'd and makes membership a
    * pure function of the example — stable under reordering,
    * repartitioning, and appends, exactly like `hashSplit`. md5 + a
    * string compare exist in every engine (unlike xxhash64's private
    * seeding), so the kept-set is engine-portable and the per-stratum
    * counts DuckDB-oracle-checkable (q77), same trick as q88's md5
    * ranking. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                       fractions: Map[String, Double], seed: Long): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val thresholds = fractions.map { case (k, f) => k -> fractionHex(f) }
    val threshold = element_at(typedlit(thresholds), col(strataCol))
    val prefix = substring(
      md5(concat(col(keyCol).cast("string"), lit(":"), lit(seed.toString))),
      1, HexDigits)
    df.filter(prefix < threshold)
  }

  /** Deterministic fractional UPSAMPLING — the data-mixing primitive
    * (domain upweighting with fractional epochs, e.g. 2.5 "epochs" of
    * a source): every row emits floor(w) copies, plus one more iff its
    * content-addressed md5 prefix clears the fractional part — so
    * weight 2.5 yields exactly 2 or exactly 3 copies per doc, the same
    * count for the same doc forever (stable under repartitioning and
    * appends, like `stratifiedSample`; pick a seed distinct from any
    * concurrent down-sampling pass or the two coins correlate).
    * Weights below 1 degenerate to stratified down-sampling
    * (floor = 0); strata missing from the map take `defaultWeight`.
    * The copy expansion is a row-local explode — no shuffle — and the
    * copy index rides along so downstream packing can interleave
    * epochs instead of emitting them back-to-back. Engine-portable
    * (md5 + string compare), oracle-checked end-to-end (q103). */
  def upsampleByWeight(df: DataFrame, strataCol: String, keyCol: String,
                       weights: Map[String, Double], defaultWeight: Double,
                       seed: Long): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0.0),
      "weights must be >= 0")
    def floorOf(w: Double) = math.floor(w).toLong
    def fracHexOf(w: Double) = fractionHex(w - math.floor(w))
    val base = coalesce(
      element_at(typedlit(weights.map { case (k, w) => k -> floorOf(w) }),
        col(strataCol)),
      lit(floorOf(defaultWeight)))
    val thr = coalesce(
      element_at(typedlit(weights.map { case (k, w) => k -> fracHexOf(w) }),
        col(strataCol)),
      lit(fracHexOf(defaultWeight)))
    val prefix = substring(
      md5(concat(col(keyCol).cast("string"), lit(":"), lit(seed.toString))),
      1, HexDigits)
    val n = (base + when(prefix < thr, 1L).otherwise(0L)).cast("int")
    df.withColumn("copy",
      explode(when(n >= 1, sequence(lit(1), n))
        .otherwise(array().cast("array<int>"))))
  }

  /** MIXTURE PLANNING — the sizing step that feeds `upsampleByWeight`
    * / `stratifiedSample`: given target mixture weights and a total
    * token budget, compute each stratum's sampling rate
    * rate_s = min(1, budget · w_s / tokens_s) and its planned token
    * yield. Rates cap at 1 (a stratum cannot yield more than it has
    * without upsampling — a capped rate is the signal to hand that
    * stratum to `upsampleByWeight` instead). Output is one row per
    * stratum: (stratum, n_docs, n_tokens, weight, rate,
    * planned_tokens).
    *
    * Scale shape: ONE partial-aggregated groupBy over the corpus
    * (shuffles (stratum, count, sum) partials only), then row-local
    * arithmetic on the stratum-sized result. The rate is rounded to 4
    * decimals BEFORE computing planned_tokens so the plan is
    * engine-portable (double ops + half-even rounding reproduce
    * everywhere — DuckDB-oracle-checkable, q111). */
  def mixturePlan(df: DataFrame, strataCol: String, sizeCol: String,
                  weights: Map[String, Double], defaultWeight: Double,
                  tokenBudget: Double): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0.0),
      "weights must be >= 0")
    df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol)).cast("long").as("n_tokens"))
      .withColumn("weight",
        coalesce(element_at(typedlit(weights), col(strataCol)),
          lit(defaultWeight)))
      .withColumn("rate",
        round(least(lit(1.0),
          lit(tokenBudget) * col("weight") / col("n_tokens")), 4))
      .withColumn("planned_tokens",
        round(col("rate") * col("n_tokens")).cast("long"))
  }

  /** Deterministic BALANCED shard assignment — the writer-side layout
    * primitive for training shards: round-robin over `numShards` within
    * each (groupCols, size-bucket) window, ordered by `idCol`. Docs in
    * the same bucket are within `bucketWidth` size units of each other,
    * so round-robin spreads each bucket's population to within one doc
    * per shard and total shard sizes balance to within
    * numShards · bucketWidth per group — no global sort, no greedy
    * bin-packing (which is inherently sequential and
    * ordering-dependent). Deterministic: a pure function of
    * (group, bucket, id-order), stable across runs and partitionings.
    *
    * Scale shape: the only shuffle is the window's hash partition on
    * (group, bucket) — each window holds one bucket's rows, NOT the
    * whole corpus (never a global row_number). A single (group, bucket)
    * cell can still be corpus-sized in a degenerate size distribution;
    * production layouts then split the window further by a hash-prefix
    * of the id (each sub-window still round-robins evenly) — documented
    * rather than automatic since the sub-split factor depends on the
    * cell-size ceiling. Downstream, `repartition(numShards, shard)` +
    * sortWithinPartitions gives one writer task per shard. */
  def balancedShards(df: DataFrame, idCol: String, sizeCol: String,
                     numShards: Int, bucketWidth: Int,
                     groupCols: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numShards >= 1 && bucketWidth >= 1,
      "numShards and bucketWidth must be positive")
    val bucket = floor(col(sizeCol) / lit(bucketWidth.toDouble))
    val w = Window.partitionBy(groupCols :+ bucket: _*).orderBy(col(idCol))
    df.withColumn("shard",
      ((row_number().over(w) - 1) % numShards).cast("long"))
  }

  /** Deterministic TRAINING-ORDER SHUFFLE: the global random
    * permutation a training run wants, as a pure function of content —
    * shard = (md5 coin of the id) mod numShards, within-shard order =
    * the remaining hex of the same coin. Writing with
    * repartition(numShards, shard) + sortWithinPartitions(shuffle_key)
    * materializes the layout with ONE shuffle and NO global sort — a
    * global row_number permutation would funnel the corpus through one
    * window partition, the classic scale killer, while this is
    * row-local until the write. Stable under row order, partitioning,
    * and appends (an appended doc lands at its content-addressed
    * position without moving anyone else); engine-portable md5, so
    * oracle-checkable end-to-end (q124). */
  def trainingShuffle(df: DataFrame, idCol: String, seed: Long,
                      numShards: Int): DataFrame = {
    require(numShards >= 1, "numShards must be positive")
    val h = md5(concat(col(idCol).cast("string"), lit(":"), lit(seed.toString)))
    df.withColumn("shard",
        conv(substring(h, 1, 6), 16, 10).cast("long") % numShards)
      .withColumn("shuffle_key", substring(h, 7, 26))
  }

  /** TEMPERATURE-SCALED mixture plan — the multilingual-LM sampling
    * rule (mT5 / XLM-R style): stratum weight ∝ p_s^α where p_s is the
    * stratum's token share and α ∈ (0, 1] the temperature. α = 1 is
    * proportional (natural) sampling; lowering α flattens the mixture,
    * upweighting low-resource strata without the hand-tuned weight map
    * `mixturePlan` takes. Output mirrors mixturePlan plus (p, weight):
    * (stratum, n_docs, n_tokens, p, weight, rate, planned_tokens).
    *
    * Scale shape: ONE partial-aggregated groupBy over the corpus; the
    * share/normalization math runs on the stratum-sized frame (two
    * broadcast one-row joins for the totals). weight is rounded to 6
    * before the rate so the plan is engine-portable despite pow()'s
    * last-ulp wiggle (q125's oracle replays the same rounding). */
  def temperatureMixture(df: DataFrame, strataCol: String, sizeCol: String,
                         alpha: Double, tokenBudget: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(tokenBudget > 0, "tokenBudget must be positive")
    val sizes = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol)).cast("long").as("n_tokens"))
    val total = sizes.agg(sum(col("n_tokens")).cast("double").as("__total"))
    val withP = sizes.crossJoin(broadcast(total))
      .withColumn("__p_raw", col("n_tokens") / col("__total"))
      .withColumn("__pa", pow(col("__p_raw"), lit(alpha)))
    val z = withP.agg(sum(col("__pa")).as("__z"))
    withP.crossJoin(broadcast(z))
      .withColumn("p", round(col("__p_raw"), 6))
      .withColumn("weight", round(col("__pa") / col("__z"), 6))
      .withColumn("rate",
        round(least(lit(1.0),
          lit(tokenBudget) * col("weight") / col("n_tokens")), 4))
      .withColumn("planned_tokens",
        round(col("rate") * col("n_tokens")).cast("long"))
      .drop("__total", "__p_raw", "__pa", "__z")
  }

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-ES,
    * "Weighted random sampling with a reservoir", IPL 2006): each row
    * draws u ~ U(0,1) and keeps key = −ln(u)/w; the k SMALLEST keys
    * are the sample, selected with probability proportional to weight
    * (sequentially, without replacement). The classic use: sample a
    * token-budget-proportional or quality-weighted document subset.
    *
    * The uniform draw is CONTENT-ADDRESSED — 13 md5 hex chars of
    * (id, seed) parsed as an integer over 16^13 (= 2^52, exact in
    * doubles) — so the sample is a pure function of content: stable
    * under reordering/repartitioning, reproducible cross-engine
    * (DuckDB-oracle-checkable, q132), and reseedable. Selection is
    * orderBy(key).limit(k) — TakeOrderedAndProject (per-partition
    * heaps + driver merge of k rows), never a global sort. Weights
    * must be strictly positive: null/zero/negative-weight rows are
    * DROPPED before keying — a null weight yields a null es_key and
    * ascending order puts NULLS FIRST, and a negative weight flips the
    * key's sign, so either would silently preempt the whole sample
    * instead of erroring. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
                     k: Int, seed: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val v = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(":" + seed))), 1, 13),
      16, 10).cast("double")
    val u = (v + lit(0.5)) / lit(math.pow(16, 13))
    df.filter(weight.isNotNull && weight > 0)
      .withColumn("es_key", -log(u) / weight)
      .orderBy(col("es_key"), col(idCol))
      .limit(k)
  }

  /** PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM 2007): a fixed-k
    * weighted sample that supports UNBIASED subset-sum estimation —
    * the estimator complement of weightedSample's selection-only ES
    * draw. Priority q_i = w_i / u_i with the SAME content-addressed
    * uniform (13 md5 hex chars over 2^52 — cross-engine replayable);
    * keep the k largest priorities; τ = the (k+1)-th priority; every
    * kept row carries ŵ_i = max(w_i, τ), and Σ ŵ over ANY kept subset
    * unbiasedly estimates that subset's true weight sum (the theorem's
    * point: ONE 100-row sample answers every "revenue of brand X"-
    * style subset query with bounded variance — the 100 TB use is a
    * per-shard sketch table of samples replacing full scans for
    * ad-hoc slicing).
    *
    * Scale shape: the coin and priority are row-local; selection is
    * orderBy(priority).limit(k+1) = TakeOrderedAndProject (per-
    * partition heaps + a driver merge of k+1 rows, never a global
    * sort); the only window runs on the (k+1)-row frame — bounded by
    * construction (the declared-bounded-domain class, not the q273
    * funnel). Fewer than k+1 rows ⇒ τ = 0 and ŵ = w (the sample IS
    * the population, estimate exact).
    *
    * Weights must be strictly positive (weightedSample's contract and
    * for the same reason). Output: keyCols + (w, priority, tau,
    * w_hat). */
  def prioritySample(df: DataFrame, keyCols: Seq[String], weight: Column,
                     k: Int, seed: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val keyStr = concat_ws(":",
      keyCols.map(c => col(c).cast("string")): _*)
    val v = conv(substring(
      md5(concat(keyStr, lit(":" + seed))), 1, 13), 16, 10).cast("double")
    val u = (v + lit(0.5)) / lit(math.pow(16, 13))
    val tail = df.filter(weight.isNotNull && weight > 0)
      .withColumn("w", weight)
      .withColumn("priority", col("w") / u)
      .orderBy(col("priority").desc +: keyCols.map(col): _*)
      .limit(k + 1)
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("priority").desc +: keyCols.map(col): _*)))
    val tau = tail.filter(col("__rn") === k + 1)
      .groupBy().agg(max(col("priority")).as("tau"))
    tail.filter(col("__rn") <= k)
      .crossJoin(broadcast(tau))
      .withColumn("tau", coalesce(col("tau"), lit(0.0)))
      .withColumn("w_hat", greatest(col("w"), col("tau")))
      .drop("__rn")
  }

  /** Exact global ranks WITHOUT a global sort — the RangePartitioner
    * form of the q273 range-split planner's order-statistic pick, and
    * the row-number sibling of Profile.runningTotalByRange's two-phase
    * running total. A plain `row_number() OVER (ORDER BY ...)` moves
    * the whole frame to ONE partition (Spark warns exactly that); this
    * instead:
    *
    *   1. range-partitions on the sort key (Spark samples boundaries
    *      internally — a per-partition reservoir + merge, bounded
    *      driver state),
    *   2. checkpoints the ranged frame — REQUIRED, not an
    *      optimization: the range exchange draws boundaries from a
    *      random-seed sample per evaluated exchange, and the counts
    *      branch and the rank branch must see the SAME boundaries
    *      (the runningTotalByRange defect, observed live in r11),
    *   3. per-partition row_number (partition-local sort, spillable),
    *   4. adds each partition's start offset, computed from the
    *      per-partition counts by a triangular broadcast self-join on
    *      the partition-count-sized frame — deliberately windowless,
    *      so the plan contains NO empty-partition-spec WindowExec at
    *      all (PlanShapeSpec pins this for q273).
    *
    * `sortCols` must be a TOTAL order for ranks to be deterministic
    * (same contract as row_number itself). Output: input columns plus
    * `rn` (1-based global rank, long). */
  def rankedByRange(df: DataFrame, sortCols: Seq[String],
                    partitions: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    val ranged = Checkpoints(df.repartitionByRange(partitions, sortCols.map(col): _*)
      .withColumn("__pid", spark_partition_id()))
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("__pn"))
    val offsets = counts
      .join(broadcast(counts.select(col("__pid").as("__q"),
        col("__pn").as("__qn"))), col("__q") < col("__pid"), "left")
      .groupBy("__pid")
      .agg(coalesce(sum("__qn"), lit(0L)).as("__off"))
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("__pid")
          .orderBy(sortCols.map(col): _*)).cast("long") + col("__off"))
      .drop("__pid", "__off")
  }

  /** `Checkpoints.releaseQuery()`, under the name perfbench's runner
    * calls after each query. */
  def releaseCheckpoints(): Unit = Checkpoints.releaseQuery()

  /** Exact ntile(k) over a TOTAL order with NO single-partition
    * WindowExec: global rank via rankedByRange, then ntile's
    * first-(n mod k)-tiles-get-one-extra rule in closed integer form.
    * With q = n div k, r = n mod k (the first r tiles hold q+1 rows,
    * the rest q):
    *
    *   tile(rn) = ceil(rn / (q+1))                     if rn ≤ r·(q+1)
    *            = r + ceil((rn − r·(q+1)) / q)         otherwise
    *
    * (n < k ⇒ q = 0 and every row takes the first branch, tile = rn —
    * exactly ntile's behavior; the q = 0 divisor in the second branch
    * is unreachable, CaseWhen short-circuits.) NOTE the obvious
    * `((rn−1)·k) div n + 1` is NOT ntile: at n = 7, k = 5 it deals
    * sizes [2,1,2,1,1] where ntile deals [2,2,1,1,1].
    *
    * `sortCols` must be a total order (rankedByRange contract) — then
    * the output is bit-identical to `ntile(k) OVER (ORDER BY ...)` and
    * survives the same hash oracle (q313 pins the dealing rule
    * cross-engine). Output: input columns + `out` (int, 1..k, ntile's
    * dtype). Used by q289/q317, whose user-grain frame scales with the
    * corpus — the r13 verdict's one remaining scale-killer. */
  def ntileByRange(df: DataFrame, k: Int, sortCols: Seq[String],
                   partitions: Int, out: String = "stratum"): DataFrame = {
    require(k >= 1, "k must be positive")
    val ranked = rankedByRange(df, sortCols, partitions)
    val tot = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("__q", expr(s"__n div ${k}L"))
      .withColumn("__r", expr(s"__n % ${k}L"))
      .withColumn(out,
        when(col("rn") <= col("__r") * (col("__q") + lit(1L)),
          expr("(rn + __q) div (__q + 1)"))
          .otherwise(expr("__r + (rn - __r * (__q + 1) + __q - 1) div __q"))
          .cast("int"))
      .drop("rn", "__n", "__q", "__r")
  }

  /** Hex digits of sampling-threshold precision (16^6 = 16,777,216). */
  val HexDigits = 6

  /** fraction → threshold prefix: floor(f · 16^6) as 6 lowercase hex
    * digits. f = 1.0 would need a 7th digit ("1000000"), which a 6-char
    * prefix compares char-wise as '<' FALSE against — so keep-all uses
    * "g", which sorts above every hex char. */
  private[graft] def fractionHex(f: Double): String =
    if (f >= 1.0) "g"
    else f"${(f * (1L << (4 * HexDigits))).toLong}%06x"
}
