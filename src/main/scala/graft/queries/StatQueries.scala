package graft.queries

import graft.{Q, Tables}
import graft.ops.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 statistics / evaluation wave: the estimators an
  * experimentation + data-quality stack runs beside the q169/q176/q207
  * family — cumulative-hazard survival (Nelson–Aalen), rank-based
  * two-sample testing (Mann–Whitney U), pairwise-preference rating
  * (Bradley–Terry MM), inter-rater agreement (Cohen's kappa), Zipf
  * law fit over the token frequency spectrum, exponential-decay
  * popularity scoring, grouped OLS with a residual audit pass, and
  * ordinal 1-to-1 reconciliation matching.
  *
  * House numeric discipline throughout (NOTES_r11 / the r11 verdict's
  * comparator-parity rules): every accumulated floating term is
  * quantized to DECIMAL before the sum (decimal sums are
  * order-invariant, so no float-summation-order drift between Spark
  * and the DuckDB oracle); divisions/sqrt/exp/ln happen on scalars or
  * per-row values where IEEE rounding is deterministic, and every
  * float OUTPUT is `round(_, 6)` DOUBLE; integer outputs are BIGINT;
  * no DECIMAL/array/date column rides the gate.
  */
object StatQueries {

  /** Per-user conversion exit frame shared by the survival estimators
    * (same construction as q207 Kaplan–Meier, EventQueries.scala:1324):
    * t_exit = days from first activity to first purchase (event) or to
    * last activity (censored). */
  private def exitFrame(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir).groupBy("user_id").agg(
      min(to_date(col("ts"))).as("first_day"),
      max(to_date(col("ts"))).as("last_day"),
      min(when(col("event_type") === "purchase", to_date(col("ts"))))
        .as("first_purchase"))
    perUser.select(
      when(col("first_purchase").isNotNull,
        datediff(col("first_purchase"), col("first_day")))
        .otherwise(datediff(col("last_day"), col("first_day")))
        .cast("long").as("t_exit"),
      col("first_purchase").isNotNull.as("died"))
  }

  val queries: Map[String, Q] = Map(

    // NELSON-AALEN CUMULATIVE HAZARD (Aalen 1978 — q207's additive
    // sibling; preferred at small risk sets because it never
    // multiplies by zero): H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over event times,
    // S̃ = exp(−H) (Fleming–Harrington). Same per-user exit frame and
    // O(|distinct t|) risk-set window as q207; each hazard increment
    // is ONE deterministic double division quantized DECIMAL(24,10)
    // before the cumulative sum, so the running H is engine-exact and
    // order-invariant. The window is day-cardinality (O(domain) seam,
    // cf. q148) — at scale, Profile.runningTotalByRange replaces it.
    "q256_nelson_aalen" -> ((s, dir) => {
      val byT = exitFrame(s, dir).groupBy("t_exit").agg(
        count(lit(1)).as("n_exit"),
        sum(when(col("died"), 1L).otherwise(0L)).as("d"))
      val ord = Window.orderBy("t_exit")
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT
        .withColumn("n_total", sum("n_exit").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("exited_before", coalesce(sum("n_exit").over(
          ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("at_risk", col("n_total") - col("exited_before"))
        .filter(col("d") > 0)
        .withColumn("hterm",
          round(col("d").cast("double") / col("at_risk").cast("double"), 10)
            .cast("decimal(24,10)"))
        .withColumn("cum_h", sum("hterm").over(cum))
        .select(col("t_exit").as("t_days"), col("d").as("n_converted"),
          col("at_risk"),
          round(col("cum_h").cast("double"), 6).as("cum_hazard"),
          round(exp(-col("cum_h").cast("double")), 6).as("fh_survival"))
        .orderBy("t_days")
    }),

    // MANN-WHITNEY U (Mann & Whitney 1947) — the rank-based two-sample
    // test beside Welch (q169) and KS (q176): returned (R) vs accepted
    // (A) line quantities. Average ranks are computed on the VALUE
    // DOMAIN, not the rows: group by quantity → (tie size t, group-R
    // share), min-rank = 1 + running Σt, avg-rank×2 = 2·rmin + t − 1
    // (integer — halves carried ×2 so every statistic is exact until
    // the final z division). The only window is over |distinct
    // quantity| rows (value-domain cardinality, not data), so the
    // whole test is one map-side-combined aggregate + a domain-sized
    // window — the form that survives a billion rows. Tie-corrected
    // normal approximation; AUC = U₁/(n₁n₂) is the common-language
    // effect size.
    "q257_mann_whitney" -> ((s, dir) => {
      val v = Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_returnflag").as("flag"),
          round(col("l_quantity"), 2).cast("decimal(18,2)").as("y"))
      val byY = v.groupBy("y").agg(
        count(lit(1)).as("t"),
        sum(when(col("flag") === "R", 1L).otherwise(0L)).as("tr"))
      val ord = Window.orderBy("y")
      val ranked = byY.withColumn("rmin",
        coalesce(sum("t").over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)) + 1L)
        .withColumn("ar2", lit(2L) * col("rmin") + col("t") - 1L)
      val agg = ranked.agg(
        sum(col("tr") * col("ar2")).as("r1x2"),
        sum(col("tr")).as("n1"),
        sum(col("t") - col("tr")).as("n2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tcorr"))
      val n = col("n1") + col("n2")
      val u1x2 = col("r1x2") - col("n1") * (col("n1") + 1L)
      val sig2 = col("n1").cast("double") * col("n2").cast("double") / 12.0 *
        ((n + 1L).cast("double") -
          col("tcorr").cast("double") /
            (n.cast("double") * (n - 1L).cast("double")))
      agg.select(
        col("n1"), col("n2"),
        round(u1x2.cast("double") / 2.0, 1).as("u1"),
        round((u1x2 - col("n1") * col("n2")).cast("double") /
          (lit(2.0) * sqrt(sig2)), 6).as("z"),
        round(u1x2.cast("double") /
          (lit(2.0) * col("n1").cast("double") * col("n2").cast("double")), 6)
          .as("auc"))
    }),

    // BRADLEY-TERRY PAIRWISE RATING (Bradley & Terry 1952; MM update
    // from Hunter 2004 — the Chatbot-Arena / preference-data rating
    // primitive): within each order, of two lines with different
    // brands the pricier line's brand "wins" the comparison. Two MM
    // iterations from the uniform rating, each: denomᵢ =
    // Σⱼ nᵢⱼ/(pᵢ+pⱼ) with per-edge terms quantized DECIMAL(18,9)
    // (order-invariant sums), pᵢ′ = Wᵢ/denomᵢ, then mean-1
    // renormalization. The comparison self-join is per-order (≤12
    // lines) — never quadratic in the table; ratings/edges are
    // brand-cardinality (25) and broadcast everywhere.
    "q258_bradley_terry" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"),
          round(col("l_extendedprice"), 2).cast("decimal(18,2)").as("price"))
      val a = li.as("a"); val b = li.as("b")
      val pairs = a.join(b,
          col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand") &&
            col("a.price") =!= col("b.price"))
        .select(
          when(col("a.price") > col("b.price"), col("a.brand"))
            .otherwise(col("b.brand")).as("winner"),
          when(col("a.price") > col("b.price"), col("b.brand"))
            .otherwise(col("a.brand")).as("loser"))
      val games = pairs.groupBy(
          least(col("winner"), col("loser")).as("i"),
          greatest(col("winner"), col("loser")).as("j"))
        .agg(count(lit(1)).as("nij"),
          sum(when(col("winner") < col("loser"), 1L).otherwise(0L)).as("wi"))
      // directed view: one row per (player, opponent, games, wins-of-player)
      // tiny (≤ brands² rows); reused 2×2 times
      val dirEdges = Checkpoints(games.select(col("i").as("p"), col("j").as("o"),
          col("nij"), col("wi").as("w"))
        .union(games.select(col("j").as("p"), col("i").as("o"),
          col("nij"), (col("nij") - col("wi")).as("w"))))
      val totals = dirEdges.groupBy("p").agg(
        sum("w").as("wins"), sum("nij").as("games"))
      val nPlayers = lit(25.0)
      def iterate(ratings: DataFrame): DataFrame = {
        val r = broadcast(ratings)
        val denom = dirEdges
          .join(r.select(col("p"), col("rating").as("rp")), Seq("p"))
          .join(r.select(col("p").as("o"), col("rating").as("ro")), Seq("o"))
          .groupBy("p").agg(sum(
            round(col("nij").cast("double") /
              (col("rp") + col("ro")).cast("double"), 9)
              .cast("decimal(18,9)")).as("denom"))
        val raw = denom.join(totals, Seq("p"))
          .select(col("p"),
            round(col("wins").cast("double") / col("denom").cast("double"), 9)
              .cast("decimal(18,9)").as("raw"))
        val m = raw.agg(sum("raw").as("m"))
        raw.crossJoin(broadcast(m))
          .select(col("p"),
            round(col("raw").cast("double") * nPlayers / col("m").cast("double"), 9)
              .cast("decimal(18,9)").as("rating"))
      }
      val init = totals.select(col("p"),
        lit(1.0).cast("decimal(18,9)").as("rating"))
      val rated = iterate(iterate(init))
      rated.join(totals, Seq("p"))
        .select(col("p").as("brand"),
          round(col("rating").cast("double"), 6).as("rating"),
          col("wins"), col("games"))
        .orderBy(desc("rating"), col("brand"))
    }),

    // COHEN'S KAPPA (Cohen 1960 — inter-annotator agreement, the
    // label-quality gate for supervised/RLHF data): two deterministic
    // "raters" over documents — A: char count ≥ 300, B: whitespace
    // word count ≥ 55 — agreement corrected for chance from the 2×2
    // contingency. One map-side-combined aggregate; all counts
    // integers, po/pe/κ one fixed IEEE tree each.
    "q259_cohens_kappa" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        (col("n_chars") >= 300L).as("ra"),
        (size(split(trim(col("text")), "\\s+")) >= 55).as("rb"))
      val c = d.agg(
        count(lit(1)).as("n"),
        sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
      val nD = col("n").cast("double")
      val po = (col("n11") + col("n00")).cast("double") / nD
      val pe = ((col("n11") + col("n10")).cast("double") *
        (col("n11") + col("n01")).cast("double") +
        (col("n01") + col("n00")).cast("double") *
          (col("n10") + col("n00")).cast("double")) / (nD * nD)
      c.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        round(when(pe === 1.0, lit(0.0)).otherwise((po - pe) / (lit(1.0) - pe)),
          6).as("kappa"))
    }),

    // ZIPF SLOPE (Zipf 1949; token-frequency power-law fit — the
    // corpus-health diagnostic run beside q56/q189: natural text has
    // slope ≈ −1, boilerplate/spam bends it): explode tokens, count,
    // take the top-200 spectrum (deterministic freq-desc/token-asc
    // tie-break), OLS on (ln rank, ln freq) with both regressors
    // quantized DECIMAL(12,6) per row so Σx/Σy/Σxy/Σxx/Σyy are exact
    // decimal sums (products stay inside DECIMAL(25,12)). The only
    // window is the vocab-sized top-k rank. Slope/intercept/R² one
    // IEEE tree each from the six scalars.
    "q260_zipf_slope" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
        .filter(col("tok") =!= "")
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      val top = freq
        .withColumn("r", row_number().over(
          Window.orderBy(desc("freq"), col("tok"))))
        .filter(col("r") <= 200)
        .select(
          round(log(col("r").cast("double")), 6).cast("decimal(12,6)").as("x"),
          round(log(col("freq").cast("double")), 6).cast("decimal(12,6)").as("y"))
      val mrow = top.agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val sxy = col("sxy").cast("double"); val sxx = col("sxx").cast("double")
      val syy = col("syy").cast("double")
      val covn = nD * sxy - sx * sy
      val varxn = nD * sxx - sx * sx
      val varyn = nD * syy - sy * sy
      mrow.select(col("n").as("n_tokens"),
        round(covn / varxn, 6).as("slope"),
        round((sy - covn / varxn * sx) / nD, 6).as("intercept"),
        round(covn * covn / (varxn * varyn), 6).as("r2"))
    }),

    // EXPONENTIAL-DECAY POPULARITY (the freshness-weighted demand
    // score behind trending feeds / cache-admission ranking; q225's
    // trending is window-based, this is the closed-form kernel):
    // score(brand) = Σ qty · 2^(−age/30d) against the 2002-01-01
    // reference instant — a 30-day half-life. Per-row kernel is one
    // deterministic pow quantized DECIMAL(18,8); ONE
    // map-side-combined aggregate over (brand); part is broadcast.
    // No window, no second shuffle — the shape that survives 100 TB.
    "q261_decay_popularity" -> ((s, dir) => {
      val ref = lit("2002-01-01").cast("date")
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          round(col("l_quantity") *
            pow(lit(2.0),
              -(datediff(ref, to_date(col("l_shipdate"))).cast("double") / 30.0)),
            8).cast("decimal(18,8)").as("term"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          round(sum("term").cast("double"), 6).as("popularity"))
        .orderBy(desc("popularity"), col("p_brand"))
    }),

    // GROUPED OLS + RESIDUAL AUDIT (q175's fit taken through the full
    // fit → broadcast → apply → audit cycle that a feature-drift
    // monitor runs): per return flag, fit price ~ quantity from one
    // partial-agg pass (decimal-quantized sums), broadcast the 3-row
    // fit back over the fact, and audit residuals — RMSE from
    // DECIMAL(18,4)-quantized squared residuals, worst offender via a
    // lexicographic max over (|res|, orderkey, linenumber) structs
    // (deterministic argmax, NO per-group sort or window). Both
    // passes are map-side-combined aggregates; the apply stage is
    // narrow.
    "q262_ols_residuals" -> ((s, dir) => {
      val rows = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 2).cast("decimal(18,2)").as("x"),
        round(col("l_extendedprice"), 2).cast("decimal(18,2)").as("y"))
      val m = rows.groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val nD = col("n").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val slope = (nD * col("sxy").cast("double") - sx * sy) /
        (nD * col("sxx").cast("double") - sx * sx)
      val fit = m.select(col("flag"), col("n"),
        slope.as("slope"), ((sy - slope * sx) / nD).as("icpt"))
      val res = rows.join(broadcast(fit), Seq("flag"))
        .withColumn("res",
          col("y").cast("double") -
            (col("icpt") + col("slope") * col("x").cast("double")))
      res.groupBy("flag").agg(
          first("n").as("n"),
          first(round(col("slope"), 6)).as("slope"),
          first(round(col("icpt"), 6)).as("intercept"),
          sum(round(col("res") * col("res"), 4).cast("decimal(18,4)"))
            .as("ss"),
          max(struct(round(abs(col("res")), 6).cast("decimal(18,6)").as("ar"),
            col("l_orderkey").as("ok"), col("l_linenumber").as("ln")))
            .as("w"))
        .select(col("flag"), col("n"), col("slope"), col("intercept"),
          round(sqrt(col("ss").cast("double") / col("n").cast("double")), 6)
            .as("rmse"),
          col("w.ok").as("worst_orderkey"),
          col("w.ln").cast("long").as("worst_linenumber"),
          round(col("w.ar").cast("double"), 6).as("worst_absres"))
        .orderBy("flag")
    }),

    // ORDINAL 1-TO-1 RECONCILIATION (the rank-rank matching primitive
    // behind payment↔invoice and impression↔conversion reconciliation;
    // q230 matches FIRST click to FIRST purchase — this matches the
    // k-th to the k-th): rank clicks and purchases per user by
    // (ts, event_id), full-outer join on (user, rank), report match
    // coverage and signed lag. Deterministic assignment with NO greedy
    // loop; windows are per-user partitions (bounded), the join is the
    // only shuffle. Lags are exact integer MICROseconds (the fixtures
    // carry sub-second ts; epoch() would float them) — seconds only at
    // the final division.
    "q263_ordinal_match" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def ranked(t: String): DataFrame = ev
        .filter(col("event_type") === t)
        .select(col("user_id"), col("ts"),
          col("event_id"),
          row_number().over(Window.partitionBy("user_id")
            .orderBy("ts", "event_id")).as("rn"))
      val c = ranked("click").select(col("user_id"), col("rn"),
        unix_micros(col("ts")).as("cts"))
      val p = ranked("purchase").select(col("user_id"), col("rn"),
        unix_micros(col("ts")).as("pts"))
      c.join(p, Seq("user_id", "rn"), "full_outer").agg(
        sum(when(col("cts").isNotNull && col("pts").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("pts").isNull, 1L).otherwise(0L)).as("n_click_only"),
        sum(when(col("cts").isNull, 1L).otherwise(0L)).as("n_purchase_only"),
        round(sum(when(col("cts").isNotNull, col("pts") - col("cts")))
          .cast("double") /
          sum(when(col("cts").isNotNull && col("pts").isNotNull, 1L)
            .otherwise(0L)).cast("double") / lit(1000000.0), 6)
          .as("mean_lag_s"),
        round(sum(when(col("cts").isNotNull && col("pts") > col("cts"), 1L)
          .otherwise(0L)).cast("double") /
          sum(when(col("cts").isNotNull && col("pts").isNotNull, 1L)
            .otherwise(0L)).cast("double"), 6).as("frac_after"))
    }),

    // BOOTSTRAP CONFIDENCE INTERVAL (Efron 1979) for the mean daily
    // purchase revenue — the nonparametric CI every metrics platform
    // quotes when normality is dubious. The resampling is
    // CONTENT-ADDRESSED, not rand(): resample b's slot i draws day
    // index conv(md5(b:i:boot))%N — the house md5-coin (q76/q124
    // discipline: partition-invariant, reseedable, replayable by any
    // engine with md5). B=199 resamples × N days is a domain-sized
    // grid (never rows×B); per-resample means are DECIMAL-exact
    // (quantized sums / exact counts), and the percentile ranks are
    // taken on the (mean, b) DECIMAL pair — no float ordering. CI =
    // 5th/195th order statistics of 199 means (the classic 2.5%/97.5%
    // type-1 picks).
    "q269_bootstrap_ci" -> ((s, dir) => {
      // tiny (day-cardinality); reused by grid+join
      val daily = Checkpoints(Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(round(col("value"), 2).cast("decimal(18,2)")).as("rev"))
        .withColumn("idx",
          row_number().over(Window.orderBy("d")).cast("long") - 1L))
      val nDays = daily.agg(count(lit(1)).as("n_days"))
      val bs = s.range(1, 200).select(col("id").as("b"))
      val grid = bs.crossJoin(daily.select(col("idx").as("slot")))
        .crossJoin(broadcast(nDays))
        .select(col("b"),
          (conv(substring(md5(concat(col("b").cast("string"), lit(":"),
            col("slot").cast("string"), lit(":boot"))), 1, 6), 16, 10)
            .cast("long") % col("n_days")).as("j"))
      val means = grid.join(daily.select(col("idx").as("j"), col("rev")),
          Seq("j"))
        .groupBy("b")
        .agg((sum("rev").cast("double") / count(lit(1)).cast("double"))
          .as("mraw"))
        .select(col("b"), round(col("mraw"), 9).cast("decimal(18,9)").as("m"))
      val ranked = means.withColumn("rn",
        row_number().over(Window.orderBy("m", "b")))
      val lo = ranked.filter(col("rn") === 5)
        .select(round(col("m").cast("double"), 6).as("ci_lo"))
      val hi = ranked.filter(col("rn") === 195)
        .select(round(col("m").cast("double"), 6).as("ci_hi"))
      val point = daily.agg(
        count(lit(1)).as("n_days"),
        round(sum("rev").cast("double") / count(lit(1)).cast("double"), 6)
          .as("point_mean"))
      point.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .select(col("n_days"), lit(199L).as("n_boot"), col("point_mean"),
          col("ci_lo"), col("ci_hi"))
    }),

    // TIME-DECAY MULTI-TOUCH ATTRIBUTION (the fourth attribution model
    // beside first-touch q152 / linear q159 / position q206): each
    // purchase credits its preceding clicks/views within 7 days with
    // weight 2^(−Δ/1 day), normalized per purchase — recent touches
    // earn more. Weights are per-pair deterministic pow quantized
    // DECIMAL(18,9) (order-invariant denominators); credited value
    // quantized DECIMAL(18,6) before the channel rollup. The
    // touch×purchase join fans out per user (bounded by per-user
    // activity and the 7-day window — the q159 session-length
    // argument); purchases with no prior touch fall out (direct
    // conversions, reported by q152's first-touch view).
    "q270_decay_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), col("event_id").as("pid"),
          unix_micros(col("ts")).as("pus"),
          round(col("value"), 2).cast("decimal(18,2)").as("pv"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("channel"),
          unix_micros(col("ts")).as("tus"))
      val cand = purchases.join(touches, Seq("user_id"))
        .filter(col("tus") < col("pus") &&
          col("pus") - col("tus") <= 604800000000L)
        .withColumn("w", round(pow(lit(2.0),
          -((col("pus") - col("tus")).cast("double") / 86400000000.0)), 9)
          .cast("decimal(18,9)"))
      val denom = cand.groupBy("pid").agg(sum("w").as("wsum"))
      cand.join(denom, Seq("pid"))
        .withColumn("credit", round(col("w").cast("double") /
          col("wsum").cast("double") * col("pv").cast("double"), 6)
          .cast("decimal(18,6)"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_touches"),
          round(sum("credit").cast("double"), 4).as("attributed_value"))
        .orderBy("channel")
    }),

    // 7-DAY ROLLING PEARSON CORRELATION between daily click volume and
    // daily purchase revenue (the engagement↔revenue coupling monitor;
    // q217's ACF is the self-coupling version): conditional aggregates
    // build both series in ONE events pass (no join), then five
    // exact window sums (integer x, DECIMAL y) over a ROWS -6..0
    // frame feed one fixed IEEE tree per day. Zero-variance windows
    // yield null on both engines. Day-cardinality window (q148 note);
    // day rides as an ISO string (the r11 DATE-dtype rule).
    "q271_rolling_corr" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase" && col("value").isNotNull,
            round(col("value"), 2).cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).as("y"))
      val w = Window.orderBy("d").rowsBetween(-6, 0)
      val nD = lit(7.0)
      val sx = sum("x").over(w).cast("double")
      val sy = sum("y").over(w).cast("double")
      val sxy = sum(col("x") * col("y")).over(w).cast("double")
      val sxx = sum(col("x") * col("x")).over(w).cast("double")
      val syy = sum(col("y") * col("y")).over(w).cast("double")
      val den = (nD * sxx - sx * sx) * (nD * syy - sy * sy)
      daily
        .withColumn("rn", row_number().over(Window.orderBy("d")))
        .withColumn("corr7",
          when(col("rn") >= 7 && den > 0.0,
            round((nD * sxy - sx * sy) / sqrt(den), 6)))
        .filter(col("rn") >= 7)
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("x").as("clicks"),
          round(col("y").cast("double"), 2).as("revenue"), col("corr7"))
        .orderBy("day")
    }),

    // DIFFERENCE-IN-DIFFERENCES (Card & Krueger's workhorse; the
    // quasi-experimental companion to q201's CUPED): users assigned
    // treat/control by the md5 coin (content-addressed — the
    // assignment is replayable and balanced by construction), periods
    // split at the campaign date, DiD = (T_post − T_pre) −
    // (C_post − C_pre) over per-cell mean purchase value. ONE
    // conditional-aggregate pass builds all four cells (decimal sums,
    // integer counts); the five divisions are one fixed IEEE tree.
    "q277_diff_in_diff" -> ((s, dir) => {
      val mid = lit("2024-01-15").cast("date")
      val e = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(
          (conv(substring(md5(concat(col("user_id").cast("string"),
            lit(":ab"))), 1, 6), 16, 10).cast("long") % 2).as("grp"),
          (to_date(col("ts")) < mid).as("pre"),
          round(col("value"), 2).cast("decimal(18,2)").as("v"))
      def cell(g: Int, pre: Boolean) =
        when(col("grp") === g && col("pre") === pre, col("v"))
      def n(g: Int, pre: Boolean) =
        sum(when(col("grp") === g && col("pre") === pre, 1L).otherwise(0L))
      val m = e.agg(
        sum(cell(1, true)).as("s_tpre"), n(1, true).as("n_tpre"),
        sum(cell(1, false)).as("s_tpost"), n(1, false).as("n_tpost"),
        sum(cell(0, true)).as("s_cpre"), n(0, true).as("n_cpre"),
        sum(cell(0, false)).as("s_cpost"), n(0, false).as("n_cpost"))
      def mean(s: String, c: String) =
        col(s).cast("double") / col(c).cast("double")
      m.select(
        col("n_tpre"), col("n_tpost"), col("n_cpre"), col("n_cpost"),
        round(mean("s_tpre", "n_tpre"), 6).as("treat_pre"),
        round(mean("s_tpost", "n_tpost"), 6).as("treat_post"),
        round(mean("s_cpre", "n_cpre"), 6).as("ctrl_pre"),
        round(mean("s_cpost", "n_cpost"), 6).as("ctrl_post"),
        round((mean("s_tpost", "n_tpost") - mean("s_tpre", "n_tpre")) -
          (mean("s_cpost", "n_cpost") - mean("s_cpre", "n_cpre")), 6)
          .as("did"))
    }),

    // FUNNEL STAGE-TIMING PERCENTILES (q112 counts who converts; this
    // measures HOW LONG each hop takes — the latency half of funnel
    // health): per user, first signup → first subsequent click →
    // first subsequent purchase (strictly ordered, the q112 stage
    // rule), then exact type-1 p50/p90 of each hop's duration via the
    // rank-pick over the per-stage ordered deltas. Durations in exact
    // integer microseconds (rule 7), seconds only at the output
    // divisions; the percentile window partitions by stage
    // (user-cardinality rows per stage — at billions of users the
    // q249/q252 two-phase range rank replaces it, same numbers).
    "q290_funnel_timing" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val t1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("us").as("t_signup"))
      val t2 = ev.filter(col("event_type") === "click").join(t1, "user_id")
        .filter(col("us") > col("t_signup"))
        .groupBy("user_id").agg(first("t_signup").as("t_signup"),
          min("us").as("t_click"))
      val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
        .filter(col("us") > col("t_click"))
        .groupBy("user_id").agg(first("t_click").as("t_click"),
          min("us").as("t_purchase"))
      val hops =
        t2.select(lit("1_signup_to_click").as("stage"),
            (col("t_click") - col("t_signup")).as("d_us"))
          .union(t3.select(lit("2_click_to_purchase").as("stage"),
            (col("t_purchase") - col("t_click")).as("d_us")))
      val w = Window.partitionBy("stage").orderBy("d_us")
      val ranked = hops
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("stage")))
      ranked.groupBy("stage").agg(
          first("n").as("n_users"),
          // type-1 ranks: ceil(q·n) via integer ceil-div (rule 6 —
          // no float rank arithmetic)
          min(when(col("rn") === expr("(n + 1) div 2"), col("d_us")))
            .as("p50_us"),
          min(when(col("rn") === expr("(9 * n + 9) div 10"), col("d_us")))
            .as("p90_us"),
          sum("d_us").as("sum_us"))
        .select(col("stage"), col("n_users"),
          round(col("p50_us").cast("double") / 1000000.0, 6).as("p50_s"),
          round(col("p90_us").cast("double") / 1000000.0, 6).as("p90_s"),
          round(col("sum_us").cast("double") /
            col("n_users").cast("double") / 1000000.0, 6).as("mean_s"))
        .orderBy("stage")
    }),

    // INVERSE-PROPENSITY-WEIGHTED ATE (Horvitz–Thompson / Rosenbaum–
    // Rubin — the OBSERVATIONAL member of the causal trio beside
    // q201 CUPED and q277 DiD): exposure T = the user is
    // CLICK-DOMINANT (more clicks than views — the engaged-browsing
    // cohort; presence-based exposures are degenerate on this dense
    // panel: every user has every event type), outcome Y = total
    // purchase value, confounder X = total activity. Propensity by
    // STRATIFICATION (the fully-relational
    // estimator — no iterative logistic fit): activity quintiles via
    // ntile, p̂(T|stratum) = the stratum's empirical exposure rate,
    // clipped to [0.05, 0.95] (the standard positivity guard, same
    // CASE both engines). ATE_ipw = Σ T·Y/p̂ / Σ T/p̂ − Σ(1−T)·Y/(1−p̂)
    // / Σ(1−T)/(1−p̂) (the Hájek ratio form) with every weighted term
    // quantized DECIMAL(18,6); the naive difference rides along so
    // the output SHOWS the confounding correction. One user-grain
    // pass + one quintile window (user-cardinality) + one stratum
    // aggregate.
    "q289_ipw_ate" -> ((s, dir) => {
      val u = Tables.events(s, dir).groupBy("user_id").agg(
        count(lit(1)).as("activity"),
        when(sum(when(col("event_type") === "click", 1L).otherwise(0L)) >
          sum(when(col("event_type") === "view", 1L).otherwise(0L)), 1L)
          .otherwise(0L).as("t"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value"), 2).cast("decimal(18,2)"))),
          lit(0).cast("decimal(18,2)")).as("y"))
      // Quintiles WITHOUT the unpartitioned ntile window: the user-grain
      // frame scales with the corpus, so ntile(5) OVER (ORDER BY ...)
      // would funnel every user through ONE WindowExec partition (the
      // r13 verdict's last scale-killer). ntileByRange = two-phase
      // range rank + ntile's dealing rule in closed form — bit-equal
      // strata (same total order), no global window in the plan.
      val strat = graft.ops.Sampling.ntileByRange(
        u, 5, Seq("activity", "user_id"), 32)
      val rates = strat.groupBy("stratum").agg(
        (sum("t").cast("double") / count(lit(1)).cast("double")).as("praw"))
        .select(col("stratum"),
          least(greatest(col("praw"), lit(0.05)), lit(0.95)).as("p"))
      val w = strat.join(broadcast(rates), Seq("stratum"))
        .select(col("t"), col("y"),
          round(when(col("t") === 1L, col("y").cast("double") / col("p"))
            .otherwise(lit(0.0)), 6).cast("decimal(18,6)").as("wy1"),
          round(when(col("t") === 1L, lit(1.0) / col("p"))
            .otherwise(lit(0.0)), 6).cast("decimal(18,6)").as("w1"),
          round(when(col("t") === 0L,
            col("y").cast("double") / (lit(1.0) - col("p")))
            .otherwise(lit(0.0)), 6).cast("decimal(18,6)").as("wy0"),
          round(when(col("t") === 0L, lit(1.0) / (lit(1.0) - col("p")))
            .otherwise(lit(0.0)), 6).cast("decimal(18,6)").as("w0"))
      val m = w.agg(
        count(lit(1)).as("n"),
        sum("t").as("n_treated"),
        sum(when(col("t") === 1L, col("y"))).as("sy1"),
        sum(when(col("t") === 0L, col("y"))).as("sy0"),
        sum(when(col("t") === 0L, 1L).otherwise(0L)).as("n0"),
        sum("wy1").as("swy1"), sum("w1").as("sw1"),
        sum("wy0").as("swy0"), sum("w0").as("sw0"))
      m.select(col("n"), col("n_treated"),
        round(col("sy1").cast("double") / col("n_treated").cast("double") -
          col("sy0").cast("double") / col("n0").cast("double"), 6)
          .as("ate_naive"),
        round(col("swy1").cast("double") / col("sw1").cast("double") -
          col("swy0").cast("double") / col("sw0").cast("double"), 6)
          .as("ate_ipw"))
    }),

    // VARIANT EXTRACTION (Spark 4's native semi-structured type — the
    // open-format answer to schema-on-read JSON columns: parse_json
    // builds the binary VARIANT once, variant_get does typed path
    // extraction WITHOUT re-parsing per field, unlike get_json_object;
    // q43/q46 cover the from_json/declared-schema route, this is the
    // schema-less one): props → VARIANT → $.k as BIGINT, histogram by
    // k-decile with mean event value per bucket. Row-local parse, one
    // map-side-combined aggregate.
    "q278_variant_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(
          (variant_get(parse_json(col("props")), "$.k", "bigint") % 10L)
            .as("k_bucket"),
          when(col("value").isNotNull,
            round(col("value"), 2).cast("decimal(18,2)")).as("v"))
        .groupBy("k_bucket")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_valued"),
          round(sum("v").cast("double") /
            sum(when(col("v").isNotNull, 1L).otherwise(0L)).cast("double"), 6)
            .as("mean_value"))
        .orderBy("k_bucket")
    }),

    // STL-LITE SEASONAL DECOMPOSITION (the classical additive
    // decomposition behind every "trend vs seasonality vs noise"
    // dashboard — Cleveland's STL with loess swapped for the textbook
    // centered moving average, which is exactly replayable
    // cross-engine where loess is not): daily revenue = trend (7-day
    // CENTERED MA over full windows only) + seasonal (day-of-week
    // mean of the detrended series) + residual. Decimal window sums /
    // quantized detrended terms keep every stage order-invariant; the
    // DOW key is engine-internal (Spark and DuckDB number weekdays
    // differently — it never reaches the output). Day-cardinality
    // windows (q148 seam).
    "q286_stl_decompose" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(round(col("value"), 2).cast("decimal(18,2)")).as("rev"))
      val ord = Window.orderBy("d")
      val full = daily
        .withColumn("rn", row_number().over(ord))
        .withColumn("n", count(lit(1)).over(
          ord.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("ma7", sum("rev").over(ord.rowsBetween(-3, 3)))
        .filter(col("rn") >= 4 && col("rn") <= col("n") - 3)
        .withColumn("trend",
          round(col("ma7").cast("double") / 7.0, 6))
        .withColumn("detr",
          round(col("rev").cast("double") - col("trend"), 6)
            .cast("decimal(18,6)"))
        .withColumn("dow", dayofweek(col("d")))
      val seasonal = full.groupBy("dow")
        .agg(round(sum("detr").cast("double") / count(lit(1)).cast("double"),
          6).as("seasonal"))
      full.join(broadcast(seasonal), Seq("dow"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          round(col("rev").cast("double"), 2).as("revenue"),
          col("trend"), col("seasonal"),
          round(col("detr").cast("double") - col("seasonal"), 6)
            .as("residual"))
        .orderBy("day")
    }),

    // PER-USER ACTION-DISTRIBUTION ENTROPY (the behavioral-diversity /
    // bot signal: a scripted account hammers one event type, H≈0; an
    // organic one spreads mass — q189 scores TOKEN entropy, this is
    // the same estimator at the user grain): p̂(type|user) from one
    // (user, type) aggregate, H = −Σ p ln p with per-term quantization
    // DECIMAL(18,10) (order-invariant sum), reported as a per-user
    // table. Two map-side-combined aggregates, no window.
    "q280_user_action_entropy" -> ((s, dir) => {
      val byType = Tables.events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      val byUser = byType.groupBy("user_id").agg(sum("c").as("n"))
      byType.join(byUser, Seq("user_id"))
        .withColumn("term", round(
          -(col("c").cast("double") / col("n").cast("double")) *
            log(col("c").cast("double") / col("n").cast("double")), 10)
          .cast("decimal(24,10)"))
        .groupBy("user_id")
        .agg(first("n").as("n_events"),
          count(lit(1)).as("n_types"),
          round(sum("term").cast("double"), 6).as("entropy"))
        .orderBy("user_id")
    }),

    // PRICE-VOLUME BRIDGE (the revenue-delta decomposition every
    // finance review runs: Δrev = Δp̄·q₀ + p̄₀·Δq + Δp̄·Δq — price
    // effect, volume effect, cross term; EXACT by algebra when p̄ is
    // the unit price rev/q): per brand, 1995 vs 1996 shipments, both
    // period cells from ONE conditional-aggregate pass over the
    // broadcast-joined fact (no second scan, no join of two period
    // frames). Decimal sums; the bridge is one IEEE tree per brand;
    // brands missing a period drop (no bridge exists).
    "q281_price_volume_bridge" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .filter(year(col("l_shipdate")).isin(1995, 1996))
        .select(col("p_brand"), year(col("l_shipdate")).as("y"),
          round(col("l_extendedprice"), 2).cast("decimal(18,2)").as("rev"),
          round(col("l_quantity"), 2).cast("decimal(18,2)").as("qty"))
      val m = li.groupBy("p_brand").agg(
        sum(when(col("y") === 1995, col("rev"))).as("r0"),
        sum(when(col("y") === 1995, col("qty"))).as("q0"),
        sum(when(col("y") === 1996, col("rev"))).as("r1"),
        sum(when(col("y") === 1996, col("qty"))).as("q1"))
        .filter(col("q0").isNotNull && col("q1").isNotNull &&
          col("q0") > 0 && col("q1") > 0)
      val p0 = col("r0").cast("double") / col("q0").cast("double")
      val p1 = col("r1").cast("double") / col("q1").cast("double")
      val q0 = col("q0").cast("double"); val q1 = col("q1").cast("double")
      m.select(col("p_brand"),
          round(col("r0").cast("double"), 2).as("rev_1995"),
          round(col("r1").cast("double"), 2).as("rev_1996"),
          round((p1 - p0) * q0, 4).as("price_effect"),
          round(p0 * (q1 - q0), 4).as("volume_effect"),
          round((p1 - p0) * (q1 - q0), 4).as("cross_effect"))
        .orderBy("p_brand")
    }),

    // SEQUENTIAL ASSOCIATION RULES "A then B" (the cross-ORDER
    // sequence miner — q162's basket lift is within-order
    // co-occurrence, q115's transitions are adjacent events; this is
    // "customers who bought brand A later came back for brand B"):
    // distinct (customer, brand, order-date) triples, a per-customer
    // strictly-later self-join (bounded by orders-per-customer, never
    // customer²), DISTINCT customer attribution per rule, confidence
    // = n(A→B)/n(A). Top rules by confidence with a support floor.
    "q282_sequential_rules" -> ((s, dir) => {
      val buys = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("p_brand").as("brand"),
          to_date(col("o_orderdate")).as("d"))
        .distinct()
      val ab = buys.as("a").join(buys.as("b"),
          col("a.cust") === col("b.cust") && col("a.d") < col("b.d") &&
            col("a.brand") =!= col("b.brand"))
        .select(col("a.cust").as("cust"), col("a.brand").as("ante"),
          col("b.brand").as("cons"))
        .distinct()
      val nA = buys.select(col("cust"), col("brand").as("ante")).distinct()
        .groupBy("ante").agg(count(lit(1)).as("n_ante"))
      val nCust = buys.select("cust").distinct()
        .agg(count(lit(1)).as("n_cust"))
      ab.groupBy("ante", "cons").agg(count(lit(1)).as("n_rule"))
        .join(broadcast(nA), Seq("ante"))
        .crossJoin(broadcast(nCust))
        .filter(col("n_rule") >= 5)
        .select(col("ante"), col("cons"), col("n_rule"),
          round(col("n_rule").cast("double") / col("n_ante").cast("double"),
            6).as("confidence"),
          round(col("n_rule").cast("double") / col("n_cust").cast("double"),
            6).as("support"))
        .orderBy(desc("confidence"), col("ante"), col("cons"))
        .limit(15)
    }),

    // CALIBRATION TABLE + BRIER SCORE (Brier 1950; the reliability
    // diagram every propensity/quality model ships with): propensity
    // p̂ = Laplace-smoothed click share (c+1)/(c+v+2) per user, outcome
    // y = did purchase; decile bins by floor(10·p̂) (identical IEEE
    // division/multiply on both engines ⇒ identical bins), per-bin
    // mean p̂ vs empirical conversion rate, Brier contributions
    // (p̂−y)² — both quantized DECIMAL(18,9) before the bin sums. One
    // user-grain aggregate + one bin-grain aggregate, both map-side
    // combined.
    "q272_calibration" -> ((s, dir) => {
      val u = Tables.events(s, dir).groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val phat = (col("c") + 1L).cast("double") /
        (col("c") + col("v") + 2L).cast("double")
      u.select(col("y"),
          least(floor(phat * 10.0), lit(9.0)).cast("long").as("bin"),
          round(phat, 9).cast("decimal(18,9)").as("p"),
          round((phat - col("y").cast("double")) *
            (phat - col("y").cast("double")), 9).cast("decimal(18,9)")
            .as("bt"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_users"),
          round(sum("p").cast("double") / count(lit(1)).cast("double"), 6)
            .as("mean_phat"),
          round(sum("y").cast("double") / count(lit(1)).cast("double"), 6)
            .as("conv_rate"),
          round(sum("bt").cast("double") / count(lit(1)).cast("double"), 6)
            .as("brier"))
        .orderBy("bin")
    }),

    // SPEARMAN RANK CORRELATION between the daily order count and the
    // daily revenue — the monotone-association companion to q213's
    // rolling Pearson. Tie-correct via AVERAGE ranks carried as
    // DOUBLE-RANKS (2·avg_rank = 2·min_rank + tie_count − 1, an exact
    // INTEGER even under ties), so every accumulated moment is an
    // integer sum — zero float-accumulation hazard, one closed-form
    // double expression at the end (n·Σxy − ΣxΣy over the √ of the
    // variance product, factors cast to double SEPARATELY: their
    // product overflows BIGINT at day-domain scale). The rank windows
    // run over the DAY DOMAIN (calendar-bounded, ~2.4k rows at every
    // SF — scale-invariant), never over raw rows.
    "q295_spearman_daily" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate"))
        .agg(count(lit(1)).as("x"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
      val ranked = daily
        .withColumn("rx", rank().over(Window.orderBy("x")).cast("long") * 2
          + count(lit(1)).over(Window.partitionBy("x")) - 1)
        .withColumn("ry", rank().over(Window.orderBy("y")).cast("long") * 2
          + count(lit(1)).over(Window.partitionBy("y")) - 1)
      ranked.agg(
          count(lit(1)).as("n"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"),
          sum(col("rx") * col("ry")).as("sxy"))
        .select(col("n").as("n_days"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                 (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            6).as("rho"))
    }),

    // KENDALL τ-b over the same daily pair — the concordance view of
    // the association (robust to the rank-interval distortion Spearman
    // keeps), with the FULL tie correction: τ-b = (C − D) /
    // √((n0−n1)(n0−n2)), n1/n2 = pairs tied on x / on y. The pair
    // frame is the DAY-DOMAIN self-join (calendar² ≈ 2.9M pairs at
    // every SF — scale-invariant, broadcast one side; an actual
    // row-domain Kendall would be quadratic and is exactly what this
    // domain reduction avoids at 100 TB). Every count is an exact
    // integer; one closed-form double at the end.
    "q296_kendall_daily" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
      val a = daily.select(col("d").as("da"), col("x").as("xa"), col("y").as("ya"))
      val b = daily.select(col("d").as("db"), col("x").as("xb"), col("y").as("yb"))
      a.join(broadcast(b), col("da") < col("db"))
        .agg(
          count(lit(1)).as("n0"),
          sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
                   (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
            .otherwise(0L)).as("c"),
          sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
                   (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
            .otherwise(0L)).as("dd"),
          sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("n2"))
        .select(col("n0").as("n_pairs"),
          col("c").as("concordant"), col("dd").as("discordant"),
          round((col("c") - col("dd")).cast("double") /
            sqrt((col("n0") - col("n1")).cast("double") *
                 (col("n0") - col("n2")).cast("double")), 6).as("tau_b"))
    }),

    // THEIL–SEN ROBUST TREND (Theil 1950/Sen 1968) of daily revenue,
    // WINDOWED form: the median of pairwise slopes over day pairs ≤ 30
    // days apart — outlier-days bend OLS (q262's fit) but not a median
    // of ~72k slopes. Day-domain pair join (calendar-bounded at every
    // SF), each slope ONE double division of an exact decimal diff by
    // an integer day gap (rule 8); the exact median is a type-1 rank
    // pick through Sampling.rankedByRange — the two-phase range rank,
    // so a 72k-row (or, unwindowed at 100 TB, billions-row) slope
    // frame never funnels through one partition.
    "q299_theil_sen" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
      val a = daily.select(col("d").as("da"), col("y").as("ya"))
      val b = daily.select(col("d").as("db"), col("y").as("yb"))
      val slopes = a.join(broadcast(b),
          col("da") < col("db") && datediff(col("db"), col("da")) <= 30)
        .select(col("da"), col("db"),
          ((col("yb") - col("ya")).cast("double") /
            datediff(col("db"), col("da")).cast("double")).as("slope"))
      val target = slopes.agg(count(lit(1)).as("m"))
        .select(expr("(m + 1) div 2").as("rn"), col("m"))
      graft.ops.Sampling.rankedByRange(slopes, Seq("slope", "da", "db"), 32)
        .join(broadcast(target), Seq("rn"))
        .select(col("m").as("n_pairs"), round(col("slope"), 6).as("ts_slope"))
    }),

    // COVARIATE BALANCE / SMD TABLE (the check a causal reviewer
    // demands before believing q289's IPW ATE: did the weighting
    // actually balance the confounder?): standardized mean difference
    // of the activity covariate between treated and control, BEFORE
    // (raw means — confounded by construction: treatment is
    // click-dominance, activity correlates) and AFTER applying q289's
    // stratified IPW weights (same strata, same clipping, same
    // rounded-decimal weights). SMD = Δmean / √((var_t+var_c)/2) with
    // the UNWEIGHTED pooled SD both times (the standard balance-table
    // convention). Activity is an integer count, so every moment is
    // an exact integer sum; weighted sums ride exact decimals; each
    // output is one closed-form double.
    "q317_covariate_balance" -> ((s, dir) => {
      val u = Tables.events(s, dir).groupBy("user_id").agg(
        count(lit(1)).as("x"),
        when(sum(when(col("event_type") === "click", 1L).otherwise(0L)) >
          sum(when(col("event_type") === "view", 1L).otherwise(0L)), 1L)
          .otherwise(0L).as("t"))
      // Same quintile machinery as q289 (and same scale rationale):
      // closed-form ntile over the two-phase range rank — identical
      // strata, no single-partition WindowExec on the user-grain frame.
      val strat = graft.ops.Sampling.ntileByRange(
        u, 5, Seq("x", "user_id"), 32)
      val rates = strat.groupBy("stratum").agg(
        (sum("t").cast("double") / count(lit(1)).cast("double")).as("praw"))
        .select(col("stratum"),
          least(greatest(col("praw"), lit(0.05)), lit(0.95)).as("p"))
      val w = strat.join(broadcast(rates), Seq("stratum"))
        .select(col("t"), col("x"),
          round(when(col("t") === 1L, lit(1.0) / col("p"))
            .otherwise(lit(1.0) / (lit(1.0) - col("p"))), 6)
            .cast("decimal(18,6)").as("wt"))
      w.agg(
          count(lit(1)).as("n"), sum("t").as("n1"),
          sum(when(col("t") === 1L, col("x"))).as("sx1"),
          sum(when(col("t") === 1L, col("x") * col("x"))).as("sxx1"),
          sum(when(col("t") === 0L, col("x"))).as("sx0"),
          sum(when(col("t") === 0L, col("x") * col("x"))).as("sxx0"),
          sum(when(col("t") === 1L, col("wt") * col("x"))).as("swx1"),
          sum(when(col("t") === 1L, col("wt"))).as("sw1"),
          sum(when(col("t") === 0L, col("wt") * col("x"))).as("swx0"),
          sum(when(col("t") === 0L, col("wt"))).as("sw0"))
        .select(col("n"), col("n1"),
          round(col("sx1").cast("double") / col("n1").cast("double"), 4)
            .as("mean_t"),
          round(col("sx0").cast("double") / (col("n") - col("n1")).cast("double"), 4)
            .as("mean_c"),
          round(
            (col("sx1").cast("double") / col("n1").cast("double") -
             col("sx0").cast("double") / (col("n") - col("n1")).cast("double")) /
            sqrt((
              (col("sxx1").cast("double") -
                col("sx1").cast("double") * col("sx1").cast("double") /
                  col("n1").cast("double")) / (col("n1").cast("double") - 1) +
              (col("sxx0").cast("double") -
                col("sx0").cast("double") * col("sx0").cast("double") /
                  (col("n") - col("n1")).cast("double")) /
                ((col("n") - col("n1")).cast("double") - 1)) / 2), 6)
            .as("smd_before"),
          round(
            (col("swx1").cast("double") / col("sw1").cast("double") -
             col("swx0").cast("double") / col("sw0").cast("double")) /
            sqrt((
              (col("sxx1").cast("double") -
                col("sx1").cast("double") * col("sx1").cast("double") /
                  col("n1").cast("double")) / (col("n1").cast("double") - 1) +
              (col("sxx0").cast("double") -
                col("sx0").cast("double") * col("sx0").cast("double") /
                  (col("n") - col("n1")).cast("double")) /
                ((col("n") - col("n1")).cast("double") - 1)) / 2), 6)
            .as("smd_after"))
    }),

    // SEASONAL-NAIVE FORECAST BACKTEST (Hyndman & Koehler 2006 — MASE
    // is THE scale-free forecast-accuracy standard): forecast(d) =
    // revenue(d−7) backtested over the whole daily series, scored
    // with MAE, sMAPE (q250's convention), and MASE = MAE(model) /
    // MAE(one-step naive d−1). Day-domain lag joins (self-join on
    // d−7 / d−1 — no window at all), absolute errors exact DECIMALs,
    // ratios as single double divisions. The backtest harness every
    // forecast deployment runs before trusting a fancier model — and
    // the q286 decomposition's honest baseline.
    "q310_forecast_backtest" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
      val f7 = daily.select(date_add(col("d"), 7).as("d"), col("y").as("y7"))
      val f1 = daily.select(date_add(col("d"), 1).as("d"), col("y").as("y1"))
      daily.join(f7, Seq("d")).join(f1, Seq("d"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("y") - col("y7"))).as("sae7"),
          sum(abs(col("y") - col("y1"))).as("sae1"),
          sum(when(col("y") + col("y7") === 0, lit(0).cast("decimal(18,6)"))
            .otherwise(((abs(col("y") - col("y7")) * 2).cast("double") /
              (col("y") + col("y7")).cast("double")).cast("decimal(18,6)")))
            .as("smape_sum"))
        .select(col("n_days"),
          round(col("sae7").cast("double") / col("n_days").cast("double"), 4)
            .as("mae"),
          round(col("smape_sum").cast("double") / col("n_days").cast("double"), 6)
            .as("smape"),
          round(col("sae7").cast("double") / col("sae1").cast("double"), 6)
            .as("mase"))
    }),

    // PARETO / CONTRIBUTION ANALYSIS (the BI 80/20 cut): brands by
    // revenue desc with exact cumulative shares, flagging the head
    // that covers 80% of revenue. Brand domain is 25 rows — the
    // cumulative window is DOMAIN-sized (the q148/q213 contract),
    // never data-sized; revenue sums are exact decimals and the
    // share divisions ride one double op per row.
    "q311_pareto_contribution" -> ((s, dir) => {
      val byBrand = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("rev"))
      val tot = byBrand.agg(sum(col("rev")).as("tot"))
      byBrand
        .withColumn("cum", sum(col("rev")).over(
          Window.orderBy(desc("rev"), col("brand"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select(col("brand"),
          round(col("rev").cast("double"), 2).as("revenue"),
          round(col("rev").cast("double") / col("tot").cast("double"), 6)
            .as("share"),
          round(col("cum").cast("double") / col("tot").cast("double"), 6)
            .as("cum_share"),
          // strictly-before mass < 0.8 ⇒ this brand is still needed
          // to reach the 80% line (boundary-exact in DECIMAL: the
          // comparison is on exact sums, not the rounded doubles)
          ((col("cum") - col("rev")).cast("decimal(28,4)") * 10 <
            col("tot").cast("decimal(28,4)") * 8).as("in_pareto_head"))
        .orderBy(desc("revenue"), col("brand"))
    }),

    // WEIGHTED MEDIAN (quantity-weighted price) — the logistics/“half
    // the volume clears below this price” operator: smallest v whose
    // cumulative weight reaches half the total. Weights and values are
    // exact DECIMALs, the running weight comes from Profile.
    // runningTotalByRange (two-phase range partial sums — no global
    // window; its RANGE default frame gives all v-ties the same
    // running total, so the pick is partition-order independent), and
    // the half test is the integer-style `2·running ≥ total` — no
    // float halving anywhere.
    "q300_weighted_median" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        round(col("l_extendedprice"), 2).cast("decimal(18,2)").as("v"),
        col("l_quantity").cast("decimal(18,2)").as("wt"))
      val tot = li.agg(sum(col("wt")).as("tw"), count(lit(1)).as("n_rows"))
      graft.ops.Profile.runningTotalByRange(li, "v", "wt", 32)
        .crossJoin(broadcast(tot))
        .filter(col("running_total") * 2 >= col("tw"))
        .agg(min(col("v")).as("vm"),
          first(col("tw")).as("tw"), first(col("n_rows")).as("n_rows"))
        .select(col("n_rows"),
          round(col("tw").cast("double"), 2).as("total_weight"),
          round(col("vm").cast("double"), 2).as("weighted_median"))
    }),

    // NTILE-BY-RANGE PARITY GATE (the r14 machinery behind q179/q289/
    // q317, put DIRECTLY under the cross-engine oracle): the stratum
    // table Sampling.ntileByRange deals over the user-grain frame must
    // match DuckDB's own ntile bucket for bucket — sizes AND value
    // ranges. k = 7 BECAUSE it divides no fixture's user count
    // (15 % 7 = 1, 150 % 7 = 3, 1500 % 7 = 2), so the
    // first-(n mod k)-tiles-get-one-extra rule is genuinely exercised
    // cross-engine at every SF (k = 5 would deal evenly and prove
    // nothing). No unpartitioned WindowExec in the plan (the
    // global-window lint sweeps it like every query).
    "q320_ntile_by_range" -> ((s, dir) => {
      val u = Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("activity"))
      graft.ops.Sampling.ntileByRange(u, 7, Seq("activity", "user_id"), 32)
        .groupBy("stratum")
        .agg(count(lit(1)).as("n_users"),
          min("activity").as("min_act"), max("activity").as("max_act"))
        .select(col("stratum").cast("long").as("stratum"), col("n_users"),
          col("min_act"), col("max_act"))
        .orderBy("stratum")
    }),

    // SPLIT-CONFORMAL PREDICTION INTERVALS (Vovk's inductive
    // conformal; Lei et al. 2018 — the DISTRIBUTION-FREE interval
    // every deployed regressor should ship with, and the eval that
    // checks the promise): md5-coin 60/20/20 train/calibrate/test
    // split over lineitem (content-addressed, q76's discipline),
    // model = per-brand train mean (exact decimal sum, ONE double
    // division — q304's rule), nonconformity = round(|y − ŷ|, 6),
    // q̂ = the ceil(0.9·(n_cal+1))-th smallest calibration score as
    // an exact TYPE-1 order statistic via the two-phase range rank
    // (a global rank over a data-scaling frame — NEVER a global
    // window; the q273/q324 machinery), then the held-out coverage
    // audit: the marginal guarantee says ≥ ~90% on the pooled 'ALL'
    // row, while the per-brand rows expose the CONDITIONAL coverage
    // the theorem deliberately does not promise (the honest gap a
    // balance table exists to show). Everything deterministic ⇒ the
    // whole lifecycle — split, model, q̂ pick, both score passes —
    // sits under the hash gate.
    "q330_conformal" -> ((s, dir) => {
      // r21: checkpointed — the broadcast-joined + md5-coined split
      // base feeds FOUR branches (model, calib, test, and calib's
      // rank pass) and a broadcast join leaves no Exchange to
      // reuse, so each branch re-ran the scan + join + md5
      // (A/B in OPTIMIZATION_r21.md)
      val li = Checkpoints(Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("__coin",
          conv(substring(md5(concat(col("l_orderkey").cast("string"),
            lit(":"), col("l_linenumber").cast("string"), lit(":cp"))),
            1, 6), 16, 10).cast("long") % 5)
        .select(col("p_brand"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("y"), col("__coin")))
      val model = li.filter(col("__coin") <= 2)
        .groupBy("p_brand")
        .agg(sum(col("y").cast("decimal(18,2)")).as("ts"),
          count(lit(1)).as("tn"))
        .select(col("p_brand"),
          (col("ts").cast("double") / col("tn")).as("yhat"))
      val calib = li.filter(col("__coin") === 3)
        .join(broadcast(model), Seq("p_brand"))
        .withColumn("score", round(abs(col("y") - col("yhat")), 6))
      val ranked = graft.ops.Sampling.rankedByRange(calib,
        Seq("score", "l_orderkey", "l_linenumber"), 32)
      val nc = calib.agg(count(lit(1)).as("n_cal"))
      val qhat = ranked.crossJoin(broadcast(nc))
        .filter(col("rn") === expr("(9 * (n_cal + 1) + 9) div 10"))
        .select(col("score").as("qhat"), col("n_cal"))
      val test = li.filter(col("__coin") === 4)
        .join(broadcast(model), Seq("p_brand"))
        .withColumn("score", round(abs(col("y") - col("yhat")), 6))
        .crossJoin(broadcast(qhat))
      val byBrand = test.groupBy("p_brand")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("score") <= col("qhat"), 1L).otherwise(0L)).as("n_in"))
      byBrand
        .unionByName(byBrand.agg(sum("n_test").as("n_test"),
          sum("n_in").as("n_in"))
          .select(lit("ALL").as("p_brand"), col("n_test"), col("n_in")))
        .crossJoin(broadcast(qhat))
        .select(col("p_brand"), col("n_cal"), col("qhat"),
          col("n_test"), col("n_in"),
          round(col("n_in").cast("double") / col("n_test"), 6).as("coverage"))
        .orderBy("p_brand")
    }),

    // ISOTONIC RECALIBRATION (PAVA — Ayer et al. 1955; the
    // non-parametric monotone fit q272's reliability table feeds:
    // Zadrozny & Elkan 2002's standard score→probability map):
    // iso(i) = max_{j≤i} min_{k≥i} weightedAvg(bins j..k), the MINIMAX
    // CLOSED FORM of pool-adjacent-violators — equivalent to the
    // sequential pooling algorithm but expressible as three bounded
    // joins instead of an inherently serial loop, because the bin
    // domain is FIXED (≤10 score deciles) regardless of corpus size:
    // the corpus pass is ONE map-side-combined user aggregate + one
    // bin rollup; everything after runs on ≤10 rows (triangle join
    // 10³ at worst, broadcast). Outcome y = heavy purchaser (≥12
    // purchases — the threshold that makes the empirical rates
    // NON-MONOTONE at every SF, checked at design time: q272's
    // did-purchase outcome is constant 1.0, so PAVA over it would
    // pool nothing, the q324 vacuity trap); pooling fires on 3/5/8
    // bins across the three SFs and the fit is non-decreasing.
    // Ratios are single double divisions of exact integers; min/max
    // over doubles is order-free ⇒ hash-gated.
    "q331_isotonic_calibration" -> ((s, dir) => {
      val u = Tables.events(s, dir).groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 12,
          1L).otherwise(0L).as("y"))
      // decile bin via exact INTEGER division — floor(10·(c+1)/(c+v+2))
      // ≡ (10·(c+1)) div (c+v+2) for positive ints, and the integer
      // form removes the FP boundary where a 1-ulp op-order difference
      // vs the oracle could flip a bin assignment (r15, ADVICE)
      val b = u.select(
          least(expr("(10 * (c + 1)) div (c + v + 2)"), lit(9L)).as("bin"),
          col("y"))
        .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val pairs = b.select(col("bin").as("j"))
        .join(broadcast(b.select(col("bin").as("k"))), col("j") <= col("k"))
        .join(broadcast(b.select(col("bin").as("mb"), col("n").as("mn"),
          col("sy").as("msy"))),
          col("mb") >= col("j") && col("mb") <= col("k"))
        .groupBy("j", "k")
        .agg((sum("msy").cast("double") / sum("mn")).as("avgr"))
      val iso = b.select(col("bin"))
        .join(broadcast(pairs), col("j") <= col("bin") && col("k") >= col("bin"))
        .groupBy("bin", "j").agg(min("avgr").as("mn2"))
        .groupBy("bin").agg(max("mn2").as("iso_rate"))
      b.join(iso, Seq("bin"))
        .select(col("bin"), col("n"),
          round(col("sy").cast("double") / col("n"), 6).as("raw_rate"),
          round(col("iso_rate"), 6).as("iso_rate"))
        .orderBy("bin")
    }),

    // UPLIFT / QINI CURVE (Radcliffe 2007 — the targeting-model eval
    // that completes the causal family: q201 CUPED corrects, q277
    // DiD compares, q289 IPW reweights, q317 audits balance, and
    // THIS measures whether a targeting score finds responders):
    // users ranked by activity score into quintiles (ntileByRange —
    // a data-scaling frame, never a global window), treatment = an
    // independent md5 coin, per-quintile treated/control response
    // rates, uplift, and the cumulative Qini gain
    // g(k) = cumY_t − cumY_c·cumN_t/cumN_c over the 5-row quintile
    // domain (bounded self-join, no window). The coin is RANDOM by
    // construction, so the honest expectation — and the fixture
    // reading — is uplift ≈ 0 per quintile with Qini wiggling around
    // zero: the null-case audit (q317's SMD discipline — a tool must
    // read zero when zero is true). Empty control cells at tiny SF
    // read NULL via explicit guards (double/0 parity between engines
    // is NOT contractual).
    "q337_uplift_curve" -> ((s, dir) => {
      val u = Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("activity"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("np"))
        .withColumn("y", when(col("np") >= 12, 1L).otherwise(0L))
        .withColumn("treat", when(
          conv(substring(md5(concat(col("user_id").cast("string"),
            lit(":up"))), 1, 6), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(0L))
        .withColumn("neg_act", -col("activity"))
      val dec = graft.ops.Sampling.ntileByRange(u, 5,
        Seq("neg_act", "user_id"), 32)
      val g = dec.groupBy(col("stratum").cast("long").as("quintile"))
        .agg(sum(col("treat")).as("n_t"),
          sum(lit(1L) - col("treat")).as("n_c"),
          sum(col("y") * col("treat")).as("y_t"),
          sum(col("y") * (lit(1L) - col("treat"))).as("y_c"))
      g.as("a").join(broadcast(g.as("b")),
          col("b.quintile") <= col("a.quintile"))
        .groupBy(col("a.quintile").as("quintile"))
        .agg(max(col("a.n_t")).as("n_t"), max(col("a.n_c")).as("n_c"),
          max(col("a.y_t")).as("y_t"), max(col("a.y_c")).as("y_c"),
          sum(col("b.n_t")).as("cn_t"), sum(col("b.n_c")).as("cn_c"),
          sum(col("b.y_t")).as("cy_t"), sum(col("b.y_c")).as("cy_c"))
        .select(col("quintile"), col("n_t"), col("n_c"),
          when(col("n_t") > 0,
            round(col("y_t").cast("double") / col("n_t"), 6)).as("rate_t"),
          when(col("n_c") > 0,
            round(col("y_c").cast("double") / col("n_c"), 6)).as("rate_c"),
          when(col("n_t") > 0 && col("n_c") > 0,
            round(col("y_t").cast("double") / col("n_t") -
              col("y_c").cast("double") / col("n_c"), 6)).as("uplift"),
          when(col("cn_c") > 0,
            round(col("cy_t").cast("double") -
              col("cy_c").cast("double") * col("cn_t").cast("double") /
                col("cn_c").cast("double"), 6)).as("qini_g"))
        .orderBy("quintile")
    }),

    // BENJAMINI–HOCHBERG STEP-UP FDR (Benjamini & Hochberg 1995 —
    // the multiple-testing controller that completes the inference
    // family: q197 flags one z, q234-era SPRT sequences one test,
    // THIS decides m=|users| simultaneous hypotheses at a controlled
    // false-discovery rate — the "which entities are anomalous"
    // monitor every fleet-wide alerting system needs). Hypotheses:
    // per-user mean of a PLANTED-shifted value — users with id % 13
    // == 0 carry a true +36.0 mean shift (the q94/q342 planted-
    // positive discipline: the fixture's own per-user means are
    // Poisson-clean, so an unplanted BH would reject nothing and the
    // rejected branch would be vacuous — checked at design time).
    // Determinism: values DECIMAL-quantized before every sum (exact,
    // order-free); z from those exact sums in one documented double
    // op order; p via the Bowling 2009 logistic CDF surrogate
    // 2/(1+e^{1.702|z|}) rounded to integer micro-units (quantum 1 on
    // a ~1e6-scale value ⇒ boundary-flip odds ~1e-9/row); the rank is
    // rankedByRange (NEVER a user-grain global window — the q289
    // class); the step-up cutoff compares p_micro·20·m ≤ 1e6·i in
    // exact integers. Planted users reject (z ≈ +6), null users
    // don't — both branches live at every SF, values inspected.
    "q344_bh_fdr" -> ((s, dir) => {
      import graft.ops.Sampling
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("user_id"),
          (round(col("value"), 4).cast("decimal(12,4)") +
            when(col("user_id") % 13 === 0, lit(36.0))
              .otherwise(lit(0.0)).cast("decimal(12,4)"))
            .cast("decimal(12,4)").as("v"))
      val g = ev.agg(count(lit(1)).as("nn"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      val u = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_u"), sum(col("v")).as("su"))
      val m = u.agg(count(lit(1)).as("m"))
      val scored = u.crossJoin(broadcast(g)).crossJoin(broadcast(m))
        .withColumn("z",
          (col("su").cast("double") / col("n_u") -
            col("s1").cast("double") / col("nn")) /
          (sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") / col("nn")) /
            (col("nn") - lit(1L))) / sqrt(col("n_u").cast("double"))))
        .withColumn("p_micro", round(lit(2000000.0) /
          (lit(1.0) + exp(lit(1.702) * abs(col("z"))))).cast("long"))
        .select(col("user_id"), col("n_u"), col("p_micro"), col("m"))
      val ranked = Sampling.rankedByRange(scored,
        Seq("p_micro", "user_id"), 32)
      val k = ranked.agg(max(when(
        col("p_micro") * lit(20L) * col("m") <= lit(1000000L) * col("rn"),
        col("rn"))).as("kk"))
      ranked.crossJoin(broadcast(k))
        .select(col("user_id"), col("n_u").as("n_obs"), col("p_micro"),
          col("rn").as("bh_rank"),
          (col("rn") <= coalesce(col("kk"), lit(0L))).as("rejected"))
        .orderBy("bh_rank")
    }),

    // WEIGHT-OF-EVIDENCE BINNING + INFORMATION VALUE (the credit-
    // scoring feature-screening classic — Siddiqi 2006; beside q304's
    // LOO target encoding: THAT encodes a categorical for a model,
    // THIS scores a continuous feature's separating power before any
    // model exists): activity deciles (ntileByRange — a data-scaling
    // frame, never a global window; the dealing rule is q320-gated) ×
    // heavy-purchaser outcome, WoE_i = ln(good-share/bad-share) with
    // the standard +0.5 Laplace cell smoothing (zero cells stay
    // defined), iv_term_i = (Δshare)·WoE_i. The activity→purchase
    // correlation is REAL in the fixture, so WoE runs monotone
    // positive→negative across deciles (inspected — not a null
    // table). ln is quantized to 6dp before the IV product (the q140
    // libm-parity discipline); shares are exact-integer-derived
    // doubles in one documented op order.
    "q345_woe_binning" -> ((s, dir) => {
      import graft.ops.Sampling
      val u = Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("activity"),
          when(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) >= 12, 1L).otherwise(0L).as("y"))
        .withColumn("neg_act", -col("activity"))
      val dec = Sampling.ntileByRange(u, 10, Seq("neg_act", "user_id"),
        32, out = "decile")
      val bins = dec.groupBy("decile")
        .agg(count(lit(1)).as("n"), sum("y").as("n_good"))
      val tot = bins.agg(sum("n").as("nt"), sum("n_good").as("gt"))
      bins.crossJoin(broadcast(tot))
        .withColumn("gshare", (col("n_good").cast("double") + lit(0.5)) /
          (col("gt").cast("double") + lit(5.0)))
        .withColumn("bshare",
          ((col("n") - col("n_good")).cast("double") + lit(0.5)) /
          ((col("nt") - col("gt")).cast("double") + lit(5.0)))
        .withColumn("woe", round(log(col("gshare") / col("bshare")), 6))
        .select(col("decile"), col("n"), col("n_good"), col("woe"),
          round((col("gshare") - col("bshare")) * col("woe"), 10)
            .as("iv_term"))
        .orderBy("decile")
    }),

    // KRUSKAL–WALLIS H (Kruskal & Wallis 1952 — the k-group extension
    // of q257's Mann–Whitney U; r16): does ANY of the three return
    // flags shift the quantity distribution, one rank-based test
    // instead of 3 pairwise MWUs. Same value-DOMAIN rank machinery as
    // q257 (the 100 TB shape): ranks live on the ~50-row distinct-
    // quantity table (tie size t, per-group share), avg-rank×2 =
    // 2·rmin + t − 1 carried as exact integers, so every group rank
    // sum R_j×2 is an exact Long. H = 3/(n(n+1))·Σ (R_j×2)²/n_j −
    // 3(n+1) — the ×2 carried through the closed form — then the
    // standard tie correction C = 1 − Σ(t³−t)/(n³−n), H' = H/C; the
    // doubles divide exactly-representable integers in one documented
    // op order — n³ is computed IN DOUBLE exactly as the oracle does
    // (a Long cube overflows past n = 2²¹, i.e. at the derived-sf1
    // corpus; the double chain rounds the same true product once, so
    // gated-SF bits are unchanged), rounded 6dp. Output: one row
    // per flag (n, mean rank) carrying the global H' — per-group
    // means make the direction readable, H' carries the test.
    "q352_kruskal_wallis" -> ((s, dir) => {
      val v = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          round(col("l_quantity"), 2).cast("decimal(18,2)").as("y"))
      val byY = v.groupBy("y").agg(
        count(lit(1)).as("t"),
        sum(when(col("flag") === "R", 1L).otherwise(0L)).as("t_r"),
        sum(when(col("flag") === "A", 1L).otherwise(0L)).as("t_a"),
        sum(when(col("flag") === "N", 1L).otherwise(0L)).as("t_n"))
      val ord = Window.orderBy("y")
      val ranked = byY.withColumn("rmin",
        coalesce(sum("t").over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)) + 1L)
        .withColumn("ar2", lit(2L) * col("rmin") + col("t") - 1L)
      val agg = ranked.agg(
        sum(col("t_r") * col("ar2")).as("r2_r"),
        sum(col("t_a") * col("ar2")).as("r2_a"),
        sum(col("t_n") * col("ar2")).as("r2_n"),
        sum(col("t_r")).as("n_r"), sum(col("t_a")).as("n_a"),
        sum(col("t_n")).as("n_n"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tcorr"))
      val n = col("n_r") + col("n_a") + col("n_n")
      def term(r2: org.apache.spark.sql.Column, nj: org.apache.spark.sql.Column) =
        r2.cast("double") * r2.cast("double") / nj.cast("double")
      val h = lit(3.0) / (n.cast("double") * (n + 1L).cast("double")) *
        (term(col("r2_r"), col("n_r")) + term(col("r2_a"), col("n_a")) +
          term(col("r2_n"), col("n_n"))) -
        lit(3.0) * (n + 1L).cast("double")
      // n³ in DOUBLE (the oracle's own op order): a Long cube
      // overflows at n ≥ 2²¹ — the derived-sf1 fact table (~6M rows)
      // crosses that and ANSI mode would throw; the double chain
      // rounds the same true product once, so the gated SFs are
      // bit-identical to the old Long path (n² stays < 2⁵³ far past
      // any fixture)
      val c = lit(1.0) - col("tcorr").cast("double") /
        (n.cast("double") * n.cast("double") * n.cast("double") -
          n.cast("double"))
      val wide = agg.select(
        round(h / c, 6).as("h_adj"),
        col("r2_r"), col("r2_a"), col("r2_n"),
        col("n_r"), col("n_a"), col("n_n"))
      wide.select(explode(array(
          struct(lit("A").as("flag"), col("n_a").as("n_obs"),
            round(col("r2_a").cast("double") /
              (lit(2.0) * col("n_a").cast("double")), 6).as("mean_rank")),
          struct(lit("N").as("flag"), col("n_n").as("n_obs"),
            round(col("r2_n").cast("double") /
              (lit(2.0) * col("n_n").cast("double")), 6).as("mean_rank")),
          struct(lit("R").as("flag"), col("n_r").as("n_obs"),
            round(col("r2_r").cast("double") /
              (lit(2.0) * col("n_r").cast("double")), 6).as("mean_rank"))))
          .as("g"), col("h_adj"))
        .select(col("g.flag").as("flag"), col("g.n_obs").as("n_obs"),
          col("g.mean_rank").as("mean_rank"), col("h_adj"))
        .orderBy("flag")
    }),

    // LEAD–LAG CROSS-CORRELATION (the CCF of Box & Jenkins — does one
    // daily series LEAD another; r16): Pearson r between daily view
    // counts and daily purchase counts at lags −7..+7 — q271 measures
    // the same-day rolling co-movement, THIS asks whether either
    // series predicts the other across days (the marketing/causality
    // screen run before q288's DiD). Day-DOMAIN lag join (15 lags ×
    // calendar days — bounded at every SF; the daily count aggregate
    // is the only corpus pass), every Pearson moment an exact Long
    // (counts), one closed-form double per lag rounded 6dp. Inner
    // join keeps only days present at both offsets — n_days varies
    // by |lag|, reported per row.
    "q354_ccf_leadlag" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("yv"))
      val lags = s.range(-7, 8).select(col("id").cast("int").as("lag"))
      val a = daily.select(col("day"), col("x")).crossJoin(broadcast(lags))
      val b = daily.select(col("day").as("dayb"), col("yv"))
      a.join(b, date_add(col("day"), col("lag")) === col("dayb"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("yv")).as("sy"),
          sum(col("x") * col("yv")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("yv") * col("yv")).as("syy"))
        .select(col("lag").cast("long").as("lag"), col("n_days"),
          round((col("n_days") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            sqrt((col("n_days") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
              (col("n_days") * col("syy") - col("sy") * col("sy"))
                .cast("double")), 6).as("r"))
        .orderBy("lag")
    }),

    // MANN–KENDALL TREND TEST (Mann 1945 / Kendall 1975 — the
    // nonparametric monotone-trend monitor; r16): beside q296's
    // Kendall τ-b (THAT measures x↔y association, THIS tests one
    // series against TIME) and q214's CUSUM (THAT locates a level
    // shift, THIS scores a monotone drift) — the standard "is this
    // metric trending" gate over monthly revenue per market segment.
    // S = Σ_{i<j} sign(v_j − v_i) over the MONTH-DOMAIN pair frame
    // (calendar-bounded ≈ 84²/2 pairs per segment at every SF — the
    // q296 domain reduction; a row-domain MK would be quadratic);
    // sign() on exact decimals, so S is an exact integer. Var(S)
    // carries the FULL tie correction [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18
    // (decimal ties are near-impossible but the formula is cheap and
    // principled); z = (S∓1)/√Var in one documented double op order,
    // rounded 6dp (sqrt/÷ are IEEE-exactly-rounded — the q140
    // discipline), and the trend verdict compares the ROUNDED z to
    // ±1.96 in both engines. PLANTED drift (the q344 discipline —
    // uniform fixture revenue is trendless, the 'increasing' branch
    // would be vacuous): BUILDING's series is scaled by the monotone
    // integer factor 10000 + 100·(month − first) — +1%/month,
    // multiplicative on the exact decimal so ranks are replayable —
    // giving z ≈ +7 for BUILDING; FURNITURE carries the MIRRORED
    // −1%/month factor (still positive through month 83: 10000 −
    // 8300), so 'increasing', 'decreasing', and 'none' are ALL live
    // at every SF — inspected.
    "q349_mann_kendall" -> ((s, dir) => {
      val m = Tables.orders(s, dir)
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("mi"))
        // monthly sums stay ≲ 1e13, so the narrowing cast is exact —
        // and it pins both engines' decimal(18,2)×int widening to the
        // same comfortably-in-range type
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("rev"))
      val m0 = m.agg(min(col("mi")).as("m0"))
      val p = m.crossJoin(broadcast(m0))
        .select(col("seg"), col("mi"),
          // FURNITURE's planted −1%/month factor clamps at 1 (ADVICE
          // r16): past month 100 the raw factor goes zero/negative and
          // silently flips revenue signs — the clamp never fires on
          // the shipped ≤84-month calendars (min factor 1700, hashes
          // unchanged) but a wider calendar now saturates instead of
          // inverting; mirrored GREATEST(1, ...) in the oracle.
          (col("rev") * when(col("seg") === "BUILDING",
            lit(10000) + (col("mi") - col("m0")) * 100)
            .when(col("seg") === "FURNITURE",
              greatest(lit(1), lit(10000) - (col("mi") - col("m0")) * 100))
            .otherwise(lit(10000))).as("v"))
      val a = p.select(col("seg"), col("mi").as("ma"), col("v").as("va"))
      val b = p.select(col("seg"), col("mi").as("mb"), col("v").as("vb"))
      val sStat = a.join(broadcast(b), Seq("seg"))
        .filter(col("ma") < col("mb"))
        .groupBy(col("seg"))
        .agg(sum(when(col("vb") > col("va"), 1L)
          .when(col("vb") < col("va"), -1L).otherwise(0L)).as("s_stat"))
      val nSeg = p.groupBy(col("seg")).agg(count(lit(1)).as("n_months"))
      val ties = p.groupBy(col("seg"), col("v"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("seg"))
        .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
          .as("tie_term"))
      nSeg.join(sStat, Seq("seg")).join(ties, Seq("seg"))
        .withColumn("var_s",
          (col("n_months") * (col("n_months") - 1) *
            (col("n_months") * 2 + 5) - col("tie_term")).cast("double")
            / 18.0)
        .withColumn("z", round(
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(0.0), 6))
        .select(col("seg"), col("n_months"), col("s_stat"), col("z"),
          when(col("z") > 1.96, "increasing")
            .when(col("z") < -1.96, "decreasing")
            .otherwise("none").as("trend"))
        .orderBy("seg")
    }))

  val oracles: Map[String, String] = Map(

    "q352_kruskal_wallis" ->
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(round(l_quantity, 2) AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |byy AS (
        |  SELECT y, CAST(count(*) AS BIGINT) AS t,
        |         CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS t_r,
        |         CAST(sum(CASE WHEN flag = 'A' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS t_a,
        |         CAST(sum(CASE WHEN flag = 'N' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS t_n
        |  FROM v GROUP BY y),
        |ranked AS (
        |  SELECT *, coalesce(sum(t) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
        |      AS rmin
        |  FROM byy),
        |ar AS (SELECT *, 2 * rmin + t - 1 AS ar2 FROM ranked),
        |agg AS (
        |  SELECT CAST(sum(t_r * ar2) AS BIGINT) AS r2_r,
        |         CAST(sum(t_a * ar2) AS BIGINT) AS r2_a,
        |         CAST(sum(t_n * ar2) AS BIGINT) AS r2_n,
        |         CAST(sum(t_r) AS BIGINT) AS n_r,
        |         CAST(sum(t_a) AS BIGINT) AS n_a,
        |         CAST(sum(t_n) AS BIGINT) AS n_n,
        |         CAST(sum(t * t * t - t) AS BIGINT) AS tcorr
        |  FROM ar),
        |h AS (
        |  SELECT *,
        |    round((3.0 / ((n_r + n_a + n_n) *
        |        CAST(n_r + n_a + n_n + 1 AS DOUBLE)) *
        |      (CAST(r2_r AS DOUBLE) * r2_r / n_r +
        |       CAST(r2_a AS DOUBLE) * r2_a / n_a +
        |       CAST(r2_n AS DOUBLE) * r2_n / n_n) -
        |      3.0 * (n_r + n_a + n_n + 1)) /
        |      (1.0 - CAST(tcorr AS DOUBLE) /
        |        (CAST((n_r + n_a + n_n) AS DOUBLE) * (n_r + n_a + n_n) *
        |          (n_r + n_a + n_n) - (n_r + n_a + n_n))), 6) AS h_adj
        |  FROM agg)
        |SELECT 'A' AS flag, n_a AS n_obs,
        |       round(CAST(r2_a AS DOUBLE) / (2.0 * n_a), 6) AS mean_rank,
        |       h_adj FROM h
        |UNION ALL
        |SELECT 'N', n_n, round(CAST(r2_n AS DOUBLE) / (2.0 * n_n), 6),
        |       h_adj FROM h
        |UNION ALL
        |SELECT 'R', n_r, round(CAST(r2_r AS DOUBLE) / (2.0 * n_r), 6),
        |       h_adj FROM h
        |ORDER BY flag""".stripMargin,

    "q354_ccf_leadlag" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS x,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |           END) AS BIGINT) AS yv
        |  FROM events GROUP BY 1),
        |lags AS (SELECT CAST(i AS INTEGER) AS lag FROM range(-7, 8) t(i)),
        |j AS (
        |  SELECT l.lag, a.x, b.yv
        |  FROM daily a CROSS JOIN lags l
        |  JOIN daily b ON b.day = a.day + l.lag),
        |m AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
        |         CAST(sum(x * yv) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(yv * yv) AS BIGINT) AS syy
        |  FROM j GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_days,
        |       round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |         sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE) *
        |              CAST(n_days * syy - sy * sy AS DOUBLE)), 6) AS r
        |FROM m ORDER BY lag""".stripMargin,

    "q349_mann_kendall" ->
      """WITH m AS (
        |  SELECT c_mktsegment AS seg,
        |         year(o_orderdate) * 12 + month(o_orderdate) AS mi,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |           AS DECIMAL(18,2)) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m0 AS (SELECT min(mi) AS m0 FROM m),
        |p AS (SELECT seg, mi,
        |        rev * (CASE WHEN seg = 'BUILDING'
        |                 THEN 10000 + (mi - m0) * 100
        |               WHEN seg = 'FURNITURE'
        |                 THEN GREATEST(1, 10000 - (mi - m0) * 100)
        |               ELSE 10000 END) AS v
        |      FROM m, m0),
        |s AS (SELECT a.seg,
        |        CAST(sum(CASE WHEN b.v > a.v THEN 1
        |                      WHEN b.v < a.v THEN -1 ELSE 0 END)
        |          AS BIGINT) AS s_stat
        |      FROM p a JOIN p b ON a.seg = b.seg AND a.mi < b.mi
        |      GROUP BY a.seg),
        |n AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_months
        |      FROM p GROUP BY seg),
        |t AS (SELECT seg,
        |        CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tie_term
        |      FROM (SELECT seg, v, count(*) AS t FROM p GROUP BY seg, v)
        |      GROUP BY seg),
        |f AS (SELECT n.seg, n.n_months, s.s_stat,
        |        round(CASE
        |          WHEN s.s_stat > 0 THEN (s.s_stat - 1) /
        |            sqrt((n.n_months * (n.n_months - 1) *
        |              (n.n_months * 2 + 5) - t.tie_term) / 18.0)
        |          WHEN s.s_stat < 0 THEN (s.s_stat + 1) /
        |            sqrt((n.n_months * (n.n_months - 1) *
        |              (n.n_months * 2 + 5) - t.tie_term) / 18.0)
        |          ELSE 0.0 END, 6) AS z
        |      FROM n JOIN s ON n.seg = s.seg JOIN t ON n.seg = t.seg)
        |SELECT seg, n_months, s_stat, z,
        |       CASE WHEN z > 1.96 THEN 'increasing'
        |            WHEN z < -1.96 THEN 'decreasing'
        |            ELSE 'none' END AS trend
        |FROM f ORDER BY seg""".stripMargin,

    "q345_woe_binning" ->
      """WITH u AS (
        |  SELECT user_id, count(*) AS activity,
        |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |                       THEN 1 ELSE 0 END) >= 12
        |              THEN 1 ELSE 0 END AS y
        |  FROM events GROUP BY user_id),
        |d AS (SELECT y, ntile(10) OVER (ORDER BY -activity, user_id)
        |               AS decile FROM u),
        |b AS (SELECT CAST(decile AS INTEGER) AS decile,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(y) AS BIGINT) AS n_good
        |      FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS nt, sum(n_good) AS gt FROM b),
        |w AS (
        |  SELECT decile, n, n_good,
        |         (CAST(n_good AS DOUBLE) + 0.5) / (CAST(gt AS DOUBLE) + 5.0)
        |           AS gshare,
        |         (CAST(n - n_good AS DOUBLE) + 0.5) /
        |         (CAST(nt - gt AS DOUBLE) + 5.0) AS bshare
        |  FROM b, t)
        |SELECT decile, n, n_good,
        |       round(ln(gshare / bshare), 6) AS woe,
        |       round((gshare - bshare) * round(ln(gshare / bshare), 6), 10)
        |         AS iv_term
        |FROM w ORDER BY decile""".stripMargin,

    "q344_bh_fdr" ->
      """WITH ev AS (
        |  SELECT user_id,
        |         CAST(CAST(round(value, 4) AS DECIMAL(12,4)) +
        |              CASE WHEN user_id % 13 = 0
        |                   THEN CAST(36.0 AS DECIMAL(12,4))
        |                   ELSE CAST(0.0 AS DECIMAL(12,4)) END
        |              AS DECIMAL(12,4)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT count(*) AS nn, sum(v) AS s1, sum(v * v) AS s2 FROM ev),
        |u AS (SELECT user_id, count(*) AS n_u, sum(v) AS su
        |      FROM ev GROUP BY user_id),
        |mm AS (SELECT count(*) AS m FROM u),
        |sc AS (
        |  SELECT user_id, n_u, m,
        |         CAST(round(2000000.0 / (1.0 + exp(1.702 * abs(
        |           (CAST(su AS DOUBLE) / n_u - CAST(s1 AS DOUBLE) / nn) /
        |           (sqrt((CAST(s2 AS DOUBLE) -
        |                  CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nn)
        |                 / (nn - 1)) / sqrt(CAST(n_u AS DOUBLE)))))))
        |              AS BIGINT) AS p_micro
        |  FROM u, g, mm),
        |r AS (SELECT user_id, n_u, p_micro, m,
        |             row_number() OVER (ORDER BY p_micro, user_id) AS rnk
        |      FROM sc),
        |k AS (SELECT max(CASE WHEN p_micro * 20 * m <= 1000000 * rnk
        |                      THEN rnk END) AS kk FROM r)
        |SELECT user_id, CAST(n_u AS BIGINT) AS n_obs, p_micro,
        |       CAST(rnk AS BIGINT) AS bh_rank,
        |       rnk <= coalesce(kk, 0) AS rejected
        |FROM r, k ORDER BY bh_rank""".stripMargin,

    "q320_ntile_by_range" ->
      """WITH u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS activity
        |  FROM events GROUP BY user_id),
        |t AS (
        |  SELECT activity,
        |         ntile(7) OVER (ORDER BY activity, user_id) AS stratum
        |  FROM u)
        |SELECT CAST(stratum AS BIGINT) AS stratum,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       min(activity) AS min_act, max(activity) AS max_act
        |FROM t GROUP BY stratum ORDER BY stratum""".stripMargin,

    "q330_conformal" ->
      """WITH li AS (
        |  SELECT p_brand, l_orderkey, l_linenumber, l_extendedprice AS y,
        |         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |              CAST(l_linenumber AS VARCHAR) || ':cp'), 1, 6))
        |              AS BIGINT) % 5 AS coin
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |model AS (
        |  SELECT p_brand,
        |         CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |           AS yhat
        |  FROM li WHERE coin <= 2 GROUP BY p_brand),
        |calib AS (
        |  SELECT li.p_brand, round(abs(y - yhat), 6) AS score,
        |         l_orderkey, l_linenumber
        |  FROM li JOIN model USING (p_brand) WHERE coin = 3),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calib),
        |qs AS (
        |  SELECT score AS qhat FROM (
        |    SELECT score,
        |           row_number() OVER (ORDER BY score, l_orderkey,
        |                              l_linenumber) AS rn
        |    FROM calib) t, nc
        |  WHERE rn = (9 * (n_cal + 1) + 9) // 10),
        |test AS (
        |  SELECT li.p_brand, round(abs(y - yhat), 6) AS score
        |  FROM li JOIN model USING (p_brand) WHERE coin = 4),
        |bb AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_test,
        |         CAST(sum(CASE WHEN score <= qhat THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_in
        |  FROM test, qs GROUP BY p_brand
        |  UNION ALL
        |  SELECT 'ALL', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN score <= qhat THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM test, qs)
        |SELECT p_brand, nc.n_cal, qs.qhat, n_test, n_in,
        |       round(CAST(n_in AS DOUBLE) / n_test, 6) AS coverage
        |FROM bb, nc, qs ORDER BY p_brand""".stripMargin,

    "q331_isotonic_calibration" ->
      """WITH u AS (
        |  SELECT user_id,
        |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) c,
        |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) v,
        |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |                       THEN 1 ELSE 0 END) >= 12
        |              THEN 1 ELSE 0 END AS y
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT CAST(least((10 * (c + 1)) // (c + v + 2), 9)
        |              AS BIGINT) AS bin,
        |         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
        |  FROM u GROUP BY 1),
        |pairs AS (
        |  SELECT j.bin AS j, k.bin AS k,
        |         CAST(sum(m.sy) AS DOUBLE) / sum(m.n) AS avgr
        |  FROM b j JOIN b k ON j.bin <= k.bin
        |  JOIN b m ON m.bin BETWEEN j.bin AND k.bin
        |  GROUP BY 1, 2),
        |mins AS (
        |  SELECT i.bin AS bin, p.j, min(p.avgr) AS mn
        |  FROM b i JOIN pairs p ON p.j <= i.bin AND p.k >= i.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT bin, max(mn) AS iso_rate FROM mins GROUP BY 1)
        |SELECT b.bin, b.n,
        |       round(CAST(b.sy AS DOUBLE) / b.n, 6) AS raw_rate,
        |       round(iso.iso_rate, 6) AS iso_rate
        |FROM b JOIN iso USING (bin) ORDER BY b.bin""".stripMargin,

    "q337_uplift_curve" ->
      """WITH u AS (
        |  SELECT user_id, count(*) AS activity,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS np
        |  FROM events GROUP BY user_id),
        |f AS (
        |  SELECT user_id, activity,
        |         CASE WHEN np >= 12 THEN 1 ELSE 0 END AS y,
        |         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
        |              || ':up'), 1, 6)) AS BIGINT) % 2 = 0
        |              THEN 1 ELSE 0 END AS treat,
        |         ntile(5) OVER (ORDER BY -activity, user_id) AS quintile
        |  FROM u),
        |g AS (
        |  SELECT CAST(quintile AS BIGINT) AS quintile,
        |         CAST(sum(treat) AS BIGINT) AS n_t,
        |         CAST(sum(1 - treat) AS BIGINT) AS n_c,
        |         CAST(sum(y * treat) AS BIGINT) AS y_t,
        |         CAST(sum(y * (1 - treat)) AS BIGINT) AS y_c
        |  FROM f GROUP BY 1),
        |c AS (
        |  SELECT a.quintile, max(a.n_t) AS n_t, max(a.n_c) AS n_c,
        |         max(a.y_t) AS y_t, max(a.y_c) AS y_c,
        |         CAST(sum(b.n_t) AS BIGINT) AS cn_t,
        |         CAST(sum(b.n_c) AS BIGINT) AS cn_c,
        |         CAST(sum(b.y_t) AS BIGINT) AS cy_t,
        |         CAST(sum(b.y_c) AS BIGINT) AS cy_c
        |  FROM g a JOIN g b ON b.quintile <= a.quintile
        |  GROUP BY a.quintile)
        |SELECT quintile, n_t, n_c,
        |       CASE WHEN n_t > 0
        |            THEN round(CAST(y_t AS DOUBLE) / n_t, 6) END AS rate_t,
        |       CASE WHEN n_c > 0
        |            THEN round(CAST(y_c AS DOUBLE) / n_c, 6) END AS rate_c,
        |       CASE WHEN n_t > 0 AND n_c > 0
        |            THEN round(CAST(y_t AS DOUBLE) / n_t
        |                       - CAST(y_c AS DOUBLE) / n_c, 6) END AS uplift,
        |       CASE WHEN cn_c > 0
        |            THEN round(CAST(cy_t AS DOUBLE)
        |                       - CAST(cy_c AS DOUBLE) * cn_t / cn_c, 6)
        |            END AS qini_g
        |FROM c ORDER BY quintile""".stripMargin,

    "q295_spearman_daily" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, count(*) AS x,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM orders GROUP BY o_orderdate),
        |r AS (
        |  SELECT 2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS rx,
        |         2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1 AS ry
        |  FROM daily),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
        |         CAST(sum(rx * rx) AS BIGINT) AS sxx,
        |         CAST(sum(ry * ry) AS BIGINT) AS syy,
        |         CAST(sum(rx * ry) AS BIGINT) AS sxy
        |  FROM r)
        |SELECT n AS n_days,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |             sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |                  CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
        |FROM s""".stripMargin,

    "q296_kendall_daily" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, count(*) AS x,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM orders GROUP BY o_orderdate),
        |p AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
        |                         OR (a.x > b.x AND a.y > b.y)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
        |                         OR (a.x > b.x AND a.y < b.y)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS dd,
        |         CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM daily a JOIN daily b ON a.d < b.d)
        |SELECT n0 AS n_pairs, c AS concordant, dd AS discordant,
        |       round(CAST(c - dd AS DOUBLE) /
        |             sqrt(CAST(n0 - n1 AS DOUBLE) *
        |                  CAST(n0 - n2 AS DOUBLE)), 6) AS tau_b
        |FROM p""".stripMargin,

    "q299_theil_sen" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM orders GROUP BY o_orderdate),
        |p AS (
        |  SELECT a.d AS da, b.d AS db,
        |         CAST(b.y - a.y AS DOUBLE)
        |           / date_diff('day', CAST(a.d AS DATE), CAST(b.d AS DATE)) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.d < b.d
        |   AND date_diff('day', CAST(a.d AS DATE), CAST(b.d AS DATE)) <= 30),
        |r AS (SELECT slope,
        |             row_number() OVER (ORDER BY slope, da, db) AS rn FROM p),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p)
        |SELECT m.m AS n_pairs, round(r.slope, 6) AS ts_slope
        |FROM r, m WHERE r.rn = (m.m + 1) // 2""".stripMargin,

    "q317_covariate_balance" ->
      """WITH u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS x,
        |         CAST(CASE WHEN sum(CASE WHEN event_type = 'click'
        |                                 THEN 1 ELSE 0 END)
        |                   > sum(CASE WHEN event_type = 'view'
        |                              THEN 1 ELSE 0 END)
        |              THEN 1 ELSE 0 END AS BIGINT) AS t
        |  FROM events GROUP BY user_id),
        |st AS (
        |  SELECT *, ntile(5) OVER (ORDER BY x, user_id) AS stratum FROM u),
        |r AS (
        |  SELECT stratum,
        |         least(greatest(CAST(sum(t) AS DOUBLE) / count(*), 0.05),
        |               0.95) AS p
        |  FROM st GROUP BY stratum),
        |w AS (
        |  SELECT st.t, st.x,
        |         CAST(round(CASE WHEN st.t = 1 THEN 1.0 / r.p
        |                         ELSE 1.0 / (1.0 - r.p) END, 6)
        |              AS DECIMAL(18,6)) AS wt
        |  FROM st JOIN r USING (stratum)),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(t) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN t = 1 THEN x END) AS BIGINT) AS sx1,
        |         CAST(sum(CASE WHEN t = 1 THEN x * x END) AS BIGINT) AS sxx1,
        |         CAST(sum(CASE WHEN t = 0 THEN x END) AS BIGINT) AS sx0,
        |         CAST(sum(CASE WHEN t = 0 THEN x * x END) AS BIGINT) AS sxx0,
        |         sum(CASE WHEN t = 1 THEN wt * x END) AS swx1,
        |         sum(CASE WHEN t = 1 THEN wt END) AS sw1,
        |         sum(CASE WHEN t = 0 THEN wt * x END) AS swx0,
        |         sum(CASE WHEN t = 0 THEN wt END) AS sw0
        |  FROM w)
        |SELECT n, n1,
        |       round(CAST(sx1 AS DOUBLE) / n1, 4) AS mean_t,
        |       round(CAST(sx0 AS DOUBLE) / (n - n1), 4) AS mean_c,
        |       round((CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / (n - n1))
        |             / sqrt(((CAST(sxx1 AS DOUBLE)
        |                      - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n1)
        |                       / (CAST(n1 AS DOUBLE) - 1)
        |                   + (CAST(sxx0 AS DOUBLE)
        |                      - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE) / (n - n1))
        |                       / (CAST(n - n1 AS DOUBLE) - 1)) / 2), 6)
        |         AS smd_before,
        |       round((CAST(swx1 AS DOUBLE) / CAST(sw1 AS DOUBLE)
        |              - CAST(swx0 AS DOUBLE) / CAST(sw0 AS DOUBLE))
        |             / sqrt(((CAST(sxx1 AS DOUBLE)
        |                      - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n1)
        |                       / (CAST(n1 AS DOUBLE) - 1)
        |                   + (CAST(sxx0 AS DOUBLE)
        |                      - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE) / (n - n1))
        |                       / (CAST(n - n1 AS DOUBLE) - 1)) / 2), 6)
        |         AS smd_after
        |FROM m""".stripMargin,

    "q310_forecast_backtest" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT a.d, a.y, b.y AS y7, c.y AS y1
        |  FROM daily a
        |  JOIN daily b ON a.d = b.d + 7
        |  JOIN daily c ON a.d = c.d + 1),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |         sum(abs(y - y7)) AS sae7,
        |         sum(abs(y - y1)) AS sae1,
        |         sum(CASE WHEN y + y7 = 0 THEN CAST(0 AS DECIMAL(18,6))
        |             ELSE CAST(CAST(abs(y - y7) * 2 AS DOUBLE)
        |                       / CAST(y + y7 AS DOUBLE) AS DECIMAL(18,6))
        |             END) AS smape_sum
        |  FROM j)
        |SELECT n_days,
        |       round(CAST(sae7 AS DOUBLE) / n_days, 4) AS mae,
        |       round(CAST(smape_sum AS DOUBLE) / n_days, 6) AS smape,
        |       round(CAST(sae7 AS DOUBLE) / CAST(sae1 AS DOUBLE), 6) AS mase
        |FROM agg""".stripMargin,

    "q311_pareto_contribution" ->
      """WITH b AS (
        |  SELECT p_brand AS brand,
        |         sum(CAST(l_extendedprice * (1 - l_discount)
        |             AS DECIMAL(18,4))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand),
        |t AS (SELECT sum(rev) AS tot FROM b),
        |r AS (SELECT brand, rev,
        |             sum(rev) OVER (ORDER BY rev DESC, brand
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM b)
        |SELECT r.brand, round(CAST(r.rev AS DOUBLE), 2) AS revenue,
        |       round(CAST(r.rev AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS share,
        |       round(CAST(r.cum AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS cum_share,
        |       (CAST(r.cum - r.rev AS DECIMAL(28,4)) * 10
        |          < CAST(t.tot AS DECIMAL(28,4)) * 8) AS in_pareto_head
        |FROM r, t ORDER BY revenue DESC, brand""".stripMargin,

    "q300_weighted_median" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS v,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS wt
        |  FROM lineitem),
        |t AS (SELECT sum(wt) AS tw, CAST(count(*) AS BIGINT) AS n_rows FROM li),
        |r AS (
        |  SELECT v, sum(wt) OVER (ORDER BY v) AS running_total FROM li)
        |SELECT t.n_rows,
        |       round(CAST(t.tw AS DOUBLE), 2) AS total_weight,
        |       round(CAST(min(r.v) AS DOUBLE), 2) AS weighted_median
        |FROM r, t
        |WHERE r.running_total * 2 >= t.tw
        |GROUP BY t.n_rows, t.tw""".stripMargin,

    "q256_nelson_aalen" ->
      """WITH pu AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
        |         max(CAST(ts AS DATE)) AS last_day,
        |         min(CASE WHEN event_type = 'purchase'
        |                  THEN CAST(ts AS DATE) END) AS first_purchase
        |  FROM events GROUP BY user_id),
        |u AS (
        |  SELECT CAST(CASE WHEN first_purchase IS NOT NULL
        |                   THEN datediff('day', first_day, first_purchase)
        |                   ELSE datediff('day', first_day, last_day) END
        |              AS BIGINT) AS t_exit,
        |         first_purchase IS NOT NULL AS died
        |  FROM pu),
        |bt AS (
        |  SELECT t_exit, count(*) AS n_exit,
        |         CAST(sum(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM u GROUP BY t_exit),
        |r AS (
        |  SELECT t_exit, d,
        |         CAST(sum(n_exit) OVER ()
        |           - coalesce(sum(n_exit) OVER (ORDER BY t_exit
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS at_risk
        |  FROM bt),
        |h AS (
        |  SELECT t_exit, d, at_risk,
        |         CAST(round(d::DOUBLE / at_risk::DOUBLE, 10)
        |              AS DECIMAL(24,10)) AS hterm
        |  FROM r WHERE d > 0)
        |SELECT t_exit AS t_days, d AS n_converted, at_risk,
        |       round(CAST(sum(hterm) OVER (ORDER BY t_exit
        |               ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS cum_hazard,
        |       round(exp(-CAST(sum(hterm) OVER (ORDER BY t_exit
        |               ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) AS fh_survival
        |FROM h ORDER BY t_days""".stripMargin,

    "q257_mann_whitney" ->
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(round(l_quantity, 2) AS DECIMAL(18,2)) AS y
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |byy AS (
        |  SELECT y, count(*) AS t,
        |         CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS tr
        |  FROM v GROUP BY y),
        |rk AS (
        |  SELECT t, tr,
        |         CAST(coalesce(sum(t) OVER (ORDER BY y
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + 1 AS BIGINT) AS rmin
        |  FROM byy),
        |m AS (
        |  SELECT CAST(sum(tr * (2 * rmin + t - 1)) AS BIGINT) AS r1x2,
        |         CAST(sum(tr) AS BIGINT) AS n1,
        |         CAST(sum(t - tr) AS BIGINT) AS n2,
        |         CAST(sum(t * t * t - t) AS BIGINT) AS tcorr
        |  FROM rk)
        |SELECT n1, n2,
        |       round((r1x2 - n1 * (n1 + 1))::DOUBLE / 2.0, 1) AS u1,
        |       round((r1x2 - n1 * (n1 + 1) - n1 * n2)::DOUBLE /
        |         (2.0 * sqrt(n1::DOUBLE * n2::DOUBLE / 12.0 *
        |           ((n1 + n2 + 1)::DOUBLE - tcorr::DOUBLE /
        |             ((n1 + n2)::DOUBLE * (n1 + n2 - 1)::DOUBLE)))), 6) AS z,
        |       round((r1x2 - n1 * (n1 + 1))::DOUBLE /
        |         (2.0 * n1::DOUBLE * n2::DOUBLE), 6) AS auc
        |FROM m""".stripMargin,

    "q258_bradley_terry" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, p_brand AS brand,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS price
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pairs AS (
        |  SELECT CASE WHEN a.price > b.price THEN a.brand ELSE b.brand END
        |           AS winner,
        |         CASE WHEN a.price > b.price THEN b.brand ELSE a.brand END
        |           AS loser
        |  FROM li a JOIN li b
        |    ON a.ok = b.ok AND a.brand < b.brand AND a.price <> b.price),
        |games AS (
        |  SELECT least(winner, loser) AS i, greatest(winner, loser) AS j,
        |         count(*) AS nij,
        |         CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END)
        |              AS BIGINT) AS wi
        |  FROM pairs GROUP BY 1, 2),
        |edges AS (
        |  SELECT i AS p, j AS o, nij, wi AS w FROM games
        |  UNION ALL
        |  SELECT j AS p, i AS o, nij, nij - wi AS w FROM games),
        |totals AS (
        |  SELECT p, CAST(sum(w) AS BIGINT) AS wins,
        |         CAST(sum(nij) AS BIGINT) AS games
        |  FROM edges GROUP BY p),
        |r0 AS (SELECT p, CAST(1.0 AS DECIMAL(18,9)) AS rating FROM totals),
        |d1 AS (
        |  SELECT e.p,
        |         CAST(sum(CAST(round(e.nij::DOUBLE /
        |             CAST(rp.rating + ro.rating AS DOUBLE), 9)
        |           AS DECIMAL(18,9))) AS DECIMAL(28,9)) AS denom
        |  FROM edges e JOIN r0 rp ON e.p = rp.p JOIN r0 ro ON e.o = ro.p
        |  GROUP BY e.p),
        |raw1 AS (
        |  SELECT t.p, CAST(round(t.wins::DOUBLE / CAST(d1.denom AS DOUBLE), 9)
        |           AS DECIMAL(18,9)) AS raw
        |  FROM d1 JOIN totals t ON d1.p = t.p),
        |r1 AS (
        |  SELECT p, CAST(round(CAST(raw AS DOUBLE) * 25.0 /
        |           CAST((SELECT CAST(sum(raw) AS DECIMAL(28,9)) FROM raw1)
        |             AS DOUBLE), 9) AS DECIMAL(18,9)) AS rating
        |  FROM raw1),
        |d2 AS (
        |  SELECT e.p,
        |         CAST(sum(CAST(round(e.nij::DOUBLE /
        |             CAST(rp.rating + ro.rating AS DOUBLE), 9)
        |           AS DECIMAL(18,9))) AS DECIMAL(28,9)) AS denom
        |  FROM edges e JOIN r1 rp ON e.p = rp.p JOIN r1 ro ON e.o = ro.p
        |  GROUP BY e.p),
        |raw2 AS (
        |  SELECT t.p, CAST(round(t.wins::DOUBLE / CAST(d2.denom AS DOUBLE), 9)
        |           AS DECIMAL(18,9)) AS raw
        |  FROM d2 JOIN totals t ON d2.p = t.p),
        |r2 AS (
        |  SELECT p, CAST(round(CAST(raw AS DOUBLE) * 25.0 /
        |           CAST((SELECT CAST(sum(raw) AS DECIMAL(28,9)) FROM raw2)
        |             AS DOUBLE), 9) AS DECIMAL(18,9)) AS rating
        |  FROM raw2)
        |SELECT r2.p AS brand, round(CAST(r2.rating AS DOUBLE), 6) AS rating,
        |       t.wins, t.games
        |FROM r2 JOIN totals t ON r2.p = t.p
        |ORDER BY rating DESC, brand""".stripMargin,

    "q259_cohens_kappa" ->
      """WITH d AS (
        |  SELECT n_chars >= 300 AS ra,
        |         len(string_split_regex(trim(text), '\s+')) >= 55 AS rb
        |  FROM documents),
        |c AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n11,
        |         CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n10,
        |         CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n01,
        |         CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n00
        |  FROM d)
        |SELECT n, n11, n10, n01, n00,
        |       round((n11 + n00)::DOUBLE / n::DOUBLE, 6) AS po,
        |       round(((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
        |              + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
        |             / (n::DOUBLE * n::DOUBLE), 6) AS pe,
        |       round(CASE WHEN ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
        |              + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
        |             / (n::DOUBLE * n::DOUBLE) = 1.0 THEN 0.0
        |         ELSE ((n11 + n00)::DOUBLE / n::DOUBLE
        |               - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
        |                  + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
        |                 / (n::DOUBLE * n::DOUBLE))
        |              / (1.0 - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
        |                  + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE)
        |                 / (n::DOUBLE * n::DOUBLE)) END, 6) AS kappa
        |FROM c""".stripMargin,

    "q260_zipf_slope" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        |  FROM documents),
        |freq AS (
        |  SELECT tok, count(*) AS freq FROM toks WHERE tok <> ''
        |  GROUP BY tok),
        |top AS (
        |  SELECT CAST(round(ln(r::DOUBLE), 6) AS DECIMAL(12,6)) AS x,
        |         CAST(round(ln(freq::DOUBLE), 6) AS DECIMAL(12,6)) AS y
        |  FROM (SELECT freq, row_number() OVER
        |          (ORDER BY freq DESC, tok) AS r FROM freq)
        |  WHERE r <= 200),
        |m AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(x) AS DECIMAL(28,6)) AS sx,
        |         CAST(sum(y) AS DECIMAL(28,6)) AS sy,
        |         CAST(sum(x * y) AS DECIMAL(28,12)) AS sxy,
        |         CAST(sum(x * x) AS DECIMAL(28,12)) AS sxx,
        |         CAST(sum(y * y) AS DECIMAL(28,12)) AS syy
        |  FROM top)
        |SELECT n AS n_tokens,
        |       round((n::DOUBLE * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / (n::DOUBLE * CAST(sxx AS DOUBLE)
        |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |         AS slope,
        |       round((CAST(sy AS DOUBLE)
        |              - (n::DOUBLE * CAST(sxy AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                / (n::DOUBLE * CAST(sxx AS DOUBLE)
        |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                * CAST(sx AS DOUBLE)) / n::DOUBLE, 6) AS intercept,
        |       round((n::DOUBLE * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             * (n::DOUBLE * CAST(sxy AS DOUBLE)
        |                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / ((n::DOUBLE * CAST(sxx AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                * (n::DOUBLE * CAST(syy AS DOUBLE)
        |                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |         AS r2
        |FROM m""".stripMargin,

    "q261_decay_popularity" ->
      """WITH t AS (
        |  SELECT p_brand,
        |         CAST(round(l_quantity * power(2.0,
        |             -(datediff('day', CAST(l_shipdate AS DATE),
        |                        DATE '2002-01-01')::DOUBLE / 30.0)), 8)
        |           AS DECIMAL(18,8)) AS term
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, count(*) AS n_lines,
        |       round(CAST(sum(term) AS DOUBLE), 6) AS popularity
        |FROM t GROUP BY p_brand
        |ORDER BY popularity DESC, p_brand""".stripMargin,

    "q262_ols_residuals" ->
      """WITH rows_ AS (
        |  SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
        |         CAST(round(l_quantity, 2) AS DECIMAL(18,2)) AS x,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT flag, count(*) AS n,
        |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x * y) AS DOUBLE) AS sxy,
        |         CAST(sum(x * x) AS DOUBLE) AS sxx
        |  FROM rows_ GROUP BY flag),
        |fit AS (
        |  SELECT flag, n,
        |         (n::DOUBLE * sxy - sx * sy) / (n::DOUBLE * sxx - sx * sx)
        |           AS slope,
        |         (sy - (n::DOUBLE * sxy - sx * sy)
        |               / (n::DOUBLE * sxx - sx * sx) * sx) / n::DOUBLE
        |           AS icpt
        |  FROM m),
        |res AS (
        |  SELECT r.flag, f.n, f.slope, f.icpt, r.l_orderkey, r.l_linenumber,
        |         CAST(r.y AS DOUBLE)
        |           - (f.icpt + f.slope * CAST(r.x AS DOUBLE)) AS res
        |  FROM rows_ r JOIN fit f ON r.flag = f.flag)
        |SELECT flag, CAST(any_value(n) AS BIGINT) AS n,
        |       round(any_value(slope), 6) AS slope,
        |       round(any_value(icpt), 6) AS intercept,
        |       round(sqrt(CAST(sum(CAST(round(res * res, 4)
        |           AS DECIMAL(18,4))) AS DOUBLE)
        |         / any_value(n)::DOUBLE), 6) AS rmse,
        |       CAST(max(struct_pack(ar := CAST(round(abs(res), 6)
        |           AS DECIMAL(18,6)), ok := l_orderkey,
        |           ln := l_linenumber)).ok AS BIGINT) AS worst_orderkey,
        |       CAST(max(struct_pack(ar := CAST(round(abs(res), 6)
        |           AS DECIMAL(18,6)), ok := l_orderkey,
        |           ln := l_linenumber)).ln AS BIGINT) AS worst_linenumber,
        |       round(CAST(max(struct_pack(ar := CAST(round(abs(res), 6)
        |           AS DECIMAL(18,6)), ok := l_orderkey,
        |           ln := l_linenumber)).ar AS DOUBLE), 6) AS worst_absres
        |FROM res GROUP BY flag ORDER BY flag""".stripMargin,

    "q263_ordinal_match" ->
      """WITH c AS (
        |  SELECT user_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn,
        |         epoch_us(ts) AS cts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn,
        |         epoch_us(ts) AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.cts, p.pts
        |      FROM c FULL OUTER JOIN p USING (user_id, rn))
        |SELECT
        |  CAST(sum(CASE WHEN cts IS NOT NULL AND pts IS NOT NULL
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN pts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_click_only,
        |  CAST(sum(CASE WHEN cts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchase_only,
        |  round(CAST(sum(CASE WHEN cts IS NOT NULL
        |                      THEN pts - cts END) AS DOUBLE) /
        |    CAST(sum(CASE WHEN cts IS NOT NULL AND pts IS NOT NULL
        |                  THEN 1 ELSE 0 END) AS DOUBLE) / 1000000.0, 6)
        |    AS mean_lag_s,
        |  round(CAST(sum(CASE WHEN cts IS NOT NULL AND pts > cts
        |                      THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(sum(CASE WHEN cts IS NOT NULL AND pts IS NOT NULL
        |                  THEN 1 ELSE 0 END) AS DOUBLE), 6) AS frac_after
        |FROM j""".stripMargin,

    "q269_bootstrap_ci" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS rev
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |di AS (
        |  SELECT rev,
        |         CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS idx
        |  FROM daily),
        |nd AS (SELECT count(*) AS n_days FROM di),
        |grid AS (
        |  SELECT t.range AS b,
        |         CAST(('0x' || substr(md5(CAST(t.range AS VARCHAR) || ':' ||
        |             CAST(di.idx AS VARCHAR) || ':boot'), 1, 6)) AS BIGINT)
        |           % (SELECT n_days FROM nd) AS j
        |  FROM range(1, 200) t CROSS JOIN di),
        |means AS (
        |  SELECT b, CAST(round(CAST(sum(di.rev) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 9) AS DECIMAL(18,9)) AS m
        |  FROM grid JOIN di ON grid.j = di.idx
        |  GROUP BY b),
        |ranked AS (
        |  SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM di) AS n_days,
        |       CAST(199 AS BIGINT) AS n_boot,
        |       (SELECT round(CAST(sum(rev) AS DOUBLE)
        |               / CAST(count(*) AS DOUBLE), 6) FROM di) AS point_mean,
        |       (SELECT round(CAST(m AS DOUBLE), 6) FROM ranked WHERE rn = 5)
        |         AS ci_lo,
        |       (SELECT round(CAST(m AS DOUBLE), 6) FROM ranked WHERE rn = 195)
        |         AS ci_hi""".stripMargin,

    "q270_decay_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pus,
        |         CAST(round(value, 2) AS DECIMAL(18,2)) AS pv
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |t AS (
        |  SELECT user_id, event_type AS channel, epoch_us(ts) AS tus
        |  FROM events WHERE event_type IN ('click', 'view')),
        |cand AS (
        |  SELECT p.pid, t.channel, p.pv,
        |         CAST(round(power(2.0, -((p.pus - t.tus)::DOUBLE
        |                                 / 86400000000.0)), 9)
        |              AS DECIMAL(18,9)) AS w
        |  FROM p JOIN t USING (user_id)
        |  WHERE t.tus < p.pus AND p.pus - t.tus <= 604800000000),
        |d AS (SELECT pid, sum(w) AS wsum FROM cand GROUP BY pid)
        |SELECT channel, count(*) AS n_touches,
        |       round(CAST(sum(CAST(round(CAST(c.w AS DOUBLE)
        |             / CAST(d.wsum AS DOUBLE) * CAST(c.pv AS DOUBLE), 6)
        |           AS DECIMAL(18,6))) AS DOUBLE), 4) AS attributed_value
        |FROM cand c JOIN d USING (pid)
        |GROUP BY channel ORDER BY channel""".stripMargin,

    "q271_rolling_corr" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS x,
        |         sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
        |                  THEN CAST(round(value, 2) AS DECIMAL(18,2))
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT d, x, y,
        |         row_number() OVER (ORDER BY d) AS rn,
        |         CAST(sum(x) OVER w AS DOUBLE) AS sx,
        |         CAST(sum(y) OVER w AS DOUBLE) AS sy,
        |         CAST(sum(x * y) OVER w AS DOUBLE) AS sxy,
        |         CAST(sum(x * x) OVER w AS DOUBLE) AS sxx,
        |         CAST(sum(y * y) OVER w AS DOUBLE) AS syy
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT strftime(d, '%Y-%m-%d') AS day, x AS clicks,
        |       round(CAST(y AS DOUBLE), 2) AS revenue,
        |       CASE WHEN rn >= 7
        |              AND (7.0 * sxx - sx * sx) * (7.0 * syy - sy * sy) > 0.0
        |            THEN round((7.0 * sxy - sx * sy)
        |                 / sqrt((7.0 * sxx - sx * sx)
        |                        * (7.0 * syy - sy * sy)), 6) END AS corr7
        |FROM r WHERE rn >= 7 ORDER BY day""".stripMargin,

    "q272_calibration" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS v,
        |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |b AS (
        |  SELECT y,
        |         CAST(least(floor((c + 1)::DOUBLE / (c + v + 2)::DOUBLE
        |                          * 10.0), 9.0) AS BIGINT) AS bin,
        |         CAST(round((c + 1)::DOUBLE / (c + v + 2)::DOUBLE, 9)
        |              AS DECIMAL(18,9)) AS p,
        |         CAST(round(((c + 1)::DOUBLE / (c + v + 2)::DOUBLE - y)
        |                    * ((c + 1)::DOUBLE / (c + v + 2)::DOUBLE - y), 9)
        |              AS DECIMAL(18,9)) AS bt
        |  FROM u)
        |SELECT bin, count(*) AS n_users,
        |       round(CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |         AS mean_phat,
        |       round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |         AS conv_rate,
        |       round(CAST(sum(bt) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |         AS brier
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q286_stl_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS rev
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |w AS (
        |  SELECT d, rev,
        |         row_number() OVER (ORDER BY d) AS rn,
        |         count(*) OVER () AS n,
        |         sum(rev) OVER (ORDER BY d
        |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma7
        |  FROM daily),
        |full_ AS (
        |  SELECT d, rev,
        |         round(CAST(ma7 AS DOUBLE) / 7.0, 6) AS trend,
        |         CAST(round(CAST(rev AS DOUBLE)
        |                    - round(CAST(ma7 AS DOUBLE) / 7.0, 6), 6)
        |              AS DECIMAL(18,6)) AS detr,
        |         dayofweek(d) AS dow
        |  FROM w WHERE rn >= 4 AND rn <= n - 3),
        |seasonal AS (
        |  SELECT dow,
        |         round(CAST(sum(detr) AS DOUBLE) / CAST(count(*) AS DOUBLE),
        |               6) AS seasonal
        |  FROM full_ GROUP BY dow)
        |SELECT strftime(f.d, '%Y-%m-%d') AS day,
        |       round(CAST(f.rev AS DOUBLE), 2) AS revenue,
        |       f.trend, s.seasonal,
        |       round(CAST(f.detr AS DOUBLE) - s.seasonal, 6) AS residual
        |FROM full_ f JOIN seasonal s USING (dow)
        |ORDER BY day""".stripMargin,

    "q280_user_action_entropy" ->
      """WITH bt AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type),
        |bu AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n
        |  FROM bt GROUP BY user_id),
        |t AS (
        |  SELECT bt.user_id, bu.n,
        |         CAST(round(-(bt.c::DOUBLE / bu.n::DOUBLE)
        |                    * ln(bt.c::DOUBLE / bu.n::DOUBLE), 10)
        |              AS DECIMAL(24,10)) AS term
        |  FROM bt JOIN bu USING (user_id))
        |SELECT user_id, any_value(n) AS n_events, count(*) AS n_types,
        |       round(CAST(sum(term) AS DOUBLE), 6) AS entropy
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q281_price_volume_bridge" ->
      """WITH li AS (
        |  SELECT p_brand, year(CAST(l_shipdate AS DATE)) AS y,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS rev,
        |         CAST(round(l_quantity, 2) AS DECIMAL(18,2)) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE year(CAST(l_shipdate AS DATE)) IN (1995, 1996)),
        |m AS (
        |  SELECT p_brand,
        |         sum(CASE WHEN y = 1995 THEN rev END) AS r0,
        |         sum(CASE WHEN y = 1995 THEN qty END) AS q0,
        |         sum(CASE WHEN y = 1996 THEN rev END) AS r1,
        |         sum(CASE WHEN y = 1996 THEN qty END) AS q1
        |  FROM li GROUP BY p_brand)
        |SELECT p_brand,
        |       round(CAST(r0 AS DOUBLE), 2) AS rev_1995,
        |       round(CAST(r1 AS DOUBLE), 2) AS rev_1996,
        |       round((CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
        |              - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE))
        |             * CAST(q0 AS DOUBLE), 4) AS price_effect,
        |       round(CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)
        |             * (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE)), 4)
        |         AS volume_effect,
        |       round((CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
        |              - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE))
        |             * (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE)), 4)
        |         AS cross_effect
        |FROM m
        |WHERE q0 IS NOT NULL AND q1 IS NOT NULL AND q0 > 0 AND q1 > 0
        |ORDER BY p_brand""".stripMargin,

    "q282_sequential_rules" ->
      """WITH buys AS (
        |  SELECT DISTINCT o_custkey AS cust, p_brand AS brand,
        |         CAST(o_orderdate AS DATE) AS d
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey),
        |ab AS (
        |  SELECT DISTINCT a.cust, a.brand AS ante, b.brand AS cons
        |  FROM buys a JOIN buys b
        |    ON a.cust = b.cust AND a.d < b.d AND a.brand <> b.brand),
        |na AS (
        |  SELECT ante, count(*) AS n_ante FROM (
        |    SELECT DISTINCT cust, brand AS ante FROM buys)
        |  GROUP BY ante),
        |nc AS (SELECT count(DISTINCT cust) AS n_cust FROM buys)
        |SELECT ante, cons, count(*) AS n_rule,
        |       round(CAST(count(*) AS DOUBLE) / CAST(n_ante AS DOUBLE), 6)
        |         AS confidence,
        |       round(CAST(count(*) AS DOUBLE) / CAST(n_cust AS DOUBLE), 6)
        |         AS support
        |FROM ab JOIN na USING (ante) CROSS JOIN nc
        |GROUP BY ante, cons, n_ante, n_cust
        |HAVING count(*) >= 5
        |ORDER BY confidence DESC, ante, cons LIMIT 15""".stripMargin,

    "q277_diff_in_diff" ->
      """WITH e AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
        |                1, 6)) AS BIGINT) % 2 AS grp,
        |         CAST(ts AS DATE) < DATE '2024-01-15' AS pre,
        |         CAST(round(value, 2) AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |m AS (
        |  SELECT
        |    sum(CASE WHEN grp = 1 AND pre THEN v END) AS s_tpre,
        |    CAST(sum(CASE WHEN grp = 1 AND pre THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_tpre,
        |    sum(CASE WHEN grp = 1 AND NOT pre THEN v END) AS s_tpost,
        |    CAST(sum(CASE WHEN grp = 1 AND NOT pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_tpost,
        |    sum(CASE WHEN grp = 0 AND pre THEN v END) AS s_cpre,
        |    CAST(sum(CASE WHEN grp = 0 AND pre THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cpre,
        |    sum(CASE WHEN grp = 0 AND NOT pre THEN v END) AS s_cpost,
        |    CAST(sum(CASE WHEN grp = 0 AND NOT pre THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_cpost
        |  FROM e)
        |SELECT n_tpre, n_tpost, n_cpre, n_cpost,
        |       round(CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE), 6)
        |         AS treat_pre,
        |       round(CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE), 6)
        |         AS treat_post,
        |       round(CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE), 6)
        |         AS ctrl_pre,
        |       round(CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE), 6)
        |         AS ctrl_post,
        |       round((CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE)
        |              - CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE))
        |             - (CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE)
        |                - CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE)),
        |             6) AS did
        |FROM m""".stripMargin,

    "q290_funnel_timing" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (
        |  SELECT user_id, min(us) AS t_signup FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, any_value(t1.t_signup) AS t_signup,
        |         min(e.us) AS t_click
        |  FROM ev e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.us > t1.t_signup
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, any_value(t2.t_click) AS t_click,
        |         min(e.us) AS t_purchase
        |  FROM ev e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us > t2.t_click
        |  GROUP BY e.user_id),
        |hops AS (
        |  SELECT '1_signup_to_click' AS stage, t_click - t_signup AS d_us
        |  FROM t2
        |  UNION ALL
        |  SELECT '2_click_to_purchase' AS stage, t_purchase - t_click
        |  FROM t3),
        |r AS (
        |  SELECT stage, d_us,
        |         CAST(row_number() OVER (PARTITION BY stage ORDER BY d_us)
        |              AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY stage) AS BIGINT) AS n
        |  FROM hops)
        |SELECT stage, any_value(n) AS n_users,
        |       round(CAST(min(CASE WHEN rn = (n + 1) // 2 THEN d_us END)
        |                  AS DOUBLE) / 1000000.0, 6) AS p50_s,
        |       round(CAST(min(CASE WHEN rn = (9 * n + 9) // 10 THEN d_us END)
        |                  AS DOUBLE) / 1000000.0, 6) AS p90_s,
        |       round(CAST(sum(d_us) AS DOUBLE)
        |             / CAST(any_value(n) AS DOUBLE) / 1000000.0, 6) AS mean_s
        |FROM r GROUP BY stage ORDER BY stage""".stripMargin,

    "q289_ipw_ate" ->
      """WITH u AS (
        |  SELECT user_id, count(*) AS activity,
        |         CAST(CASE WHEN sum(CASE WHEN event_type = 'click'
        |                                 THEN 1 ELSE 0 END)
        |                   > sum(CASE WHEN event_type = 'view'
        |                              THEN 1 ELSE 0 END)
        |              THEN 1 ELSE 0 END AS BIGINT) AS t,
        |         coalesce(sum(CASE WHEN event_type = 'purchase'
        |                 THEN CAST(round(value, 2) AS DECIMAL(18,2)) END),
        |             CAST(0 AS DECIMAL(18,2))) AS y
        |  FROM events GROUP BY user_id),
        |strat AS (
        |  SELECT t, y,
        |         ntile(5) OVER (ORDER BY activity, user_id) AS stratum
        |  FROM u),
        |rates AS (
        |  SELECT stratum,
        |         least(greatest(CAST(sum(t) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 0.05), 0.95) AS p
        |  FROM strat GROUP BY stratum),
        |w AS (
        |  SELECT t, y,
        |         CAST(round(CASE WHEN t = 1
        |               THEN CAST(y AS DOUBLE) / p ELSE 0.0 END, 6)
        |              AS DECIMAL(18,6)) AS wy1,
        |         CAST(round(CASE WHEN t = 1 THEN 1.0 / p ELSE 0.0 END, 6)
        |              AS DECIMAL(18,6)) AS w1,
        |         CAST(round(CASE WHEN t = 0
        |               THEN CAST(y AS DOUBLE) / (1.0 - p) ELSE 0.0 END, 6)
        |              AS DECIMAL(18,6)) AS wy0,
        |         CAST(round(CASE WHEN t = 0 THEN 1.0 / (1.0 - p)
        |               ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS w0
        |  FROM strat JOIN rates USING (stratum)),
        |m AS (
        |  SELECT count(*) AS n, CAST(sum(t) AS BIGINT) AS n_treated,
        |         sum(CASE WHEN t = 1 THEN y END) AS sy1,
        |         sum(CASE WHEN t = 0 THEN y END) AS sy0,
        |         CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n0,
        |         sum(wy1) AS swy1, sum(w1) AS sw1,
        |         sum(wy0) AS swy0, sum(w0) AS sw0
        |  FROM w)
        |SELECT n, n_treated,
        |       round(CAST(sy1 AS DOUBLE) / CAST(n_treated AS DOUBLE)
        |             - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6)
        |         AS ate_naive,
        |       round(CAST(swy1 AS DOUBLE) / CAST(sw1 AS DOUBLE)
        |             - CAST(swy0 AS DOUBLE) / CAST(sw0 AS DOUBLE), 6)
        |         AS ate_ipw
        |FROM m""".stripMargin,

    "q278_variant_extract" ->
      """WITH e AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
        |           AS k_bucket,
        |         CASE WHEN value IS NOT NULL
        |              THEN CAST(round(value, 2) AS DECIMAL(18,2)) END AS v
        |  FROM events)
        |SELECT k_bucket, count(*) AS n_events,
        |       CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_valued,
        |       round(CAST(sum(v) AS DOUBLE) /
        |         CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
        |              AS DOUBLE), 6) AS mean_value
        |FROM e GROUP BY k_bucket ORDER BY k_bucket""".stripMargin)
}
