package graft.queries

import graft.{Q, Tables}
import graft.ops.Checkpoints
import graft.stream.Events
import org.apache.spark.sql.DataFrame

/** Windowed event analytics as BATCH queries (SURVEY.md §2B
  * "Streaming" — oracle row: "✓ as batch SQL (time_bucket)"). These
  * call the exact same graft.stream.Events transforms the streaming
  * path uses; EventsStreamSpec proves streaming equivalence on
  * MemoryStream input, and the DuckDB oracles here pin the window
  * semantics themselves (epoch-aligned buckets, exclusive window end,
  * gap-based session merge).
  */
object EventQueries {

  val queries: Map[String, Q] = Map(
    // tumbling 1-day windows per event type.
    "q60_window_tumbling" -> ((s, dir) =>
      Events.tumbling(Tables.events(s, dir), "1 day")
        .orderBy("window_start", "event_type")),

    // sliding 2-day windows every 1 day: each event in 2 windows.
    "q61_window_sliding" -> ((s, dir) =>
      Events.sliding(Tables.events(s, dir), "2 days", "1 day")
        .orderBy("window_start")),

    // session windows, 1-hour inactivity gap, per user.
    "q62_session_window" -> ((s, dir) =>
      Events.sessions(Tables.events(s, dir), "1 hour")
        .orderBy("user_id", "session_start")),

    // stream-stream join transform in batch mode: clicks matched to
    // same-user purchases within 10 minutes AFTER the click (the
    // time-bound condition that keeps streaming state finite —
    // EventsStreamSpec proves the MemoryStream run emits the same
    // pairs). Timestamps as epoch micros for compare-dtype parity.
    "q63_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Events.clickToPurchase(Tables.events(s, dir),
          delay = "5 minutes", horizon = "10 minutes")
        .select(col("click_id"), col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          col("purchase_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"))
        .orderBy("click_id", "purchase_id")
    }),

    // CDC MERGE COMPACTION under the hash gate (VERDICT r7 lineage —
    // the last substantial pipeline path that was spec-only): three
    // TIME-PARTITIONED micro-batches of events merge sequentially into
    // a fresh snapshot via the EXACT foreachBatch body the streaming
    // mergeSink runs (Events.mergeBatch: in-batch latest-per-key, then
    // Ingest.upsert, then the crash-safe rename-aside swap). Because
    // the batches partition event time, the compacted snapshot must
    // equal latest-per-key over the WHOLE table — which is precisely
    // the DuckDB window oracle, so batch-split invariance is what the
    // hash match proves. Batch boundaries are fixed date literals valid
    // at every SF (the fixture spans 2024-01-01..01-30). Scale: each
    // merge is one join of (snapshot × micro-batch); at 100 TB the
    // snapshot side is bucketed on the key (Warehouse.writeBucketed)
    // making it Exchange-free, and the swap targets a partition.
    "q99_merge_snapshot" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val snap = graft.TempDirs.scratch("graft-merge-") + "/snapshot"
      val cut1 = lit("2024-01-11").cast("timestamp")
      val cut2 = lit("2024-01-21").cast("timestamp")
      Seq(
        ev.filter(col("ts") < cut1),
        ev.filter(col("ts") >= cut1 && col("ts") < cut2),
        ev.filter(col("ts") >= cut2)
      ).zipWithIndex.foreach { case (b, i) =>
        Events.mergeBatch(b, "user_id", "ts", snap, i.toLong)
      }
      s.read.parquet(snap)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"))
        .orderBy("user_id")
    }),

    // FUNNEL ANALYSIS: furthest ordered stage per user through
    // SLO BURN-RATE ALERT (the Google SRE multi-window rule — the
    // monitoring family's paging policy beside q214 CUSUM's drift
    // detection and q197's seasonal z-flags: page when the error
    // budget burns ≥ 14.4× in BOTH a fast (1 h) and a slow (6 h)
    // window — the fast window gives latency, the slow one kills
    // flapping): per-hour error counts, trailing-6-hour totals via
    // an HOUR-DOMAIN self-join (calendar-bounded ≈ 2.2k rows at
    // EVERY SF — scale-invariant; broadcast non-equi ⇒ BNLJ, the
    // q337 lesson applied at write time), and the alert as an
    // INTEGER-EXACT compare: with budget 1.5%, 14.4× budget = 21.6%,
    // so e·1000 > n·216 — no float boundary anywhere in the paging
    // decision. Rates ride along rounded for the humans.
    "q340_burn_rate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val hourly = Tables.events(s, dir)
        .groupBy(expr("unix_micros(ts) div 3600000000").as("h"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("e"))
      hourly.as("a").join(broadcast(hourly.as("b")),
          col("b.h") >= col("a.h") - 5 && col("b.h") <= col("a.h"))
        .groupBy(col("a.h").as("epoch_hour"))
        .agg(max(col("a.n")).as("n1"), max(col("a.e")).as("e1"),
          sum(col("b.n")).as("n6"), sum(col("b.e")).as("e6"))
        .select(col("epoch_hour"), col("n1"), col("e1"), col("n6"),
          col("e6"),
          round(col("e1").cast("double") / col("n1"), 6).as("rate_1h"),
          round(col("e6").cast("double") / col("n6"), 6).as("rate_6h"),
          when(col("e1") * 1000 > col("n1") * 216 &&
            col("e6") * 1000 > col("n6") * 216, 1L).otherwise(0L)
            .as("alert"))
        .orderBy("epoch_hour")
    }),

    // signup → view → click → purchase, where each stage must happen
    // STRICTLY AFTER the previous one (the classic product-analytics
    // funnel, e.g. Amplitude/Mixpanel semantics). Implemented as a
    // WINDOWED STATE MACHINE — four stacked running-min windows over
    // one (user_id, ts)-sorted pass: t_kr at a row is the earliest
    // stage-k time among rows up to it, and a stage-(k+1) event is
    // eligible iff t_kr < its ts (ties impossible at µs granularity),
    // so min(eligible ts) per user is exactly "first stage-k+1 event
    // after the stage-k time". The naive cascade of per-stage
    // min-aggs + joins re-computes stage k for every later stage —
    // a triangular ~10 filtered scans of the event log at 4 stages;
    // this form is ONE scan, ONE user_id shuffle, ONE sort (all four
    // Window nodes and the final groupBy share the partitioning —
    // PlanShapeSpec pins scan-count=1, join-count=0). Stage times
    // reported as epoch micros (q63 convention).
    "q112_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val staged = Tables.events(s, dir)
        .withColumn("t1r",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("e2",
          when(col("event_type") === "view" && col("t1r") < col("ts"), col("ts")))
        .withColumn("t2r", min(col("e2")).over(w))
        .withColumn("e3",
          when(col("event_type") === "click" && col("t2r") < col("ts"), col("ts")))
        .withColumn("t3r", min(col("e3")).over(w))
        .withColumn("e4",
          when(col("event_type") === "purchase" && col("t3r") < col("ts"), col("ts")))
      staged.groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t1"),
          min("e2").as("t2"), min("e3").as("t3"), min("e4").as("t4"))
        .select(col("user_id"),
          (when(col("t4").isNotNull, 4).when(col("t3").isNotNull, 3)
            .when(col("t2").isNotNull, 2).when(col("t1").isNotNull, 1)
            .otherwise(0)).as("stage"),
          unix_micros(col("t1")).as("signup_us"),
          unix_micros(col("t2")).as("view_us"),
          unix_micros(col("t3")).as("click_us"),
          unix_micros(col("t4")).as("purchase_us"))
        .orderBy("user_id")
    }),

    // COHORT RETENTION: users cohorted by the Monday-aligned week of
    // their first event; for each (cohort_week, week_offset) count the
    // distinct users active that week (the standard weekly-retention
    // triangle). Two aggregations, both keyed on user_id first — the
    // per-user first-event agg and the per-user-week distinct reuse
    // one shuffle; the final (cohort, offset) agg is over a result
    // bounded by users × weeks, tiny relative to the event log.
    "q113_retention" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      val cohort = ev.groupBy("user_id")
        .agg(date_trunc("week", min("ts")).as("cohort_wk"))
      val active = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      active.join(cohort, Seq("user_id"))
        .groupBy(
          date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("int")
            .as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // BATCH GAP SESSIONIZATION (gaps-and-islands): a session breaks
    // when ≥ 30 minutes pass between a user's consecutive events;
    // per-session ordinal, event count, duration, and value sum. This
    // is the WINDOW-FUNCTION form (lag → boundary flag → running sum
    // → groupBy), complementing q62 which runs the same semantics
    // through Spark's streaming session_window operator. One shuffle
    // on user_id feeds both windows and the final agg; no global
    // sort. Decimal-summed value for float-order insensitivity.
    "q114_gap_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val flagged = Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") >= 1800L,
            1).otherwise(0))
        .withColumn("sid", sum("new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          unix_micros(min("ts")).as("start_us"),
          unix_micros(max("ts")).as("end_us"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("user_id"), col("sid").as("session_seq"),
          col("n_events"), col("start_us"), col("end_us"),
          col("sum_value"))
        .orderBy("user_id", "session_seq")
    }),

    // ORDER ↔ LINE RECONCILIATION AUDIT (the books-balance check every
    // finance pipeline runs: does the order header's total equal the
    // sum of its lines' extended amounts?): per order, header
    // o_totalprice vs Σ extendedprice·(1−discount)·(1+tax), ALL in
    // exact DECIMAL (per-line quantize then order-invariant decimal
    // sum), bucketed into exact / within-1% / beyond, plus the worst
    // absolute discrepancy. The fixture generator does NOT enforce the
    // identity — which is the point: the audit REPORTS the
    // distribution instead of assuming it. And because a bucket that
    // never fires is a bucket never PROVEN to fire (the q309/q316
    // vacuous-branch postmortems), the audit runs its own CONTROL: the
    // RESTATED ledger (header := line total — the books after
    // correction) goes through the SAME kernel and must read 100%
    // n_exact, so the exact branch is live at every SF while the
    // header row keeps reporting the fixture's true non-
    // reconciliation. One orderkey shuffle; both ledgers ride one
    // scan via a 2-element explode (never a second pass).
    "q315_order_reconciliation" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lines = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).cast("decimal(18,4)")).as("line_total"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,4)").as("header"))
        .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("header"),
          coalesce(col("line_total"), lit(0).cast("decimal(18,4)")).as("lt"))
        .select(explode(array(
          struct(lit("header").as("source"), col("header").as("h"), col("lt")),
          struct(lit("restated").as("source"), col("lt").as("h"), col("lt"))))
          .as("e"))
        .select(col("e.source").as("source"), col("e.h").as("header"),
          col("e.lt").as("lt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("header") === col("lt"), 1L).otherwise(0L)).as("n_exact"),
          // within 1%: |h − lt|·100 ≤ h (decimal-exact boundary)
          sum(when(abs(col("header") - col("lt")) * 100 <= col("header"), 1L)
            .otherwise(0L)).as("n_within_1pct"),
          max(abs(col("header") - col("lt"))).as("mx"))
        .select(col("source"), col("n_orders"), col("n_exact"),
          col("n_within_1pct"),
          round(col("mx").cast("double"), 4).as("max_abs_diff"))
        .orderBy("source")
    }),

    // RAPID-REPEAT PURCHASE DETECTOR (the payments-ops double-charge
    // sweep): purchase pairs by the SAME user within 10 minutes — the
    // retry/double-submit signature — with an amount-proximity flag
    // (|Δv|·20 ≤ max(v): within 5%) REPORTED rather than filtered:
    // exact-value equality never fires on continuous amounts (the
    // first cut was vacuous at every SF — the q241/q242 trap again),
    // and the ops review wants the near-amount pairs ranked inside
    // the time-window hits, not silently pre-filtered. Per-user
    // bounded self-join (user equi-key carries it; the time band is a
    // residual), id_a < id_b canonicalization, exact integer-µs gaps.
    "q316_rapid_repeat_purchases" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val a = p.select(col("user_id"), col("value").as("v_a"),
        col("event_id").as("id_a"), col("us").as("us_a"))
      val b = p.select(col("user_id"), col("value").as("v_b"),
        col("event_id").as("id_b"), col("us").as("us_b"))
      a.join(b, Seq("user_id"))
        .filter(col("id_a") < col("id_b") &&
          abs(col("us_a") - col("us_b")) <= 600000000L)
        .select(col("user_id"), col("id_a"), col("id_b"),
          abs(col("us_a") - col("us_b")).as("gap_us"),
          round(col("v_a"), 4).as("v_a"), round(col("v_b"), 4).as("v_b"),
          (abs(col("v_a") - col("v_b")) * 20 <=
            greatest(col("v_a"), col("v_b"))).as("same_amount_5pct"))
        .orderBy("user_id", "id_a", "id_b")
    }),

    // ENTRY / EXIT / BOUNCE analysis (the web-analytics landing-page
    // report over q114's 30-minute gap sessions): per event type, how
    // many sessions START there (entries), END there (exits), and
    // start-and-end there alone (bounces — single-event sessions),
    // plus the bounce rate. First/last events picked by min/max over
    // (ts, event_id, type) structs — lexicographic on the total order,
    // never first()/last() (shuffle-order dependent). A type can have
    // exits but no entries (or vice versa) — full-outer + zero
    // coalesce keeps both margins honest; rate NULL when no entries.
    "q314_entry_exit_bounce" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") >= 1800L,
            1).otherwise(0))
        .withColumn("sid", sum("new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val per = sess.groupBy("user_id", "sid").agg(
        count(lit(1)).as("n"),
        min(struct(col("ts"), col("event_id"), col("event_type"))).as("f"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("l"))
      val entries = per.groupBy(col("f.event_type").as("event_type"))
        .agg(count(lit(1)).as("n_entries"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_bounces"))
      val exits = per.groupBy(col("l.event_type").as("event_type"))
        .agg(count(lit(1)).as("n_exits"))
      entries.join(exits, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_entries"), lit(0L)).as("n_entries"),
          coalesce(col("n_exits"), lit(0L)).as("n_exits"),
          coalesce(col("n_bounces"), lit(0L)).as("n_bounces"),
          when(coalesce(col("n_entries"), lit(0L)) > 0,
            round(coalesce(col("n_bounces"), lit(0L)).cast("double") /
              col("n_entries").cast("double"), 6)).as("bounce_rate"))
        .orderBy("event_type")
    }),

    // EVENT-TYPE TRANSITION MATRIX (first-order Markov): for each
    // consecutive pair of a user's events, count (src → dst)
    // transitions and the conditional probability p(dst | src). The
    // lead() window and the aggregation both fit one user_id shuffle;
    // the transition matrix is |types|² rows — driver-tiny at any
    // scale. p is an exact int/int division, so it is deterministic
    // and hash-comparable.
    "q115_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.events(s, dir)
        .withColumn("dst_type", lead("event_type", 1).over(w))
        .filter(col("dst_type").isNotNull)
        .select(col("event_type").as("src_type"), col("dst_type"))
      val counted = pairs.groupBy("src_type", "dst_type")
        .agg(count(lit(1)).as("n"))
      val totals = Window.partitionBy("src_type")
      counted
        .withColumn("p", col("n").cast("double") /
          sum("n").over(totals).cast("double"))
        .orderBy("src_type", "dst_type")
    }),

    // LENGTH-3 SEQUENTIAL PATTERNS (GSP; Agrawal & Srikant 1995,
    // "Mining Sequential Patterns" — r19): support census of every
    // type triple ⟨a, b, c⟩ over per-user event streams — a user
    // supports the pattern iff events of types a, b, c occur at
    // strictly increasing times (gaps allowed). The length-3 step
    // q282's strictly-later PAIRS don't reach, and a genuinely
    // different kernel: existence is decided by the GREEDY-EARLIEST
    // embedding (t1 = first a; t2 = first b after t1; t3 = any c
    // after t2), which is exact — taking the earliest feasible
    // prefix only ever enlarges the feasible suffix, so greedy finds
    // an embedding iff one exists. Ties at equal timestamps resolve
    // by the STRICT > on time alone (a b c at one instant supports
    // nothing — the conservative reading, stated). Census runs over
    // each user's FIRST 8 events (one row_number window) — the
    // onboarding-path framing, and the lesson of this query's first
    // cut: over FULL streams (~40 uniform events/user) EVERY user
    // supported EVERY triple at every SF (support ≡ user count, 125
    // identical rows — the q367 vacuity shape, caught by inspection);
    // the 8-event prefix makes orderings scarce. Three joins, each
    // keyed on user_id and output-bounded by |types|^k per user; the
    // candidate space is |types|³ = 125 — output-tiny at any scale.
    // Non-vacuity measured on the prefix form: supports span 1–8
    // with 3 triples entirely absent at sf0.001, and 17–42 (23
    // distinct values, all 125 present) at sf0.01.
    "q385_gsp3" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val wrn = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Checkpoints(Tables.events(s, dir)
        .withColumn("rn", row_number().over(wrn))
        .filter(col("rn") <= 8)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t")))
      val firstA = ev.groupBy(col("user_id"), col("event_type").as("a"))
        .agg(min(col("t")).as("t1"))
      val firstAB = firstA
        .join(ev.select(col("user_id"), col("event_type").as("b"),
          col("t").as("tb")), Seq("user_id"))
        .filter(col("tb") > col("t1"))
        .groupBy(col("user_id"), col("a"), col("b"))
        .agg(min(col("tb")).as("t2"))
      val supp = firstAB
        .join(ev.select(col("user_id"), col("event_type").as("c"),
          col("t").as("tc")), Seq("user_id"))
        .filter(col("tc") > col("t2"))
        .select(col("a"), col("b"), col("c"), col("user_id"))
        .distinct()
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("support"))
      supp.orderBy("a", "b", "c")
    }),

    // TWO-PROPORTION z-TEST (the A/B conversion comparison — r19):
    // users split into two arms by the house md5 coin ('ab:' salt),
    // conversion = ≥ 14 purchase events (the corpus median — EVERY
    // user has ≥ 1 purchase at sf0.001, so the naive predicate made
    // p̂ = 1 and the pooled variance 0: ANSI division-by-zero, caught
    // by the gate; the median cut keeps 0 < p̂ < 1 at all three SFs —
    // inspected: 3/6 vs 5/9 converts at sf0.001, 363/753 vs 334/747
    // at sf0.1); z = (p1 − p2) /
    // sqrt(p̂(1−p̂)(1/n1 + 1/n2)) with the pooled p̂ — the
    // first-contact significance test every experimentation pipeline
    // runs, beside the registry's rank tests (q257/q352 compare
    // DISTRIBUTIONS; this compares binomial rates). Counts are exact
    // BIGINTs; z is one fixed IEEE tree over them (sqrt is
    // correctly-rounded per IEEE 754, both engines), rounded once at
    // 6dp; the verdict compares the ROUNDED z to ±1.96 so both
    // engines judge the same number. Honest reading: the md5 split
    // is an A/A test BY CONSTRUCTION — z = −0.211289 (sf0.001) /
    // −0.314571 (sf0.01), verdict 'retain' everywhere; the reject
    // branch is fixture-absent by design (a correct test MUST fail
    // to reject its own null split) and stated rather than claimed.
    "q386_two_proportion" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 14, 1L).otherwise(0L).as("converted"))
        .withColumn("arm",
          conv(substring(md5(concat(lit("ab:"),
            col("user_id").cast("string"))), 1, 4), 16, 10)
            .cast("long") % 2)
      val agg = users.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
      val a0 = agg.filter(col("arm") === 0)
        .select(col("n").as("n1"), col("x").as("x1"))
      val a1 = agg.filter(col("arm") === 1)
        .select(col("n").as("n2"), col("x").as("x2"))
      val p1 = col("x1").cast("double") / col("n1").cast("double")
      val p2 = col("x2").cast("double") / col("n2").cast("double")
      val pp = (col("x1") + col("x2")).cast("double") /
        (col("n1") + col("n2")).cast("double")
      val z = (p1 - p2) /
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n1").cast("double") +
            lit(1.0) / col("n2").cast("double")))
      a0.crossJoin(a1)
        .select(col("n1"), col("x1"), col("n2"), col("x2"),
          round(p1, 6).as("p1"), round(p2, 6).as("p2"),
          round(z, 6).as("z"))
        .withColumn("verdict",
          when(col("z") > 1.96 || col("z") < -1.96, lit("reject"))
            .otherwise(lit("retain")))
    }),

    // INTER-ARRIVAL DISPERSION — the point-process burstiness test
    // (index of dispersion / Fano factor; Cox & Lewis 1966 — r19):
    // per event type, the variance-to-mean ratio of the per-user
    // inter-arrival gaps. D = 1 is the Poisson null (memoryless
    // arrivals); D > 1 is bursty clustering, D < 1 regular pacing —
    // the first-order diagnostic behind every retry-storm and
    // session-burst alert, and a distribution-SHAPE test the
    // registry's rate/changepoint/CUSUM rows don't cover. Gaps in
    // whole MINUTES (one truncating div 60 per gap — deterministic,
    // and it keeps Σgap² inside 2^53 at every gated SF; past ~1e9
    // gaps/type shard the moments into DECIMAL partials, noted for
    // the 100 TB reader). Output: exact BIGINT moments (n, Σg, Σg²)
    // plus mean and D as fixed IEEE expressions over them, one 6dp
    // rounding each. Non-vacuity inspected, honest reading: EVERY
    // type is massively overdispersed (D = 2559–3563 at sf0.001,
    // 2787–3163 at sf0.01 — per-user-per-type gaps mix day-scale
    // idle stretches with minute-scale bursts, so D ≫ 1 everywhere);
    // what varies and what the gate pins is the BETWEEN-TYPE spread —
    // the D < 1 regular-pacing regime is fixture-absent, stated
    // rather than claimed.
    "q384_interarrival" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val gaps = Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .select(col("event_type"),
          (unix_micros(col("ts")) - unix_micros(col("prev_ts")))
            .as("d"))
        .select(col("event_type"), expr("d div 60000000L").as("g"))
      gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("g")).as("sum_g"),
          sum(col("g") * col("g")).as("sum_g2"))
        .select(col("event_type"), col("n_gaps"), col("sum_g"),
          col("sum_g2"),
          round(col("sum_g").cast("double") /
            col("n_gaps").cast("double"), 6).as("mean_gap_min"),
          round((col("sum_g2").cast("double") /
            col("n_gaps").cast("double") -
            (col("sum_g").cast("double") / col("n_gaps").cast("double")) *
              (col("sum_g").cast("double") / col("n_gaps").cast("double"))) /
            (col("sum_g").cast("double") / col("n_gaps").cast("double")),
            6).as("dispersion"))
        .orderBy("event_type")
    }),

    // STATIONARY DISTRIBUTION of the event-type Markov chain (the
    // steady state q115's one-step matrix converges to — r19): three
    // power-iteration steps π ← πP from uniform, the long-run
    // behavioral mix a session simulator samples from. Exact-integer
    // (pageRank fixed-point discipline): π in 1e-12 units, each term
    // (π(src)·n(src→dst)) div tot(src) — exact Long product and sum,
    // ONE truncating division per (src, dst) cell; floor leak < 1
    // unit per cell per step. PRECONDITION (holds on the fixture,
    // inspected: every event type occurs as a transition SOURCE at
    // every SF): no absorbing-but-sourceless type, else its mass
    // exits the chain un-renormalized. The matrix is |types|² —
    // broadcast-tiny at ANY scale; the only corpus-sized work is
    // q115's lead() pair build (one user-partition window), and the
    // iterations run on the aggregated matrix alone. Non-vacuity:
    // π_3 ≠ π_0 (uniform) AND ≠ the empirical source marginal at
    // both gated SFs (sf0.001: click 0.2112 vs marginal 0.2102 vs
    // uniform 0.2000; view 0.1907 vs 0.1888) — the near-uniform
    // fixture chain moves little, but the iteration provably moves
    // and the exact-integer gate pins all 12 decimal places, not the
    // rounded display. Integer envelope: π·n ≤ 1e12·n — past n ≈
    // 9e6 transitions per cell, pre-normalize n/tot to fixed point
    // before the product (noted for the 100 TB reader).
    "q382_stationary" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val counted = Checkpoints(Tables.events(s, dir)
        .withColumn("dst_type", lead("event_type", 1).over(w))
        .filter(col("dst_type").isNotNull)
        .select(col("event_type").as("src_type"), col("dst_type"))
        .groupBy("src_type", "dst_type")
        .agg(count(lit(1)).as("n")))
      val tot = counted.groupBy(col("src_type"))
        .agg(sum(col("n")).as("tot"))
      val m = counted.join(tot, Seq("src_type"))
      val nTypes = counted.select(col("src_type")).distinct().count()
      var pi = counted.select(col("src_type").as("event_type")).distinct()
        .select(col("event_type"),
          lit(1000000000000L / nTypes).as("pi_fp"))
      for (_ <- 1 to 3) {
        pi = m.join(pi, col("src_type") === col("event_type"))
          .select(col("dst_type"),
            expr("(pi_fp * n) div tot").as("term"))
          .groupBy(col("dst_type"))
          .agg(sum(col("term")).as("pi_fp"))
          .select(col("dst_type").as("event_type"), col("pi_fp"))
      }
      pi.orderBy("event_type")
    }),

    // TIME-SERIES GAP FILL (LOCF — last observation carried forward):
    // resample each user's irregular observations onto a regular
    // hourly grid, carrying the latest value at-or-before each grid
    // point — the regularization pass feature pipelines run before
    // windowed models. Composition, not new machinery: per-(user,
    // second) max collapses as-of ties deterministically, the grid
    // explodes from per-user [floor(min), floor(max)] hour bounds
    // (sequence — row-local), and ops.AsOf's union + running-last
    // backward join fills values on ONE user_id shuffle (never a
    // per-key cross product). Grid points before a user's first
    // observation stay honestly null. DuckDB's native ASOF LEFT JOIN
    // is the independent oracle (q75 precedent).
    "q156_gap_fill" -> ((s, dir) => {
      import graft.ops.AsOf
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("long").as("es"), col("value"))
      val obs = ev.groupBy("user_id", "es").agg(max("value").as("value"))
      val grid = ev.groupBy("user_id")
        .agg((floor(min(col("es")) / 3600) * 3600).cast("long").as("t0"),
          (floor(max(col("es")) / 3600) * 3600).cast("long").as("t1"))
        .select(col("user_id"),
          explode(sequence(col("t0"), col("t1"), lit(3600L))).as("es"))
      AsOf.asofBackward(grid, obs, "user_id", "es", Seq("value"))
        .select(col("user_id"), col("es").as("grid_s"),
          round(col("asof_value"), 4).as("filled_value"))
        .orderBy("user_id", "grid_s")
    }),

    // CHI-SQUARE ASSOCIATION TEST CELLS (lang × source contingency):
    // observed vs expected-under-independence counts and the per-cell
    // χ² contribution — the drift/association scan a corpus pipeline
    // runs to catch source-language coupling shifts. Margins are two
    // tiny aggregates broadcast into a full cross of cells (zero-
    // observed cells INCLUDED — dropping them understates χ²), the
    // observed table left-joins in. Expected and contrib are exact
    // integer-derived double arithmetic ((o−e)·(o−e)/e — no pow(),
    // whose libm rounding need not match across engines).
    "q157_chi_square" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = Tables.documents(s, dir)
      val obs = d.groupBy("lang", "source").agg(count(lit(1)).as("obs"))
      val rowm = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val colm = d.groupBy("source").agg(count(lit(1)).as("n_source"))
      val tot = d.agg(count(lit(1)).as("n"))
      rowm.crossJoin(broadcast(colm)).crossJoin(broadcast(tot))
        .join(obs, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("obs"), lit(0L)))
        .withColumn("e",
          (col("n_lang") * col("n_source")).cast("double") / col("n"))
        .withColumn("contrib",
          (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
        .select(col("lang"), col("source"), col("o").as("observed"),
          round(col("e"), 4).as("expected"),
          round(col("contrib"), 6).as("contrib"))
        .orderBy("lang", "source")
    }),

    // MUTUAL INFORMATION between lang and source (q157's chi-square
    // companion — the information-theoretic association measure, the
    // feature-selection primitive): I = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))),
    // reported as per-lang partial sums. Same domain-bounded cell
    // cross as q157. Parity discipline: the log's argument is built
    // from EXACT integer products (c_xy·n and c_x·c_y — no
    // intermediate quotients whose rounding could drift), ONE double
    // division feeds ln (libm parity per q132), and each cell term is
    // quantized to DECIMAL(24,10) so the per-lang sums are
    // order-invariant. Zero cells contribute 0 by the p·ln p
    // convention and are simply absent from the groupBy.
    "q168_mutual_info" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = Tables.documents(s, dir)
      val obs = d.groupBy("lang", "source").agg(count(lit(1)).as("c_xy"))
      val rowm = d.groupBy("lang").agg(count(lit(1)).as("c_x"))
      val colm = d.groupBy("source").agg(count(lit(1)).as("c_y"))
      val tot = d.agg(count(lit(1)).as("n"))
      obs.join(broadcast(rowm), Seq("lang"))
        .join(broadcast(colm), Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("term",
          (col("c_xy").cast("double") / col("n").cast("double")) *
            log((col("c_xy") * col("n")).cast("double") /
              (col("c_x") * col("c_y")).cast("double")))
        .withColumn("tq", round(col("term"), 10).cast("decimal(24,10)"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("tq")).cast("double").as("mi_part"))
        .orderBy("lang")
    }),

    // SESSION PATH MINING (the Sankey/flow feed): top 20 ordered
    // event-type paths over gap-sessionized activity (1-hour
    // inactivity splits, q114's rule). The path string is built from
    // a sort_array over (ts, event_id, type) structs — collect_list
    // order is nondeterministic under parallel merge, the sort makes
    // it a pure function of the set — then one vocabulary-sized path
    // count with TakeOrderedAndProject for the top slice. One user_id
    // shuffle for sessionization + collection; path strings are
    // session-length-bounded, never corpus-length.
    "q180_session_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = Tables.events(s, dir)
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("gap_us").isNull || col("gap_us") >= 3600000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(array_join(expr(
          "transform(sort_array(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
          ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("path"))
        .limit(20)
    }),

    // RFM SEGMENTATION (recency / frequency / monetary quintiles —
    // the classic customer-value composite): per user over purchases,
    // days-since-last vs the corpus reference date, purchase count,
    // decimal-exact spend; each dimension scored 1-5 by DETERMINISTIC
    // integer rank bucketing (row_number under a total order, then
    // 5 - ((rank-1)*5) div n — ntile's tie placement is
    // order-dependent and never enters). The three windows run over
    // the USER-sized aggregate, not the event log; the reference date
    // is a one-row broadcast. Everything after the groupBy is integer
    // arithmetic, so both engines replay it exactly.
    "q179_rfm_segments" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
      val ref = p.agg(max(to_date(col("ts"))).as("ref_date"))
      val base = p.groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("f"),
          sum(col("value").cast("decimal(18,2)")).as("m"))
        .crossJoin(broadcast(ref))
        .select(col("user_id"),
          datediff(col("ref_date"), col("last_day")).as("r_days"),
          col("f"), col("m"))
      val n = base.agg(count(lit(1)).as("n_users"))
      // Each score ranks the USER-GRAIN frame — a corpus-scaling
      // cardinality, so the original row_number() OVER (ORDER BY ...)
      // funneled all users through ONE WindowExec partition three
      // times (the q289/q317 class, caught by the r14 global-window
      // lint). rankedByRange's rn IS row_number under the same total
      // order; desc keys ride as negated sort columns (rankedByRange
      // sorts ascending). Same ranks ⇒ same scores ⇒ same hash.
      def scoreBy(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
                  out: String): org.apache.spark.sql.DataFrame =
        graft.ops.Sampling.rankedByRange(df, cols, 32)
          .crossJoin(broadcast(n))
          .withColumn(out, lit(5) - expr("((rn - 1) * 5) div n_users"))
          .drop("rn", "n_users")
      val scored = scoreBy(scoreBy(scoreBy(
          base.withColumn("__negf", -col("f"))
            .withColumn("__negm", -col("m")),
          Seq("r_days", "user_id"), "r_score"),
          Seq("__negf", "user_id"), "f_score"),
          Seq("__negm", "user_id"), "m_score")
        .drop("__negf", "__negm")
      scored.select(col("user_id"), col("r_days"), col("f"),
          col("m").cast("double").as("m"),
          col("r_score").cast("int").as("r_score"),
          col("f_score").cast("int").as("f_score"),
          col("m_score").cast("int").as("m_score"),
          concat(lit("R"), col("r_score"), lit("F"), col("f_score"),
            lit("M"), col("m_score")).as("segment"))
        .orderBy("user_id")
    }),

    // PER-KEY LINEAR TREND (grouped least squares — the metric-drift
    // slope every monitoring pipeline fits): per user over purchases,
    // y = value against x = days-since-epoch-start, closed form from
    // ONE aggregation of the four moments. q169 discipline: x is an
    // exact integer, y quantizes to DECIMAL(18,4), Σy/Σxy accumulate
    // as exact decimals (int×decimal products), Σx/Σx² as longs, and
    // slope/intercept are one fixed IEEE sequence on the cast sums.
    // Degenerate keys (n < 2 or a single distinct x) drop — slope
    // undefined.
    "q175_trend_slope" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("x"),
          round(col("value"), 4).cast("decimal(18,4)").as("y"))
      val m = p.groupBy(col("user_id")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val slope = (col("n").cast("double") * col("sxy") -
        col("sx").cast("double") * col("sy")) / den
      m.filter(col("n") >= 2 &&
          col("n") * col("sxx") - col("sx") * col("sx") =!= 0)
        .select(col("user_id"), col("n"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx").cast("double")) /
            col("n").cast("double"), 6).as("intercept"))
        .orderBy("user_id")
    }),

    // TWO-SAMPLE KOLMOGOROV-SMIRNOV per event type (q169's
    // distribution-shape companion): D = max |F_a - F_b| over the
    // pooled sample, arms from the same md5 coin. The CDFs are
    // RANGE-frame running counts (ties enter together — a ROWS frame
    // would evaluate mid-tie and overstate D), shared on ONE
    // event_type shuffle; counts are integers, each F is one
    // division, D one max of absolute differences. Engine-invariant
    // because the max over finitely many exactly-computed doubles
    // has no accumulation order. Scale seam: the per-type CDF needs a
    // per-type total order, so window parallelism is |types|; with
    // billions of rows per type the two-phase range-partitioned
    // prefix sum (Profile.runningTotalByRange, q160) applied per type
    // replaces the window — same numbers, partitions-wide parallelism.
    "q176_ks_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("arm",
          when(substring(md5(concat(col("user_id").cast("string"),
            lit(":13"))), 1, 2) < "80", 1).otherwise(0))
      val counts = ev.groupBy(col("event_type")).agg(
        sum(col("arm")).as("n_a"),
        sum(lit(1) - col("arm")).as("n_b"))
      val w = Window.partitionBy("event_type").orderBy("value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("ca", sum(col("arm")).over(w))
        .withColumn("cb", sum(lit(1) - col("arm")).over(w))
        .join(broadcast(counts), Seq("event_type"))
        // a type whose rows all landed in one arm has no two-sample
        // comparison — drop it rather than divide by zero
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .groupBy(col("event_type"), col("n_a"), col("n_b"))
        .agg(round(max(abs(
          col("ca").cast("double") / col("n_a").cast("double") -
          col("cb").cast("double") / col("n_b").cast("double"))), 6)
          .as("ks_d"))
        .orderBy("event_type")
    }),

    // POPULATION STABILITY INDEX per event type (the drift monitor
    // between scoring periods): value-bucket shares of the first half
    // of January vs the second, PSI = Σ (p−q)·ln(p/q) over buckets
    // populated in BOTH periods (the standard convention; one-sided
    // buckets are reported via the n_dropped count rather than an
    // epsilon fudge). q168 discipline: integer products inside ln,
    // two share divisions, DECIMAL(24,10)-quantized terms summed
    // order-invariantly.
    "q177_psi" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("bucket", floor(col("value") / 10).cast("long"))
        .withColumn("period",
          when(to_date(col("ts")) < lit("2024-01-16").cast("date"), 1)
            .otherwise(2))
      val cells = ev.groupBy(col("event_type"), col("bucket")).agg(
        sum(when(col("period") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("period") === 2, 1L).otherwise(0L)).as("c2"))
      val totals = ev.groupBy(col("event_type")).agg(
        sum(when(col("period") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("period") === 2, 1L).otherwise(0L)).as("n2"))
      cells.join(broadcast(totals), Seq("event_type"))
        .withColumn("term",
          when(col("c1") > 0 && col("c2") > 0,
            round((col("c1").cast("double") / col("n1").cast("double") -
              col("c2").cast("double") / col("n2").cast("double")) *
              log((col("c1") * col("n2")).cast("double") /
                (col("c2") * col("n1")).cast("double")), 10)
              .cast("decimal(24,10)")))
        .groupBy(col("event_type"))
        .agg(
          count(col("term")).as("n_buckets"),
          (count(lit(1)) - count(col("term"))).as("n_dropped"),
          sum(col("term")).cast("double").as("psi"))
        .orderBy("event_type")
    }),

    // OHLC BARS (Events.ohlcBars): daily open/high/low/close/volume
    // per event type — time-series downsampling with DETERMINISTIC
    // open/close (min_by/max_by on the (ts, event_id) total order;
    // `first`/`last` would be arrival-order-dependent and unmergeable).
    // Streaming equivalence pinned in EventsStreamSpec; the oracle
    // replays open/close via row_number over the same total order —
    // an independent formulation.
    "q174_ohlc_bars" -> ((s, dir) =>
      Events.ohlcBars(Tables.events(s, dir), "1 day")
        .orderBy("window_start", "event_type")),

    // DAILY COVERAGE / GAP AUDIT per user (the data-completeness
    // monitor an ingest pipeline runs per partition key): active-day
    // count, calendar span, missing-day count, and the LONGEST gap in
    // consecutive active days. One distinct day-grid pass, then the
    // lag-window gap and the aggregate share a single user_id shuffle.
    // All-integer arithmetic (datediff), so nothing can drift between
    // engines; dates surface as yyyy-MM-dd strings for dtype parity.
    // At 100 TB the day grid is |keys|·|days| — already the reduced
    // table; the raw events collapse at the scan via the map-side
    // partial distinct.
    "q173_coverage_audit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val days = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days
        .withColumn("gap", datediff(col("day"), lag(col("day"), 1).over(w)) - 1)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_active_days"),
          date_format(min(col("day")), "yyyy-MM-dd").as("first_day"),
          date_format(max(col("day")), "yyyy-MM-dd").as("last_day"),
          (datediff(max(col("day")), min(col("day"))) + 1).as("span_days"),
          (datediff(max(col("day")), min(col("day"))) + 1 - count(lit(1)))
            .as("n_missing"),
          max(coalesce(col("gap"), lit(0))).as("longest_gap"))
        .orderBy("user_id")
    }),

    // WELCH TWO-SAMPLE T-TEST per event type (the A/B experiment
    // readout): users assigned to arms by the content-addressed md5
    // coin (q76 discipline — reproducible, partition-invariant), then
    // t and the Welch–Satterthwaite df from per-arm moments. Parity
    // discipline: values quantize to DECIMAL(18,4) at the scan, Σv
    // and Σv² accumulate as EXACT decimals (v·v is an exact scale-8
    // decimal product — order-invariant under partial aggregation),
    // and the mean/variance/t/df recombination is ONE fixed IEEE
    // sequence on the cast-to-double sums, identical in any engine.
    // var uses the sum-of-squares identity on exact sums, so the
    // usual catastrophic-cancellation objection to that identity does
    // not apply (nothing was rounded before the subtraction).
    "q169_welch_ttest" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("arm",
          when(substring(md5(concat(col("user_id").cast("string"),
            lit(":13"))), 1, 2) < "80", "a").otherwise("b"))
        .withColumn("v", round(col("value"), 4).cast("decimal(18,4)"))
      val st = ev.groupBy(col("event_type"), col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
          sum(col("v") * col("v")).as("sxx"))
      def side(a: String) = st.filter(col("arm") === a)
        .select(col("event_type"), col("n").as(s"n_$a"),
          col("sx").cast("double").as(s"sx_$a"),
          col("sxx").cast("double").as(s"sxx_$a"))
      def m(a: String) = col(s"sx_$a") / col(s"n_$a")
      def s2(a: String) =
        (col(s"sxx_$a") - col(s"sx_$a") * col(s"sx_$a") / col(s"n_$a")) /
          (col(s"n_$a") - 1)
      val se2 = s2("a") / col("n_a") + s2("b") / col("n_b")
      side("a").join(side("b"), Seq("event_type"))
        .filter(col("n_a") >= 2 && col("n_b") >= 2)
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(m("a"), 4).as("mean_a"), round(m("b"), 4).as("mean_b"),
          round((m("a") - m("b")) / sqrt(se2), 6).as("t_stat"),
          round(se2 * se2 /
            ((s2("a") / col("n_a")) * (s2("a") / col("n_a")) / (col("n_a") - 1) +
             (s2("b") / col("n_b")) * (s2("b") / col("n_b")) / (col("n_b") - 1)),
            4).as("df"))
        .orderBy("event_type")
    }),

    // ROBUST OUTLIER DETECTION (median + MAD, the Hampel/robust-z
    // rule): per event_type, flag events with |value − median| >
    // 3 · 1.4826 · MAD — the metric-anomaly gate that, unlike
    // mean/stddev z-scores, outliers cannot poison (50% breakdown
    // point vs 0%). Exact two-level medians take two grouped
    // percentile passes plus the flag scan — inherent to exact MAD;
    // the one-pass 100 TB variant swaps percentile → approx_percentile
    // (q36's path) with the same downstream shape. Median and MAD are
    // quantized to 4dp (q29's proven cross-engine percentile parity
    // envelope) BEFORE the z computation, so the boundary comparison
    // is identical IEEE arithmetic in both engines; per-type rows
    // broadcast back. z surfaces rounded; the filter uses the
    // unrounded-but-deterministic value in both engines.
    "q149_robust_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      val med = ev.groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
      val mad = ev.join(broadcast(med), Seq("event_type"))
        .groupBy("event_type", "med")
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
      ev.join(broadcast(mad), Seq("event_type"))
        .filter(col("mad") > 0)
        .withColumn("z",
          abs(col("value") - col("med")) / (lit(1.4826) * col("mad")))
        .filter(col("z") > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 4).as("z"))
        .orderBy("event_id")
    }),

    // FIRST-TOUCH ATTRIBUTION: sessionize (q114's 1800 s gap rule and
    // machinery — lag/flag/running-sum on ONE user_id shuffle), take
    // each session's FIRST event type via min(struct(ts, event_id,
    // type)) — no second window pass — and attribute the session's
    // purchase value to it. The session aggregate and the window share
    // the same user_id partitioning; the final per-type rollup is
    // |types| rows. Purchase sums accumulate as decimal(18,2) —
    // order-invariant exact — and surface as double (q114 precedent).
    "q152_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val flagged = Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") >= 1800L,
            1).otherwise(0))
        .withColumn("sid", sum("new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sessions = flagged.groupBy("user_id", "sid")
        .agg(
          min(struct(col("ts"), col("event_id"), col("event_type")))
            .getField("event_type").as("first_touch"),
          sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).as("pv"))
      sessions.groupBy("first_touch")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("pv")).cast("double").as("attributed_value"))
        .orderBy("first_touch")
    }),

    // LINEAR MULTI-TOUCH ATTRIBUTION (q152's other half): each
    // purchase's value splits EQUALLY across the session's touchpoints
    // strictly before it; a purchase with no priors credits itself
    // (direct conversion). Same single user_id shuffle for
    // sessionization + ordinal; the credit join fans out per purchase ×
    // prior-touches — bounded by session length (inherent to linear
    // attribution, not a corpus-scaling axis). Per-credit amounts
    // quantize to decimal(18,6) (double division first — identical
    // IEEE; then the same HALF_UP cast both engines, q114 precedent)
    // so the rollup sum is order-invariant exact.
    "q159_linear_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val flagged = Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") >= 1800L,
            1).otherwise(0))
        .withColumn("sid", sum("new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ordered = flagged.withColumn("ord", row_number().over(
        Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")))
      val purchases = ordered.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sid"), col("ord").as("p_ord"),
          (col("ord") - 1).as("n_prior"), col("value").as("p_value"))
      val touches = ordered
        .select(col("user_id"), col("sid"), col("ord"), col("event_type"))
      purchases.join(touches, Seq("user_id", "sid"))
        .filter(col("ord") < col("p_ord") ||
          (col("n_prior") === 0 && col("ord") === col("p_ord")))
        .withColumn("credit",
          (col("p_value") / greatest(col("n_prior"), lit(1)))
            .cast("decimal(18,6)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit")).cast("double").as("credited_value"))
        .orderBy("event_type")
    }),

    // MERGEABLE SKETCH ROLLUP (ops.Sketch): per-(event_type, day) HLL
    // sketches of user_id — the persisted pre-aggregation shape —
    // union-merged up to event_type and estimated. Distinct counts are
    // the one aggregate that does NOT roll up from plain partials;
    // sketches restore additivity at bounded error. Rows-only by
    // contract (DataSketches register layout has no DuckDB replay);
    // SketchSpec pins the two laws that matter: lossless merge
    // (windowed-then-unioned ≡ single-pass, exactly) and bounded error
    // vs exact distinct. Deterministic, so stable under the driver's
    // non-empty check.
    "q127_sketch_rollup" -> ((s, dir) => {
      import graft.ops.Sketch
      import org.apache.spark.sql.functions._
      val daily = Sketch.buildSketches(
        Tables.events(s, dir).withColumn("day", to_date(col("ts"))),
        "user_id", lgK = 12, col("event_type"), col("day"))
      Sketch.rollupSketches(daily, col("event_type"))
        .select(col("event_type"),
          Sketch.estimate(col("hll")).as("est_users"))
        .orderBy("event_type")
    }),

    // PERSISTED SKETCH ROLLUP (VERDICT r10 #4): q127's pattern in its
    // actual deployment shape — the per-(event_type, day) sketch rows
    // written as a DAY-PARTITIONED table (each ingest window appends
    // its own partition), then a FRESH plan reads the table back,
    // range-filters the days it wants (STATIC partition pruning — only
    // those day directories are listed), union-merges and estimates.
    // The raw events are never rescanned: an arbitrary-range distinct
    // count costs |days|×|types| sketch rows, the whole point of the
    // rollup-table pattern at 100 TB. Rows-only by contract (same
    // DataSketches layout as q127); SketchSpec pins the round trip —
    // persisted-then-unioned ≡ single-pass over the same range,
    // exactly — and PlanShapeSpec pins the pruned scan.
    "q134_sketch_rollup_persisted" -> ((s, dir) => {
      import graft.ops.Sketch
      import org.apache.spark.sql.functions._
      val path = sketchTablePath(s, dir)
      Sketch.rollupSketches(
          s.read.parquet(path)
            .filter(col("day") < lit("2024-01-16").cast("date")),
          col("event_type"))
        .select(col("event_type"),
          Sketch.estimate(col("hll")).as("est_users"))
        .orderBy("event_type")
    }),

    // ROLLING DISTINCT FROM DAILY SKETCHES (Sketch.rollingUnion):
    // trailing-7-day distinct users per event type — the rolling
    // MAU/WAU shape. Exact rolling distinct is the canonical
    // 100 TB-killer: distinct does not roll up, so the naive form
    // rescans 7 days of raw events PER output day (or self-joins the
    // corpus). Here raw events are scanned ONCE into per-(type, day)
    // sketches — the same groupBy partial-agg shape as q127, shuffle
    // carries one 4 KB sketch per group — and the 7-day union runs as
    // a RANGE-frame window over the tiny sketch table (|days|×|types|
    // rows), unioning 7 fixed-size sketches per output row. The frame
    // is keyed on epoch days so calendar gaps stay gaps (a ROWS frame
    // would silently widen the window). Rows-only by contract
    // (DataSketches layout); SketchSpec pins the law that each rolling
    // estimate EQUALS the single-pass sketch over that window's raw
    // events, and tracks exact distinct within the lgK envelope.
    "q138_sliding_distinct" -> ((s, dir) => {
      import graft.ops.Sketch
      import org.apache.spark.sql.functions._
      val daily = Sketch.buildSketches(
        Tables.events(s, dir).withColumn("day", to_date(col("ts"))),
        "user_id", lgK = 12, col("event_type"), col("day"))
      daily
        .withColumn("day_idx",
          datediff(col("day"), lit("1970-01-01").cast("date")))
        .withColumn("hll7", Sketch.rollingUnion(col("hll"),
          Seq(col("event_type")), col("day_idx"), windows = 7))
        .select(col("event_type"), col("day"),
          Sketch.estimate(col("hll7")).as("est_users_7d"))
        .orderBy("event_type", "day")
    }),

    // PERSISTED TOP-K SKETCH ROLLUP (q134's discipline applied to
    // HEAVY HITTERS): per-day approx_top_k_accumulate sketches written
    // day-partitioned, then a fresh plan range-filters the days
    // (static partition pruning), approx_top_k_combine-merges and
    // estimates — "top items over an arbitrary date range" without
    // rescanning raw events, the second aggregate family (after
    // distinct counts) that does NOT roll up from plain partials.
    // The fixture's 6 event types sit far under the 64-slot capacity,
    // so the estimate is EXACT (q38's argument) and the query runs
    // under the full hash gate against exact DuckDB counts — the
    // sketch lifecycle must be invisible in the answer at
    // under-capacity cardinalities.
    "q143_topk_sketch_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val path = topkSketchTablePath(s, dir)
      s.read.parquet(path)
        .filter(col("day") < lit("2024-01-16").cast("date"))
        .agg(expr("approx_top_k_combine(sk, 64)").as("csk"))
        .select(explode(expr("approx_top_k_estimate(csk, 6)")).as("e"))
        .select(col("e.item").as("event_type"),
          col("e.count").as("n_events"))
        .orderBy("event_type")
    }),

    // PERSISTED QUANTILE-SKETCH ROLLUP (VERDICT r13 #4 — the THIRD
    // non-additive aggregate family, completing the sketch-table
    // symmetry after HLL distinct q134 and top-k q143): per-(event_
    // type, day) KLL quantile sketches (native graft_kll_agg over the
    // DataSketches KLL Spark already ships but never exposed) written
    // DAY-PARTITIONED, then a FRESH plan range-filters the day
    // directories (static partition pruning), graft_kll_merge-unions
    // and reads p50/p95/p99 + the EXACT absorbed count. Raw events
    // are never rescanned: an arbitrary-range percentile costs
    // |days|×|types| fixed-size sketch rows — the only way "p95 of
    // value over any date range" survives 100 TB. HASH-GATED on
    // (n, p50, p95, p99) since r15: k=16384 keeps the fixture-scale
    // merges under capacity, so the quantiles ARE the library's
    // inclusive order statistics — smallest v with #{x ≤ v} ≥
    // ceil(r·n), where for n ≤ 1e7 the library snaps r·n to 7
    // decimals before the ceil (QuantilesUtil.getNaturalRank,
    // bytecode-verified), making the index EXACT INTEGER arithmetic
    // the DuckDB oracle replays as (num·n + den−1) div den — no FP
    // boundary anywhere. SketchSpec pins exact-at-capacity, merge
    // consistency, and the over-capacity rank-error envelope;
    // PlanShapeSpec pins the pruned scan.
    "q319_quantile_sketch_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.ops.Sketch
      val path = kllSketchTablePath(s, dir)
      Sketch.rollupKllSketches(
          s.read.parquet(path)
            .filter(col("day") < lit("2024-01-16").cast("date")),
          col("event_type"))
        .select(col("event_type"),
          Sketch.kllN(col("kll")).as("n_values"),
          round(Sketch.kllQuantile(col("kll"), 0.5), 4).as("p50"),
          round(Sketch.kllQuantile(col("kll"), 0.95), 4).as("p95"),
          round(Sketch.kllQuantile(col("kll"), 0.99), 4).as("p99"))
        .orderBy("event_type")
    }),

    // ROLLING QUANTILES FROM DAILY SKETCHES (Sketch.kllRollingMerge —
    // q138's rolling-distinct shape for the quantile family):
    // trailing-7-day p50/p95 of value per event type. Exact rolling
    // percentiles are the same 100 TB-killer as rolling distinct —
    // order statistics do not roll up, so the naive form re-sorts 7
    // days of raw values PER output day. Here raw events are scanned
    // ONCE into per-(type, day) KLL sketches and the 7-day union runs
    // as a RANGE-frame window over the |days|×|types| sketch table,
    // merging 7 fixed-size sketches per output row (epoch-day keyed,
    // calendar gaps stay gaps). n7 is EXACT even under compaction
    // (getN); HASH-GATED on (n7, p50_7d, p95_7d) since r15 — k=16384
    // keeps every 7-day merge under capacity at fixture scale (max
    // 4,868 at sf0.1), so the quantiles are exact inclusive order
    // statistics, integer-index replayable (see q319). SketchSpec
    // pins the rolling law at capacity.
    "q321_rolling_quantile" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.ops.Sketch
      val daily = Sketch.buildKllSketches(
        Tables.events(s, dir).filter(col("value").isNotNull)
          .withColumn("day", to_date(col("ts"))),
        col("value"), k = 16384, col("event_type"), col("day"))
      daily
        .withColumn("day_idx",
          datediff(col("day"), lit("1970-01-01").cast("date")))
        .withColumn("kll7", Sketch.kllRollingMerge(col("kll"),
          Seq(col("event_type")), col("day_idx"), windows = 7))
        .select(col("event_type"),
          // dates hash as yyyy-MM-dd strings (the gate's dtype-strict
          // compare has no common date representation across engines)
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          Sketch.kllN(col("kll7")).as("n7"),
          round(Sketch.kllQuantile(col("kll7"), 0.5), 4).as("p50_7d"),
          round(Sketch.kllQuantile(col("kll7"), 0.95), 4).as("p95_7d"))
        .orderBy("event_type", "day")
    }),

    // INTERVAL OVERLAP JOIN (ops.IntervalJoin): purchase attribution
    // windows [ts, ts+1h) × click windows [ts, ts+10min) per user,
    // matched where they intersect — via bin-and-residual (equi join
    // on (user_id, 30-min bin) + exact residual + pair dedup), NEVER
    // the BroadcastNestedLoopJoin the raw inequality condition plans
    // (PlanShapeSpec pins no nested-loop join in this plan). The
    // oracle is DuckDB's plain inequality join — an independent
    // formulation, so the hash match proves the binning is lossless.
    "q130_interval_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.ops.IntervalJoin
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event"),
          unix_micros(col("ts")).as("p_start"))
        .withColumn("p_end", col("p_start") + lit(3600000000L))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_event"),
          unix_micros(col("ts")).as("c_start"))
        .withColumn("c_end", col("c_start") + lit(600000000L))
      IntervalJoin.overlapJoin(
          purchases, "p_event", "p_start", "p_end",
          clicks, "c_event", "c_start", "c_end",
          keyCols = Seq("user_id"), binWidth = 1800000000L)
        .select(col("user_id"), col("p_event"), col("c_event"))
        .orderBy("user_id", "p_event", "c_event")
    }),

    // TIME-WEIGHTED AVERAGE over irregular samples (the telemetry/
    // finance aggregate): each purchase value is held until the user's
    // next purchase; TWAP = Σ value·duration / Σ duration over the
    // user's observation span. A plain avg() answers a different
    // question — it weights by SAMPLE COUNT, overweighting bursts of
    // short-lived values. One user_id shuffle feeds the lead() and the
    // aggregation. Exact cross-engine math: value cast to decimal
    // BEFORE the duration product, so the weighted sum is
    // order-invariant decimal arithmetic; the single double division
    // happens once at the end.
    "q131_twap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .withColumn("dur_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("dur_us").isNotNull) // the last sample has no hold period
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dur_us")).as("span_us"),
          // divide as DOUBLE on both engines: a DECIMAL-domain
          // division here carries engine-specific derived scales and
          // flipped the 4th digit on a half boundary at sf0.1 (found
          // by the round-12 sf0.1 strict sweep; sf0.01 never landed
          // on the boundary)
          round(sum(col("value").cast("decimal(18,2)") * col("dur_us"))
            .cast("double") / sum(col("dur_us")).cast("double"), 4)
            .as("twap"))
        .orderBy("user_id")
    }),

    // SCD TYPE-2 dimension build (pipeline.Ingest.scd2): the purchase
    // log as a change stream of each user's spend tier — consecutive
    // same-tier purchases collapse (change detection), surviving rows
    // get [effective_from, effective_to) intervals and a current
    // flag. One user_id shuffle feeds both windows. The as-of join
    // (q75) answers point-in-time lookups from the raw log; this
    // materializes the intervals so a plain range predicate answers
    // them from the dimension table.
    "q128_scd2_build" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val purchases = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 20).cast("long").as("tier"))
      graft.pipeline.Ingest.scd2(purchases, "user_id", "ts", "event_id", "tier")
        .select(col("user_id"), col("event_id"), col("tier"),
          unix_micros(col("effective_from")).as("from_us"),
          unix_micros(col("effective_to")).as("to_us"),
          col("is_current"))
        .orderBy("user_id", "from_us")
    }),

    // EFFECTIVE-DATED DIMENSION LOOKUP (q128's deployment face): each
    // click event resolved to the spend tier EFFECTIVE AT its
    // timestamp against the SCD2 dimension q128 builds. Because SCD2
    // versions tile each key's timeline contiguously ([from, to) with
    // to = next from), "the version valid at ts" ≡ "the LATEST version
    // with effective_from <= ts" — so the lookup is the as-of backward
    // composition (AsOf.asofBackward), NOT a range join: one user_id
    // shuffle, zero Join operators in the plan (pinned in
    // PlanShapeSpec), state = one version in flight per key. The
    // DuckDB oracle is the INDEPENDENT formulation — the SCD2 CTE plus
    // the textbook `from <= ts AND (to IS NULL OR ts < to)` range
    // predicate — so the hash match proves the as-of collapse is
    // lossless against real interval semantics, boundary rows
    // included (a click AT a purchase instant gets the NEW tier:
    // inclusive from, exclusive to, matching the as-of tie rule).
    // Clicks before a user's first purchase keep a null tier
    // (left-outer semantics both sides).
    "q161_scd2_lookup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val purchases = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 20).cast("long").as("tier"))
      val dim = graft.pipeline.Ingest.scd2(
          purchases, "user_id", "ts", "event_id", "tier")
        .select(col("user_id"), col("effective_from").as("ts"), col("tier"))
      val clicks = Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.AsOf.asofBackward(clicks, dim, "user_id", "ts", Seq("tier"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("asof_tier").as("tier"))
        .orderBy("event_id")
    }),

    // COUNT-MIN SKETCH lifecycle (ops.Sketch.countMin*) — the
    // frequency-summary counterpart of q127's HLL: per-user event
    // counts estimated from a 4×64 counter table built in ONE
    // map-side-combined pass (width 64 « 150 distinct users, so
    // collisions are LIVE in the gated output — est > exact where
    // buckets collide, never below). Content-addressed md5 buckets
    // make the whole build+probe engine-replayable, so unlike the
    // opaque-register sketches this one runs under the full hash
    // gate. The counter table broadcasts into the probe join; exact
    // counts ride the same scan for the (est − exact) audit columns.
    "q184_count_min" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      val counters = graft.ops.Sketch.countMinBuild(ev, "user_id", 4, 64, 11L)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      graft.ops.Sketch.countMinEstimate(counters, exact, "user_id", 4, 64, 11L)
        .join(exact, Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("cm_est"),
          (col("cm_est") - col("n_exact")).as("overcount"))
        .orderBy("user_id")
    }),

    // INTERVAL COALESCING (ops.IntervalJoin.coalesceIntervals): each
    // event opens a 15-minute half-open exposure window; overlapping
    // or touching windows per user merge into maximal intervals —
    // the availability/exposure primitive, and the normalization pass
    // that bounds q130's per-cell fan-out. Running-MAX island rule
    // (not lag(end)): an early long interval that outlasts its
    // successors must hold the island open. One user_id shuffle feeds
    // both windows and the island aggregate; exact long micros.
    "q187_interval_coalesce" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val iv = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + 900000000L).as("e_us"))
      graft.ops.IntervalJoin.coalesceIntervals(iv, Seq("user_id"), "s_us", "e_us")
        .select(col("user_id"), col("start"), col("end"), col("n_merged"))
        .orderBy("user_id", "start")
    }),

    // PER-GROUP FEATURE STANDARDIZATION (z-score + min-max — the
    // scaling pass every feature pipeline runs before training): one
    // aggregation computes exact decimal Σv/Σv²/min/max per type
    // (q169's moment discipline), broadcasts the group-sized stats
    // back, and each row's z/minmax is one fixed IEEE tree on the
    // cast sums — engine-replayable. Zero-variance groups yield null
    // z; constant groups null minmax. One narrow scan + one
    // map-side-combined shuffle; the join back broadcasts stats.
    "q190_standardize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).cast("decimal(18,4)").as("v"))
      val m = ev.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(col("v")).as("sv"), sum(col("v") * col("v")).as("svv"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      val mean = col("sv").cast("double") / col("n").cast("double")
      val varp = col("svv").cast("double") / col("n").cast("double") -
        mean * mean
      ev.join(broadcast(m), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          col("v").cast("double").as("v"),
          when(varp > 0,
            round((col("v").cast("double") - mean) / sqrt(varp), 6)).as("z"),
          when(col("vmax") =!= col("vmin"),
            round((col("v") - col("vmin")).cast("double") /
              (col("vmax") - col("vmin")).cast("double"), 6)).as("minmax"))
        .orderBy("event_id")
    }),

    // OUT-OF-FOLD TARGET ENCODING (the leakage-free categorical
    // encoder — Micci-Barreca 2001 pattern with k-fold exclusion):
    // entity = user, target = purchase value, fold = content-
    // addressed md5 coin of the event id (q76 discipline, so the fold
    // split is partition-invariant and oracle-replayable). The
    // encoding a row in fold f sees is the mean of its USER's target
    // over every OTHER fold: (Σ_u − Σ_{u,f}) / (n_u − n_{u,f}) —
    // exact decimal sums, one final division. Users whose events all
    // land in one fold get null (no out-of-fold evidence). Scale
    // shape: two user-keyed partial-agg shuffles, then a user-sized
    // join — the event log never joins itself.
    "q195_target_encode" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          round(col("value"), 2).cast("decimal(18,2)").as("y"),
          (conv(substring(md5(concat(col("event_id").cast("string"),
            lit(":te"))), 1, 6), 16, 10).cast("long") % 5).as("fold"))
      val byUser = p.groupBy("user_id")
        .agg(count(lit(1)).as("n_u"), sum(col("y")).as("s_u"))
      val byFold = p.groupBy("user_id", "fold")
        .agg(count(lit(1)).as("n_uf"), sum(col("y")).as("s_uf"))
      byFold.join(byUser, Seq("user_id"))
        .select(col("user_id"), col("fold"),
          (col("n_u") - col("n_uf")).as("n_oof"),
          when(col("n_u") > col("n_uf"),
            round((col("s_u") - col("s_uf")).cast("double") /
              (col("n_u") - col("n_uf")).cast("double"), 6)).as("enc"))
        .orderBy("user_id", "fold")
    }),

    // SEASONAL-BASELINE ANOMALY FLAGS (the metrics-monitoring
    // workhorse): each event's value scored against ITS OWN seasonal
    // cell — (event_type, hour-of-day) — so a nightly lull doesn't
    // false-positive the morning spike. Exact decimal moments per
    // cell (q190's machinery on the seasonal key), cell stats
    // broadcast back (|types|·24 rows whatever the corpus), one
    // fixed IEEE z per event; only |z| > 2 rows emitted — the alert
    // feed, not a re-dump of the log. Cells need n ≥ 12 and positive
    // variance (an undersampled or constant cell flags nothing).
    "q197_seasonal_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          hour(col("ts")).cast("bigint").as("hod"),
          round(col("value"), 4).cast("decimal(18,4)").as("v"))
      val m = ev.groupBy("event_type", "hod").agg(count(lit(1)).as("n"),
        sum(col("v")).as("sv"), sum(col("v") * col("v")).as("svv"))
      val mean = col("sv").cast("double") / col("n").cast("double")
      val varp = col("svv").cast("double") / col("n").cast("double") -
        mean * mean
      ev.join(broadcast(m), Seq("event_type", "hod"))
        .filter(col("n") >= 12 && varp > 0)
        .select(col("event_id"), col("event_type"), col("hod"),
          col("v").cast("double").as("v"),
          round((col("v").cast("double") - mean) / sqrt(varp), 6).as("z"))
        .filter(abs(col("z")) > 2.0)
        .orderBy("event_id")
    }),

    // PERCENTILE WINSORIZATION (the heavy-tail clamp feature prep
    // runs before q190's scaling): per type, values clip to the
    // exact [p05, p95] — q29's percentile ≡ quantile_cont parity at
    // 4dp, ONE percentile(array(...)) buffer per group, cut points
    // broadcast back. Emits only the CLIPPED rows plus per-row
    // direction — the audit trail a feature pipeline archives.
    "q199_winsorize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).cast("decimal(18,4)").as("v"))
      val cuts = ev.groupBy("event_type")
        .agg(expr("percentile(cast(v as double), array(0.05, 0.95))").as("ps"))
        .select(col("event_type"),
          round(element_at(col("ps"), 1), 4).as("lo"),
          round(element_at(col("ps"), 2), 4).as("hi"))
      ev.join(broadcast(cuts), Seq("event_type"))
        .withColumn("vd", col("v").cast("double"))
        .filter(col("vd") < col("lo") || col("vd") > col("hi"))
        .select(col("event_id"), col("event_type"), col("vd").as("v"),
          when(col("vd") < col("lo"), col("lo")).otherwise(col("hi"))
            .as("clipped"),
          when(col("vd") < col("lo"), lit("low")).otherwise(lit("high"))
            .as("tail"))
        .orderBy("event_id")
    }),

    // EWMA SMOOTHING, bounded lookback (the control-chart smoother):
    // α = 1/4 over the trailing 8 observations per user's purchase
    // series. The weights α(1−α)^j = 3^j/4^(j+1) share denominator
    // 4^8, so they become INTEGER weights (16384, 12288, …, 2187) —
    // numerator Σ w_j·x_{t−j} is exact long×decimal, the truncated
    // tail renormalizes by the exact Σ of PRESENT weights, and the
    // only double op is the final division (the q163 fixed-point
    // philosophy applied to smoothing: no float powers anywhere, so
    // nothing to drift cross-engine). One key shuffle; the 8 lags are
    // row-local reads of one window sort.
    "q200_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val weights = Seq(16384L, 12288L, 9216L, 6912L, 5184L, 3888L, 2916L, 2187L)
      val base = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value"), 4).cast("decimal(18,4)").as("v"))
      val lagged = weights.zipWithIndex.foldLeft(base) { case (df, (_, j)) =>
        df.withColumn(s"__x$j", lag(col("v"), j).over(w))
      }
      val num = weights.zipWithIndex.map { case (wt, j) =>
        coalesce((col(s"__x$j") * lit(wt)).cast("decimal(38,4)"),
          lit(0).cast("decimal(38,4)"))
      }.reduce((a, b) => (a + b).cast("decimal(38,4)"))
      val den = weights.zipWithIndex.map { case (wt, j) =>
        when(col(s"__x$j").isNotNull, lit(wt)).otherwise(lit(0L))
      }.reduce(_ + _)
      lagged.select(col("event_id"), col("user_id"),
          col("v").cast("double").as("v"),
          round(num.cast("double") / den.cast("double"), 6).as("ewma"))
        .orderBy("event_id")
    }),

    // CUPED VARIANCE REDUCTION (Deng et al. 2013 — the A/B readout
    // every mature experimentation platform applies): adjust each
    // user's experiment metric by their PRE-PERIOD covariate,
    // y' = y − θ(x − x̄), θ = cov(x,y)/var(x) pooled across arms. All
    // five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    // decimals in ONE user-level aggregation; θ, the adjusted means,
    // and the variance-reduction ratio are fixed IEEE recombinations
    // of those moments — per-arm variance of the ADJUSTED metric
    // comes from the same moments via var(y') = var(y) − 2θcov +
    // θ²var(x), never a second pass. Arm = md5 coin of the user id
    // (q169 discipline). Scale shape: events collapse to one row per
    // user, then to one row per arm.
    "q201_cuped" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val cutoff = lit("2024-01-15").cast("date")
      val perUser = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click" && to_date(col("ts")) < cutoff,
            round(col("value"), 2).cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).as("x"),
          sum(when(col("event_type") === "purchase" && to_date(col("ts")) >= cutoff,
            round(col("value"), 2).cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).as("y"))
        .select(col("user_id"), col("x"), col("y"),
          (conv(substring(md5(concat(col("user_id").cast("string"),
            lit(":cuped"))), 1, 1), 16, 10) % 2).cast("int").as("arm"))
      val g = perUser.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val theta = (col("n").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        (col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      val xbar = col("sx").cast("double") / col("n").cast("double")
      val arms = perUser.groupBy(col("arm")).agg(count(lit(1)).as("n_arm"),
        sum(col("y")).as("sy_a"), sum(col("x")).as("sx_a"),
        sum(col("y") * col("y")).as("syy_a"),
        sum(col("x") * col("x")).as("sxx_a"),
        sum(col("x") * col("y")).as("sxy_a"))
      arms.crossJoin(broadcast(g.select(theta.as("theta"), xbar.as("xbar"))))
        .withColumn("nd", col("n_arm").cast("double"))
        .withColumn("my", col("sy_a").cast("double") / col("nd"))
        .withColumn("mx", col("sx_a").cast("double") / col("nd"))
        .withColumn("vy",
          col("syy_a").cast("double") / col("nd") - col("my") * col("my"))
        .withColumn("vx",
          col("sxx_a").cast("double") / col("nd") - col("mx") * col("mx"))
        .withColumn("cva",
          col("sxy_a").cast("double") / col("nd") - col("mx") * col("my"))
        .select(col("arm"), col("n_arm"),
          round(col("my"), 6).as("raw_mean"),
          round(col("my") - col("theta") * (col("mx") - col("xbar")), 6)
            .as("cuped_mean"),
          when(col("vy") > 0,
            round(lit(1.0) -
              (col("vy") - lit(2.0) * col("theta") * col("cva") +
                col("theta") * col("theta") * col("vx")) / col("vy"), 6))
            .as("var_reduction"))
        .orderBy("arm")
    }),

    // MAX DRAWDOWN per user (the risk/stability metric, applied to
    // the purchase-value series): running peak via a window max, dd =
    // (peak − v)/peak per observation — exact decimal peak and value,
    // one IEEE division quantized at 6dp BEFORE the per-user max so
    // the aggregate is order-free. One key shuffle feeds window + agg
    // (the q131/q174 time-series discipline).
    "q204_max_drawdown" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull &&
          col("value") > 0)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value"), 4).cast("decimal(18,4)").as("v"))
        .withColumn("peak", max(col("v")).over(w))
        .withColumn("dd",
          round((col("peak") - col("v")).cast("double") /
            col("peak").cast("double"), 6))
      p.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"), max(col("dd")).as("max_drawdown"))
        .orderBy("user_id")
    }),

    // BITEMPORAL AS-OF (valid time × transaction time — the "what
    // did we BELIEVE on day R the state was at day V" audit query a
    // corrections-prone warehouse needs; Snodgrass's two-axis model):
    // each purchase is a fact with VALID time ts and a RECORDED time
    // ts + (event_id % 3) hours (the planted late-arrival pattern —
    // deterministic, so the whole two-axis semantics sits under the
    // hash gate). The state of each user as of (V, R) = filter
    // recorded ≤ R FIRST (what we knew), then latest valid ≤ V per
    // user — ONE key shuffle, one window; the naive formulation is a
    // correlated subquery per axis. Rows where the belief at R
    // DIFFERS from the final state (late rows still in flight) are
    // flagged — the reconciliation feed.
    "q208_bitemporal" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val facts = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("valid_us"),
          (unix_micros(col("ts")) +
            (col("event_id") % 3) * 3600000000L).as("recorded_us"),
          round(col("value"), 2).cast("decimal(18,2)").as("v"))
      val vCut = lit(1705320000000000L) // 2024-01-15T12:00Z valid-time cut
      val rCut = lit(1705323600000000L) // one hour later, recorded cut
      def latestAsOf(df: org.apache.spark.sql.DataFrame, tag: String) = {
        val w = Window.partitionBy("user_id")
          .orderBy(desc("valid_us"), desc("event_id"))
        df.filter(col("valid_us") <= vCut)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("valid_us").as(s"${tag}_valid_us"),
            col("v").cast("double").as(s"${tag}_value"))
      }
      val believed = latestAsOf(facts.filter(col("recorded_us") <= rCut),
        "believed")
      val finalState = latestAsOf(facts, "final")
      believed.join(finalState, Seq("user_id"), "full")
        .select(col("user_id"),
          col("believed_valid_us"), col("believed_value"),
          col("final_valid_us"), col("final_value"),
          (!(col("believed_valid_us") <=> col("final_valid_us")))
            .as("late_data_pending"))
        .orderBy("user_id")
    }),

    // QUANTILE MAPPING (empirical Q–Q transfer — the distribution-
    // alignment pass for drift correction / domain adaptation): each
    // click value maps to the purchase value at the same percentile.
    // Both CDFs are EXACT INTEGER percentiles — (cum·10^6) div n over
    // the distinct-value frequency table — and the lookup is the
    // as-of composition (ops.AsOf backward on the percentile key):
    // largest reference percentile ≤ the source one. Zero float
    // ranks; the integer scale bounds tie risk to n > 10^6 per
    // distribution (raise the scale constant beyond that). Source
    // values below the reference's first percentile stay null
    // (left-outer honesty, q156 discipline). The CDFs are
    // domain-sized; the as-of window rides one constant-key
    // partition over ref+src DISTINCT values — q148's O(domain) seam.
    "q205_quantile_map" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value"), 2).cast("decimal(18,2)").as("v"))
      def cdf(t: String) = {
        val ord = Window.orderBy("v")
        ev.filter(col("event_type") === t)
          .groupBy("v").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum("cnt").over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", sum("cnt").over(
            ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .select(col("v"), expr("(cum * 1000000) div n").as("pr"))
      }
      val src = cdf("click").select(lit(0).as("k"), col("pr"),
        col("v").as("v_click"))
      val ref = cdf("purchase").select(lit(0).as("k"), col("pr"),
        col("v").as("v_ref"))
      graft.ops.AsOf.asofBackward(src, ref, "k", "pr", Seq("v_ref"))
        .select(col("v_click").cast("double").as("v_click"), col("pr"),
          col("asof_v_ref").cast("double").as("v_mapped"))
        .orderBy("v_click")
    }),

    // POSITION-BASED (U-SHAPED) ATTRIBUTION — q159's machinery with
    // the 40/20/40 weight curve every marketing stack offers beside
    // linear: first and last prior touchpoints take 40% each, the
    // middle splits the remaining 20% evenly; 1 prior touch takes
    // 100%, 2 split 50/50, a direct conversion credits itself. The
    // weight is a CASE on the touch's ordinal against the prior
    // count; credits quantize to DECIMAL(18,6) before the per-type
    // rollup (q159 discipline, same one-user_id-shuffle shape).
    "q206_position_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val flagged = Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") >= 1800L,
            1).otherwise(0))
        .withColumn("sid", sum("new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ordered = flagged.withColumn("ord", row_number().over(
        Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")))
      val purchases = ordered.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sid"), col("ord").as("p_ord"),
          (col("ord") - 1).as("k"), col("value").as("p_value"))
      val touches = ordered
        .select(col("user_id"), col("sid"), col("ord"), col("event_type"))
      val weight =
        when(col("k") <= 1, lit(1.0))
          .when(col("k") === 2, lit(0.5))
          .when(col("ord") === 1 || col("ord") === col("k"), lit(0.4))
          .otherwise(lit(0.2) / (col("k") - 2))
      purchases.join(touches, Seq("user_id", "sid"))
        .filter(col("ord") < col("p_ord") ||
          (col("k") === 0 && col("ord") === col("p_ord")))
        .withColumn("credit", (col("p_value") * weight).cast("decimal(18,6)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit")).cast("double").as("credited_value"))
        .orderBy("event_type")
    }),

    // KAPLAN–MEIER SURVIVAL (time to first purchase, right-censored
    // at last activity — the funnel-latency curve with the censoring
    // every naive "average days to convert" silently fumbles): at
    // each distinct event day t, at-risk n_t = users whose exit
    // (conversion OR censoring) is ≥ t, deaths d_t = conversions at
    // t; S(t) = Π (1 − d/n). The product becomes an ORDER-FREE sum of
    // DECIMAL(24,10)-quantized ln((n−d)/n) terms (exact integer
    // ratios inside the ln, q168 discipline) exponentiated once; a
    // day where every at-risk user converts pins S to 0 from there on
    // (ln(0) never evaluated). Events collapse to one row per user,
    // then to the day domain — both windows ride the tiny exit-day
    // table.
    "q207_kaplan_meier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val perUser = Tables.events(s, dir).groupBy("user_id").agg(
        min(to_date(col("ts"))).as("first_day"),
        max(to_date(col("ts"))).as("last_day"),
        min(when(col("event_type") === "purchase", to_date(col("ts"))))
          .as("first_purchase"))
      val u = perUser.select(
        when(col("first_purchase").isNotNull,
          datediff(col("first_purchase"), col("first_day")))
          .otherwise(datediff(col("last_day"), col("first_day")))
          .cast("long").as("t_exit"),
        col("first_purchase").isNotNull.as("died"))
      val byT = u.groupBy("t_exit").agg(count(lit(1)).as("n_exit"),
        sum(when(col("died"), 1L).otherwise(0L)).as("d"))
      val ord = Window.orderBy("t_exit")
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = byT
        .withColumn("n_total", sum("n_exit").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("exited_before", coalesce(sum("n_exit").over(
          ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("at_risk", col("n_total") - col("exited_before"))
        .filter(col("d") > 0)
      risk
        .withColumn("lnterm",
          when(col("d") < col("at_risk"),
            round(log((col("at_risk") - col("d")).cast("double") /
              col("at_risk").cast("double")), 10).cast("decimal(24,10)"))
            .otherwise(lit(0).cast("decimal(24,10)")))
        .withColumn("zeroed", max(when(col("d") === col("at_risk"), 1L)
          .otherwise(0L)).over(cum))
        .withColumn("ln_s", sum("lnterm").over(cum))
        .select(col("t_exit").as("t_days"), col("d").as("n_converted"),
          col("at_risk"),
          when(col("zeroed") === 1, lit(0.0))
            .otherwise(round(exp(col("ln_s").cast("double")), 6))
            .as("survival"))
        .orderBy("t_days")
    }),

    // CUSUM CHANGE-POINT DETECTION (Page 1954 — the sequential
    // drift monitor every metrics stack runs beside the q197
    // seasonal baseline): one-sided CUSUM over daily purchase
    // revenue, Sᵢ = max(0, Sᵢ₋₁ + (xᵢ − k)). The recursion looks
    // inherently sequential — the trap that pushes people to
    // driver-side loops — but the classic PREFIX-MIN IDENTITY
    // linearizes it: Sᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) where P is the
    // plain prefix sum of (xᵢ − k). Two running windows over the
    // day-sized series, no recursion, no driver hop (EventsStreamSpec
    // pins the identity against a literal sequential fold). All
    // arithmetic in integer CENTS — x as exact decimal cents, the
    // reference k as total div days — so the whole monitor is
    // engine-exact. Flag = Sᵢ > k (drift exceeding one average day).
    // The windows are unpartitioned but DAY-cardinality (q148's
    // O(domain) seam — partition by metric/tenant in production).
    // BINARY-SEGMENTATION CHANGEPOINT (Scott & Knott 1974; the
    // first split of every binseg/PELT pipeline — r16): q213's CUSUM
    // FLAGS that a drift exists, THIS locates WHERE — argmax over
    // split days k of |D_k|, D_k = n·cum_k − k·S_n (the CUSUM
    // deviation cleared of the mean division, so it stays an EXACT
    // integer: daily revenue in whole dollars as Longs, n and k
    // integers — no float until the reported means). Day-DOMAIN
    // cumsum (calendar-bounded window, q213's declared class), argmax
    // via TakeOrdered on (|D| desc, day asc) — one row out. PLANTED
    // step (the q349 discipline — fixture revenue is level): days ≥
    // 1998-06-01 scale ×3, before ×2 (both sides exact integers;
    // +50% step at mid-range — the first cut pivoted at 1995-06-01,
    // five months into the 1995–2001 fixture calendar, where an edge
    // split has no power and daily noise at 1.4 orders/day swamped
    // the argmax: detected at design time by INSPECTING split_day,
    // the vacuous-branch rule). Inspected post-fix: split_day (the
    // LAST day of the left segment) reads 1998-05-31 at sf0.01 —
    // exactly the pre-step endpoint — and 1998-05-12 at sf0.001,
    // within three weeks at that SF's 1.4-orders/day daily noise;
    // left/right means read the planted 2:3 ratio.
    "q353_binseg_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val pivot = lit("1998-06-01").cast("date")
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice"), 0).cast("long") *
          when(to_date(col("o_orderdate")) >= pivot, 3L).otherwise(2L))
          .as("rev"))
      val tot = daily.agg(sum(col("rev")).as("s_n"),
        count(lit(1)).as("nd"))
      val cum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .withColumn("k", count(lit(1)).over(cum))
        .withColumn("cumrev", sum(col("rev")).over(cum))
        .filter(col("k") < col("nd"))
        .withColumn("dev", col("nd") * col("cumrev") - col("k") * col("s_n"))
        .orderBy(abs(col("dev")).desc, col("day"))
        .limit(1)
        .select(col("day").cast("string").as("split_day"),
          col("dev"), col("k").as("n_left"),
          (col("nd") - col("k")).as("n_right"),
          round(col("cumrev").cast("double") / col("k").cast("double"), 6)
            .as("left_mean"),
          round((col("s_n") - col("cumrev")).cast("double") /
            (col("nd") - col("k")).cast("double"), 6).as("right_mean"))
    }),

    "q213_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum((round(col("value"), 2).cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      val tot = daily.agg(sum(col("cents")).as("tc"),
        count(lit(1)).as("nd"))
      val cum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .withColumn("k", expr("tc div nd"))
        .withColumn("p", sum(col("cents") - col("k")).over(cum))
        .withColumn("s",
          col("p") - least(lit(0L), min(col("p")).over(cum)))
        .select(col("day").cast("string").as("day"), col("cents"), col("k"),
          col("s").as("cusum_cents"), (col("s") > col("k")).as("drift_flag"))
        .orderBy("day")
    }),

    // DAU + CUMULATIVE-DISTINCT USERS (the growth-accounting pair):
    // daily active users is a per-day exact COUNT DISTINCT; the
    // running "total users ever seen" is the trap — a naive
    // count(DISTINCT) over an expanding window rescans history every
    // day. The FIRST-TOUCH identity linearizes it: cumulative
    // distinct at day d = Σ_{d'≤d} (users whose FIRST event day is
    // d'), so one user-keyed min-aggregate plus a running sum over
    // the day-sized series replaces the expanding rescan — the same
    // shape the streaming path gets from hllDistinctPerWindow when
    // approximate is acceptable; this is the exact batch form.
    "q214_cumulative_users" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val dau = ev.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val firstDay = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      val cum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dau.join(firstDay, Seq("day"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .withColumn("cum_users", sum(col("new_users")).over(cum))
        .select(col("day").cast("string").as("day"), col("dau"),
          col("new_users"), col("cum_users"))
        .orderBy("day")
    }),

    // AUTOCORRELATION FUNCTION at lags 1–7 (the Box–Jenkins
    // seasonality probe — the diagnostic behind q197's fixed weekly
    // baseline: ACF is how you'd DISCOVER the cycle length). Pearson
    // r between the daily-revenue series and its lag-ℓ shift, for
    // all 7 lags in ONE plan: the day-sized series explodes ×7 with
    // a (day − ℓ) join key, one equi join against itself, then per-
    // lag EXACT integer-cent moments (Σx, Σy, Σxx, Σyy, Σxy as
    // DECIMAL(38,0) — cents² at 100 TB daily volumes overflows
    // BIGINT, the q181 width lesson) and ONE fixed IEEE
    // recombination per lag (q175/q181 discipline). The join wires
    // day-sized tables — the events scan aggregates once, first.
    "q217_acf" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum((round(col("value"), 2).cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      val x = daily.select(col("day"), col("cents").as("x"),
          explode(sequence(lit(1), lit(7))).as("lag"))
        .withColumn("prev_day", expr("date_sub(day, lag)"))
      val joined = x.join(daily.select(col("day").as("prev_day"),
        col("cents").as("y")), Seq("prev_day"))
      joined.groupBy(col("lag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x").cast("decimal(19,0)")).cast("double").as("sx"),
          sum(col("y").cast("decimal(19,0)")).cast("double").as("sy"),
          sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
            .cast("double").as("sxx"),
          sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
            .cast("double").as("syy"),
          sum(col("x").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
            .cast("double").as("sxy"))
        .select(col("lag"), col("n").cast("long").as("n_pairs"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("acf"))
        .orderBy("lag")
    }),

    // COHORT LTV TRIANGLE (the growth-accounting companion to q113
    // retention: revenue, not presence): users cohort by FIRST
    // purchase day, every later purchase lands in cell (cohort_day,
    // weeks since) — active users, cell revenue, and the running
    // cumulative LTV per cohort. One user-keyed min-aggregate, one
    // user-sized join back (the q195 leakage-free-encoder shape),
    // one (cohort, age) groupBy; the cumulative window rides the
    // cohort×age-sized result, never the events. Integer cents and
    // integer week arithmetic throughout — engine-exact.
    "q219_cohort_ltv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val pur = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          (round(col("value"), 2).cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
      val cohort = pur.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val cum = Window.partitionBy("cohort_day").orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pur.join(cohort, Seq("user_id"))
        .withColumn("age_week", expr("datediff(day, cohort_day) div 7"))
        .groupBy(col("cohort_day"), col("age_week"))
        .agg(countDistinct(col("user_id")).as("active_users"),
          sum(col("cents")).as("rev_cents"))
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(cum))
        .select(col("cohort_day").cast("string").as("cohort_day"),
          col("age_week"), col("active_users"), col("rev_cents"),
          col("cum_rev_cents"))
        .orderBy("cohort_day", "age_week")
    }),

    // SPRT SEQUENTIAL TEST MONITOR (Wald 1945 — the always-valid
    // alternative to q169's fixed-horizon t-test: peek every day,
    // stop the moment the evidence crosses a boundary). Per arm
    // (user hash), per day: cumulative trials n (purchases) and
    // successes x (value > 40), and the log-likelihood ratio for
    // H1: p = 0.5 vs H0: p = 0.4, LLR = x·ln(p1/p0) +
    // (n−x)·ln((1−p1)/(1−p0)). Determinism: the two ln factors are
    // CONSTANTS — quantized once to DECIMAL(18,10) literals — so the
    // daily LLR is integer-times-decimal, exact in both engines; the
    // α = β = 0.05 boundaries ±ln(19) are decimal literals compared
    // decimal-to-decimal (no float epsilon decides a stop). Shape:
    // one day×arm aggregate, running sums over the day-sized series
    // per arm — the events scan aggregates once, first.
    "q226_sprt" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      // DECIMAL(12,10), not (18,10): long × decimal(18,10) needs
      // precision 39 and Spark silently REDUCES SCALE past 38 —
      // (12,10) keeps the product at (33,10), exact (the q226 r11
      // truncation episode: llr lost its last two digits).
      val c1 = lit("0.2231435513").cast("decimal(12,10)")   // ln(0.5/0.4)
      val c0 = lit("-0.1823215568").cast("decimal(12,10)")  // ln(0.5/0.6)
      val bound = lit("2.9444389792").cast("decimal(28,10)") // ln(19)
      val daily = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy((col("user_id") % 2).as("arm"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("trials"),
          sum(when(round(col("value"), 2).cast("decimal(18,2)") > 40, 1L)
            .otherwise(0L)).as("successes"))
      val cum = Window.partitionBy("arm").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("n", sum(col("trials")).over(cum))
        .withColumn("x", sum(col("successes")).over(cum))
        .withColumn("llr",
          (col("x") * c1 + (col("n") - col("x")) * c0).cast("decimal(28,10)"))
        .select(col("arm"), col("day").cast("string").as("day"),
          col("n"), col("x"),
          col("llr").cast("double").as("llr"),
          when(col("llr") >= bound, lit("accept_h1"))
            .when(col("llr") <= -bound, lit("accept_h0"))
            .otherwise(lit("continue")).as("decision"))
        .orderBy("arm", "day")
    }),

    // TIME-TO-CONVERT DISTRIBUTION (the funnel-latency report beside
    // q112's conversion COUNTS: how LONG the click→purchase hop
    // takes): per user, delay = first purchase at-or-after the first
    // click, in integer seconds (micros div 10⁶ — exact); then exact
    // p50/p90/max + converter counts per CONVERSION epoch day
    // (the day the qualifying purchase landed — the axis with real
    // spread; cohorting by first-seen day degenerates on a fixture
    // where every user exists from day one). One user-keyed aggregate computes BOTH firsts with
    // conditional min-structs (no two scans, no join); the q29
    // single-buffer percentile(array(...)) discipline for the
    // quantile pair. Non-converters (no purchase after the click)
    // drop — the denominator lives in q112.
    "q230_time_to_convert" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val firsts = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "click", col("us"))).as("c_us"))
      val delays = ev.filter(col("event_type") === "purchase")
        .join(firsts, Seq("user_id"))
        .filter(col("c_us").isNotNull && col("us") >= col("c_us"))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("p_us"), min(col("c_us")).as("c0"))
        .select(col("user_id"),
          expr("(p_us - c0) div 1000000").as("delay_s"),
          expr("(p_us div 1000000) div 86400").as("conv_day"))
      delays.groupBy(col("conv_day"))
        .agg(count(lit(1)).as("n_converters"),
          expr("percentile(delay_s, array(0.5, 0.9))").as("ps"),
          max(col("delay_s")).as("max_delay_s"))
        .select(col("conv_day"), col("n_converters"),
          round(element_at(col("ps"), 1), 4).as("p50_s"),
          round(element_at(col("ps"), 2), 4).as("p90_s"),
          col("max_delay_s"))
        .orderBy("conv_day")
    }),

    // DAU / WAU / MAU STICKINESS (the growth trinity — q138's
    // rolling sketch distinct is the 100 TB APPROXIMATE path; this
    // is its EXACT batch counterpart, the pair every metrics stack
    // keeps): per day, distinct users that day / trailing 7 / 28,
    // plus the DAU:WAU and WAU:MAU ratios as integer ppm. Shape:
    // the user-day DISTINCT table (the one shuffle that matters)
    // explodes each row to the ≤28 target days it supports
    // (row-local; wire = user-days × 28, day-bounded), joins the
    // observed-day list (month-sized, broadcast) so phantom trailing
    // days past the fixture never report, and ONE aggregate computes
    // all three distincts via conditional counts. The ×3 Expand of
    // the fanned table is the exact path's inherent price — at
    // production scale you flip to the q138 sketch table and pay
    // 4 KB per (day, window) instead.
    "q238_stickiness" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ud = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val days = ud.select(col("day")).distinct()
      val agg = ud
        .select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(27))).as("off"))
        .withColumn("target", expr("date_add(day, off)"))
        .join(broadcast(days.select(col("day").as("target"))), Seq("target"))
        .groupBy(col("target").as("day"))
        .agg(
          countDistinct(when(col("off") === 0, col("user_id"))).as("dau"),
          countDistinct(when(col("off") < 7, col("user_id"))).as("wau"),
          countDistinct(col("user_id")).as("mau"))
      agg.select(col("day").cast("string").as("day"),
          col("dau"), col("wau"), col("mau"),
          expr("(dau * 1000000) div wau").as("dau_wau_ppm"),
          expr("(wau * 1000000) div mau").as("wau_mau_ppm"))
        .orderBy("day")
    }),

    // PEAK CONCURRENCY per day (the classic +1/−1 interval sweep —
    // "how many sessions were live at the busiest instant", the
    // capacity-planning number): each event opens a 10-minute
    // activity interval; intervals CLIP at midnight (the crossing
    // tail re-opens in the next day), so the sweep PARTITIONS BY DAY
    // — no global single-partition sort, the q124 funnel rule (a
    // cross-midnight session counts in both days' peaks, which is
    // the number capacity planning wants anyway). Within a day:
    // order points by (second, delta) with closes (−1) before opens
    // (+1) — half-open semantics, an interval ending at t never
    // overlaps one starting at t — take the running sum, and the
    // peak is the max AT OPEN points (concurrency only rises there;
    // ties at one second resolve to the same max whatever their
    // internal order, so the per-day result is total-order-free).
    "q248_peak_concurrency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val iv = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 1000000").as("s0"))
        .withColumn("e0", col("s0") + 600L)
        .withColumn("day", expr("s0 div 86400"))
        .withColumn("day_end", (col("day") + 1) * 86400L)
      val segs = iv.select(explode(concat(
          array(struct(col("day"), col("s0").as("a"),
            least(col("e0"), col("day_end")).as("b"))),
          when(col("e0") > col("day_end"),
            array(struct((col("day") + 1).as("day"),
              col("day_end").as("a"), col("e0").as("b"))))
            .otherwise(array().cast(
              "array<struct<day:bigint,a:bigint,b:bigint>>")))).as("g"))
        .select(col("g.day").as("day"), col("g.a").as("a"), col("g.b").as("b"))
      val points = segs.select(col("day"), col("a").as("sec"),
          lit(1L).as("delta"))
        .unionByName(segs.select(col("day"), col("b").as("sec"),
          lit(-1L).as("delta")))
      val sweep = Window.partitionBy("day").orderBy("sec", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      points.withColumn("live", sum(col("delta")).over(sweep))
        .filter(col("delta") === 1)
        .groupBy(col("day"))
        .agg(max(col("live")).as("peak_concurrent"),
          count(lit(1)).as("n_opens"))
        .select(expr("CAST(day AS BIGINT)").as("epoch_day"),
          col("peak_concurrent"), col("n_opens"))
        .orderBy("epoch_day")
    }),

    // FORECAST-ACCURACY REPORT (SMAPE — closes q197's monitoring
    // loop: the baseline model's errors, not just its alerts): a
    // per-(type, hour-of-day) mean-value baseline TRAINS on days
    // 1–20 and is evaluated on days 21+; per type, the symmetric
    // MAPE over evaluation cells. Time-split discipline (train
    // strictly before eval — the q195 leakage rule on the time
    // axis); cell means as exact decimal sums with ONE double
    // division; per-cell SMAPE terms quantized to DECIMAL(18,8)
    // before the per-type mean (order-free); a both-zero cell
    // contributes 0 (standard SMAPE convention — the NaN would
    // null-silently in Spark but raise in DuckDB). Baseline is
    // (types × 24)-sized — broadcast to the eval cells.
    "q250_forecast_smape" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), hour(col("ts")).as("hod"),
          to_date(col("ts")).as("day"),
          round(col("value"), 2).cast("decimal(18,2)").as("v"))
      val cut = lit("2024-01-21").cast("date")
      val baseline = ev.filter(col("day") < cut)
        .groupBy(col("event_type"), col("hod"))
        .agg((sum(col("v")).cast("double") / count(lit(1))).as("pred"))
      val actual = ev.filter(col("day") >= cut)
        .groupBy(col("event_type"), col("hod"), col("day"))
        .agg((sum(col("v")).cast("double") / count(lit(1))).as("act"))
      actual.join(broadcast(baseline), Seq("event_type", "hod"))
        .withColumn("term",
          when(abs(col("act")) + abs(col("pred")) === 0.0,
            lit(0).cast("decimal(18,8)"))
          .otherwise(round(abs(col("act") - col("pred")) /
            ((abs(col("act")) + abs(col("pred"))) / 2.0), 8)
            .cast("decimal(18,8)")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("term")).cast("double") / count(lit(1)), 6)
            .as("smape"))
        .orderBy("event_type")
    }),

    // WILSON CONFIDENCE INTERVALS for conversion rates (the
    // closed-form the q226 sequential monitor's fixed-horizon
    // sibling reports — Wilson 1927, the interval that behaves at
    // small n and extreme p where the naive Wald interval leaks
    // outside [0, 1]): per event type, "conversion" = value > 40
    // (q226's success), the 95% lower/upper bounds from integer
    // (successes, trials) through ONE fixed IEEE tree each (q169's
    // recombination discipline — z² enters as the literal 3.8416 =
    // 1.96², never a float product chain). Counts come from one
    // scan-group pass; everything after is row-local arithmetic on
    // a type-sized table.
    "q251_wilson_interval" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val counts = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(round(col("value"), 2).cast("decimal(18,2)") > 40, 1L)
            .otherwise(0L)).as("x"))
      val z2 = lit(3.8416) // 1.96²
      val nD = col("n").cast("double")
      val pD = col("x").cast("double") / nD
      val denom = lit(1.0) + z2 / nD
      val center = (pD + z2 / (lit(2.0) * nD)) / denom
      val half = (lit(1.96) * sqrt(pD * (lit(1.0) - pD) / nD +
        z2 / (lit(4.0) * nD * nD))) / denom
      counts.select(col("event_type"), col("n"), col("x"),
          round(pD, 6).as("p_hat"),
          round(center - half, 6).as("wilson_lo"),
          round(center + half, 6).as("wilson_hi"))
        .orderBy("event_type")
    }),

    // MODAL ACTION / MAJORITY-VOTE AGGREGATION (the plurality-label
    // primitive — aggregating annotator votes, weak-supervision
    // labels, or here each user's dominant action — with its
    // agreement share): per user, the event_type with the highest
    // count, tie-broken DETERMINISTICALLY to the lexicographically
    // last type (one max over (count, type) structs — both engines
    // compare the pair identically), plus agreement in integer ppm.
    // Scale shape: two map-side-combined aggregates on (user, type)
    // then user — NO window, NO per-user sort; the struct-max is the
    // argmax that keeps the whole op in partial aggregation, the
    // form that survives a billion users. Agreement = modal count
    // over total as exact integer ppm.
    "q255_modal_action" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val c = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      c.groupBy(col("user_id"))
        .agg(sum(col("cnt")).as("n_events"),
          max(struct(col("cnt"), col("event_type"))).as("m"))
        .select(col("user_id"), col("n_events"),
          col("m.event_type").as("modal_action"),
          col("m.cnt").as("n_modal"))
        .withColumn("agreement_ppm",
          expr("(n_modal * 1000000) div n_events"))
        .orderBy("user_id")
    }),
  )

  /** Once-per-session setup for q134: the per-(event_type, day) sketch
    * rows persisted DAY-PARTITIONED (Warehouse.writePartitioned) — the
    * rollup-table layout an ingest pipeline writes one partition per
    * window. Memoized per (application, fixture dir); TempDirs scratch
    * self-cleans at JVM exit. */
  private val sketchPaths =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def sketchTablePath(s: org.apache.spark.sql.SparkSession,
                              dir: String): String =
    sketchPaths.synchronized {
      sketchPaths.getOrElseUpdate((s.sparkContext.applicationId, dir), {
        import org.apache.spark.sql.functions._
        val path = graft.TempDirs.scratch("graft-sketch-")
        graft.pipeline.Warehouse.writePartitioned(
          graft.ops.Sketch.buildSketches(
            Tables.events(s, dir).withColumn("day", to_date(col("ts"))),
            "user_id", lgK = 12, col("event_type"), col("day")),
          path, "day")
        path
      })
    }

  /** Once-per-session setup for q143: per-day approx_top_k sketches
    * persisted day-partitioned — the heavy-hitter face of the q134
    * rollup table. Memoized per (application, fixture dir). */
  private val topkSketchPaths =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def topkSketchTablePath(s: org.apache.spark.sql.SparkSession,
                                  dir: String): String =
    topkSketchPaths.synchronized {
      topkSketchPaths.getOrElseUpdate((s.sparkContext.applicationId, dir), {
        import org.apache.spark.sql.functions._
        val path = graft.TempDirs.scratch("graft-topk-sketch-")
        graft.pipeline.Warehouse.writePartitioned(
          Tables.events(s, dir)
            .withColumn("day", to_date(col("ts")))
            .groupBy(col("day"))
            .agg(expr("approx_top_k_accumulate(event_type, 64)").as("sk")),
          path, "day")
        path
      })
    }

  /** Once-per-session setup for q319: per-(event_type, day) KLL
    * quantile sketches persisted day-partitioned — the percentile
    * face of the q134/q143 rollup table. Memoized per (application,
    * fixture dir). */
  private val kllSketchPaths =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def kllSketchTablePath(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String =
    kllSketchPaths.synchronized {
      kllSketchPaths.getOrElseUpdate((s.sparkContext.applicationId, dir), {
        import org.apache.spark.sql.functions._
        val path = graft.TempDirs.scratch("graft-kll-sketch-")
        // k = 16384 keeps every fixture-scale sketch AND their merges
        // under capacity (max merged n = 10,244 at sf0.1), so the
        // quantiles are EXACT inclusive order statistics and q319
        // hash-gates its values (the q143 under-capacity discipline);
        // production dials k down by the ~1/k rank-error / size trade
        graft.pipeline.Warehouse.writePartitioned(
          graft.ops.Sketch.buildKllSketches(
            Tables.events(s, dir)
              .filter(col("value").isNotNull)
              .withColumn("day", to_date(col("ts"))),
            col("value"), k = 16384, col("event_type"), col("day")),
          path, "day")
        path
      })
    }

  val oracles: Map[String, String] = Map(

    "q340_burn_rate" ->
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS e
        |  FROM events GROUP BY 1),
        |tw AS (
        |  SELECT a.h AS epoch_hour, max(a.n) AS n1, max(a.e) AS e1,
        |         CAST(sum(b.n) AS BIGINT) AS n6,
        |         CAST(sum(b.e) AS BIGINT) AS e6
        |  FROM hourly a JOIN hourly b
        |    ON b.h >= a.h - 5 AND b.h <= a.h
        |  GROUP BY a.h)
        |SELECT epoch_hour, n1, e1, n6, e6,
        |       round(CAST(e1 AS DOUBLE) / n1, 6) AS rate_1h,
        |       round(CAST(e6 AS DOUBLE) / n6, 6) AS rate_6h,
        |       CAST(CASE WHEN e1 * 1000 > n1 * 216
        |                  AND e6 * 1000 > n6 * 216
        |            THEN 1 ELSE 0 END AS BIGINT) AS alert
        |FROM tw ORDER BY epoch_hour""".stripMargin,
    // exact counts: 6 event types < 64 sketch slots ⇒ the sketch
    // estimate is exact and the whole persisted lifecycle hash-gates.
    "q143_topk_sketch_rollup" ->
      """SELECT event_type, count(*) AS n_events
        |FROM events
        |WHERE CAST(ts AS DATE) < DATE '2024-01-16'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // under-capacity KLL ⇒ quantiles are inclusive order statistics:
    // the index-th smallest (1-based), index = ceil(r·n) computed as
    // EXACT integer arithmetic — the library's own path for n ≤ 1e7
    // snaps r·n to 7 decimals before the ceil, so the two agree at
    // every boundary (bytecode-verified, r15). n is getN — exact.
    "q319_quantile_sketch_rollup" ->
      """WITH v AS (
        |  SELECT event_type, value AS val FROM events
        |  WHERE value IS NOT NULL AND CAST(ts AS DATE) < DATE '2024-01-16'),
        |r AS (
        |  SELECT event_type, val,
        |         row_number() OVER (PARTITION BY event_type ORDER BY val) rn,
        |         count(*) OVER (PARTITION BY event_type) n
        |  FROM v)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_values,
        |       round(max(CASE WHEN rn = (n + 1) // 2 THEN val END), 4) AS p50,
        |       round(max(CASE WHEN rn = (19 * n + 19) // 20 THEN val END), 4)
        |         AS p95,
        |       round(max(CASE WHEN rn = (99 * n + 99) // 100 THEN val END), 4)
        |         AS p99
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the trailing-7-day window replayed by an explicit day-range
    // join (calendar days, gaps excluded exactly like the RANGE
    // frame); same inclusive-order-statistic index rule as q319.
    "q321_rolling_quantile" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, value AS val
        |  FROM events WHERE value IS NOT NULL),
        |d AS (SELECT DISTINCT event_type, day FROM e),
        |w AS (
        |  SELECT d.event_type, d.day, e.val
        |  FROM d JOIN e ON e.event_type = d.event_type
        |   AND e.day >= d.day - 6 AND e.day <= d.day),
        |r AS (
        |  SELECT event_type, day, val,
        |         row_number() OVER (PARTITION BY event_type, day
        |                            ORDER BY val) rn,
        |         count(*) OVER (PARTITION BY event_type, day) n
        |  FROM w)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |       CAST(max(n) AS BIGINT) AS n7,
        |       round(max(CASE WHEN rn = (n + 1) // 2 THEN val END), 4)
        |         AS p50_7d,
        |       round(max(CASE WHEN rn = (19 * n + 19) // 20 THEN val END), 4)
        |         AS p95_7d
        |FROM r GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,
    // the INDEPENDENT formulation: a plain inequality join (fine at
    // fixture scale in DuckDB) — the Spark side must reproduce it
    // through binning exactly.
    "q130_interval_join" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_event, epoch_us(ts) AS p_start,
        |         epoch_us(ts) + 3600000000 AS p_end
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS c_event, epoch_us(ts) AS c_start,
        |         epoch_us(ts) + 600000000 AS c_end
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id AS user_id, p_event, c_event
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND p_start < c_end AND c_start < p_end
        |ORDER BY p.user_id, p_event, c_event""".stripMargin,
    // decimal-weighted sum mirrors the Spark cast-before-product
    // discipline; the one double division happens identically last.
    "q131_twap" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (
        |  SELECT user_id,
        |         lead(ts_us) OVER (PARTITION BY user_id
        |                           ORDER BY ts_us, event_id) - ts_us AS dur_us,
        |         value
        |  FROM p)
        |SELECT user_id, count(*) AS n_intervals,
        |       CAST(sum(dur_us) AS BIGINT) AS span_us,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2)) * dur_us)
        |                  AS DOUBLE) / CAST(sum(dur_us) AS DOUBLE), 4)
        |         AS twap
        |FROM d WHERE dur_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // change detection via IS DISTINCT FROM (the <=> mirror), first
    // row kept explicitly; intervals from lead over the same order.
    "q128_scd2_build" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(floor(value / 20) AS BIGINT) AS tier
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (
        |  SELECT *, row_number() OVER w AS rn, lag(tier) OVER w AS prev
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT user_id, ts, event_id, tier FROM d
        |  WHERE rn = 1 OR tier IS DISTINCT FROM prev),
        |v AS (
        |  SELECT *, lead(ts) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS eff_to
        |  FROM c)
        |SELECT user_id, event_id, tier,
        |       epoch_us(ts) AS from_us, epoch_us(eff_to) AS to_us,
        |       eff_to IS NULL AS is_current
        |FROM v ORDER BY user_id, from_us""".stripMargin,
    // INDEPENDENT formulation of the effective-dated lookup: the q128
    // SCD2 CTE plus the textbook range predicate. The Spark side is a
    // joinless as-of composition; equality here proves the collapse.
    "q161_scd2_lookup" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(floor(value / 20) AS BIGINT) AS tier
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (
        |  SELECT *, row_number() OVER w AS rn, lag(tier) OVER w AS prev
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT user_id, ts, event_id, tier FROM d
        |  WHERE rn = 1 OR tier IS DISTINCT FROM prev),
        |v AS (
        |  SELECT *, lead(ts) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS eff_to
        |  FROM c)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, v.tier
        |FROM events e LEFT JOIN v
        |  ON v.user_id = e.user_id AND v.ts <= e.ts
        |     AND (v.eff_to IS NULL OR e.ts < v.eff_to)
        |WHERE e.event_type = 'click'
        |ORDER BY e.event_id""".stripMargin,
    // funnel cascade: stage-k time = min ts of the stage event type
    // STRICTLY AFTER the stage-(k-1) time. Timestamps are unique per
    // user at microsecond granularity, so > vs >= cannot diverge.
    "q112_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |  JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
        |SELECT u.user_id,
        |       CASE WHEN t4 IS NOT NULL THEN 4
        |            WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
        |       epoch_us(t1) AS signup_us, epoch_us(t2) AS view_us,
        |       epoch_us(t3) AS click_us, epoch_us(t4) AS purchase_us
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN s1 ON u.user_id = s1.user_id
        |LEFT JOIN s2 ON u.user_id = s2.user_id
        |LEFT JOIN s3 ON u.user_id = s3.user_id
        |LEFT JOIN s4 ON u.user_id = s4.user_id
        |ORDER BY u.user_id""".stripMargin,
    // weekly retention: date_trunc('week', …) is Monday-aligned in
    // both engines; offsets are exact multiples of 7 days.
    "q113_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_wk
        |  FROM events GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM events)
        |SELECT strftime(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
        |       CAST(datediff('day', c.cohort_wk, a.wk) / 7 AS INT)
        |         AS week_offset,
        |       count(DISTINCT a.user_id) AS n_users
        |FROM active a JOIN cohort c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    // gaps-and-islands with a 30-minute boundary; the gap compares
    // whole seconds (epoch-second cast) exactly as the Spark side.
    "q315_order_reconciliation" ->
      """WITH lines AS (
        |  SELECT l_orderkey,
        |         sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |             AS DECIMAL(18,4))) AS lt
        |  FROM lineitem GROUP BY l_orderkey),
        |j AS (
        |  SELECT CAST(o_totalprice AS DECIMAL(18,4)) AS header,
        |         coalesce(lines.lt, CAST(0 AS DECIMAL(18,4))) AS lt
        |  FROM orders LEFT JOIN lines ON o_orderkey = l_orderkey),
        |b AS (
        |  SELECT 'header' AS source, header, lt FROM j
        |  UNION ALL
        |  SELECT 'restated' AS source, lt AS header, lt FROM j)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CASE WHEN header = lt THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_exact,
        |       CAST(sum(CASE WHEN abs(header - lt) * 100 <= header
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
        |       round(CAST(max(abs(header - lt)) AS DOUBLE), 4) AS max_abs_diff
        |FROM b GROUP BY source ORDER BY source""".stripMargin,
    "q316_rapid_repeat_purchases" ->
      """WITH p AS (
        |  SELECT user_id, value, event_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |       abs(a.us - b.us) AS gap_us,
        |       round(a.value, 4) AS v_a, round(b.value, 4) AS v_b,
        |       (abs(a.value - b.value) * 20
        |          <= greatest(a.value, b.value)) AS same_amount_5pct
        |FROM p a JOIN p b
        |  ON a.user_id = b.user_id
        | AND a.event_id < b.event_id
        | AND abs(a.us - b.us) <= 600000000
        |ORDER BY a.user_id, id_a, id_b""".stripMargin,
    "q314_entry_exit_bounce" ->
      """WITH m AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         sum(new_s) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |per AS (
        |  SELECT user_id, sid, count(*) AS n,
        |         min(struct_pack(ts := ts, event_id := event_id,
        |                         event_type := event_type)) AS f,
        |         max(struct_pack(ts := ts, event_id := event_id,
        |                         event_type := event_type)) AS l
        |  FROM s GROUP BY user_id, sid),
        |e AS (
        |  SELECT f.event_type AS event_type,
        |         CAST(count(*) AS BIGINT) AS n_entries,
        |         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_bounces
        |  FROM per GROUP BY f.event_type),
        |x AS (
        |  SELECT l.event_type AS event_type,
        |         CAST(count(*) AS BIGINT) AS n_exits
        |  FROM per GROUP BY l.event_type)
        |SELECT coalesce(e.event_type, x.event_type) AS event_type,
        |       coalesce(e.n_entries, 0) AS n_entries,
        |       coalesce(x.n_exits, 0) AS n_exits,
        |       coalesce(e.n_bounces, 0) AS n_bounces,
        |       CASE WHEN coalesce(e.n_entries, 0) > 0
        |            THEN round(CAST(coalesce(e.n_bounces, 0) AS DOUBLE)
        |                       / e.n_entries, 6) END AS bounce_rate
        |FROM e FULL OUTER JOIN x ON e.event_type = x.event_type
        |ORDER BY event_type""".stripMargin,
    "q114_gap_sessions" ->
      """WITH m AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(new_s) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_seq, count(*) AS n_events,
        |       epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_seq""".stripMargin,
    // per-second max collapses ties before DuckDB's native ASOF join,
    // so both engines fill from a unique observation.
    "q156_gap_fill" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS es, max(value) AS value
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id, (min(es) // 3600) * 3600 AS t0,
        |         (max(es) // 3600) * 3600 AS t1
        |  FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(range(t0, t1 + 1, 3600)) AS grid_s FROM b)
        |SELECT g.user_id, g.grid_s, round(e.value, 4) AS filled_value
        |FROM grid g ASOF LEFT JOIN ev e
        |  ON g.user_id = e.user_id AND e.es <= g.grid_s
        |ORDER BY g.user_id, g.grid_s""".stripMargin,
    // zero-observed cells materialize from the margin cross join; the
    // contrib expression is written out so both engines run the same
    // multiply-divide tree.
    "q157_chi_square" ->
      """WITH obs AS (SELECT lang, source, count(*) AS obs
        |             FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM documents)
        |SELECT r.lang, c.source, coalesce(obs.obs, 0) AS observed,
        |       round((n_lang * n_source)::DOUBLE / n, 4) AS expected,
        |       round((coalesce(obs.obs, 0) - (n_lang * n_source)::DOUBLE / n)
        |             * (coalesce(obs.obs, 0) - (n_lang * n_source)::DOUBLE / n)
        |             / ((n_lang * n_source)::DOUBLE / n), 6) AS contrib
        |FROM r CROSS JOIN c CROSS JOIN t
        |LEFT JOIN obs ON obs.lang = r.lang AND obs.source = c.source
        |ORDER BY r.lang, c.source""".stripMargin,
    // integer products inside ln, one division, 10dp decimal terms —
    // the exact mirror of the Spark side's parity discipline.
    "q168_mutual_info" ->
      """WITH obs AS (SELECT lang, source, count(*) AS c_xy
        |             FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, count(*) AS c_x FROM documents GROUP BY 1),
        |c AS (SELECT source, count(*) AS c_y FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM documents)
        |SELECT obs.lang, count(*) AS n_cells,
        |       CAST(sum(CAST(round(
        |         (c_xy::DOUBLE / n::DOUBLE) *
        |         ln((c_xy * n)::DOUBLE / (c_x * c_y)::DOUBLE), 10)
        |         AS DECIMAL(24,10))) AS DOUBLE) AS mi_part
        |FROM obs JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t
        |GROUP BY obs.lang ORDER BY lang""".stripMargin,
    // same gap rule; string_agg with ORDER BY replays the sorted path.
    "q180_session_paths" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us >= 3600000000
        |                     THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS session_id
        |  FROM g),
        |p AS (
        |  SELECT user_id, session_id,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY user_id, session_id)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // same total orders, same integer rank bucketing.
    "q179_rfm_segments" ->
      """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS d, value
        |           FROM events WHERE event_type = 'purchase'),
        |ref AS (SELECT max(d) AS ref_date FROM p),
        |b AS (
        |  SELECT user_id,
        |         CAST(datediff('day', max(d), ref_date) AS INT) AS r_days,
        |         count(*) AS f,
        |         sum(CAST(value AS DECIMAL(18,2))) AS m
        |  FROM p CROSS JOIN ref
        |  GROUP BY user_id, ref_date),
        |n AS (SELECT count(*) AS n_users FROM b),
        |s AS (
        |  SELECT user_id, r_days, f, m,
        |         5 - ((row_number() OVER (ORDER BY r_days, user_id) - 1) * 5)
        |             // n_users AS r_score,
        |         5 - ((row_number() OVER (ORDER BY f DESC, user_id) - 1) * 5)
        |             // n_users AS f_score,
        |         5 - ((row_number() OVER (ORDER BY m DESC, user_id) - 1) * 5)
        |             // n_users AS m_score
        |  FROM b CROSS JOIN n)
        |SELECT user_id, r_days, CAST(f AS BIGINT) AS f,
        |       CAST(m AS DOUBLE) AS m,
        |       CAST(r_score AS INT) AS r_score,
        |       CAST(f_score AS INT) AS f_score,
        |       CAST(m_score AS INT) AS m_score,
        |       'R' || r_score || 'F' || f_score || 'M' || m_score AS segment
        |FROM s ORDER BY user_id""".stripMargin,
    // same integer x, same decimal moments, same IEEE recombination.
    "q175_trend_slope" ->
      """WITH p AS (
        |  SELECT user_id,
        |         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |              AS BIGINT) AS x,
        |         CAST(round(value, 4) AS DECIMAL(18,4)) AS y
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |m AS (
        |  SELECT user_id, count(*) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM p GROUP BY user_id)
        |SELECT user_id, n,
        |       round((n::DOUBLE * sxy - sx::DOUBLE * sy)
        |             / ((n * sxx - sx * sx)::DOUBLE), 6) AS slope,
        |       round((sy - (n::DOUBLE * sxy - sx::DOUBLE * sy)
        |                   / ((n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
        |             / n::DOUBLE, 6) AS intercept
        |FROM m WHERE n >= 2 AND n * sxx - sx * sx <> 0
        |ORDER BY user_id""".stripMargin,
    // RANGE-frame running counts so ties enter together, mirrored.
    "q176_ks_test" ->
      """WITH ev AS (
        |  SELECT event_type, value,
        |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':13'), 1, 2)
        |              < '80' THEN 1 ELSE 0 END AS arm
        |  FROM events WHERE value IS NOT NULL),
        |n AS (SELECT event_type, CAST(sum(arm) AS BIGINT) AS n_a,
        |             CAST(sum(1 - arm) AS BIGINT) AS n_b
        |      FROM ev GROUP BY 1),
        |c AS (
        |  SELECT event_type,
        |         sum(arm) OVER w AS ca, sum(1 - arm) OVER w AS cb
        |  FROM ev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value
        |               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT c.event_type, n.n_a, n.n_b,
        |       round(max(abs(ca::DOUBLE / n_a::DOUBLE
        |                     - cb::DOUBLE / n_b::DOUBLE)), 6) AS ks_d
        |FROM c JOIN n USING (event_type)
        |WHERE n_a > 0 AND n_b > 0
        |GROUP BY c.event_type, n.n_a, n.n_b
        |ORDER BY event_type""".stripMargin,
    // both-sided buckets only; integer products inside ln; 10dp
    // decimal terms.
    "q177_psi" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(floor(value / 10) AS BIGINT) AS bucket,
        |         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |              THEN 1 ELSE 2 END AS period
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (
        |  SELECT event_type, bucket,
        |         CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM ev GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM ev GROUP BY 1),
        |terms AS (
        |  SELECT cells.event_type,
        |         CASE WHEN c1 > 0 AND c2 > 0 THEN
        |           CAST(round((c1::DOUBLE / n1::DOUBLE - c2::DOUBLE / n2::DOUBLE)
        |                * ln((c1 * n2)::DOUBLE / (c2 * n1)::DOUBLE), 10)
        |                AS DECIMAL(24,10))
        |         END AS term
        |  FROM cells JOIN t USING (event_type))
        |SELECT event_type, count(term) AS n_buckets,
        |       count(*) - count(term) AS n_dropped,
        |       CAST(sum(term) AS DOUBLE) AS psi
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,
    // open/close via row_number over the (ts, event_id) total order —
    // independent of min_by/max_by.
    "q174_ohlc_bars" ->
      """WITH b AS (
        |  SELECT strftime(time_bucket(INTERVAL '1 day', ts),
        |                  '%Y-%m-%d %H:%M:%S') AS window_start,
        |         event_type, value,
        |         row_number() OVER w AS rn_open,
        |         row_number() OVER (PARTITION BY time_bucket(INTERVAL '1 day', ts), event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rn_close
        |  FROM events
        |  WINDOW w AS (PARTITION BY time_bucket(INTERVAL '1 day', ts), event_type
        |               ORDER BY ts, event_id))
        |SELECT window_start, event_type, count(*) AS n,
        |       max(CASE WHEN rn_open = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_close = 1 THEN value END) AS close
        |FROM b GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
    // same distinct day grid, same integer datediff arithmetic.
    "q173_coverage_audit" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |           FROM events),
        |g AS (SELECT user_id, day,
        |             datediff('day', lag(day) OVER (PARTITION BY user_id
        |                                            ORDER BY day), day) - 1
        |               AS gap
        |      FROM d)
        |SELECT user_id,
        |       count(*) AS n_active_days,
        |       strftime(min(day), '%Y-%m-%d') AS first_day,
        |       strftime(max(day), '%Y-%m-%d') AS last_day,
        |       CAST(datediff('day', min(day), max(day)) + 1 AS INT)
        |         AS span_days,
        |       CAST(datediff('day', min(day), max(day)) + 1 - count(*) AS BIGINT)
        |         AS n_missing,
        |       CAST(max(coalesce(gap, 0)) AS INT) AS longest_gap
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same md5 arm coin, same exact decimal moments, same fixed IEEE
    // recombination order — term for term.
    "q169_welch_ttest" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':13'), 1, 2)
        |              < '80' THEN 'a' ELSE 'b' END AS arm,
        |         CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |st AS (
        |  SELECT event_type, arm, count(*) AS n,
        |         sum(v) AS sx, sum(v * v) AS sxx
        |  FROM ev GROUP BY 1, 2),
        |w AS (
        |  SELECT a.event_type,
        |         a.n AS n_a, b.n AS n_b,
        |         CAST(a.sx AS DOUBLE) AS sxa, CAST(a.sxx AS DOUBLE) AS sxxa,
        |         CAST(b.sx AS DOUBLE) AS sxb, CAST(b.sxx AS DOUBLE) AS sxxb
        |  FROM st a JOIN st b ON a.event_type = b.event_type
        |  WHERE a.arm = 'a' AND b.arm = 'b' AND a.n >= 2 AND b.n >= 2),
        |k AS (
        |  SELECT *,
        |         (sxxa - sxa * sxa / n_a) / (n_a - 1) AS s2a,
        |         (sxxb - sxb * sxb / n_b) / (n_b - 1) AS s2b
        |  FROM w)
        |SELECT event_type, n_a, n_b,
        |       round(sxa / n_a, 4) AS mean_a, round(sxb / n_b, 4) AS mean_b,
        |       round((sxa / n_a - sxb / n_b)
        |             / sqrt(s2a / n_a + s2b / n_b), 6) AS t_stat,
        |       round((s2a / n_a + s2b / n_b) * (s2a / n_a + s2b / n_b)
        |             / ((s2a / n_a) * (s2a / n_a) / (n_a - 1)
        |                + (s2b / n_b) * (s2b / n_b) / (n_b - 1)), 4) AS df
        |FROM k ORDER BY event_type""".stripMargin,
    // med/mad quantized at 4dp first (q29's parity envelope), then the
    // z arithmetic is identical IEEE in both engines.
    "q149_robust_outliers" ->
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |         round(quantile_cont(abs(e.value - med), 0.5), 4) AS mad
        |  FROM events e JOIN med USING (event_type) GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |       round(abs(e.value - med) / (1.4826 * mad), 4) AS z
        |FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
        |WHERE mad > 0 AND abs(e.value - med) / (1.4826 * mad) > 3.0
        |ORDER BY event_id""".stripMargin,
    // q114's sessionization + per-session ordinal, purchase-to-prior
    // credit join, decimal-quantized equal split.
    "q159_linear_attribution" ->
      """WITH m AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         sum(new_s) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |o AS (
        |  SELECT user_id, sid, event_type, value,
        |         row_number() OVER (PARTITION BY user_id, sid
        |           ORDER BY ts, event_id) AS ord
        |  FROM s),
        |p AS (SELECT user_id, sid, ord AS p_ord, ord - 1 AS n_prior,
        |             value AS p_value
        |      FROM o WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT t.event_type,
        |         CAST(p.p_value / greatest(p.n_prior, 1) AS DECIMAL(18,6)) AS credit
        |  FROM p JOIN o t ON t.user_id = p.user_id AND t.sid = p.sid
        |   AND (t.ord < p.p_ord OR (p.n_prior = 0 AND t.ord = p.p_ord)))
        |SELECT event_type, count(*) AS n_touches,
        |       CAST(sum(credit) AS DOUBLE) AS credited_value
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q114's sessionization replayed, then ordered-first aggregate per
    // session; decimal accumulation before the double surface.
    "q152_attribution" ->
      """WITH m AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         sum(new_s) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |g AS (
        |  SELECT user_id, sid,
        |         first(event_type ORDER BY ts, event_id) AS first_touch,
        |         sum(CASE WHEN event_type = 'purchase'
        |                  THEN CAST(value AS DECIMAL(18,2))
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS pv
        |  FROM s GROUP BY user_id, sid)
        |SELECT first_touch, count(*) AS n_sessions,
        |       CAST(sum(pv) AS DOUBLE) AS attributed_value
        |FROM g GROUP BY first_touch ORDER BY first_touch""".stripMargin,
    // same first-8-events prefix, same greedy-earliest embedding:
    // first-a, earliest-b-after, any-c-after, DISTINCT user
    // attribution
    "q385_gsp3" ->
      """WITH ev0 AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |  FROM events),
        |ev AS (SELECT user_id, event_type, t FROM ev0 WHERE rn <= 8),
        |fa AS (SELECT user_id, event_type AS a, min(t) AS t1
        |       FROM ev GROUP BY 1, 2),
        |fab AS (SELECT f.user_id, f.a, e.event_type AS b, min(e.t) AS t2
        |        FROM fa f JOIN ev e ON f.user_id = e.user_id
        |                           AND e.t > f.t1
        |        GROUP BY 1, 2, 3),
        |sup AS (SELECT DISTINCT f.a, f.b, e.event_type AS c, f.user_id
        |        FROM fab f JOIN ev e ON f.user_id = e.user_id
        |                            AND e.t > f.t2)
        |SELECT a, b, c, CAST(count(*) AS BIGINT) AS support
        |FROM sup GROUP BY 1, 2, 3 ORDER BY a, b, c""".stripMargin,

    // same md5 arm coin, exact counts, identical IEEE z tree; the
    // verdict reads the ROUNDED z on both sides
    "q386_two_proportion" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |                            THEN 1 ELSE 0 END) >= 14
        |              THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |arms AS (
        |  SELECT CAST(('0x' || substr(md5('ab:' || user_id), 1, 4))
        |              AS BIGINT) % 2 AS arm, conv
        |  FROM u),
        |agg AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(conv) AS BIGINT) AS x
        |        FROM arms GROUP BY arm),
        |a0 AS (SELECT n AS n1, x AS x1 FROM agg WHERE arm = 0),
        |a1 AS (SELECT n AS n2, x AS x2 FROM agg WHERE arm = 1),
        |res AS (
        |  SELECT n1, x1, n2, x2,
        |         round(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
        |         round(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2,
        |         round((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |                - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |               sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |                    * (1.0 - CAST(x1 + x2 AS DOUBLE)
        |                             / CAST(n1 + n2 AS DOUBLE))
        |                    * (1.0 / CAST(n1 AS DOUBLE)
        |                       + 1.0 / CAST(n2 AS DOUBLE))), 6) AS z
        |  FROM a0, a1)
        |SELECT n1, x1, n2, x2, p1, p2, z,
        |       CASE WHEN z > 1.96 OR z < -1.96 THEN 'reject'
        |            ELSE 'retain' END AS verdict
        |FROM res""".stripMargin,

    // same per-(user, type) lag, same minute floor-div, exact BIGINT
    // moments, the identical IEEE mean/dispersion trees
    "q384_interarrival" ->
      """WITH gaps AS (
        |  SELECT event_type,
        |         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |            PARTITION BY user_id, event_type
        |            ORDER BY ts, event_id)) // 60000000 AS g
        |  FROM events),
        |mo AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |         CAST(sum(g) AS BIGINT) AS sum_g,
        |         CAST(sum(g * g) AS BIGINT) AS sum_g2
        |  FROM gaps WHERE g IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_gaps, sum_g, sum_g2,
        |       round(CAST(sum_g AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6)
        |         AS mean_gap_min,
        |       round((CAST(sum_g2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
        |              - (CAST(sum_g AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |                * (CAST(sum_g AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
        |             / (CAST(sum_g AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 6)
        |         AS dispersion
        |FROM mo ORDER BY event_type""".stripMargin,

    // same lead() pair build, uniform 1e-12 start over the source
    // types, three unrolled pi <- piP steps with the (pi*n)//tot
    // per-cell truncation
    "q382_stationary" ->
      """WITH pairs AS (
        |  SELECT event_type AS src_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS dst_type
        |  FROM events),
        |counted AS (
        |  SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs WHERE dst_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src_type, CAST(sum(n) AS BIGINT) AS tot
        |        FROM counted GROUP BY 1),
        |nt AS (SELECT count(DISTINCT src_type) AS k FROM counted),
        |p0 AS (SELECT DISTINCT src_type AS event_type,
        |              CAST(1000000000000 // k AS BIGINT) AS pi_fp
        |       FROM counted, nt),
        |p1 AS (SELECT c.dst_type AS event_type,
        |              CAST(sum((p.pi_fp * c.n) // t.tot) AS BIGINT) AS pi_fp
        |       FROM counted c JOIN tot t USING (src_type)
        |            JOIN p0 p ON p.event_type = c.src_type
        |       GROUP BY 1),
        |p2 AS (SELECT c.dst_type AS event_type,
        |              CAST(sum((p.pi_fp * c.n) // t.tot) AS BIGINT) AS pi_fp
        |       FROM counted c JOIN tot t USING (src_type)
        |            JOIN p1 p ON p.event_type = c.src_type
        |       GROUP BY 1),
        |p3 AS (SELECT c.dst_type AS event_type,
        |              CAST(sum((p.pi_fp * c.n) // t.tot) AS BIGINT) AS pi_fp
        |       FROM counted c JOIN tot t USING (src_type)
        |            JOIN p2 p ON p.event_type = c.src_type
        |       GROUP BY 1)
        |SELECT event_type, pi_fp FROM p3 ORDER BY event_type""".stripMargin,

    "q115_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type AS src_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS dst_type
        |  FROM events),
        |counted AS (
        |  SELECT src_type, dst_type, count(*) AS n FROM pairs
        |  WHERE dst_type IS NOT NULL GROUP BY 1, 2)
        |SELECT src_type, dst_type, n,
        |       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src_type) AS DOUBLE) AS p
        |FROM counted ORDER BY src_type, dst_type""".stripMargin,
    // merge compaction ≡ latest-per-key over the whole table: ties in
    // ts cannot cross batch boundaries (same ts ⇒ same time partition),
    // and within a batch mergeBatch's max_by struct breaks them by
    // event_id next — event_id is unique, so ORDER BY ts DESC,
    // event_id DESC picks the identical winner.
    "q99_merge_snapshot" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id,
        |       event_type AS last_event_type, value AS last_value
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q63_stream_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
        |       epoch_us(c.ts) AS click_us,
        |       p.event_id AS purchase_id,
        |       epoch_us(p.ts) AS purchase_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '10 minutes'
        |ORDER BY click_id, purchase_id""".stripMargin,
    // Spark's window() aligns buckets to the epoch, exactly like
    // DuckDB's time_bucket.
    "q60_window_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // sliding(width=2d, slide=1d): an event at ts belongs to windows
    // starting at bucket(ts) and bucket(ts)-1d.
    "q61_window_sliding" ->
      """WITH u AS (
        |  SELECT unnest([time_bucket(INTERVAL '1 day', ts),
        |                 time_bucket(INTERVAL '1 day', ts) - INTERVAL '1 day']) AS ws,
        |         value
        |  FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM u GROUP BY ws ORDER BY window_start""".stripMargin,
    // session windows as gaps-and-islands: a new session starts when
    // the gap from the previous event (per user) is >= 1 hour — the
    // same boundary rule as Spark's exclusive session end.
    "q62_session_window" ->
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL '1 hour'
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // the full CMS lifecycle replayed: same md5 buckets, same counter
    // build, same min-over-rows probe.
    "q184_count_min" ->
      """WITH k AS (SELECT user_id, count(*) AS n_exact
        |           FROM events GROUP BY user_id),
        |h AS (
        |  SELECT e.user_id, t.r,
        |         CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':11:' ||
        |                CAST(e.user_id AS VARCHAR)), 1, 6)) AS BIGINT) % 64
        |           AS bucket
        |  FROM events e CROSS JOIN range(4) t(r)),
        |c AS (SELECT r, bucket, count(*) AS cnt FROM h GROUP BY r, bucket),
        |p AS (
        |  SELECT k.user_id, t.r,
        |         CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':11:' ||
        |                CAST(k.user_id AS VARCHAR)), 1, 6)) AS BIGINT) % 64
        |           AS bucket
        |  FROM k CROSS JOIN range(4) t(r)),
        |est AS (
        |  SELECT p.user_id, min(c.cnt) AS cm_est
        |  FROM p JOIN c USING (r, bucket) GROUP BY p.user_id)
        |SELECT k.user_id, k.n_exact, est.cm_est,
        |       est.cm_est - k.n_exact AS overcount
        |FROM k JOIN est USING (user_id) ORDER BY user_id""".stripMargin,
    // same running-max island rule over the same long micros.
    "q187_interval_coalesce" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s_us,
        |         epoch_us(ts) + 900000000 AS e_us
        |  FROM events),
        |f AS (
        |  SELECT user_id, s_us, e_us,
        |         max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |g AS (
        |  SELECT *, CASE WHEN pmax IS NULL OR s_us > pmax THEN 1 ELSE 0 END
        |              AS new_i
        |  FROM f),
        |i AS (
        |  SELECT *, sum(new_i) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |           ROWS UNBOUNDED PRECEDING) AS island
        |  FROM g)
        |SELECT user_id, min(s_us) AS "start", max(e_us) AS "end",
        |       count(*) AS n_merged
        |FROM i GROUP BY user_id, island
        |ORDER BY user_id, "start"""".stripMargin,
    // same exact moments, same IEEE recombination order.
    "q190_standardize" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |         CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, count(*) AS n, sum(v) AS sv,
        |         sum(v * v) AS svv, min(v) AS vmin, max(v) AS vmax
        |  FROM ev GROUP BY event_type)
        |SELECT event_id, ev.event_type, CAST(v AS DOUBLE) AS v,
        |       CASE WHEN svv::DOUBLE / n::DOUBLE
        |                 - (sv::DOUBLE / n::DOUBLE) * (sv::DOUBLE / n::DOUBLE)
        |                 > 0
        |            THEN round((v::DOUBLE - sv::DOUBLE / n::DOUBLE)
        |                       / sqrt(svv::DOUBLE / n::DOUBLE
        |                              - (sv::DOUBLE / n::DOUBLE)
        |                                * (sv::DOUBLE / n::DOUBLE)), 6)
        |            END AS z,
        |       CASE WHEN vmax <> vmin
        |            THEN round((v - vmin)::DOUBLE / (vmax - vmin)::DOUBLE, 6)
        |            END AS minmax
        |FROM ev JOIN m USING (event_type) ORDER BY event_id""".stripMargin,
    // same md5 fold coin, same exclusion arithmetic.
    "q195_target_encode" ->
      """WITH p AS (
        |  SELECT user_id, event_id,
        |         CAST(round(value, 2) AS DECIMAL(18,2)) AS y,
        |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':te'),
        |                              1, 6)) AS BIGINT) % 5 AS fold
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |u AS (SELECT user_id, count(*) AS n_u, sum(y) AS s_u
        |      FROM p GROUP BY user_id),
        |f AS (SELECT user_id, fold, count(*) AS n_uf, sum(y) AS s_uf
        |      FROM p GROUP BY user_id, fold)
        |SELECT f.user_id, f.fold,
        |       CAST(n_u - n_uf AS BIGINT) AS n_oof,
        |       CASE WHEN n_u > n_uf
        |            THEN round((s_u - s_uf)::DOUBLE
        |                       / (n_u - n_uf)::DOUBLE, 6) END AS enc
        |FROM f JOIN u USING (user_id)
        |ORDER BY user_id, fold""".stripMargin,
    // same seasonal cells, same moments, same recombination; naive
    // timestamps give the same UTC hour the pinned session sees.
    "q197_seasonal_anomaly" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, hour(ts) AS hod,
        |         CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, hod, count(*) AS n, sum(v) AS sv,
        |         sum(v * v) AS svv
        |  FROM ev GROUP BY event_type, hod),
        |z AS (
        |  SELECT event_id, ev.event_type, ev.hod, CAST(v AS DOUBLE) AS v,
        |         round((v::DOUBLE - sv::DOUBLE / n::DOUBLE)
        |               / sqrt(svv::DOUBLE / n::DOUBLE
        |                      - (sv::DOUBLE / n::DOUBLE)
        |                        * (sv::DOUBLE / n::DOUBLE)), 6) AS z
        |  FROM ev JOIN m USING (event_type, hod)
        |  WHERE n >= 12
        |    AND svv::DOUBLE / n::DOUBLE
        |        - (sv::DOUBLE / n::DOUBLE) * (sv::DOUBLE / n::DOUBLE) > 0)
        |SELECT * FROM z WHERE abs(z) > 2.0 ORDER BY event_id""".stripMargin,
    // same integer weights over the same lag chain, one division.
    "q200_ewma" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |l AS (
        |  SELECT event_id, user_id, v,
        |         lag(v, 0) OVER w AS x0, lag(v, 1) OVER w AS x1,
        |         lag(v, 2) OVER w AS x2, lag(v, 3) OVER w AS x3,
        |         lag(v, 4) OVER w AS x4, lag(v, 5) OVER w AS x5,
        |         lag(v, 6) OVER w AS x6, lag(v, 7) OVER w AS x7
        |  FROM p
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, CAST(v AS DOUBLE) AS v,
        |       round((coalesce(x0 * 16384, 0) + coalesce(x1 * 12288, 0)
        |              + coalesce(x2 * 9216, 0) + coalesce(x3 * 6912, 0)
        |              + coalesce(x4 * 5184, 0) + coalesce(x5 * 3888, 0)
        |              + coalesce(x6 * 2916, 0) + coalesce(x7 * 2187, 0)
        |             )::DOUBLE /
        |             (CASE WHEN x0 IS NULL THEN 0 ELSE 16384 END
        |              + CASE WHEN x1 IS NULL THEN 0 ELSE 12288 END
        |              + CASE WHEN x2 IS NULL THEN 0 ELSE 9216 END
        |              + CASE WHEN x3 IS NULL THEN 0 ELSE 6912 END
        |              + CASE WHEN x4 IS NULL THEN 0 ELSE 5184 END
        |              + CASE WHEN x5 IS NULL THEN 0 ELSE 3888 END
        |              + CASE WHEN x6 IS NULL THEN 0 ELSE 2916 END
        |              + CASE WHEN x7 IS NULL THEN 0 ELSE 2187 END
        |             )::DOUBLE, 6) AS ewma
        |FROM l ORDER BY event_id""".stripMargin,
    // same five pooled moments, same theta/xbar, same per-arm
    // moment-algebra recombination.
    "q201_cuped" ->
      """WITH u AS (
        |  SELECT user_id,
        |         sum(CASE WHEN event_type = 'click'
        |                   AND CAST(ts AS DATE) < DATE '2024-01-15'
        |                  THEN CAST(round(value, 2) AS DECIMAL(18,2))
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
        |         sum(CASE WHEN event_type = 'purchase'
        |                   AND CAST(ts AS DATE) >= DATE '2024-01-15'
        |                  THEN CAST(round(value, 2) AS DECIMAL(18,2))
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY user_id),
        |ua AS (
        |  SELECT *, CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
        |              || ':cuped'), 1, 1)) AS BIGINT) % 2 AS INT) AS arm
        |  FROM u),
        |g AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM ua),
        |t AS (
        |  SELECT (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |         / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |           AS theta,
        |         sx::DOUBLE / n::DOUBLE AS xbar
        |  FROM g),
        |a AS (
        |  SELECT arm, count(*) AS n_arm, sum(y) AS sy_a, sum(x) AS sx_a,
        |         sum(y * y) AS syy_a, sum(x * x) AS sxx_a,
        |         sum(x * y) AS sxy_a
        |  FROM ua GROUP BY arm),
        |m AS (
        |  SELECT arm, n_arm, theta, xbar,
        |         n_arm::DOUBLE AS nd,
        |         sy_a::DOUBLE / n_arm::DOUBLE AS my,
        |         sx_a::DOUBLE / n_arm::DOUBLE AS mx,
        |         syy_a::DOUBLE / n_arm::DOUBLE
        |           - (sy_a::DOUBLE / n_arm::DOUBLE)
        |             * (sy_a::DOUBLE / n_arm::DOUBLE) AS vy,
        |         sxx_a::DOUBLE / n_arm::DOUBLE
        |           - (sx_a::DOUBLE / n_arm::DOUBLE)
        |             * (sx_a::DOUBLE / n_arm::DOUBLE) AS vx,
        |         sxy_a::DOUBLE / n_arm::DOUBLE
        |           - (sx_a::DOUBLE / n_arm::DOUBLE)
        |             * (sy_a::DOUBLE / n_arm::DOUBLE) AS cva
        |  FROM a CROSS JOIN t)
        |SELECT arm, n_arm, round(my, 6) AS raw_mean,
        |       round(my - theta * (mx - xbar), 6) AS cuped_mean,
        |       CASE WHEN vy > 0
        |            THEN round(1.0::DOUBLE
        |                       - (vy - 2::DOUBLE * theta * cva
        |                          + theta * theta * vx) / vy, 6)
        |            END AS var_reduction
        |FROM m ORDER BY arm""".stripMargin,
    // same planted recorded-time arithmetic, both axes replayed as
    // correlated row_number cuts.
    "q208_bitemporal" ->
      """WITH f AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS valid_us,
        |         epoch_us(ts) + (event_id % 3) * 3600000000 AS recorded_us,
        |         CAST(round(value, 2) AS DECIMAL(18,2)) AS v
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |b AS (
        |  SELECT user_id, valid_us AS believed_valid_us,
        |         CAST(v AS DOUBLE) AS believed_value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY valid_us DESC, event_id DESC) AS rn
        |        FROM f
        |        WHERE recorded_us <= 1705323600000000
        |          AND valid_us <= 1705320000000000)
        |  WHERE rn = 1),
        |fi AS (
        |  SELECT user_id, valid_us AS final_valid_us,
        |         CAST(v AS DOUBLE) AS final_value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY valid_us DESC, event_id DESC) AS rn
        |        FROM f WHERE valid_us <= 1705320000000000)
        |  WHERE rn = 1)
        |SELECT coalesce(b.user_id, fi.user_id) AS user_id,
        |       believed_valid_us, believed_value,
        |       final_valid_us, final_value,
        |       believed_valid_us IS DISTINCT FROM final_valid_us
        |         AS late_data_pending
        |FROM b FULL JOIN fi ON b.user_id = fi.user_id
        |ORDER BY user_id""".stripMargin,
    // same integer CDFs, mapped by DuckDB's native ASOF join — the
    // independent formulation of the as-of composition.
    "q205_quantile_map" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value, 2) AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |src AS (
        |  SELECT v AS v_click,
        |         (sum(count(*)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |          * 1000000)
        |         // (sum(count(*)) OVER ()) AS pr
        |  FROM ev WHERE event_type = 'click' GROUP BY v),
        |ref AS (
        |  SELECT v AS v_ref,
        |         (sum(count(*)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |          * 1000000)
        |         // (sum(count(*)) OVER ()) AS pr
        |  FROM ev WHERE event_type = 'purchase' GROUP BY v)
        |SELECT CAST(s.v_click AS DOUBLE) AS v_click,
        |       CAST(s.pr AS BIGINT) AS pr,
        |       CAST(r.v_ref AS DOUBLE) AS v_mapped
        |FROM src s ASOF LEFT JOIN ref r ON r.pr <= s.pr
        |ORDER BY v_click""".stripMargin,
    // q159's session/ordinal SQL with the 40/20/40 weight CASE.
    "q206_position_attribution" ->
      """WITH m AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         sum(new_s) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |o AS (
        |  SELECT user_id, sid, event_type, value,
        |         row_number() OVER (PARTITION BY user_id, sid
        |           ORDER BY ts, event_id) AS ord
        |  FROM s),
        |p AS (SELECT user_id, sid, ord AS p_ord, ord - 1 AS k,
        |             value AS p_value
        |      FROM o WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT t.event_type,
        |         CAST(p.p_value *
        |           (CASE WHEN p.k <= 1 THEN 1.0::DOUBLE
        |                 WHEN p.k = 2 THEN 0.5::DOUBLE
        |                 WHEN t.ord = 1 OR t.ord = p.k THEN 0.4::DOUBLE
        |                 ELSE 0.2::DOUBLE / (p.k - 2) END)
        |           AS DECIMAL(18,6)) AS credit
        |  FROM p JOIN o t ON t.user_id = p.user_id AND t.sid = p.sid
        |   AND (t.ord < p.p_ord OR (p.k = 0 AND t.ord = p.p_ord)))
        |SELECT event_type, count(*) AS n_touches,
        |       CAST(sum(credit) AS DOUBLE) AS credited_value
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same exit/censoring construction, same quantized ln terms, same
    // zero pinning.
    "q207_kaplan_meier" ->
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
        |t AS (
        |  SELECT t_exit, d, at_risk,
        |         CASE WHEN d < at_risk
        |              THEN CAST(round(ln((at_risk - d)::DOUBLE
        |                                 / at_risk::DOUBLE), 10)
        |                        AS DECIMAL(24,10))
        |              ELSE CAST(0 AS DECIMAL(24,10)) END AS lnterm,
        |         CASE WHEN d = at_risk THEN 1 ELSE 0 END AS z
        |  FROM r WHERE d > 0)
        |SELECT t_exit AS t_days, d AS n_converted, at_risk,
        |       CASE WHEN max(z) OVER (ORDER BY t_exit
        |                              ROWS UNBOUNDED PRECEDING) = 1
        |            THEN 0.0::DOUBLE
        |            ELSE round(exp(CAST(sum(lnterm) OVER (ORDER BY t_exit
        |                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) END
        |         AS survival
        |FROM t ORDER BY t_days""".stripMargin,
    // same running peak, same quantized per-row drawdown.
    "q204_max_drawdown" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL AND value > 0),
        |r AS (
        |  SELECT user_id, v,
        |         max(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM p)
        |SELECT user_id, count(*) AS n_obs,
        |       max(round((peak - v)::DOUBLE / peak::DOUBLE, 6))
        |         AS max_drawdown
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same exact percentiles (q29 parity), same clip rule.
    "q199_winsorize" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |         CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |cuts AS (
        |  SELECT event_type,
        |         round(quantile_cont(v::DOUBLE, 0.05), 4) AS lo,
        |         round(quantile_cont(v::DOUBLE, 0.95), 4) AS hi
        |  FROM ev GROUP BY event_type)
        |SELECT event_id, ev.event_type, CAST(v AS DOUBLE) AS v,
        |       CASE WHEN CAST(v AS DOUBLE) < lo THEN lo ELSE hi END
        |         AS clipped,
        |       CASE WHEN CAST(v AS DOUBLE) < lo THEN 'low' ELSE 'high' END
        |         AS tail
        |FROM ev JOIN cuts USING (event_type)
        |WHERE CAST(v AS DOUBLE) < lo OR CAST(v AS DOUBLE) > hi
        |ORDER BY event_id""".stripMargin,
    // the same prefix-min linearization replayed in DuckDB's window
    // dialect — all integer cents, so the identity is engine-exact.
    // same whole-dollar daily series, same exact-integer deviation,
    // same (|D| desc, day) argmax — replayed independently
    "q353_binseg_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT) *
        |           CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-06-01'
        |                THEN 3 ELSE 2 END) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS s_n,
        |               CAST(count(*) AS BIGINT) AS nd FROM daily),
        |cum AS (
        |  SELECT day, rev,
        |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
        |         CAST(sum(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW) AS BIGINT) AS cumrev
        |  FROM daily),
        |dev AS (
        |  SELECT c.day, nd * cumrev - k * s_n AS dev, k, nd, cumrev, s_n
        |  FROM cum c, tot WHERE k < nd)
        |SELECT CAST(day AS VARCHAR) AS split_day, CAST(dev AS BIGINT) AS dev,
        |       k AS n_left, nd - k AS n_right,
        |       round(CAST(cumrev AS DOUBLE) / k, 6) AS left_mean,
        |       round(CAST(s_n - cumrev AS DOUBLE) / (nd - k), 6)
        |         AS right_mean
        |FROM dev ORDER BY abs(dev) DESC, day LIMIT 1""".stripMargin,
    "q213_cusum" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         sum(CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS cents
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |t AS (SELECT sum(cents) AS tc, count(*) AS nd FROM d),
        |p AS (
        |  SELECT day, CAST(cents AS BIGINT) AS cents,
        |         CAST(tc // nd AS BIGINT) AS k,
        |         CAST(sum(cents - tc // nd) OVER
        |           (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        |  FROM d CROSS JOIN t)
        |SELECT CAST(day AS VARCHAR) AS day, cents, k,
        |       CAST(p - least(0, min(p) OVER
        |         (ORDER BY day ROWS UNBOUNDED PRECEDING)) AS BIGINT)
        |         AS cusum_cents,
        |       (p - least(0, min(p) OVER
        |         (ORDER BY day ROWS UNBOUNDED PRECEDING))) > k AS drift_flag
        |FROM p ORDER BY day""".stripMargin,
    // the first-touch identity replayed directly; DAU is the plain
    // per-day exact distinct.
    "q214_cumulative_users" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |a AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ev GROUP BY day),
        |f AS (
        |  SELECT min(day) AS day, user_id FROM ev GROUP BY user_id),
        |n AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM f GROUP BY day)
        |SELECT CAST(a.day AS VARCHAR) AS day, a.dau,
        |       CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
        |       CAST(sum(coalesce(n.new_users, 0)) OVER
        |         (ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_users
        |FROM a LEFT JOIN n ON a.day = n.day
        |ORDER BY a.day""".stripMargin,
    // the same decimal moments and the same one-shot IEEE
    // recombination, lag pairs built by the identical shifted self
    // join.
    "q217_acf" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         sum(CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS cents
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |j AS (
        |  SELECT l.lag, a.cents AS x, b.cents AS y
        |  FROM (SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER)
        |          AS lag) l
        |  CROSS JOIN d a
        |  JOIN d b ON b.day = a.day - l.lag),
        |m AS (
        |  SELECT lag, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
        |              AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |              AS DOUBLE) AS syy,
        |         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
        |              AS DOUBLE) AS sxy
        |  FROM j GROUP BY lag)
        |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
        |       round((n * sxy - sx * sy) /
        |             sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |         AS acf
        |FROM m ORDER BY lag""".stripMargin,
    // first-purchase cohorting replayed directly; integer weeks and
    // cents.
    "q219_cohort_ltv" ->
      """WITH pur AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM pur GROUP BY 1),
        |cell AS (
        |  SELECT cohort_day, (day - cohort_day) // 7 AS age_week,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
        |         CAST(sum(cents) AS BIGINT) AS rev_cents
        |  FROM pur JOIN c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
        |       age_week, active_users, rev_cents,
        |       CAST(sum(rev_cents) OVER (PARTITION BY cohort_day
        |         ORDER BY age_week ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_rev_cents
        |FROM cell ORDER BY cohort_day, age_week""".stripMargin,
    // the same decimal ln constants and boundaries; running sums per
    // arm in DuckDB's window dialect.
    "q226_sprt" ->
      """WITH d AS (
        |  SELECT user_id % 2 AS arm, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS trials,
        |         CAST(sum(CASE WHEN CAST(round(value, 2) AS DECIMAL(18,2))
        |                            > 40 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS successes
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT arm, day,
        |         CAST(sum(trials) OVER w AS BIGINT) AS n,
        |         CAST(sum(successes) OVER w AS BIGINT) AS x
        |  FROM d
        |  WINDOW w AS (PARTITION BY arm ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)),
        |l AS (
        |  SELECT arm, day, n, x,
        |         CAST(x * CAST('0.2231435513' AS DECIMAL(12,10))
        |              + (n - x) * CAST('-0.1823215568' AS DECIMAL(12,10))
        |              AS DECIMAL(28,10)) AS llr
        |  FROM c)
        |SELECT arm, CAST(day AS VARCHAR) AS day, n, x,
        |       CAST(llr AS DOUBLE) AS llr,
        |       CASE WHEN llr >= CAST('2.9444389792' AS DECIMAL(28,10))
        |              THEN 'accept_h1'
        |            WHEN llr <= -CAST('2.9444389792' AS DECIMAL(28,10))
        |              THEN 'accept_h0'
        |            ELSE 'continue' END AS decision
        |FROM l ORDER BY arm, day""".stripMargin,
    // the same integer-second delays; quantile_cont is q29's exact-
    // percentile parity partner.
    "q230_time_to_convert" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |f AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'click' THEN us END) AS c_us
        |  FROM ev GROUP BY user_id),
        |d AS (
        |  SELECT ev.user_id,
        |         (min(ev.us) - min(f.c_us)) // 1000000 AS delay_s,
        |         (min(ev.us) // 1000000) // 86400 AS conv_day
        |  FROM ev JOIN f USING (user_id)
        |  WHERE ev.event_type = 'purchase'
        |    AND f.c_us IS NOT NULL AND ev.us >= f.c_us
        |  GROUP BY ev.user_id)
        |SELECT conv_day, CAST(count(*) AS BIGINT) AS n_converters,
        |       round(quantile_cont(delay_s, 0.5), 4) AS p50_s,
        |       round(quantile_cont(delay_s, 0.9), 4) AS p90_s,
        |       CAST(max(delay_s) AS BIGINT) AS max_delay_s
        |FROM d GROUP BY conv_day
        |ORDER BY conv_day""".stripMargin,
    // the INDEPENDENT correlated-range formulation — each day counts
    // its trailing windows directly, no fan-out.
    "q238_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |d AS (SELECT DISTINCT day FROM ud),
        |m AS (
        |  SELECT d.day,
        |         (SELECT count(DISTINCT u.user_id) FROM ud u
        |          WHERE u.day = d.day) AS dau,
        |         (SELECT count(DISTINCT u.user_id) FROM ud u
        |          WHERE u.day BETWEEN d.day - 6 AND d.day) AS wau,
        |         (SELECT count(DISTINCT u.user_id) FROM ud u
        |          WHERE u.day BETWEEN d.day - 27 AND d.day) AS mau
        |  FROM d)
        |SELECT CAST(day AS VARCHAR) AS day,
        |       CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
        |       CAST(mau AS BIGINT) AS mau,
        |       CAST((dau * 1000000) // wau AS BIGINT) AS dau_wau_ppm,
        |       CAST((wau * 1000000) // mau AS BIGINT) AS wau_mau_ppm
        |FROM m ORDER BY day""".stripMargin,
    // the same day-clipped sweep in DuckDB's window dialect.
    "q248_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT epoch_us(ts) // 1000000 AS s0 FROM events),
        |segs AS (
        |  SELECT s0 // 86400 AS day, s0 AS a,
        |         least(s0 + 600, (s0 // 86400 + 1) * 86400) AS b
        |  FROM iv
        |  UNION ALL
        |  SELECT s0 // 86400 + 1, (s0 // 86400 + 1) * 86400, s0 + 600
        |  FROM iv WHERE s0 + 600 > (s0 // 86400 + 1) * 86400),
        |points AS (
        |  SELECT day, a AS sec, CAST(1 AS BIGINT) AS delta FROM segs
        |  UNION ALL
        |  SELECT day, b, CAST(-1 AS BIGINT) FROM segs),
        |r AS (
        |  SELECT day, sec, delta,
        |         sum(delta) OVER (PARTITION BY day ORDER BY sec, delta
        |           ROWS UNBOUNDED PRECEDING) AS live
        |  FROM points)
        |SELECT CAST(day AS BIGINT) AS epoch_day,
        |       CAST(max(live) AS BIGINT) AS peak_concurrent,
        |       CAST(count(*) AS BIGINT) AS n_opens
        |FROM r WHERE delta = 1
        |GROUP BY day ORDER BY epoch_day""".stripMargin,
    // same time split, same cell means, same quantized SMAPE terms.
    "q250_forecast_smape" ->
      """WITH ev AS (
        |  SELECT event_type, hour(ts) AS hod, CAST(ts AS DATE) AS day,
        |         CAST(round(value, 2) AS DECIMAL(18,2)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type, hod,
        |         CAST(sum(v) AS DOUBLE) / count(*) AS pred
        |  FROM ev WHERE day < DATE '2024-01-21' GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, hod, day,
        |         CAST(sum(v) AS DOUBLE) / count(*) AS act
        |  FROM ev WHERE day >= DATE '2024-01-21' GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT a.event_type,
        |         CASE WHEN abs(act) + abs(pred) = 0
        |              THEN CAST(0 AS DECIMAL(18,8))
        |              ELSE CAST(round(abs(act - pred) /
        |                   ((abs(act) + abs(pred)) / 2.0), 8)
        |                   AS DECIMAL(18,8)) END AS term
        |  FROM a JOIN b USING (event_type, hod))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_cells,
        |       round(CAST(sum(term) AS DOUBLE) / count(*), 6) AS smape
        |FROM t GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the same closed form with the same literals.
    "q251_wilson_interval" ->
      """WITH c AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN CAST(round(value, 2) AS DECIMAL(18,2))
        |                            > 40 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY event_type)
        |SELECT event_type, n, x,
        |       round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
        |       round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |              + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
        |             / (1.0 + 3.8416 / CAST(n AS DOUBLE))
        |             - (1.96 * sqrt(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |                * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |                / CAST(n AS DOUBLE)
        |                + 3.8416 / (4.0 * CAST(n AS DOUBLE)
        |                            * CAST(n AS DOUBLE))))
        |               / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6)
        |         AS wilson_lo,
        |       round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |              + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
        |             / (1.0 + 3.8416 / CAST(n AS DOUBLE))
        |             + (1.96 * sqrt(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |                * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |                / CAST(n AS DOUBLE)
        |                + 3.8416 / (4.0 * CAST(n AS DOUBLE)
        |                            * CAST(n AS DOUBLE))))
        |               / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6)
        |         AS wilson_hi
        |FROM c ORDER BY event_type""".stripMargin,
    // the same (count, type)-ordered pick via a window — the
    // independent formulation of the struct-argmax.
    "q255_modal_action" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, event_type, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT)
        |           AS n_events,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY cnt DESC, event_type DESC) AS rn
        |  FROM c)
        |SELECT user_id, n_events, event_type AS modal_action,
        |       cnt AS n_modal,
        |       CAST((cnt * 1000000) // n_events AS BIGINT)
        |         AS agreement_ppm
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
  )
}
