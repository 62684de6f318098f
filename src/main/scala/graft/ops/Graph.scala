package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Iterative graph algorithms as dataframe loops (the q121 k-means
  * discipline applied to link analysis). Spark has no built-in graph
  * operators; the classic formulation (Page et al. 1999; the Pregel
  * join-shuffle loop of Malewicz et al. 2010) maps directly onto
  * join + groupBy per superstep.
  */
object Graph {

  /** Schema-explicit empty result frame: (node: nodeType, …: LONG).
    * The sampled-source centrality ops return this when the
    * accumulator never produced a row. Deriving a limit(0) from the
    * already-released localCheckpoint `e` would make correctness
    * hinge on the OptimizeLimitZero rule never executing the
    * released plan — an optimizer dependency, not a contract — and
    * would type the LONG columns as the reused edge column's type
    * (ADVICE r19). */
  private def emptyResult(like: DataFrame, nodeType: DataType,
                          longCols: String*): DataFrame =
    like.sparkSession.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(StructField("node", nodeType) +:
        longCols.map(c => StructField(c, LongType))))

  /** FIXED-POINT PAGERANK, fixed iteration count, on an edge list
    * (src, dst): r'(v) = (1-d)/N + d·Σ_{u→v} r(u)/deg(u) from 1/N.
    *
    * PRECONDITION: every node that appears anywhere must have
    * out-degree >= 1 (no dangling mass — a symmetrized edge list
    * satisfies this by construction). Dangling-node redistribution
    * (adding Σ_dangling r/N each step) is a one-row broadcast seam on
    * top of this loop; the fixture graphs don't need it.
    *
    * Determinism discipline: ranks are BIGINT fixed-point in units of
    * 1e-12 and every step is INTEGER arithmetic — `div` for r/deg and
    * for the damping (d = 85/100), long sums for Σ. Floating point
    * appears nowhere, so there is nothing to round: no
    * order-dependent double accumulation, and none of the
    * round-half-boundary divergence that floating PageRank hits when
    * 0.85 × an exact decimal lands on a rounding tie (observed at 8dp
    * on the sf0.01 graph — engines resolve double ties differently).
    * Any engine with 64-bit integers replays the whole build
    * bit-identically; the DuckDB oracle does. Each floor division
    * leaks < 1e-12 of mass per term per step — immaterial against
    * PageRank's own iteration truncation, and a fair trade for exact
    * cross-engine determinism. Overflow headroom: total mass <= 1e12,
    * so 85·Σ <= 8.5e13 ≪ 2^63.
    *
    * Scale shape per iteration: one equi join of edges (partitioned
    * on src) against the rank table (node-sized, ≪ edges) and one
    * map-side-combined groupBy(dst) — the Pregel superstep. The edge
    * list is reused every iteration: callers at scale should persist
    * (or bucket — Warehouse.writeBucketed on src) so it is scanned
    * once, and checkpoint ranks every few supersteps to cap plan
    * depth; the 3-iteration gated query keeps the plan lazy end to
    * end so the whole build stays under the hash oracle.
    *
    * Output: (node, deg, pr_fp BIGINT) — pr_fp / 1e12 is the rank. */
  def pageRank(edges: DataFrame, iterations: Int,
               dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "iterations must be positive")
    require(dampingPct > 0 && dampingPct < 100, "dampingPct in (0, 100)")
    val scaleFp = 1000000000000L // 1e-12 units
    // r22 (VERDICT r21 #7, A/B-measured): the degree table is read by
    // EVERY iteration — checkpoint it once so the unrolled plan scans
    // a materialized leaf instead of carrying iterations × (edge scan
    // + degree agg) subtrees through the optimizer; the final ranks
    // frame eager-checkpoints (settle) so it can be released. The EDGE
    // list deliberately stays LAZY (the personalizedPageRank rule):
    // the op's 100 TB remedy is a src-bucketed edge table whose scans
    // make every superstep's join Exchange-free, and an eager edge
    // checkpoint would erase that layout; callers whose edges are a
    // DERIVATION (not a layout) checkpoint it themselves — q163/q383
    // do.
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nTotal = deg.agg(count(lit(1)).as("n_nodes"))
    var ranks = deg.crossJoin(broadcast(nTotal))
      .select(col("src").as("node"), col("deg"),
        expr(s"${scaleFp}L div n_nodes").as("pr_fp"))
    for (_ <- 1 to iterations) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("pr_fp div deg").as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = deg.join(sums, deg("src") === sums("dst"), "left")
        .crossJoin(broadcast(nTotal))
        .select(col("src").as("node"), col("deg"),
          expr(s"((100 - $dampingPct) * ${scaleFp}L) div (100 * n_nodes) + " +
            s"($dampingPct * coalesce(s, 0L)) div 100").as("pr_fp"))
    }
    settle(ranks, Seq(deg))
  }

  /** PERSONALIZED PAGERANK (the topic-sensitive variant — Haveliwala
    * 2002; "relevance to THIS seed set" where pageRank's uniform
    * teleport answers global importance): the restart mass lands only
    * on the seeds, r'(v) = (1-d)·[v ∈ S]/|S| + d·Σ_{u→v} r(u)/deg(u),
    * initialized 1/|S| on the seeds and 0 elsewhere — the
    * related-items / local-relevance primitive (recommendations,
    * fraud neighborhoods) beside bfs's hop distances.
    *
    * Same INTEGER fixed-point discipline as pageRank (1e-12 units,
    * div everywhere, zero floats — bit-identical on any 64-bit-integer
    * engine, so the whole build hash-gates), same per-superstep shape
    * (one edge⋈rank equi-join + one map-side-combined groupBy(dst)),
    * same out-degree ≥ 1 precondition. Seeds with no out-edge are
    * dropped with the rest of the non-node universe (symmetrize
    * first if isolated seeds must count — they'd otherwise leak their
    * restart mass). Output: (node, deg, ppr_fp); nodes outside the
    * seeds' d-bounded neighborhood read 0. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "iterations must be positive")
    require(dampingPct > 0 && dampingPct < 100, "dampingPct in (0, 100)")
    val scaleFp = 1000000000000L
    // r22 (VERDICT r21 #7): the seed-flagged degree table is read by
    // every superstep — checkpoint it ONCE (node-sized; the returned
    // frame reads it, so it stays persisted — the kCore leak-accepted
    // rule). The EDGE list deliberately stays LAZY, unlike the other
    // iterative ops: PPR's 100 TB remedy is a src-bucketed edge table
    // whose scans make every superstep's edge join Exchange-free
    // (WarehouseSpec pins it), and an eager edge checkpoint would
    // erase that layout.
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val sFlag = seeds.select(col("node")).filter(col("node").isNotNull)
      .distinct().withColumn("__seed", lit(1L))
    val flagged = deg.join(sFlag, deg("src") === sFlag("node"), "left")
      .select(col("src"), col("deg"), coalesce(col("__seed"), lit(0L)).as("__seed"))
      .localCheckpoint()
    val nSeeds = flagged.agg(sum(col("__seed")).as("n_seeds"))
    var ranks = flagged.crossJoin(broadcast(nSeeds))
      .select(col("src").as("node"), col("deg"), col("__seed"),
        expr(s"CASE WHEN __seed = 1 THEN ${scaleFp}L div n_seeds " +
          "ELSE 0L END").as("pr_fp"))
    for (_ <- 1 to iterations) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("pr_fp div deg").as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = flagged.join(sums, flagged("src") === sums("dst"), "left")
        .crossJoin(broadcast(nSeeds))
        .select(col("src").as("node"), col("deg"), col("__seed"),
          expr(s"CASE WHEN __seed = 1 THEN ((100 - $dampingPct) * " +
            s"${scaleFp}L) div (100 * n_seeds) ELSE 0L END + " +
            s"($dampingPct * coalesce(s, 0L)) div 100").as("pr_fp"))
    }
    ranks.select(col("node"), col("deg"), col("pr_fp").as("ppr_fp"))
  }

  /** ADAMIC–ADAR shared-neighbor scores (Adamic & Adar 2003, the
    * link-prediction / entity-resolution classic): for every pair of
    * nodes (a, b) sharing at least one neighbor z, score =
    * Σ_z 1 / ln(deg(z)) — rare shared neighbors count for more than
    * promiscuous ones. Input: one (node, nbr) row per adjacency
    * (bipartite or a directed view of an undirected graph); deg(z) =
    * number of distinct NODES adjacent to z.
    *
    * Determinism discipline: each z's term is ln of an exact integer
    * degree (libm parity, q140/q132 precedent), quantized to
    * DECIMAL(18,10) BEFORE the per-pair sum, so the aggregation is
    * order/partition-invariant and the DuckDB oracle replays it
    * bit-identically (q185). Neighbors with deg = 1 can never be
    * shared, so they are DROPPED before the term projection — both a
    * fan-out saving and the ANSI divide-by-zero guard (ln(1) = 0; the
    * sf0.1 graph has single-supplier customers, so the guard is load-
    * bearing, not theoretical).
    *
    * Scale shape: the wedge self-join on z fans out Σ_z deg(z)² pairs
    * — the inherent cost of enumerating 2-hop pairs. ORIENT the input
    * so the wedge-center side has the SMALL fan-out (q185 centers on
    * customers at deg ~35, not suppliers at deg ~500: 23M wedge terms
    * at sf0.1 instead of 345M); above that, cap or shard hub centers
    * (the q142 hot-term discipline) — a degree cap is the standard
    * approximation and changes scores only for pairs sharing a hub. */
  def adamicAdar(adj: DataFrame): DataFrame = {
    val e = adj.select(col("node"), col("nbr"))
      .filter(col("node").isNotNull && col("nbr").isNotNull)
      .distinct()
    val deg = e.groupBy(col("nbr")).agg(count(lit(1)).as("deg"))
    val term = e.join(deg, Seq("nbr"))
      .filter(col("deg") >= 2)
      .select(col("nbr"), col("node"),
        round(lit(1.0) / log(col("deg").cast("double")), 10)
          .cast("decimal(18,10)").as("term"))
    term.as("x").join(term.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .select(col("x.node").as("a"), col("y.node").as("b"),
        col("x.term").as("term"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("term")).as("aa_score"))
  }

  /** PER-NODE TRIANGLE COUNTS via DEGREE-ORIENTED compact-forward
    * (Latapy 2008; the Cohen MapReduce formulation): orient every
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher, generate wedges as ordered pairs of out-neighbors, close
    * each wedge with one more join against the oriented edges. The
    * orientation is a total order, so every triangle is enumerated
    * EXACTLY once (at its lowest-degree corner); exploding the three
    * corners then counts per node.
    *
    * Why the orientation matters at scale: out-degree under it is
    * bounded by O(sqrt(m)) on any graph (arboricity bound), so the
    * wedge fan-out is Σ outdeg² ≈ m^1.5 worst case — a hub with
    * degree h under NAIVE id-orientation would alone produce h²/2
    * wedges. Three shuffles total: degree count, the wedge self-join
    * on the source, the closing equi join on (s, t).
    *
    * Input: one row per undirected edge, endpoints in `u`, `v`,
    * u ≠ v, no duplicate edges (callers: `.distinct()` first; the
    * row's (u, v) order is irrelevant). Output: (node, n_triangles),
    * nodes in no triangle absent. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsOriented(orientEdges(edges))

  /** The degree-(total-order) orientation step of `triangleCounts`,
    * exposed so the oriented edge list can be MATERIALIZED — at scale
    * the orientation is computed once and written bucketed on `s`
    * (`Warehouse.writeBucketed`), which deletes the wedge self-join's
    * Exchange entirely (WarehouseSpec pins it; SCALE.md carries the
    * measured A/B). Output: (s, t, kt) where kt = struct(deg, id) of
    * the target — the wedge pair order key, carried so the self-join
    * needs no re-join against degrees. */
  def orientEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .select(col("u").as("n"), col("d"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    // total order key: (degree, id) — carried on the target so wedge
    // pairs order by it without a re-join
    withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t"),
          struct(col("dv").as("d"), col("v").as("i")).as("kt")))
      .otherwise(
        struct(col("v").as("s"), col("u").as("t"),
          struct(col("du").as("d"), col("u").as("i")).as("kt"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.kt").as("kt"))
  }

  /** Wedge-generate + close over an ALREADY-ORIENTED edge list (the
    * output of `orientEdges`, possibly read back from a bucketed
    * table). The wedge self-join keys on `s` — an s-bucketed layout
    * runs it with no Exchange below the join. */
  def triangleCountsOriented(oriented: DataFrame): DataFrame = {
    // Join strategy is chosen DELIBERATELY (r21, guide §3.1): both
    // joins hint SHUFFLE_HASH with the edge list as build side. The
    // default sort-merge plan SORTED the wedge stream — Σ outdeg²
    // rows, the largest intermediate in the whole query — on (b, c)
    // before the closing join, and sorted the oriented edges twice
    // for the self-join; hashing builds on the edge-sized side and
    // STREAMS the wedges unsorted instead. Per-partition build = the
    // edge list over the shuffle partition count, which is exactly
    // the quantity partitions-∝-data keeps bounded at scale (SCALE.md
    // bucket-on-src note), so the hint survives the 100 TB regime.
    // SKEW ASSUMPTION (ADVICE r21): that argument bounds the AVERAGE
    // build partition, not a skewed one — a forced SHUFFLE_HASH build
    // has no spill path, so a power-law hub whose edges all hash to
    // one build partition can OOM where sort-merge would have
    // spilled. The kt-ordering bounds wedge fan-out (out-degree ≤
    // O(√m)) but NOT the build side's per-key edge count; a graph
    // with max_deg ≫ |E|/partitions wants the hint gated on a
    // max-degree check before trusting it.
    // Measured at sf0.1 (OPTIMIZATION_r21.md): q171+q375 A/B.
    val wedges = oriented.as("e1").join(oriented.as("e2").hint("shuffle_hash"),
        col("e1.s") === col("e2.s") && col("e1.kt") < col("e2.kt"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val tris = wedges.join(
      oriented.select(col("s").as("b"), col("t").as("c")).hint("shuffle_hash"),
      Seq("b", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** MIN-LABEL PROPAGATION, fixed superstep count (the Pregel
    * HashMin / "small-star" kernel — Kiveris et al. 2014; after
    * enough supersteps every node carries the minimum node id of its
    * connected component, and a FIXED count gives the distance-k
    * approximation). label₀(v) = v; labelₜ₊₁(v) = min(labelₜ(v),
    * min over neighbors labelₜ(u)).
    *
    * Determinism discipline: the state is the node-id MIN — an
    * order-free, partition-invariant integer aggregate — so every
    * superstep is engine-replayable with no quantization at all (the
    * q163 fixed-point concern doesn't even arise). The DuckDB oracle
    * unrolls the same supersteps as CTEs; a hash match proves the
    * whole iterated build, not one step.
    *
    * Scale shape per superstep: one equi join of the edge list
    * (partitioned on src) against the node-sized label table and one
    * map-side-combined min groupBy — identical to pageRank's loop, so
    * the same caller guidance applies (persist/bucket edges across
    * supersteps, checkpoint labels every few rounds; HashMin
    * converges in O(diameter) rounds, and the doubling variants
    * [large-star/small-star] cut that to O(log d) at the cost of
    * rewriting edges — this kernel keeps edges immutable, the right
    * trade when the edge list is 100 TB and labels are node-sized).
    *
    * Input: (src, dst) edge list, SYMMETRIZED by the caller (an
    * undirected edge appears in both directions — same precondition
    * as pageRank). Output: (node, label) for every node appearing as
    * a src. */
  def labelPropagate(edges: DataFrame, supersteps: Int): DataFrame = {
    require(supersteps >= 1, "supersteps must be positive")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to supersteps) {
      val nbrMin = e.join(labels, e("src") === labels("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nbr_min"))
      labels = labels.join(nbrMin, labels("node") === nbrMin("dst"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"))
    }
    labels
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment") over a DIRECTED edge list, in the
    * pageRank fixed-point discipline: scores are BIGINTs in 1e-6 units
    * (`scaleFp`), each half-step L1-normalizes with integer division
    * (score·scale div Σscore) — bit-exact across engines where
    * floating HITS would drift at round-half boundaries, which is what
    * keeps the whole iteration under the DuckDB hash oracle (q297
    * unrolls it as CTEs).
    *
    * Per iteration: authority(v) = Σ h(u) over in-edges, then
    * hub(u) = Σ a(v) over out-edges, each followed by the integer
    * normalization (a broadcast one-row total). Both halves are one
    * key-shuffled join + map-side-combined sum — the pageRank envelope.
    * Lazy/unrolled for small fixed `iterations` (the q163 contract);
    * checkpoint per round if iterating deep.
    *
    * Overflow bound: raw·scaleFp ≤ nodes·scaleFp² must stay below
    * 2^63 ⇒ nodes < ~9.2e6 at 1e-6 units. Production at larger node
    * counts drops scaleFp or moves the normalizer to DECIMAL —
    * documented, not silently wrong (the multiply would throw, not
    * wrap: Spark ANSI long math overflows loudly in `div`'s operand).
    *
    * Output: (node, hub_fp, auth_fp) for every node, 0 for the side a
    * node never plays. */
  def hits(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be positive")
    val scaleFp = 1000000L
    // The edge list stays LAZY (the personalizedPageRank rule): hits'
    // 100 TB remedy is a src-bucketed edge table (SCALE.md r15
    // measured 27x shuffle reduction) and an eager checkpoint would
    // erase the layout; q297's derived edge build checkpoints at the
    // call site instead (r22, VERDICT r21 #7).
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    var h = e.select(col("src").as("node")).distinct()
      .withColumn("h_fp", lit(scaleFp))
    var a: DataFrame = null
    // Each half-step's raw aggregate is referenced TWICE (broadcast
    // total + normalized select); without a checkpoint the lineage
    // doubles per half-step and the edge join replays ~2^(2·iters)
    // times — invisible at the gated iterations=2, a trap at the
    // depths the Int parameter permits. kCore's discipline: eager
    // localCheckpoint per half-step, release the superseded round's
    // blocks; the FINAL pair stays persisted (the returned frame
    // reads from it, same necessity as kCore's last round).
    var prevHraw: DataFrame = null
    for (it <- 1 to iterations) {
      val araw = e.join(h, e("src") === h("node"))
        .groupBy(col("dst")).agg(sum(col("h_fp")).as("raw"))
        .localCheckpoint()
      if (prevHraw != null) releaseCheckpoint(prevHraw)
      a = araw.crossJoin(broadcast(araw.agg(sum(col("raw")).as("tot"))))
        .select(col("dst").as("node"),
          expr(s"(raw * ${scaleFp}L) div tot").as("a_fp"))
      val hraw = e.join(a, e("dst") === a("node"))
        .groupBy(col("src")).agg(sum(col("a_fp")).as("raw"))
        .localCheckpoint()
      if (it < iterations) releaseCheckpoint(araw)
      h = hraw.crossJoin(broadcast(hraw.agg(sum(col("raw")).as("tot"))))
        .select(col("src").as("node"),
          expr(s"(raw * ${scaleFp}L) div tot").as("h_fp"))
      prevHraw = hraw
    }
    h.join(a, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("h_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("a_fp"), lit(0L)).as("auth_fp"))
  }

  /** K-CORE DECOMPOSITION by iterative peeling (Seidman 1983; the
    * distributed formulation is the Batagelj–Zaveršnik peel expressed
    * as Pregel rounds): repeatedly delete every node of degree < k
    * until fixpoint; what survives is the maximal subgraph where every
    * node keeps ≥ k neighbors — the "dense interaction core" used for
    * community seeding and spam/bot subgraph mining.
    *
    * Input: (u, v) edge list, SYMMETRIZED by the caller (each
    * undirected edge in both directions, no self-loops). Each round is
    * one map-side-combined degree count + two LEFT SEMI joins (u-side,
    * v-side) — set intersection, never a fan-out — followed by a
    * localCheckpoint to truncate the growing lineage (the q121 /
    * q81-CC loop discipline; without it round N replans rounds 1..N-1).
    * The loop's only driver-side values are the per-round edge COUNTS
    * (scalar aggregates — bounded, never row collection); convergence
    * is count-stability, ≤ |V| rounds in theory, a handful in
    * practice. Exact, not approximate: the peel order provably cannot
    * change the fixpoint.
    *
    * Scale shape per round: degree agg partitions on u; the semi joins
    * reuse that same key (one shuffle ancestry). Edges are re-scanned
    * from the checkpoint, node set only shrinks — at 100 TB, bucket
    * the edge list on u (Warehouse.writeBucketed) so every round's agg
    * and semi-join are Exchange-free.
    *
    * Output: (node, deg) for the surviving core, deg = within-core
    * degree (≥ k). */
  def kCore(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // r22 (VERDICT r21 #5 generalized): the per-round edge COUNT rides
    // the checkpoint materialization itself (observedCheckpoint) — one
    // job per round instead of checkpoint + count.
    var (e, nRow) = observedCheckpoint(
      edges.select(col("u"), col("v"))
        .filter(col("u").isNotNull && col("v").isNotNull),
      count(lit(1)))
    var n = nRow.getLong(0)
    var converged = false
    while (!converged && n > 0) {
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
      val (pruned, n2Row) = observedCheckpoint(
        e.join(keep, Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v")),
        count(lit(1)))
      val n2 = n2Row.getLong(0)
      // The superseded round's checkpoint blocks are dead once the new
      // round has materialized (the observed checkpoint above) —
      // release them, or block-manager storage grows linearly with
      // round count (adversarial graphs peel many rounds, e.g. chains
      // under k=2).
      // NOTE: Dataset.unpersist would be a no-op here — it only talks
      // to the CacheManager; a localCheckpoint's blocks belong to the
      // RDD behind the plan's LogicalRDD leaf (the LlmQueries.lshShared
      // discipline). The FINAL round's checkpoint stays persisted: the
      // returned frame reads from it.
      releaseCheckpoint(e)
      converged = n2 == n
      n = n2
      e = pruned
    }
    e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
  }

  /** Multi-source BFS: exact minimum hop distance from a seed set over
    * a directed edge list (symmetrize first for undirected
    * reachability), level-synchronous frontier expansion — the
    * traversal primitive beside pageRank/hits (scores), kCore
    * (density), and ccStar (labels): "how far is
    * every node from this set", the reachability/blast-radius query.
    *
    * Exactly the textbook frontier algorithm in joins: the level-i
    * frontier equi-joins the edge list on src, the new frontier is the
    * distinct dst set anti-joined against everything already
    * labelled, and the distance table grows by one level per round.
    * Deterministic by construction (min-distance is path-order
    * independent), so callers can hash-gate it (the q303 fixpoint
    * discipline).
    *
    * Scale shape per round: ONE shuffle keyed on the join key (the
    * frontier side of the equi-join) + the anti-join keyed on node;
    * the edge list is scanned from its checkpoint each round — at
    * 100 TB, bucket it on src (Warehouse.writeBucketed) so every
    * round's expansion is Exchange-free. Work per round is
    * |frontier adjacency|, never |V|²; rounds are bounded by maxHops
    * (graph diameter if larger). The per-level checkpoints are
    * released once the final distance table eager-checkpoints; the
    * returned frame reads from that ONE output-sized checkpoint
    * (kCore's one-leaked-checkpoint discipline).
    *
    * Output: (node, dist) for every node within maxHops of a seed —
    * seeds at 0, unreachable nodes absent. Isolated seeds still
    * appear at 0. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint()
    // r22 (VERDICT r21 #5 generalized): the frontier count rides each
    // level's checkpoint job (observedCheckpoint) — one job per level
    // instead of checkpoint + count.
    val (d0, n0Row) = observedCheckpoint(
      seeds.select(col("node")).filter(col("node").isNotNull)
        .distinct()
        .select(col("node"), lit(0L).as("dist")),
      count(lit(1)))
    // r21 accumulator restructure (guide §1.2): the distance table
    // used to re-checkpoint a growing union every level (O(levels²)
    // copied rows + one extra job per level). Each level is already
    // checkpointed, so the anti-join reads the LAZY union of the
    // level checkpoints in place. r22 (VERDICT r21 #1): the returned
    // frame is ONE eager checkpoint of that union — the level
    // checkpoints are released once it materializes, so exactly one
    // output-sized checkpoint outlives the call (the kCore rule).
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](d0)
    var frontier = d0
    var level = 0L
    var n = n0Row.getLong(0)
    while (level < maxHops && n > 0) {
      level += 1
      val dist = levels.reduce(_ unionByName _)
      val (next, nRow) = observedCheckpoint(
        frontier.join(e, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(level).as("dist")),
        count(lit(1)))
      n = nRow.getLong(0)
      levels += next
      frontier = next
    }
    releaseCheckpoint(e)
    settle(levels.reduce(_ unionByName _), levels)
  }

  /** WEIGHTED SINGLE-SOURCE SHORTEST PATHS, bounded-hop Bellman–Ford
    * (Bellman 1958; the Pregel SSSP of Malewicz et al. 2010): the
    * weighted companion to `bfs` — THAT counts hops, THIS sums edge
    * weights. One relaxation round folds every edge into the distance
    * table:
    *
    *   dist'(v) = min(dist(v), min over (u,v,w) of dist(u) + w)
    *
    * After r rounds the table holds the EXACT minimum-cost path using
    * at most r edges — the bounded-hop semantic callers gate on
    * (exact full SSSP when r ≥ the hop count of the longest shortest
    * path, which negative-free Bellman–Ford guarantees at r = V−1).
    * Weights must be non-negative Longs; all arithmetic is integer
    * min-plus, so any engine replays the rounds bit-identically (the
    * pageRank fixed-point discipline — the DuckDB oracle unrolls the
    * same rounds as CTEs).
    *
    * Scale shape per round: ONE equi-join of the node-sized distance
    * table against the edge list on src + one map-side-combined
    * min groupBy(node) — never a fan-out beyond |edges|. Rounds are
    * data-independent (caller-bounded), each round localCheckpoints
    * and releases its predecessor (kCore's discipline; the FINAL
    * round's checkpoint backs the returned frame and stays). At
    * 100 TB, bucket edges on src (Warehouse.writeBucketed) and every
    * round's join is Exchange-free on the edge side. Early exit when
    * a round changes nothing — a pure optimization: converged rounds
    * are no-ops, so the bounded-hop result is unchanged.
    *
    * Input: edges (src, dst, w), seeds (node). Output: (node, dist)
    * for every node reachable within `rounds` edges; unreachable
    * nodes absent, seeds at 0. */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    // the non-negativity precondition is ENFORCED, not just documented
    // (ADVICE r16): a negative weight silently changes the semantics
    // (min over walks, not paths) — raise_error rides the one existing
    // checkpoint materialization, zero extra jobs. CONTRACT NOTE
    // (ADVICE r17): the guard piggy-backs on the w column, so it
    // fires only where w is evaluated — the localCheckpoint right
    // below materializes every column eagerly, so it always fires
    // today; a refactor that drops the eager checkpoint (or prunes w)
    // must keep the guard on an evaluated path; GraphSpec pins the
    // loud failure.
    val e = edges.select(col("src"), col("dst"), col("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
      .select(col("src"), col("dst"),
        when(col("w") < 0, raise_error(lit(
          "sssp: negative edge weight (min-plus requires w >= 0)"))
          .cast("long"))
          .otherwise(col("w")).as("w"))
      .localCheckpoint()
    // fixpoint witness carried across rounds: relaxation is MONOTONE —
    // nodes are only added and each node's dist only decreases — so
    // unchanged (count, Σdist) ⇔ nothing moved. One scalar aggregate
    // per round instead of a shuffle-heavy exceptAll set difference
    // (the r16 review's finding: the difference roughly doubled
    // per-round cost for callers whose bound never converges early).
    // r22 (VERDICT r21 #5): the witness rides the checkpoint
    // materialization itself (observedCheckpoint) — one job per round
    // instead of checkpoint + scalar-aggregate scan.
    def stats(row: org.apache.spark.sql.Row): (Long, Long) =
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    val witness = Seq(count(lit(1)), sum(col("dist")))
    var (dist, d0Row) = observedCheckpoint(
      seeds.select(col("node")).filter(col("node").isNotNull)
        .distinct()
        .select(col("node"), lit(0L).as("dist")),
      witness: _*)
    var prev = stats(d0Row)
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val relaxed = dist.join(e, col("node") === col("src"))
        .select(col("dst").as("node"),
          (col("dist") + col("w")).as("dist"))
      val (next, nextRow) = observedCheckpoint(
        dist.select(col("node"), col("dist"))
          .unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")),
        witness: _*)
      val cur = stats(nextRow)
      done = cur == prev
      prev = cur
      releaseCheckpoint(dist)
      dist = next
      r += 1
    }
    releaseCheckpoint(e)
    dist
  }

  /** EARLIEST-ARRIVAL TEMPORAL REACHABILITY (Wu et al. 2014, "Path
    * Problems in Temporal Graphs") — the TIME-RESPECTING sibling of
    * `bfs` (hops) and `sssp` (weights): an edge (u, v, t) can only be
    * taken if t ≥ the time you ARRIVED at u, and arr(v) is the
    * earliest such time over all ≤`rounds`-edge time-respecting
    * paths:
    *
    *   arr'(v) = min(arr(v), min over (u,v,t) with t ≥ arr(u) of t)
    *
    * This is NOT bfs-with-a-min-t decoration: a hop-shorter path can
    * be temporally USELESS (its edges run backward in time) while a
    * longer path arrives — the q-gate fixture exercises exactly that.
    * Walks can't beat paths for EARLIEST arrival (arrival times only
    * grow along a walk, so revisiting never improves a first
    * arrival), so the bounded-round result is exact for ≤r-edge
    * time-respecting paths. All arithmetic is integer min —
    * engine-replayable (the sssp discipline; the oracle unrolls the
    * rounds as CTEs).
    *
    * TEMPORAL-MULTIPLICITY COMPRESSION (the decisive scale lever,
    * measured): parallel edges (u, v, t₁), (u, v, t₂), … collapse to
    * ONE row (u, v, sorted times array) up front, and the relaxation
    * picks min{t ∈ times : t ≥ arr(u)} ROW-LOCALLY with an array HOF
    * — identical values (min over parallel edges ≡ min over the
    * array), but every round now shuffles the NODE-PAIR-sized table
    * instead of the raw temporal edge list (the sf1 trade graph has
    * ~6× more dated edges than pairs: the row-form relax read 287 s,
    * the compressed form is the sssp envelope).
    *
    * Early exit via the sssp scalar witness: relaxation is MONOTONE
    * (nodes only added, each arr only decreases), so an unchanged
    * (count, Σarr) ⇔ a fixpoint round. Scale shape per round: one
    * equi-join of the node-sized arrival table against the pair list
    * + one map-side-combined min groupBy — the sssp envelope; bucket
    * pairs on src at 100 TB. Per-round localCheckpoint, predecessors
    * released, the final checkpoint backs the returned frame.
    *
    * Input: edges (src, dst, t — integer timestamps, e.g. yyyymmdd
    * Longs), seeds (node). Output: (node, arr) for nodes reachable
    * within `rounds` time-respecting edges; seeds at `startT`. */
  def earliestArrival(edges: DataFrame, seeds: DataFrame, startT: Long,
                      rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val e = edges.select(col("src"), col("dst"), col("t"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("t").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(sort_array(collect_list(col("t"))).as("ts"))
      .localCheckpoint()
    // r22 (VERDICT r21 #5): the (count, Σarr) fixpoint witness rides
    // the checkpoint job itself (observedCheckpoint) — one job per
    // round instead of checkpoint + scalar-aggregate scan.
    def stats(row: org.apache.spark.sql.Row): (Long, Long) =
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    val witness = Seq(count(lit(1)), sum(col("arr")))
    var (arr, a0Row) = observedCheckpoint(
      seeds.select(col("node")).filter(col("node").isNotNull)
        .distinct()
        .select(col("node"), lit(startT).as("arr")),
      witness: _*)
    var prev = stats(a0Row)
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val relaxed = arr.join(e, col("node") === col("src"))
        .select(col("dst").as("node"),
          array_min(filter(col("ts"), t => t >= col("arr"))).as("arr"))
        .filter(col("arr").isNotNull)
      val (next, nextRow) = observedCheckpoint(
        arr.select(col("node"), col("arr"))
          .unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("arr")).as("arr")),
        witness: _*)
      val cur = stats(nextRow)
      done = cur == prev
      prev = cur
      releaseCheckpoint(arr)
      arr = next
      r += 1
    }
    releaseCheckpoint(e)
    arr
  }

  /** LATEST-DEPARTURE temporal reachability (Wu et al. 2014's
    * latest-departure path problem) — earliestArrival's TIME-REVERSED
    * dual, and a genuinely different answer, not a mirror: ld(u) =
    * the latest time you can still BE at u and reach a target by the
    * deadline, where an edge (u, v, t) is usable iff you are at u no
    * later than t AND t ≤ ld(v) (traversal at time t must still make
    * v's own departure). Relaxation is the reverse-edge MAX form of
    * earliestArrival's forward MIN:
    *
    *   ld(u) = max{ t ∈ times(u→v) : t ≤ ld(v) }  over out-edges,
    *
    * seeded with ld(target) = deadline. Same temporal-multiplicity
    * compression (the q364 scale lever): parallel (u, v, t…) edges
    * collapse to one (u, v, sorted times) row and the relax picks
    * max{t ≤ ld} ROW-LOCALLY with an array HOF, so every round
    * shuffles the node-pair-sized table. MONOTONE in the opposite
    * direction (nodes only added, each ld only INCREASES), so the
    * scalar witness is the same (count, Σld) fixpoint test. Per-round
    * localCheckpoint + release; the final checkpoint backs the
    * returned frame (the kCore lineage rule).
    *
    * Input: edges (src, dst, t — integer timestamps), targets (node).
    * Output: (node, ld) for nodes that can still reach a target
    * within `rounds` time-respecting edges; targets at `deadline`. */
  def latestDeparture(edges: DataFrame, targets: DataFrame,
                      deadline: Long, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val e = edges.select(col("src"), col("dst"), col("t"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("t").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(sort_array(collect_list(col("t"))).as("ts"))
      .localCheckpoint()
    // r22 (VERDICT r21 #5): the (count, Σld) fixpoint witness rides
    // the checkpoint job itself (observedCheckpoint) — one job per
    // round instead of checkpoint + scalar-aggregate scan.
    def stats(row: org.apache.spark.sql.Row): (Long, Long) =
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    val witness = Seq(count(lit(1)), sum(col("ld")))
    var (ld, l0Row) = observedCheckpoint(
      targets.select(col("node")).filter(col("node").isNotNull)
        .distinct()
        .select(col("node"), lit(deadline).as("ld")),
      witness: _*)
    var prev = stats(l0Row)
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val relaxed = ld.join(e, col("node") === col("dst"))
        .select(col("src").as("node"),
          array_max(filter(col("ts"), t => t <= col("ld"))).as("ld"))
        .filter(col("ld").isNotNull)
      val (next, nextRow) = observedCheckpoint(
        ld.select(col("node"), col("ld"))
          .unionByName(relaxed)
          .groupBy(col("node")).agg(max(col("ld")).as("ld")),
        witness: _*)
      val cur = stats(nextRow)
      done = cur == prev
      prev = cur
      releaseCheckpoint(ld)
      ld = next
      r += 1
    }
    releaseCheckpoint(e)
    ld
  }

  /** FASTEST (duration-minimal) time-respecting journeys (Wu et al.
    * 2014's fastest-path problem) — the third member of the temporal
    * trio: earliestArrival minimizes WHEN you get there,
    * latestDeparture maximizes when you must LEAVE, this minimizes
    * TIME IN TRANSIT (arr − dep), and the three genuinely disagree:
    * the duration-minimal journey may depart LATE on a slow-looking
    * route (GraphSpec pins a diamond where EA's answer departs early
    * and arrives at 3 while the fastest journey departs at 10 and
    * arrives instantly).
    *
    * State = (node, dep, arr): a time-respecting journey leaving a
    * seed at `dep` reaches `node` by `arr`. Init: one state per
    * DISTINCT seed out-edge time t₀ — (seed, t₀, t₀). Any journey's
    * first hop departs at one of those times, so the per-(node, dep)
    * MIN-arr relaxation (earliestArrival's relax, carried per dep
    * stratum) covers every journey at its own dep and the final
    * min(arr − dep) per node is EXACT; the same journey counted
    * under an earlier dep can only read a longer duration and never
    * wins the min. Relaxation reuses the temporal-multiplicity
    * compression (per-pair sorted times, row-local array HOF).
    *
    * Scale: state is nodes × |distinct seed out-times| — bounded by
    * the seed's temporal out-degree, NOT the graph (document the
    * bound at the call site; a hub seed with thousands of distinct
    * out-times wants its dep strata batched). Monotone (pairs only
    * added, each arr only decreases), so (count, Σarr) is a fixpoint
    * witness; per-round localCheckpoint + release, final checkpoint
    * backs the returned frame.
    *
    * Input: edges (src, dst, t — integer timestamps on a COMMON
    * LINEAR SCALE, e.g. epoch days: arr − dep must be a meaningful
    * duration, unlike the yyyymmdd ORDER-only encoding q364/q368
    * use), seeds (node). Output: one row per reachable node —
    * (node, dep, arr, dur) of its duration-minimal journey within
    * `rounds` hops, ties broken by (dur, dep, arr) lexicographic
    * min. A seed WITH at least one (non-null-t) out-edge appears
    * with dur = 0 at its earliest out-time; a seed with NO out-edges
    * (or only null-t edges) seeds no dep stratum and is ABSENT from
    * the output — unlike earliestArrival, which emits every seed at
    * startT. Callers must not read a missing seed row as a bug:
    * "reachable" here means "has a journey", and a journey needs a
    * first-hop departure time. */
  def fastestJourney(edges: DataFrame, seeds: DataFrame,
                     rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val raw = edges.select(col("src"), col("dst"), col("t"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("t").isNotNull)
      .localCheckpoint()
    val e = raw
      .groupBy(col("src"), col("dst"))
      .agg(sort_array(collect_list(col("t"))).as("ts"))
      .localCheckpoint()
    val sd = seeds.select(col("node")).filter(col("node").isNotNull)
      .distinct()
    // r22 (VERDICT r21 #5): the (count, Σarr) fixpoint witness rides
    // the checkpoint job itself (observedCheckpoint) — one job per
    // round instead of checkpoint + scalar-aggregate scan.
    def stats(row: org.apache.spark.sql.Row): (Long, Long) =
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    val witness = Seq(count(lit(1)), sum(col("arr")))
    var (f, f0Row) = observedCheckpoint(
      raw.join(sd, raw("src") === sd("node"))
        .select(col("node"), col("t").as("dep"), col("t").as("arr"))
        .distinct(),
      witness: _*)
    releaseCheckpoint(raw)
    var prev = stats(f0Row)
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val relaxed = f.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), col("dep"),
          array_min(filter(col("ts"), t => t >= col("arr"))).as("arr"))
        .filter(col("arr").isNotNull)
      val (next, nextRow) = observedCheckpoint(
        f.select(col("node"), col("dep"), col("arr"))
          .unionByName(relaxed)
          .groupBy(col("node"), col("dep")).agg(min(col("arr")).as("arr")),
        witness: _*)
      val cur = stats(nextRow)
      done = cur == prev
      prev = cur
      releaseCheckpoint(f)
      f = next
      r += 1
    }
    releaseCheckpoint(e)
    // duration-minimal journey per node, deterministic tie-break —
    // a min-struct aggregate (the r18 louvainMove selection idiom)
    f.groupBy(col("node"))
      .agg(min(struct((col("arr") - col("dep")).as("dur"), col("dep"),
        col("arr"))).as("j"))
      .select(col("node"), col("j.dep").as("dep"), col("j.arr").as("arr"),
        col("j.dur").as("dur"))
  }

  /** SHORTEST (minimum-HOP) time-respecting JOURNEY (Wu et al. 2014's
    * shortest-path distance in a temporal graph) — the FOURTH and
    * final objective of the temporal family: earliestArrival
    * minimizes arrival TIME, latestDeparture maximizes departure,
    * fastestJourney minimizes transit, THIS minimizes EDGE COUNT.
    * hops(v) is NOT static BFS distance: the hop-shortest static
    * path may run backward in time while a longer detour respects it
    * (GraphSpec pins a diamond where the four objectives pick four
    * different routes).
    *
    * EXACTNESS of the arrival-dominance recursion: if any ≤h-hop
    * time-respecting journey reaches v, the earliest ≤i-hop arrival
    * at its i-th prefix node dominates (is ≤) the journey's own
    * arrival there, so every later edge the journey takes stays
    * usable from the earliest-arrival state — tracking ONE (earliest)
    * arrival per node per round loses no reachability, and hops(v) =
    * the first round v enters the table. The loop IS
    * earliestArrival's (same temporal-multiplicity compression, same
    * row-local array-HOF relax, same monotone (count, Σarr) witness)
    * with a min(hops) column riding the same groupBy: existing nodes
    * keep their first-seen round (old hops ≤ current round), fresh
    * nodes enter at round r. Same per-round localCheckpoint +
    * release; the final checkpoint backs the returned frame.
    *
    * Input: edges (src, dst, t — integer timestamps), seeds (node).
    * Output: (node, hops, arr) — fewest time-respecting hops within
    * `rounds`, plus the earliest ≤rounds-hop arrival (the q364
    * decoration — NOT necessarily achieved BY a hops-minimal
    * journey); seeds at (0, startT). */
  def shortestJourney(edges: DataFrame, seeds: DataFrame, startT: Long,
                      rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val e = edges.select(col("src"), col("dst"), col("t"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("t").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(sort_array(collect_list(col("t"))).as("ts"))
      .localCheckpoint()
    // r22 (VERDICT r21 #5): the (count, Σarr) fixpoint witness rides
    // the checkpoint job itself (observedCheckpoint) — one job per
    // round instead of checkpoint + scalar-aggregate scan.
    def stats(row: org.apache.spark.sql.Row): (Long, Long) =
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    val witness = Seq(count(lit(1)), sum(col("arr")))
    var (f, f0Row) = observedCheckpoint(
      seeds.select(col("node")).filter(col("node").isNotNull)
        .distinct()
        .select(col("node"), lit(0L).as("hops"), lit(startT).as("arr")),
      witness: _*)
    var prev = stats(f0Row)
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val relaxed = f.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), lit(r.toLong).as("hops"),
          array_min(filter(col("ts"), t => t >= col("arr"))).as("arr"))
        .filter(col("arr").isNotNull)
      val (next, nextRow) = observedCheckpoint(
        f.select(col("node"), col("hops"), col("arr"))
          .unionByName(relaxed)
          .groupBy(col("node"))
          .agg(min(col("hops")).as("hops"), min(col("arr")).as("arr")),
        witness: _*)
      val cur = stats(nextRow)
      done = cur == prev
      prev = cur
      releaseCheckpoint(f)
      f = next
    }
    releaseCheckpoint(e)
    f
  }

  /** BETWEENNESS CENTRALITY over ≤`maxHops`-hop shortest paths,
    * sampled-source Brandes (Brandes 2001, "A Faster Algorithm for
    * Betweenness Centrality"; sampling estimator per Brandes & Pich
    * 2007): BC(v) = Σ_{s∈S, v≠s} δ_s(v), where σ_s(w) counts
    * shortest s→w paths and the dependency accumulates backward over
    * the shortest-path DAG,
    *
    *   δ_s(v) = Σ_{w : v ∈ pred_s(w)} σ_s(v)/σ_s(w) · (1 + δ_s(w)).
    *
    * Exact all-sources BC is O(V·E); the estimator runs Brandes from
    * a deterministic SAMPLE of sources — callers pass it. The hop
    * bound makes the bounded-round form gateable (the sssp
    * discipline): BC w.r.t. shortest paths of ≤maxHops edges, exact
    * when maxHops ≥ the sampled eccentricities.
    *
    * VECTORIZED over sources: both passes carry (s, node) state, so
    * one round serves every source. Forward = level-synchronous BFS
    * accumulating σ (exact Long path counts: sum over preds) with an
    * anti-join against the settled set; backward = one
    * level⋈edges⋈deeper-level join per depth, deepest first, over
    * the recorded per-level frames (pred(w) = {v : depth(v) =
    * depth(w)−1 ∧ v→w} — the DAG is implicit, never materialized).
    *
    * Cross-engine exactness (the repo's no-libm rule): the rational
    * σ_v/σ_w terms are NOT summed as doubles (order-dependent
    * rounding) — each term is quantized to integer `scale` units by
    * ONE truncating division, term = (σ_v · (scale + δ_w)) div σ_w,
    * so δ stays an exact Long and any 64-bit engine replays the
    * accumulation bit-identically (the pageRank fixed-point
    * discipline). Each division truncates < 1 unit = 1e-6 of a path
    * share at the default scale — immaterial against the sampling
    * error the estimator already carries. Overflow guards ride the
    * hot columns (raise_error, the sssp guard discipline): σ ≤ 1e7
    * and δ ≤ 1e11 keep σ·(scale+δ) ≤ ~1e18 < 2^63; a graph past
    * either bound fails LOUDLY and needs a wider-scale story.
    *
    * Scale shape: |S| is fixed, state is |S|×nodes — linear, never
    * quadratic; sampling IS the scale lever. Forward round = one
    * frontier⋈edges equi-join + map-side-combined sum + anti-join;
    * backward round = one join per depth. Per-level localCheckpoint,
    * released as the backward pass consumes each level; bucket edges
    * on src at 100 TB.
    *
    * Input: edges (src, dst) — directed rows, symmetrize for
    * undirected BC; sources (node). Output: (node, bc_scaled) —
    * Σ_s δ_s(v)·scale over v ≠ s, positive rows only. */
  def betweenness(edges: DataFrame, sources: DataFrame, maxHops: Int,
                  scale: Long = 1000000L, sigmaCap: Long = 10000000L,
                  deltaCap: Long = 100000000000L): DataFrame = {
    require(maxHops >= 1, "maxHops must be positive")
    require(scale >= 1L, "scale must be positive")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    // r22 (VERDICT r21 #5 generalized): the frontier-nonempty witness
    // rides each level's checkpoint job (observedCheckpoint) — one job
    // per level instead of checkpoint + head(1) probe.
    val (f0, f0Row) = observedCheckpoint(
      sources.select(col("node")).filter(col("node").isNotNull)
        .distinct()
        .select(col("node").as("s"), col("node"), lit(1L).as("sig")),
      count(lit(1)))
    // r21 accumulator restructure (guide §1.2, the harmonicCentrality
    // comment): the forward settled set is a LAZY union of the level
    // checkpoints (no per-round growing re-checkpoint), and the
    // backward δ accumulator collects the per-level checkpointed
    // frames and aggregates ONCE at the end (integer sum —
    // associative). r22 (VERDICT r21 #1): the final aggregate is
    // eager-checkpointed and every surviving level/δ checkpoint
    // released — one node-sized checkpoint outlives the call.
    val levels = scala.collection.mutable.ArrayBuffer(f0)
    var frontier = f0
    var n = f0Row.getLong(0)
    var d = 0
    while (d < maxHops && n > 0) {
      val settled = levels
        .map(_.select(col("s"), col("node")))
        .reduce(_ unionByName _)
      val (nxt, nxtRow) = observedCheckpoint(
        frontier.join(e, col("node") === col("src"))
          .groupBy(col("s"), col("dst"))
          .agg(sum(col("sig")).as("sig"))
          .select(col("s"), col("dst").as("node"),
            when(col("sig") > sigmaCap, raise_error(lit(
              s"betweenness: sigma > $sigmaCap (scaled-term overflow " +
                "bound - widen the quantization before trusting this " +
                "graph)")).cast("long"))
              .otherwise(col("sig")).as("sig"))
          .join(settled, Seq("s", "node"), "left_anti"),
        count(lit(1)))
      levels += nxt
      frontier = nxt
      n = nxtRow.getLong(0)
      d += 1
    }
    // backward: δ over the implicit shortest-path DAG, deepest first.
    // The deepest recorded level has no deeper successors → δ = 0.
    var deeper = levels.last
      .select(col("s"), col("node"), col("sig"), lit(0L).as("dl"))
    val accPieces = scala.collection.mutable.ArrayBuffer(
      deeper.select(col("s"), col("node"), col("dl")))
    // checkpointed frames the final aggregate still reads lazily:
    // levels.last (via accPieces(0)) and each backward lvlD below
    val retained = scala.collection.mutable.ArrayBuffer(levels.last)
    for (i <- levels.length - 2 to 0 by -1) {
      val terms = levels(i).join(e, col("node") === col("src"))
        .join(deeper.select(col("s"), col("node").as("dst"),
          col("sig").as("sw"),
          when(col("dl") > deltaCap, raise_error(lit(
            s"betweenness: delta > $deltaCap (scaled-term overflow " +
              "bound)")).cast("long")).otherwise(col("dl")).as("dw")),
          Seq("s", "dst"))
        .select(col("s"), col("node"),
          expr(s"(sig * (${scale}L + dw)) div sw").as("term"))
        .groupBy(col("s"), col("node")).agg(sum(col("term")).as("dl"))
      val lvlD = levels(i).join(terms, Seq("s", "node"), "left")
        .select(col("s"), col("node"), col("sig"),
          coalesce(col("dl"), lit(0L)).as("dl"))
        .localCheckpoint()
      // levels(i) is superseded by lvlD (an eager checkpoint); only
      // levels.last stays — accPieces(0) reads it lazily
      releaseCheckpoint(levels(i))
      accPieces += lvlD.select(col("s"), col("node"), col("dl"))
      retained += lvlD
      deeper = lvlD
    }
    releaseCheckpoint(e)
    settle(accPieces.reduce(_ unionByName _)
      .filter(col("node") =!= col("s"))
      .groupBy(col("node")).agg(sum(col("dl")).as("bc_scaled"))
      .filter(col("bc_scaled") > 0), retained)
  }

  /** CONNECTED COMPONENTS via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — graft's one exact CC (`Dedup.connectedComponents` is
    * its near-dedup adapter). It takes O(log n) ROUNDS where min-label
    * propagation (`labelPropagate`) takes O(diameter), which matters
    * when components are DEEP: a 10⁶-node path costs ~10⁶ hashmin
    * supersteps but ~20 star rounds, because each round REWRITES the
    * edge list toward the component's star (the doubling trade the
    * labelPropagate scaladoc names — edges are mutated, labels aren't
    * carried):
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star(u): every neighbor v < u (and u itself)
    *    re-attaches to m.
    *
    * The fixpoint is the star forest rooted at each component's
    * minimum id; labels read off as min(Γ(node) ∪ {node}). Both steps
    * are one symmetrize + one min groupBy + one broadcast-sized join
    * per round — and every step's output is node-bounded ∪ edge-
    * bounded, never a fan-out. Convergence is detected by the
    * star-forest witness (see ccIsStarForest for the argument) — r22:
    * evaluated as a row-local violation count OBSERVED on each round's
    * checkpoint job, over the checkpointed sym⋈mins frame the next
    * round's large-star step and the final label read-off also
    * consume (one job and one shuffled aggregate + join fewer per
    * round; see the ccStar body). Everything is
    * integer min arithmetic — engine-replayable, so the whole
    * iterated build hash-gates against a WITH RECURSIVE closure
    * (q343). Input: (u, v) pairs, u ≠ v rows tolerated either order;
    * isolated nodes don't appear.
    * Output: (node, comp). */
  private[graft] def ccCanon(df: DataFrame): DataFrame =
    df.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
  private def ccSym(df: DataFrame): DataFrame =
    df.unionByName(df.select(col("v").as("u"), col("u").as("v")))
  private def ccMins(nbrs: DataFrame): DataFrame =
    nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
  private def ccStarStep(e: DataFrame, large: Boolean): DataFrame = {
    val nbrs = ccSym(e)
    val j = nbrs.join(ccMins(nbrs), Seq("u"))
    if (large)
      j.filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    else {
      val moved = j.filter(col("v") < col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = ccMins(nbrs).filter(col("u") =!= col("m"))
        .select(col("u"), col("m").as("v"))
      moved.unionByName(self)
    }
  }
  /** One alternation round: large-star, then small-star, re-canonicalized. */
  private[graft] def ccRound(e: DataFrame): DataFrame =
    ccCanon(ccStarStep(ccStarStep(e, large = true), large = false))
  /** Convergence witness (r17 — the sssp scalar-witness treatment):
    * a canonical edge set is a FIXPOINT of the large-star/small-star
    * alternation ⟺ it is a STAR FOREST rooted at component minima
    * (Kiveris et al. 2014 prove the alternation's fixpoints are
    * exactly the min-rooted star forests — Thm 2 convergence + the
    * star-roundup argument), and star-forest-ness is ONE
    * edge-bounded filter-count instead of the former count +
    * exceptAll set-difference (three jobs, one a full shuffle
    * compare of both edge sets). Per directed symmetrized row
    * (w → x) with m(w) = min(Γ(w) ∪ {w}):
    *   - x > w (w is the smaller endpoint): w must be its star's
    *     root, i.e. m(w) = w;
    *   - x < w (w is the larger endpoint): x must be w's root AND
    *     only smaller neighbor, i.e. m(w) = x (a second smaller
    *     neighbor z ≠ x makes one of the two rows violate).
    * Violations empty ⇒ every edge is root↔leaf with the root the
    * minimum of its star ⇒ both star steps are the identity (large:
    * leaves re-attach to m(root) = root; small: leaves' m = root,
    * self rows reproduce existing edges). The converse direction —
    * a fixpoint must be such a forest — is the cited theorem. The
    * witness can stop one round EARLIER than the old
    * predecessor-equality probe (when next ≠ e but next is already a
    * star forest) — a pure win: the old extra round was the identity,
    * so the read-off labels are unchanged. GraphSpec pins witness ⇔
    * FIXPOINT (ccRound(next) set-equals next) at every round on
    * adversarial shapes (cycle, star, 200-path, mixed). */
  private[graft] def ccIsStarForest(e: DataFrame): Boolean = {
    val nbrs = ccSym(e)
    nbrs.join(ccMins(nbrs), Seq("u"))
      .filter((col("v") > col("u") && col("m") =!= col("u")) ||
        (col("v") < col("u") && col("m") =!= col("v")))
      .isEmpty
  }
  def ccStar(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    // r22 (VERDICT r21 #3): the per-round checkpoint is now
    // J(e) = sym(e) ⋈ mins(sym(e)) — rows (u, v, m) — instead of the
    // canonical edge set e, because all three per-round consumers read
    // J directly:
    //   - the star-forest WITNESS is J's row-local violation filter
    //     (ccIsStarForest used to re-derive sym+mins+join as a second
    //     shuffle job per round); it now rides the checkpoint
    //     materialization as an observe() metric — one job per round;
    //   - the next round's LARGE-STAR step is J.filter(v > u) with its
    //     sym+mins already inside J (one min-groupBy + join per round
    //     deleted);
    //   - the final LABELS are distinct (u, m) of J — exactly the old
    //     ccSym(e) min read-off (J joins every sym row to its u's min).
    // J holds 2|e| rows of 3 Longs vs |e| rows of 2 — a 3× checkpoint
    // bought against one shuffled aggregate + join per round. The
    // witness also runs BEFORE round 1 now: a star-forest input makes
    // round 1 the identity (Kiveris et al. Thm 2 — fixpoints are
    // exactly the min-rooted star forests), so the 0-round exit reads
    // identical labels.
    val violation = (col("v") > col("u") && col("m") =!= col("u")) ||
      (col("v") < col("u") && col("m") =!= col("v"))
    def joined(e: DataFrame): (DataFrame, Boolean) = {
      val nbrs = ccSym(e)
      val (j, row) = observedCheckpoint(nbrs.join(ccMins(nbrs), Seq("u")),
        count(when(violation, 1L)).as("viol"))
      (j, row.getLong(0) == 0L)
    }
    var (j, done) = joined(ccCanon(pairs.select(col("u"), col("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)))
    var rounds = 0
    while (!done && rounds < maxRounds) {
      val large = j.filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val (jn, d) = joined(ccCanon(ccStarStep(large, large = false)))
      releaseCheckpoint(j)
      j = jn
      done = d
      rounds += 1
    }
    if (!done) throw new IllegalStateException(
      s"ccStar did not converge within $maxRounds alternation rounds")
    // The FINAL round's checkpoint stays persisted: the returned
    // frame reads from it (the kCore lineage discipline — releasing
    // it here truncates lineage and every later execution dies with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    j.select(col("u").as("node"), col("m").as("comp")).distinct()
  }

  /** ONE-LEVEL LOUVAIN REFINEMENT (Blondel et al. 2008's local-move
    * phase, parallelized with the LOCALLY-DOMINANT move selection of
    * distributed-Louvain practice — cf. Ghosh et al. 2018): given an
    * initial community assignment (e.g. hashmin labels), run a fixed
    * number of rounds where nodes greedily re-attach to the NEIGHBOR
    * community with the best exact-integer modularity gain. This is
    * the OPTIMIZER the q358 metric was missing: q358 scores a
    * partition, this improves one.
    *
    * Exact-integer ΔQ (the q358 fraction, differentiated): moving
    * node i (degree dᵢ) from community a to neighbor community b
    * changes 4m²·Q by
    *
    *   Δ = 4m·(k_ib − k_ia) − 2dᵢ·(d_b − d_a + dᵢ)
    *
    * where k_ic = i's edges into c, d_c = Σ degree over c's members
    * (pre-move), m = undirected edge count — all Longs, so the whole
    * build replays in DuckDB CTEs (overflow bound: |Δ| ≤ 8m·d_max,
    * loud under ANSI far before 2⁶³; fine to m·d_max < 10¹⁸).
    *
    * Round structure (each step one join/groupBy, node- or
    * edge-bounded — the labelPropagate envelope):
    *   1. k_ic: edges ⋈ labels on dst, groupBy (src, nb_lab);
    *   2. candidate moves: k ⋈ labels ⋈ deg ⋈ d_c (twice), Δ > 0
    *      only, NEIGHBOR communities only (the Blondel scan);
    *   3. best move per node: min-struct aggregate over
    *      (−Δ asc, target asc) — deterministic total order, a plain
    *      map-side-combinable groupBy (r18: was a row_number window;
    *      values identical, see below);
    *   4. LOCALLY-DOMINANT selection: a move applies iff it is the
    *      best move INCIDENT to both its source and target community
    *      (each candidate exploded to its two endpoint communities,
    *      each community's winner picked by a min-struct aggregate
    *      over (−Δ, node, target), a move kept iff it equals the
    *      winner of BOTH its endpoint communities). Applied moves
    *      therefore touch
    *      PAIRWISE-DISJOINT communities, so their ΔQ are exactly
    *      additive and Q STRICTLY INCREASES by Σ Δ each round that
    *      applies any move (k_ib can't shift under a concurrent move:
    *      a neighbor entering/leaving b would share community b —
    *      excluded; degrees never change). The global-best move wins
    *      both its partitions, so progress is guaranteed while any
    *      positive move exists — this is the symmetric-swap
    *      oscillation fix, proven not assumed.
    *   5. apply: labels ⟕ applied, coalesce.
    * Rounds are FIXED (caller-bounded, replayed verbatim by the
    * oracle); a round with no positive move is the identity in both
    * engines. Labels localCheckpoint per round (kCore lifetime rule:
    * the final round's checkpoint backs the returned frame).
    *
    * Input: edges (src, dst) SYMMETRIZED, no self-loops (the
    * labelPropagate precondition); labels (node, label) covering
    * every src. Output: (node, label) refined.
    *
    * Implemented as louvainMove with unit weights — sum(1) ≡ count,
    * so values (and the q363 gate hashes) are unchanged. */
  def louvainRefine(edges: DataFrame, labels: DataFrame,
                    rounds: Int): DataFrame =
    louvainMove(edges.select(col("src"), col("dst"), lit(1L).as("w")),
      labels, rounds)

  /** WEIGHTED Louvain local-move phase — the general engine behind
    * louvainRefine and the phase the Blondel pyramid re-runs on each
    * CONTRACTED super-graph (louvainContract). Same locally-dominant
    * parallel selection and exact-integer ΔQ as the unweighted
    * scaladoc above, generalized to a weighted multigraph:
    *
    *   Δ·(4m²-scale) = 2·M₂·(k_ib − k_ia) − 2dᵢ·(d_b − d_a + dᵢ)
    *
    * where M₂ = Σ rows w = Σᵢⱼ Aᵢⱼ = 2m (so 2·M₂ ≡ 4m — the
    * unweighted formula's 4·(count/2)·… with weights), k_ic = Σ w of
    * i's NON-LOOP edges into c, dᵢ = Σ w over i's rows INCLUDING a
    * self-loop once. Conventions (chosen so contraction is exact —
    * see louvainContract): non-loop undirected edges appear in BOTH
    * directions each carrying w = Aᵢⱼ; a self-loop appears ONCE with
    * w = Aᵢᵢ = twice the contracted intra-community edge count.
    * Self-loops are EXCLUDED from k (they move with the node: their
    * S-contribution is invariant under any move) but INCLUDED in d
    * (d_i = Σⱼ Aᵢⱼ with Aᵢᵢ once), which makes d'_a = Σ_{i∈a} dᵢ and
    * Q(super, identity) = Q(base, labels) hold EXACTLY — all Longs,
    * engine-replayable.
    *
    * r18: both row_number windows are gone. The per-node best move
    * and the per-community dominant winner are min-STRUCT aggregates
    * ((−Δ, tiebreak…) lexicographic — the same deterministic total
    * order the windows sorted by), so the selection is two map-side-
    * combinable groupBys instead of per-community sort partitions: a
    * hub community at 100 TB previously funneled all its boundary
    * candidates through ONE window partition; a max-aggregate has no
    * such skew point (VERDICT r17 wrong #3). */
  def louvainMove(edges: DataFrame, labels: DataFrame,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    // r22 (VERDICT r21 #5 generalized): m2 = Σ w rides the edge
    // checkpoint job (observedCheckpoint) — one job instead of
    // checkpoint + aggregate scan.
    val (e, eRow) = observedCheckpoint(
      edges.select(col("src"), col("dst"), col("w"))
        .filter(col("src").isNotNull && col("dst").isNotNull),
      sum(col("w")))
    val deg = e.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("d")).localCheckpoint()
    // Σ w = Σij Aij = 2m (symmetrized non-loops + single loops)
    val m2 = if (eRow.isNullAt(0)) 0L else eRow.getLong(0)
    var lbl = labels.select(col("node"), col("label").as("lab"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      // k is read twice (neighbor-community gain + own-community
      // subtraction) and best twice (the dominant-selection explode) —
      // r22: NEITHER is checkpointed anymore. The whole round collapses
      // into ONE plan materialized by `next`'s checkpoint (one job per
      // round instead of three), and the doubled reads dedupe at the
      // physical layer: both uses of k (and of best) are the same
      // logical subtree, so their Exchanges come out as ReusedExchange
      // — the shuffle is written once and read twice, only the cheap
      // post-exchange aggregate re-runs. Lineage stays bounded: the
      // round's inputs are checkpoint scans (e, deg, lbl). Self-loops
      // excluded from k: they ride along with the node under any move.
      val k = e.filter(col("src") =!= col("dst"))
        .join(lbl.select(col("node").as("dst"), col("lab").as("nb_lab")),
          Seq("dst"))
        .groupBy(col("src").as("node"), col("nb_lab"))
        .agg(sum(col("w")).as("k"))
      val dc = lbl.join(deg, Seq("node"))
        .groupBy(col("lab")).agg(sum(col("d")).as("dlab"))
      // join order (r22): the ka self-read joins FIRST, while the left
      // side is still partitioned by node from the k⋈lbl join — both
      // sides then shuffle by node over the same k subtree and the
      // physical plan reuses ONE Exchange for them (vs last position:
      // a candidate-sized exchange by (node, lab) plus a fresh k-side
      // exchange). Pure reorder of an inner-join chain plus a LEFT
      // join that only ADDS a column (never filters), and the dc
      // inner joins match every lab/nb_lab by construction — row set
      // and values identical.
      val cand = k
        .join(lbl, Seq("node"))
        .filter(col("nb_lab") =!= col("lab"))
        .join(deg, Seq("node"))
        .join(k.select(col("node"), col("nb_lab").as("lab"),
          col("k").as("ka")), Seq("node", "lab"), "left")
        .join(dc.select(col("lab"), col("dlab").as("da")), Seq("lab"))
        .join(dc.select(col("lab").as("nb_lab"), col("dlab").as("db")),
          Seq("nb_lab"))
        .select(col("node"), col("lab").as("a"), col("nb_lab").as("b"),
          (lit(2L) * m2 * (col("k") - coalesce(col("ka"), lit(0L))) -
            lit(2L) * col("d") * (col("db") - col("da") + col("d")))
            .as("dq"))
        .filter(col("dq") > 0)
      // best move per node: min-struct over (−Δ, b) — same total
      // order the old (Δ desc, b asc) window sorted by; `a` rides
      // along (functionally determined by node, so still a pure
      // aggregate). Read twice by the dominant-selection explode —
      // the doubled subtree shares its Exchange (ReusedExchange), see
      // the round comment above.
      val best = cand
        .groupBy(col("node"))
        .agg(min(struct((-col("dq")).as("nd"), col("b"), col("a")))
          .as("mv"))
        .select(col("node"), col("mv.a").as("a"), col("mv.b").as("b"),
          (-col("mv.nd")).as("dq"))
        .localCheckpoint()
      val ex = best.select(col("a").as("comm"), col("node"), col("b"),
          col("dq"))
        .unionByName(best.select(col("b").as("comm"), col("node"),
          col("b"), col("dq")))
      // dominant winner per endpoint community: min-struct over
      // (−Δ, node, b) — the old per-community rank-1; a move applies
      // iff it is the winner of BOTH its communities (matches the
      // winner row in each of its two `ex` appearances).
      val win = ex.groupBy(col("comm"))
        .agg(min(struct((-col("dq")).as("nd"), col("node").as("wn"),
          col("b").as("wb"))).as("wv"))
      val applied = ex.join(win, Seq("comm"))
        .filter(col("node") === col("wv.wn") && col("b") === col("wv.wb"))
        .groupBy(col("node"), col("b"))
        .agg(count(lit(1)).as("nwin"))
        .filter(col("nwin") === 2)
        .select(col("node"), col("b"))
      val next = lbl.join(applied, Seq("node"), "left")
        .select(col("node"), coalesce(col("b"), col("lab")).as("lab"))
        .localCheckpoint()
      releaseCheckpoint(best)
      releaseCheckpoint(lbl)
      lbl = next
    }
    releaseCheckpoint(e)
    releaseCheckpoint(deg)
    lbl.select(col("node"), col("lab").as("label"))
  }

  /** BLONDEL CONTRACTION (phase 2 of Blondel et al. 2008): collapse
    * each community to one super-node, producing a WEIGHTED graph in
    * exactly louvainMove's input convention. Input: edges
    * (src, dst, w) in that same convention (pass w = 1 for a plain
    * symmetrized simple graph); labels (node, label) covering every
    * src. Output (src, dst, w): inter-community pairs appear in both
    * directions (the base symmetrized list already carries both, and
    * grouping preserves them) with w = Σ base w across the cut; the
    * la = lb group collapses to ONE self-loop row with
    * w = Σ_{i,j∈a} A_ij = 2×intra-weight (+ any base self-loops
    * once). Exactness (louvainMove's scaladoc conventions): the
    * super-graph's d'_a = Σ_{i∈a} dᵢ, 2m' = 2m, and
    * Q(super, identity) = Q(base, labels) — integer-for-integer, so
    * a full pyramid level replays in the oracle. */
  def louvainContract(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("node").as("src"), col("label").as("la")),
        Seq("src"))
      .join(labels.select(col("node").as("dst"), col("label").as("lb")),
        Seq("dst"))
      .groupBy(col("la").as("src"), col("lb").as("dst"))
      .agg(sum(col("w")).as("w"))

  /** FULL MULTI-LEVEL BLONDEL PYRAMID (Blondel et al. 2008 — the
    * complete two-phase algorithm; q367 gates ONE contract+move
    * step of it): repeat
    *   phase 1: louvainMove on the current (super-)graph, every
    *            (super-)node starting as its own community;
    *   phase 2: louvainContract to the community super-graph;
    * for `levels` levels, expanding each level's labels back to BASE
    * nodes. STOPS EARLY when a level applies no move: identity
    * labels contract to the same graph, so every later level would
    * replay the identical computation — the early exit is a pure
    * optimization (the sssp converged-round contract), and an oracle
    * that unrolls all `levels` levels sees identity CTEs for the
    * converged tail.
    *
    * Exactness: each level is louvainMove + louvainContract, whose
    * integer weight conventions (inter weights both directions,
    * intra as one self-loop row of 2×intra; loops out of k, in d)
    * make d'_a = Σ dᵢ, 2m' = 2m and Q(super, identity) =
    * Q(base, expanded) hold EXACTLY — so per-level modularity audits
    * need only the base graph, and the whole pyramid replays
    * integer-for-integer in a SQL oracle.
    *
    * Scale: level L's move runs on a graph whose node count is level
    * L−1's COMMUNITY count — cost collapses geometrically past level
    * 1 (why Blondel et al. report near-linear behavior on billion-
    * edge graphs). Per-level localCheckpoint + release; every
    * RETURNED frame is backed by its own checkpoint (caller owns
    * their lifetime).
    *
    * Input: edges (src, dst, w) in louvainMove's convention
    * (symmetrized non-loops both directions, self-loops once).
    * Output: one frame PER LEVEL, (node, label) over BASE nodes;
    * converged levels repeat the last assignment (same frame). */
  def louvainPyramid(edges: DataFrame, levels: Int,
                     moveRounds: Int): Seq[DataFrame] = {
    require(levels >= 1, "levels must be positive")
    var cur = edges.select(col("src"), col("dst"), col("w"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var stopped = false
    for (_ <- 1 to levels) {
      if (stopped) out += out.last
      else {
        val init = cur.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label"))
        // r22 (VERDICT r21 #5 generalized): the any-move witness rides
        // the level-output checkpoint job (observedCheckpoint) — one
        // job instead of checkpoint + head(1) probe.
        val (moved, movedRow) = observedCheckpoint(
          louvainMove(cur, init, moveRounds),
          count(when(col("node") =!= col("label"), 1)))
        val anyMove = movedRow.getLong(0) > 0
        val expanded =
          if (out.isEmpty) moved
          else out.last
            .join(moved.select(col("node").as("label"),
              col("label").as("l2")), Seq("label"))
            .select(col("node"), col("l2").as("label"))
            .localCheckpoint()
        out += expanded
        if (anyMove) {
          val nxt = louvainContract(cur, moved).localCheckpoint()
          releaseCheckpoint(cur)
          cur = nxt
        } else stopped = true
        if (!(expanded eq moved)) releaseCheckpoint(moved)
      }
    }
    releaseCheckpoint(cur)
    out.toSeq
  }

  /** HARMONIC CENTRALITY from a sampled source set (Marchiori &
    * Latora 2000; Boldi & Vigna 2014, "Axioms for Centrality" — the
    * closeness variant that stays finite on disconnected graphs):
    *
    *   HC(v) = Σ_{s∈S, s≠v, d(s,v)≤maxHops} 1 / d(s,v),
    *
    * estimated from caller-supplied sources exactly like
    * `betweenness` (Brandes & Pich 2007 sampling — |S| fixed, state
    * |S|×nodes, sampling is the scale lever). Unreachable and
    * beyond-horizon pairs contribute 0 — harmonic's defining property
    * vs classic closeness, whose 1/Σd collapses to 0 whenever ANY
    * pair is unreachable.
    *
    * Cross-engine exactness (the no-libm rule): each 1/d term is
    * quantized to integer `scale` units by ONE truncating division
    * (`scale div d` — positive operands, so DuckDB `//` replays it
    * bit-identically), and HC accumulates as an exact BIGINT sum.
    * No overflow guard needed: each term ≤ scale = 1e6 and the sum
    * is bounded by |S|·scale ≤ 8e6 per node at the gated sample.
    *
    * Scale shape per round: one frontier⋈edges equi-join + anti-join
    * against the settled set (the `bfs` kernel, vectorized over
    * sources) — map-side combine on (s, node); bucket edges on src
    * at 100 TB. Per-round localCheckpoint; the per-round checkpoints
    * are released once the final sum eager-checkpoints (one
    * node-sized checkpoint outlives the call — the kCore rule).
    *
    * Input: edges (src, dst) — directed rows, symmetrize for the
    * undirected metric; sources (node). Output: (node, hc_scaled)
    * — Σ_s (scale div d(s,v)) over s ≠ v, positive rows only (a node
    * reached by NO sampled source is absent, like betweenness). */
  def harmonicCentrality(edges: DataFrame, sources: DataFrame,
                         maxHops: Int,
                         scale: Long = 1000000L): DataFrame = {
    require(maxHops >= 1, "maxHops must be positive")
    require(scale >= 1L, "scale must be positive")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    // r22 (VERDICT r21 #5 generalized): the frontier-nonempty witness
    // rides each level's checkpoint job (observedCheckpoint) — one job
    // per level instead of checkpoint + head(1) probe.
    val (f0, f0Row) = observedCheckpoint(
      sources.select(col("node")).filter(col("node").isNotNull)
        .distinct()
        .select(col("node").as("s"), col("node")),
      count(lit(1)))
    // r21 accumulator restructure (guide §1.2 — fewer passes): the
    // settled set and the hc partial sums used to re-checkpoint a
    // GROWING union every round (O(rounds²) copied rows plus two
    // materialization jobs per round). Every per-round frontier is
    // already checkpointed, so both accumulators are now LAZY unions
    // over those checkpoints: the anti-join reads them in place, and
    // the harmonic sum aggregates ONCE at the end (integer sum —
    // associative, so the merged-per-round and summed-once results
    // are identical). r22 (VERDICT r21 #1): the final sum is
    // eager-checkpointed and the level checkpoints released — one
    // node-sized checkpoint outlives the call.
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](f0)
    val contribs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var frontier = f0
    var n = f0Row.getLong(0)
    var d = 0
    while (d < maxHops && n > 0) {
      d += 1
      val settled = levels.reduce(_ unionByName _)
      val (nxt, nxtRow) = observedCheckpoint(
        frontier.join(e, col("node") === col("src"))
          .select(col("s"), col("dst").as("node"))
          .distinct()
          .join(settled, Seq("s", "node"), "left_anti"),
        count(lit(1)))
      levels += nxt
      frontier = nxt
      n = nxtRow.getLong(0)
      contribs += nxt.groupBy(col("node"))
        .agg((count(lit(1)) * lit(scale / d)).as("hc"))
    }
    releaseCheckpoint(e)
    if (contribs.isEmpty) {
      releaseCheckpoint(f0)
      // no source had any out-edge: empty (node, hc_scaled) frame
      emptyResult(edges, edges.schema("src").dataType, "hc_scaled")
    } else {
      // levels(0) = f0 is released by settle with the rest
      settle(contribs.reduce(_ unionByName _)
        .groupBy(col("node")).agg(sum(col("hc")).as("hc"))
        .filter(col("hc") > 0)
        .select(col("node"), col("hc").as("hc_scaled")), levels)
    }
  }

  /** SAMPLED ECCENTRICITY and the diameter lower bound it carries
    * (Magnien, Latapy & Habib 2009, "Fast computation of empirically
    * tight bounds for the diameter of massive graphs"): per sampled
    * source s, ecc(s) = max_v d(s, v) over the ≤maxHops-hop horizon,
    * with the count of reached nodes and an honesty flag.
    * max_s ecc(s) lower-bounds the diameter; the BFS-sampling scheme
    * is the standard massive-graph diameter estimator (iFUB's
    * starting point).
    *
    * Horizon honesty: `is_exact` = 1 iff the source's frontier
    * EMPTIED strictly before the hop bound — its BFS ran to
    * exhaustion and ecc is that source's true eccentricity (on its
    * reachable component). A source whose level-maxHops frontier is
    * nonempty reports is_exact = 0: its ecc row is a LOWER bound
    * (nodes past the horizon would only raise it). All-integer
    * output — no arithmetic beyond max/count, trivially exact
    * cross-engine.
    *
    * Scale shape: the `bfs` kernel vectorized over sources — one
    * frontier⋈edges equi-join + DISTINCT + anti-join per round,
    * state |S|×nodes. Per-round localCheckpoint; the per-round
    * checkpoints are released once the final per-source aggregate
    * eager-checkpoints (one |S|-sized checkpoint outlives the call);
    * bucket edges on src at 100 TB.
    *
    * Input: edges (src, dst) — directed rows, symmetrize for the
    * undirected metric; sources (node). Output: (node, ecc,
    * n_reached, is_exact) — one row per source that reaches at least
    * one OTHER node; a source with no out-edges (ecc undefined on an
    * empty reach set) is absent, the fastestJourney omission
    * contract. */
  def eccentricity(edges: DataFrame, sources: DataFrame,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be positive")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    // r22 (VERDICT r21 #5 generalized): the frontier-nonempty witness
    // rides each level's checkpoint job (observedCheckpoint) — one job
    // per level instead of checkpoint + head(1) probe.
    val (f0, f0Row) = observedCheckpoint(
      sources.select(col("node")).filter(col("node").isNotNull)
        .distinct()
        .select(col("node").as("s"), col("node")),
      count(lit(1)))
    // r21 accumulator restructure (guide §1.2, the harmonicCentrality
    // comment): settled = lazy union of the per-round checkpoints for
    // the anti-join; the per-source (ecc, n_reached) stats union once
    // at the END into one max/sum aggregate (both associative, so the
    // merged-per-round and aggregated-once results are identical).
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](f0)
    val lvls = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var frontier = f0
    var n = f0Row.getLong(0)
    var d = 0
    while (d < maxHops && n > 0) {
      d += 1
      val settled = levels.reduce(_ unionByName _)
      val (nxt, nxtRow) = observedCheckpoint(
        frontier.join(e, col("node") === col("src"))
          .select(col("s"), col("dst").as("node"))
          .distinct()
          .join(settled, Seq("s", "node"), "left_anti"),
        count(lit(1)))
      levels += nxt
      frontier = nxt
      n = nxtRow.getLong(0)
      lvls += nxt.groupBy(col("s"))
        .agg(lit(d.toLong).as("ecc"), count(lit(1)).as("n_reached"))
    }
    // a source is exact iff its frontier died before the bound: no
    // (s, ·) row survives in the FINAL frontier.
    val unfinished = frontier.select(col("s")).distinct()
    releaseCheckpoint(e)
    if (lvls.isEmpty) {
      releaseCheckpoint(f0)
      emptyResult(edges, edges.schema("src").dataType,
        "ecc", "n_reached", "is_exact")
    } else {
      // levels (incl. f0 and the last frontier `unfinished` reads)
      // are released once the final aggregate checkpoints
      settle(lvls.reduce(_ unionByName _).groupBy(col("s"))
        .agg(max(col("ecc")).as("ecc"),
          sum(col("n_reached")).as("n_reached"))
        .join(unfinished.withColumn("unf", lit(1L)), Seq("s"), "left")
        .select(col("s").as("node"), col("ecc"), col("n_reached"),
          when(col("unf").isNull, lit(1L)).otherwise(lit(0L))
            .as("is_exact")), levels)
    }
  }

  /** LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998, "Collective
    * dynamics of 'small-world' networks"): per node,
    *
    *   C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    *
    * the fraction of a node's neighbor pairs that are themselves
    * adjacent — the micro-scale community signal beside the registry's
    * global triangle count (q171), k-core (q240) and k-truss (q365).
    *
    * tri(v) rides `triangleCounts` (degree-oriented compact-forward
    * enumeration — hub fan-out bounded by arboricity); deg(v) is one
    * symmetrized groupBy. The ratio is quantized to integer `scale`
    * units by ONE truncating division (positive operands — DuckDB
    * `//` ≡ Spark `div`), so the output is exact BIGINTs end to end.
    * Nodes with deg ≤ 1 have no neighbor pair and are emitted with
    * lcc_scaled = 0 (not dropped — a degree-1 leaf is structurally
    * interesting), tri = 0 via left join + coalesce.
    *
    * Input: edges (u, v) — undirected, one row per edge, u ≠ v
    * (orientation not required; triangleCounts symmetrizes). Output:
    * (node, deg, tri, lcc_scaled). Overflow: 2·tri·scale ≤ 2e6·tri —
    * safe while tri < 4.6e12 (any fixture's wedge count is far
    * below). */
  def localClustering(edges: DataFrame,
                      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L, "scale must be positive")
    val e = edges.select(col("u"), col("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct()
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(e)
    deg.join(tri.select(col("node"), col("n_triangles").as("tri")),
        Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_scaled",
        when(col("deg") <= 1, lit(0L))
          .otherwise(expr(s"(2 * tri * ${scale}L) div (deg * (deg - 1))")))
  }

  /** KATZ CENTRALITY, bounded-horizon form (Katz 1953, "A new status
    * index derived from sociometric analysis"):
    *
    *   katz(v) = Σ_{k=1..K} α^k · |walks of length k ending at v|,
    *
    * the walk-count centrality between degree (K = 1) and eigenvector
    * centrality (K → ∞) — unlike PageRank it does NOT normalize by
    * out-degree, so prolific hubs radiate full influence. The K-term
    * truncation is the gateable bounded prefix (the sssp discipline);
    * with α = 1/attenuation ≤ 1/λ_max it is also the convergent
    * series' dominant head.
    *
    * Exact-integer discipline (the pageRank fixed-point rules):
    * v_0 = scale per node; v_{k+1}(n) = (Σ_{u→n} v_k(u)) div
    * attenuation — ONE truncating division per node per level
    * (after the exact Long sum, so the floor leak is < 1 unit per
    * node-level, not per edge); katz_fp = Σ v_k, k ≥ 1. Any 64-bit
    * engine replays it. Overflow: each level multiplies by ≤
    * (max_indeg / attenuation); a raise_error cap at 1e17 bounds
    * each PER-LEVEL value, and the constructor requires
    * levels ≤ Long.MaxValue/levelCap so the cross-level accumulator
    * Σ v_k ≤ levels·levelCap stays below 2^63 — the per-level cap
    * alone does not bound the sum (ADVICE r19: levels ≥ 93 at the
    * default cap would silently wrap).
    *
    * Per level: one edges⋈vector equi-join + map-side-combined sum —
    * the Pregel superstep, same scale story as pageRank (bucket
    * edges on dst at 100 TB; the vector is node-sized).
    *
    * Input: edges (src, dst), directed; symmetrize for undirected
    * Katz. Output: (node, katz_fp) for nodes with ≥ 1 in-walk —
    * katz_fp / scale is the score. */
  def katz(edges: DataFrame, levels: Int, attenuation: Long = 8L,
           scale: Long = 1000000000L,
           levelCap: Long = 100000000000000000L): DataFrame = {
    require(levels >= 1, "levels must be positive")
    require(attenuation >= 2, "attenuation must be >= 2")
    require(levelCap >= 1L && levels <= Long.MaxValue / levelCap,
      s"levels ($levels) * levelCap ($levelCap) must stay below 2^63: " +
        "the per-level cap bounds each term, this product bounds the sum")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    var v = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .select(col("node"), lit(scale).as("v"))
      .localCheckpoint()
    // r21 accumulator restructure (guide §1.2, the harmonicCentrality
    // comment): the cross-level accumulator used to re-checkpoint a
    // growing union + re-aggregate EVERY level; each level's vector is
    // already checkpointed for the next superstep, so the Σ_k v_k sum
    // now aggregates ONCE at the end over the lazy union of the level
    // checkpoints (exact Long sum — associative). r22 (VERDICT r21
    // #1): the sum is eager-checkpointed and the level checkpoints
    // released — one node-sized checkpoint outlives the call instead
    // of levels × |V| rows.
    val lvls = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (_ <- 1 to levels) {
      val nxt = v.join(e, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("v")).as("sv"))
        // integer `div`, NOT `/` (long / long is DOUBLE division in
        // Spark SQL — the one-ulp hazard the fixed-point rules exist
        // to keep out)
        .select(col("dst").as("node"),
          expr(s"sv div ${attenuation}L").as("v"))
        .select(col("node"),
          when(col("v") > levelCap, raise_error(lit(
            "katz: level value > cap - walk growth outruns the " +
              "attenuation; raise it or lower levels")).cast("long"))
            .otherwise(col("v")).as("v"))
        .localCheckpoint()
      if (lvls.isEmpty) releaseCheckpoint(v) // the init vector only
      v = nxt
      lvls += nxt
    }
    releaseCheckpoint(e)
    settle(lvls.reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("v")).as("v"))
      .select(col("node"), col("v").as("katz_fp")), lvls)
  }

  /** DETERMINISTIC RANDOM-WALK CORPUS (the DeepWalk/node2vec data-
    * prep step — Perozzi, Al-Rfou & Skiena 2014): one walk of
    * `length` steps from EVERY node, the token-sequence corpus a
    * skip-gram embedder trains on. The walk's randomness is
    * content-addressed (the q124/luby md5 discipline): at step i the
    * walk at start s moves to the out-neighbor minimizing
    * md5(salt‖s‖':'‖i‖':'‖dst) — per-(start, step) re-salting makes
    * consecutive steps independent draws, md5 distinctness makes the
    * argmin unique, and any engine with md5 replays the corpus
    * byte-identically: no RNG state, no seed table, restart-safe.
    *
    * Per step: one frontier⋈edges equi-join + ONE map-side-combined
    * min(struct(coin, dst)) groupBy — the argmin rides lexicographic
    * struct ordering (coin first; md5 keys cannot tie, and dst
    * breaks a hypothetical tie deterministically), so no second
    * join-back pass over the coin frame (measured at derived sf1:
    * the join-back form read 14.6 GB shuffle, this reads half). The
    * coin payload is the full 32-hex md5 — truncating it would
    * admit argmin ties; the width is the price of replayability.
    * State is one row per start — |V| rows at every step.
    * Walks STOP at a sink (no out-edges): the row simply doesn't
    * extend — symmetrize the edge list to guarantee full-length
    * walks. Bucket edges on src at 100 TB; the walk table is
    * node-sized.
    *
    * Input: edges (src, dst); salt. Output: (start, step, node) —
    * step 0 is the start itself. */
  def deterministicWalks(edges: DataFrame, length: Int,
                         salt: String = "dw:"): DataFrame = {
    require(length >= 1, "length must be positive")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    // the loop fully materializes every step before returning, so the
    // edge checkpoint can be released here
    val out = deterministicWalksPrepared(e, length, salt)
    releaseCheckpoint(e)
    out
  }

  /** [[deterministicWalks]] over an ALREADY-normalized edge table
    * (distinct rows, non-null src/dst) — the bucket-on-src read path
    * (VERDICT r19 #5): no internal distinct + localCheckpoint on the
    * edge side, so when `e` is a table bucketed on `src`
    * (Warehouse.writeBucketed, the q96/q171 discipline) every step's
    * frontier⋈edges join reads the bucketed layout without an
    * edge-sized Exchange — GraphBucketProbe's walks leg measures the
    * delta and asserts output identity. Same output contract as
    * deterministicWalks on the same edge set. */
  def deterministicWalksPrepared(eRaw: DataFrame, length: Int,
                                 salt: String = "dw:"): DataFrame = {
    require(length >= 1, "length must be positive")
    // ADVICE r20: null src/dst would silently seed a null start row
    // and diverge from deterministicWalks — guard here too. A filter
    // preserves a bucketed layout, so the Exchange-free bucket read
    // path is unaffected; the DISTINCT precondition stays caller-
    // owned (min-argmin is idempotent under duplicates anyway).
    val e = eRaw.filter(col("src").isNotNull && col("dst").isNotNull)
    val starts = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .select(col("node").as("start"), col("node"))
      .localCheckpoint()
    // r21 accumulator restructure (guide §1.2): the walk table used to
    // re-checkpoint the GROWING (start, step, node) union every step —
    // O(length²) copied rows and one extra materialization job per
    // step. Each step's frontier is already checkpointed for the next
    // join, so the output is the LAZY union of per-step selects over
    // those checkpoints. r22 (VERDICT r21 #1): the union is
    // eager-checkpointed ONCE (a single output-sized copy) and the
    // per-step checkpoints released — bounded retention, kCore rule.
    val pieces = scala.collection.mutable.ArrayBuffer[DataFrame](
      starts.select(col("start"), lit(0L).as("step"), col("node")))
    val retained = scala.collection.mutable.ArrayBuffer[DataFrame](starts)
    var cur = starts
    for (i <- 1 to length) {
      val nxt = cur.join(e, col("node") === col("src"))
        .select(col("start"),
          struct(
            md5(concat(lit(salt), col("start").cast("string"), lit(":"),
              lit(i.toString), lit(":"), col("dst").cast("string")))
              .as("coin"),
            col("dst")).as("cd"))
        .groupBy(col("start")).agg(min(col("cd")).as("cd"))
        .select(col("start"), col("cd.dst").as("node"))
        .localCheckpoint()
      cur = nxt
      pieces += nxt.select(col("start"), lit(i.toLong).as("step"),
        col("node"))
      retained += nxt
    }
    settle(pieces.reduce(_ unionByName _), retained)
  }

  /** BUTTERFLY COUNTING — the 2×2-biclique motif census of a
    * BIPARTITE graph (Sanei-Mehri, Sariyüce & Tirthapura 2018,
    * "Butterfly Counting in Bipartite Networks"; distributed
    * vertex-priority variant in Wang et al. 2019): a butterfly is
    * two left vertices sharing two right vertices — the smallest
    * cohesion unit a bipartite graph admits (it has NO triangles, so
    * the whole q171/q365/q375 motif stack reads zero on it; this is
    * the bipartite replacement).
    *
    * Counted by wedge aggregation pivoting on the LEFT side: for
    * every right pair (r1, r2) sharing a left vertex, w = the number
    * of shared left vertices; each pair contributes C(w, 2)
    * butterflies, and each of r1/r2 participates in all of them.
    * Per-right-vertex count: b(r) = Σ_{r' ≠ r} C(w(r,r'), 2).
    * Exact integer arithmetic end to end (C(w,2) = w·(w−1) div 2 —
    * even product, the division is exact; any 64-bit engine
    * replays it).
    *
    * PIVOT CHOICE IS THE SCALE LEVER: wedge volume = Σ_l deg(l)² over
    * the pivot side — callers put the LOW-degree side on the left
    * (`l`). On the trade fixture that is customers (deg ≈ 30 at any
    * SF) vs suppliers (deg grows with SF); the same rule at 100 TB
    * keeps the wedge join output-bounded the way q171's degree
    * orientation does. Shuffles: one self-join of edges on l
    * (bucket on l at scale), one map-side-combined groupBy on the
    * (r1, r2) pair, one explode-free re-aggregation per right vertex.
    *
    * Input: edges (l, r) — one row per bipartite edge, distinct.
    * Output: (node, bf) — right-side vertices with ≥ 1 butterfly
    * (w ≥ 2 pairs only; a right vertex in no butterfly is absent). */
  def butterflyCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("l"), col("r")).distinct()
    val pairs = e.as("a").join(e.as("b"),
        col("a.l") === col("b.l") && col("a.r") < col("b.r"))
      .select(col("a.r").as("r1"), col("b.r").as("r2"))
      .groupBy(col("r1"), col("r2")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("r1"), col("r2"),
        expr("(w * (w - 1)) div 2").as("bf"))
    pairs.select(col("r1").as("node"), col("bf"))
      .unionByName(pairs.select(col("r2").as("node"), col("bf")))
      .groupBy(col("node")).agg(sum(col("bf")).as("bf"))
  }

  /** DETERMINISTIC MAXIMAL-INDEPENDENT-SET rounds — Luby's algorithm
    * (Luby 1986, "A Simple Parallel Algorithm for the Maximal
    * Independent Set Problem") with the random priorities replaced by
    * a content-addressed md5 total order (the repo's md5-sampling
    * discipline): node v enters the MIS in round i iff its priority
    * md5(salt‖v) is strictly smaller than every LIVE neighbor's;
    * v and its neighbors then leave the live set. Priorities are
    * distinct with md5-collision probability, so the minimum is
    * unique and every round is deterministic — any engine with md5 +
    * string comparison replays the full trajectory (both Spark and
    * DuckDB emit lowercase-hex md5; ASCII compare agrees).
    *
    * BOUNDED-ROUND contract (the sssp/k-truss gateable-prefix
    * discipline): exactly `rounds` rounds run; output labels every
    * node `mis` (with the round it joined), `removed` (neighbor of a
    * joiner, with the round), or `live` (undecided at the bound,
    * round = 0). Luby's analysis gives O(log n) expected rounds to
    * empty the live set; a caller wanting the certified-maximal set
    * checks no `live` rows remain.
    *
    * INDEPENDENCE is exact at ANY bound: two adjacent nodes can
    * never join (one's priority beats the other's in the round both
    * are live; joining removes the loser). Per round: one
    * frontier⋈edges join + min-groupBy for the neighbor-minimum, one
    * anti-join to shrink the live set — all map-side-combinable;
    * bucket edges on src at 100 TB.
    *
    * Input: edges (src, dst) — symmetrize for undirected MIS (the
    * neighbor minimum reads OUT-edges); salt for the priority hash.
    * Output: (node, status, round). */
  def luby(edges: DataFrame, rounds: Int,
           salt: String = "mis:"): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    val prio = md5(concat(lit(salt), col("node").cast("string")))
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    // r22 (VERDICT r21 #5 generalized): the live-set-nonempty witness
    // rides each round's shrink-checkpoint job (observedCheckpoint) —
    // one job fewer per round than checkpoint + head(1) probe.
    var (live, liveRow) = observedCheckpoint(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct()
        .select(col("node"), prio.as("p")),
      count(lit(1)))
    var nLive = liveRow.getLong(0)
    // r21 accumulator restructure (guide §1.2, the harmonicCentrality
    // comment): the decided set used to re-checkpoint a growing union
    // every round. The live set already excludes every PRIOR round's
    // decided nodes, so the shrink anti-join only needs THIS round's
    // joiners ∪ removed — the cross-round accumulator is assembled
    // once at the end as the lazy union of the per-round checkpoints.
    // r22 (VERDICT r21 #1): that union is eager-checkpointed and the
    // per-round checkpoints released — one node-sized checkpoint
    // outlives the call.
    val pieces = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var i = 0
    while (i < rounds && nLive > 0) {
      i += 1
      // neighbor minimum over LIVE neighbors only
      val nbrMin = live.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), col("p"))
        .join(live.select(col("node")), Seq("node"), "left_semi")
        .groupBy(col("node")).agg(min(col("p")).as("np"))
      val joiners = live.join(nbrMin, Seq("node"), "left")
        .filter(col("np").isNull || col("p") < col("np"))
        .select(col("node"), lit("mis").as("status"),
          lit(i.toLong).as("round"))
        .localCheckpoint()
      // a joiner is never adjacent to a joiner (the smaller priority
      // would have blocked the other), so removed ∩ joiners = ∅ by
      // construction — no anti-join needed
      val removed = joiners.join(e, col("node") === col("src"))
        .select(col("dst").as("node"))
        .distinct()
        .join(live.select(col("node")), Seq("node"), "left_semi")
        .select(col("node"), lit("removed").as("status"),
          lit(i.toLong).as("round"))
        .localCheckpoint()
      val (shrunk, shrunkRow) = observedCheckpoint(
        live.join(joiners.select(col("node"))
          .unionByName(removed.select(col("node"))),
          Seq("node"), "left_anti"),
        count(lit(1)))
      releaseCheckpoint(live)
      pieces += joiners
      pieces += removed
      live = shrunk
      nLive = shrunkRow.getLong(0)
    }
    releaseCheckpoint(e)
    settle((pieces :+ live.select(col("node"), lit("live").as("status"),
      lit(0L).as("round")))
      .reduce(_ unionByName _), pieces :+ live)
  }

  /** SAMPLED ARTICULATION-POINT TEST (cut vertices — Tarjan 1972's
    * target, tested per-candidate the way massive-graph tooling does
    * when the sequential DFS is off the table): candidate v is an
    * articulation point of its component iff deleting v disconnects
    * two of its neighbors — decided by ONE BFS from v's minimum
    * neighbor in G − v, checking whether every OTHER neighbor of v
    * is reached.
    *
    * Verdict semantics under the hop bound (the eccentricity honesty
    * discipline, refined — the two verdicts have DIFFERENT proof
    * obligations):
    *   - all neighbors reached → NOT an articulation point,
    *     DEFINITIVE at any bound (a witness path set exists);
    *   - some neighbor unreached AND the BFS exhausted before the
    *     bound → IS an articulation point, definitive;
    *   - some unreached but the frontier was still alive at the
    *     bound → is_exact = 0: the claim is unproven (deeper rounds
    *     could still connect).
    *
    * Vectorized over candidates ((cand, node) state, the
    * betweenness/eccentricity kernel); G − v is the edge stream
    * filtered on BOTH endpoints ≠ cand — no second edge copy.
    * Scale: |C| is fixed by the caller, state |C|×nodes, one
    * frontier⋈edges join + anti-join per round.
    *
    * Input: edges (src, dst) — symmetrize for the undirected notion;
    * candidates (node). Output: (node, n_neighbors, n_reached,
    * is_articulation, is_exact) — one row per candidate with ≥ 1
    * neighbor. */
  def articulation(edges: DataFrame, candidates: DataFrame,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be positive")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    val cands = candidates.select(col("node").as("cand")).distinct()
    val nbrs = cands.join(e, col("cand") === col("src"))
      .select(col("cand"), col("dst").as("nbr"))
      .distinct()
      .localCheckpoint()
    val nCounts = nbrs.groupBy(col("cand"))
      .agg(count(lit(1)).as("n_neighbors"))
    // r22 (VERDICT r21 #5 generalized): the frontier-nonempty witness
    // rides each level's checkpoint job (observedCheckpoint) — one job
    // per level instead of checkpoint + head(1) probe.
    val (f0, f0Row) = observedCheckpoint(
      nbrs.groupBy(col("cand")).agg(min(col("nbr")).as("node")),
      count(lit(1)))
    // r21 accumulator restructure (guide §1.2, the harmonicCentrality
    // comment): settled = lazy union of the per-round checkpoints —
    // no growing re-checkpoint per round. r22 (VERDICT r21 #1): the
    // final verdict frame is eager-checkpointed and the level + nbrs
    // checkpoints released — one |C|-sized checkpoint outlives the
    // call.
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](f0)
    var frontier = f0
    var n = f0Row.getLong(0)
    var d = 0
    while (d < maxHops && n > 0) {
      d += 1
      val settled = levels.reduce(_ unionByName _)
      val (nxt, nxtRow) = observedCheckpoint(
        frontier.join(e, col("node") === col("src"))
          .filter(col("dst") =!= col("cand") && col("src") =!= col("cand"))
          .select(col("cand"), col("dst").as("node"))
          .distinct()
          .join(settled, Seq("cand", "node"), "left_anti"),
        count(lit(1)))
      levels += nxt
      frontier = nxt
      n = nxtRow.getLong(0)
    }
    val unfinished = frontier.select(col("cand")).distinct()
      .withColumn("unf", lit(1L))
    val reached = nbrs
      .join(levels.reduce(_ unionByName _)
        .select(col("cand"), col("node").as("nbr")),
        Seq("cand", "nbr"), "left_semi")
      .groupBy(col("cand")).agg(count(lit(1)).as("n_reached"))
    releaseCheckpoint(e)
    settle(nCounts
      .join(reached, Seq("cand"), "left")
      .join(unfinished, Seq("cand"), "left")
      .select(col("cand").as("node"), col("n_neighbors"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        when(coalesce(col("n_reached"), lit(0L)) < col("n_neighbors"),
          lit(1L)).otherwise(lit(0L)).as("is_articulation"),
        when(coalesce(col("n_reached"), lit(0L)) === col("n_neighbors") ||
          col("unf").isNull, lit(1L)).otherwise(lit(0L)).as("is_exact")),
      levels :+ nbrs)
  }

  /** CLOSED-TRIAD CENSUS of a directed graph (the connected-triple
    * slice of the Davis & Leinhardt 1972 triad census; the motif
    * spectrum of Milo et al. 2002): classify every triangle of the
    * UNDERLYING undirected graph by its arc configuration —
    *
    *   030T  three single arcs, transitive (a source, a middle, a sink)
    *   030C  three single arcs, cyclic (u→v→w→u)
    *   120_in    one mutual pair + both single arcs INTO it   (≙ 120D)
    *   120_out   one mutual pair + both single arcs OUT of it (≙ 120U)
    *   120_mixed one mutual pair + one arc in, one out        (≙ 120C)
    *   210   two mutual pairs
    *   300   three mutual pairs
    *
    * (names after the ≙ are the sociometric D/U/C codes; the
    * descriptive labels are emitted to keep the orientation
    * convention self-documenting). Open triads (the 0xx/1xx classes
    * with non-adjacent pairs) are out of scope — they count via
    * degree/dyad arithmetic, not enumeration, and the closed census
    * is what motif analysis reads.
    *
    * Enumeration rides the id-ordered triple join on the
    * symmetrized-and-canonicalized pair set (u < v < w — each
    * triangle once, the q171 oracle kernel); each pair carries its
    * arc state ('f' = low→high only, 'r' = high→low only, 'bi' =
    * both), and the class is a pure CASE over the three states —
    * row-local, exact, engine-portable. Cost = triangle enumeration
    * (wedge-bounded); everything after is output-sized.
    *
    * Input: directed edges (u, v), u ≠ v (duplicates tolerated).
    * Output: (triad_class, n) — one row per REALIZED class. */
  def triadCensus(edges: DataFrame): DataFrame = {
    val de = edges.select(col("u"), col("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val und = de.select(least(col("u"), col("v")).as("x"),
        greatest(col("u"), col("v")).as("y"))
      .distinct()
    val ps = und
      .join(de.select(col("u").as("x"), col("v").as("y"),
        lit(1).as("fwd")), Seq("x", "y"), "left")
      .join(de.select(col("v").as("x"), col("u").as("y"),
        lit(1).as("rev")), Seq("x", "y"), "left")
      .select(col("x"), col("y"),
        when(col("fwd").isNotNull && col("rev").isNotNull, lit("bi"))
          .when(col("fwd").isNotNull, lit("f"))
          .otherwise(lit("r")).as("st"))
      .localCheckpoint()
    val e1 = ps.select(col("x").as("u"), col("y").as("v"),
      col("st").as("s_uv"))
    val e2 = ps.select(col("x").as("v"), col("y").as("w"),
      col("st").as("s_vw"))
    val e3 = ps.select(col("x").as("u"), col("y").as("w"),
      col("st").as("s_uw"))
    val tri = e1.join(e2, Seq("v")).join(e3, Seq("u", "w"))
    val nbi = Seq("s_uv", "s_vw", "s_uw")
      .map(c => when(col(c) === "bi", 1).otherwise(0))
      .reduce(_ + _)
    // single-arc directions, remembering states are on ORDERED pairs
    // (u < v < w): 'f' on (u,v) means u→v, 'r' means v→u, etc.
    val cls = when(nbi === 3, lit("300"))
      .when(nbi === 2, lit("210"))
      .when(nbi === 0,
        when((col("s_uv") === "f" && col("s_vw") === "f" &&
          col("s_uw") === "r") ||
          (col("s_uv") === "r" && col("s_vw") === "r" &&
            col("s_uw") === "f"), lit("030C"))
          .otherwise(lit("030T")))
      // exactly one mutual pair: classify the two single arcs
      // relative to it (into / out of / mixed)
      .when(col("s_uv") === "bi",
        // third node w; arcs on (u,w) and (v,w): 'r' = w→·  (into)
        when(col("s_uw") === "r" && col("s_vw") === "r", lit("120_in"))
          .when(col("s_uw") === "f" && col("s_vw") === "f",
            lit("120_out"))
          .otherwise(lit("120_mixed")))
      .when(col("s_uw") === "bi",
        // third node v; (u,v): 'r' = v→u (into); (v,w): 'f' = v→w (into)
        when(col("s_uv") === "r" && col("s_vw") === "f", lit("120_in"))
          .when(col("s_uv") === "f" && col("s_vw") === "r",
            lit("120_out"))
          .otherwise(lit("120_mixed")))
      .otherwise(
        // s_vw = 'bi'; third node u; (u,v) and (u,w): 'f' = u→· (into)
        when(col("s_uv") === "f" && col("s_uw") === "f", lit("120_in"))
          .when(col("s_uv") === "r" && col("s_uw") === "r",
            lit("120_out"))
          .otherwise(lit("120_mixed")))
    val out = tri.select(cls.as("triad_class"))
      .groupBy(col("triad_class")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    releaseCheckpoint(ps)
    releaseCheckpoint(de)
    out
  }

  /** Bound an iterative op's retained storage (VERDICT r21 #1): take
    * ONE eager localCheckpoint of the final reduced frame — a single
    * output-sized copy — then release every per-round level checkpoint
    * it was derived from. The r21 lazy-union form kept ALL level
    * checkpoints persisted for the life of the returned frame
    * (O(rounds × state) blocks, unreleasable by callers); this
    * restores the kCore one-leaked-checkpoint rule: per call, exactly
    * the output-sized final checkpoint stays, and it is a top-level
    * LogicalRDD a caller CAN release. Recomputation-safe on a real
    * cluster too — the result no longer lazily depends on blocks that
    * die with their executor. */
  private def settle(out: DataFrame,
                     retained: Iterable[DataFrame]): DataFrame = {
    val res = out.localCheckpoint() // eager: materializes before release
    retained.foreach(releaseCheckpoint)
    res
  }

  /** Eager localCheckpoint with aggregate metrics observed DURING the
    * materialization job (r22, VERDICT r21 #5): iterative ops used to
    * pay a SECOND scan job per round for their convergence witness —
    * the (count, Σ) fixpoint scalars, the ccStar star-forest violation
    * count. `observe` rides the metrics on the checkpoint action
    * itself, so a round is ONE job. Hang-proof by construction:
    * listener delivery on checkpoint actions is not contractual, so
    * the observation future is awaited with a bounded timeout and a
    * miss falls back to an explicit aggregate over the (already
    * materialized, node-sized) checkpoint — one extra cheap job,
    * never a hang, values identical (deterministic aggregates over
    * the same materialized rows). */
  private def observedCheckpoint(df: DataFrame, metrics: Column*)
      : (DataFrame, org.apache.spark.sql.Row) = {
    val obs = org.apache.spark.sql.Observation()
    val ckpt = df.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint(true)
    val row =
      try scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(10, "s"))
      catch { case _: java.util.concurrent.TimeoutException =>
        ckpt.agg(metrics.head, metrics.tail: _*).head()
      }
    (ckpt, row)
  }

  /** Free a localCheckpoint's block-manager storage (best-effort):
    * the checkpointed RDD sits behind the LogicalRDD node the
    * checkpoint call returned; Dataset.unpersist only covers
    * CacheManager entries and would silently leak it. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    } catch { case _: Throwable => () }
}
