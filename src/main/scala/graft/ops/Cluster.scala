package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Density clustering as dataframe composition. The reference has no
  * clustering surface; this is mandate territory (BASELINE.json:6's
  * LLM-data-pipeline extension) — the spatial/density sibling of
  * Similarity.kMeans (centroid) and Dedup.connectedComponents (graph).
  */
object Cluster {

  /** DBSCAN (Ester et al. 1996) over integer planar points, built
    * ENTIRELY from the repo's two proven kernels — the q210 fixed-grid
    * proximity join (candidate generation) and Graph.ccStar
    * (core-graph components) — so the quadratic ε-neighborhood scan
    * and the O(diameter) cluster expansion that kill naive DBSCAN at
    * scale are both already solved shapes:
    *
    *   1. ε-pairs: grid cells of side ε, 3×3 neighbor probe, INTEGER
    *      dist² ≤ ε² (no sqrt, no float ties). Candidates are
    *      n × local-density, never n² — the q210 kernel verbatim.
    *   2. core points: |N_ε(p)| ≥ minPts, neighborhood INCLUDING p
    *      itself (the paper's convention); degree = one groupBy over
    *      the symmetrized pair list.
    *   3. clusters: connected components of the core-core ε-graph via
    *      ccStar — O(log n) rounds even for snake-shaped clusters
    *      (density-connectivity chains are EXACTLY the deep-path case
    *      star contraction exists for). Cluster id = min core id in
    *      the component; a core with no core neighbor keeps its own id
    *      (ccStar's isolates-absent contract, patched by coalesce).
    *   4. border points: non-core with ≥1 core ε-neighbor join the
    *      MINIMUM adjacent core's cluster — the paper leaves border
    *      assignment scan-order-dependent; taking min makes it
    *      deterministic and hash-gateable (documented variant).
    *   5. everything else is noise (cluster NULL).
    *
    * Coordinates must be NON-NEGATIVE Longs (content-addressed grids
    * are; `div` truncates toward zero, so negative coords would split
    * cells at the origin — ENFORCED with a raise_error guard since
    * r17: violation fails loudly instead of mislabeling).
    * ε-pairs are checkpointed once — three consumers (degree, core
    * edges, border assignment) read them, and so does the RETURNED
    * frame (the ccStar r15 postmortem rule).
    *
    * Scale shape: pairs partition by grid cell (co-located, skew
    * bounded by the densest cell); degree and border are one shuffle
    * each on point id; ccStar is node∪edge-bounded per round. Nothing
    * is ever all-pairs.
    *
    * Input: points (id: Long, x: Long, y: Long). Output: (id, role
    * 'core'|'border'|'noise', cluster: Long — NULL for noise). */
  def dbscan(points: DataFrame, eps: Long, minPts: Int): DataFrame = {
    require(eps > 0, "eps must be positive")
    require(minPts >= 1, "minPts must be >= 1")
    // non-negativity ENFORCED, not comment-only (ADVICE r16): a
    // negative coordinate would silently split grid cells at the
    // origin (div truncates toward zero) and drop ε-pairs — fail
    // loudly instead; the guard rides the existing scan, one
    // comparison per row. CONTRACT NOTE (ADVICE r17): the guard
    // piggy-backs on the x column, so it fires only where x is
    // actually evaluated — every current consumer derives cells from
    // x (cx = x div eps), so it always fires here, but a future
    // refactor that prunes or short-circuits x must keep (or move)
    // the guard; ClusterSpec pins the loud-failure behavior.
    val pts = points.select(col("id"),
      when(col("x") < 0 || col("y") < 0, raise_error(lit(
        "dbscan: coordinates must be non-negative (grid cells would split at the origin)"))
        .cast("long"))
        .otherwise(col("x")).as("x"),
      col("y"))
    val cells = pts
      .withColumn("cx", expr(s"x div ${eps}L"))
      .withColumn("cy", expr(s"y div ${eps}L"))
    val probes = cells.select(col("id").as("a_id"),
        col("x").as("ax"), col("y").as("ay"),
        explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
          struct((col("cx") + dx).as("cx"),
            (col("cy") + dy).as("cy")))): _*)).as("c"))
      .select(col("a_id"), col("ax"), col("ay"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    val pairs = Checkpoints(probes.join(cells.select(col("id").as("b_id"),
        col("x").as("bx"), col("y").as("by"), col("cx"), col("cy")),
        Seq("cx", "cy"))
      .filter(col("a_id") < col("b_id"))
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <= lit(eps * eps))
      .select(col("a_id"), col("b_id")))
    val nbrs = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .unionByName(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
    val deg = nbrs.groupBy(col("id")).agg(count(lit(1)).as("__nnb"))
    val flagged = pts.select(col("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("__nnb"), lit(0L)) + 1L >= minPts).as("is_core"))
    val coreIds = flagged.filter(col("is_core")).select(col("id"))
    val coreEdges = pairs
      .join(coreIds.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
      .join(coreIds.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
      .select(col("a_id").as("u"), col("b_id").as("v"))
    // r22 PRE-CONTRACTION of dense sub-cells (VERDICT r21 #6; guide
    // §2.3 — shuffle fewer bytes into the iterated op): cores sharing
    // a sub-cell of side s = max(1, ⌊ε/√2⌋) are PAIRWISE ε-neighbors
    // (integer coords: |Δ| ≤ s−1 per axis ⇒ dist² ≤ 2(s−1)² < ε²; at
    // s = 1, same cell ⇒ same point ⇒ dist 0), so each sub-cell's
    // cores form a CLIQUE of the core-core ε-graph — already
    // connected. Contracting every sub-cell group to its MINIMUM id
    // merges only already-connected nodes, so components (as
    // partitions of cores) are unchanged; every representative is its
    // group's min, so the contracted component's min rep IS the
    // component's min core id — the cluster label is value-identical.
    // A core with NO core neighbor is necessarily a singleton group
    // (a same-cell core would be a neighbor), so coalesce(_, rep)
    // reproduces the old coalesce(_, id) keeps-own-id contract.
    // Measured at sf0.1: the 16 planted boxes make the core graph a
    // ~2M-edge union of near-cliques over ~12k cores; contraction
    // hands ccStar a graph orders of magnitude smaller (the ε-graph
    // VOLUME was the q348 wall — this collapses it before the
    // iterated op instead of inside it). repMap is core-count-sized
    // and read three times (both contraction endpoints + the label
    // expansion) — checkpointed once.
    val sub = math.max(1L, math.floor(eps.toDouble / math.sqrt(2.0)).toLong)
    val repMap = Checkpoints(pts.join(coreIds, Seq("id"), "left_semi")
      .select(col("id"), expr(s"x div ${sub}L").as("sx"),
        expr(s"y div ${sub}L").as("sy"))
      .withColumn("rep", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sx", "sy")))
      .select(col("id"), col("rep")))
    val contracted = coreEdges
      .join(repMap.select(col("id").as("u"), col("rep").as("ru")), Seq("u"))
      .join(repMap.select(col("id").as("v"), col("rep").as("rv")), Seq("v"))
      .filter(col("ru") =!= col("rv"))
      .select(col("ru").as("u"), col("rv").as("v"))
    val comps = Graph.ccStar(contracted)
    val coreLabel = repMap
      .join(comps, col("rep") === col("node"), "left")
      .select(col("id"), coalesce(col("comp"), col("rep")).as("cluster"))
    val borderLabel = nbrs
      .join(coreLabel.select(col("id").as("nb"), col("cluster")), Seq("nb"))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
      .join(coreIds, Seq("id"), "left_anti")
    val labels = coreLabel.unionByName(borderLabel)
    flagged.join(labels, Seq("id"), "left")
      .select(col("id"),
        when(col("is_core"), lit("core"))
          .when(col("cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        col("cluster"))
  }
}
