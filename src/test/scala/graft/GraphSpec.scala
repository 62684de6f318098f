package graft

import graft.ops.{Checkpoints, Graph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** Driver-side union-find reference for ccStar: every vertex of a
    * pair with distinct ends, labeled with its component's minimum id
    * (the larger root always attaches under the smaller, so each root
    * is its set's minimum). */
  private def minLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("pageRank: one superstep on a symmetrized star matches hand arithmetic") {
    // 1↔2, 1↔3: deg(1)=2, deg(2)=deg(3)=1, N=3, all in 1e-12 units.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iterations = 1)
      .select("node", "pr_fp").as[(Long, Long)].collect().toMap
    // pr0 = 1e12 div 3 = 333333333333 each; base = 15e12 div 300 = 5e10
    // pr1(1) = 5e10 + (85 * (2*333333333333)) div 100 = 616666666666
    // pr1(2) = pr1(3) = 5e10 + (85 * (333333333333 div 2)) div 100
    assert(got === Map(
      1L -> 616666666666L, 2L -> 191666666666L, 3L -> 191666666666L))
  }

  test("pageRank: mass is conserved up to the documented floor leak") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (3L, 2L)).toDF("src", "dst")
    for (iters <- Seq(1, 3)) {
      val total = Graph.pageRank(edges, iters)
        .agg(sum("pr_fp")).as[Long].head()
      // each floor division leaks < 1 unit per term; a handful of terms
      assert(total <= 1000000000000L && total > 1000000000000L - 100L,
        s"iters=$iters total=$total")
    }
  }

  test("pageRank: the hub of a larger star outranks the leaves; determinism across runs") {
    val leaves = (2L to 20L)
    val edges = (leaves.map(l => (1L, l)) ++ leaves.map(l => (l, 1L))).toDF("src", "dst")
    val r = Graph.pageRank(edges, 3)
    val hub = r.filter(col("node") === 1L).select("pr_fp").as[Long].head()
    val maxLeaf = r.filter(col("node") =!= 1L)
      .agg(max("pr_fp")).as[Long].head()
    assert(hub > maxLeaf * 5, s"hub=$hub maxLeaf=$maxLeaf")
    val again = Graph.pageRank(edges.repartition(7), 3)
      .select("node", "pr_fp").as[(Long, Long)].collect().toSet
    assert(again === r.select("node", "pr_fp").as[(Long, Long)].collect().toSet)
  }

  test("triangleCounts: K4, a hanging edge, an isolated edge, reversed input rows") {
    // K4 on 1-4 (4 triangles, 3 per node), edge 4-5 (in none),
    // disjoint edge 6-7; some rows deliberately given high-before-low
    val edges = Seq((1L, 2L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L),
      (3L, 4L), (4L, 5L), (7L, 6L)).toDF("u", "v")
    val got = Graph.triangleCounts(edges)
      .select("node", "n_triangles").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts matches a brute-force enumeration on a random-ish graph") {
    // deterministic pseudo-random graph on 30 nodes
    val pairs = for {
      a <- 1L to 30L; b <- (a + 1) to 30L
      if (a * 31 + b * 17) % 5 < 2
    } yield (a, b)
    val got = Graph.triangleCounts(pairs.toDF("u", "v"))
      .select("node", "n_triangles").as[(Long, Long)].collect().toMap
    val es = pairs.toSet
    def adj(a: Long, b: Long) = es((a min b, a max b))
    val brute = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L; c <- (b + 1) to 30L
      if adj(a, b) && adj(b, c) && adj(a, c)
      n <- Seq(a, b, c)
    } yield n).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === brute)
  }

  test("adamicAdar: hand-checked scores and common-neighbor counts") {
    // z1 adj {1,2} (deg 2), z2 adj {1,2,3} (deg 3):
    //   (1,2): 1/ln2 + 1/ln3, n_common 2; (1,3), (2,3): 1/ln3, n_common 1
    val adj = Seq((1L, 10L), (2L, 10L), (1L, 20L), (2L, 20L), (3L, 20L))
      .toDF("node", "nbr")
    val got = Graph.adamicAdar(adj)
      .select(col("a"), col("b"), col("n_common"),
        col("aa_score").cast("double"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    def q(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w2 = q(1.0 / math.log(2.0))
    val w3 = q(1.0 / math.log(3.0))
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got((1L, 2L)) === ((2L, w2 + w3)))
    assert(got((1L, 3L)) === ((1L, w3)))
    assert(got((2L, 3L)) === ((1L, w3)))
  }

  test("adamicAdar: degree-1 neighbors form no wedge; duplicate adjacency rows don't double-count") {
    val adj = Seq(
      (1L, 10L), // nbr 10 has deg 1 — no pair can share it
      (1L, 20L), (2L, 20L), (1L, 20L), (2L, 20L), // dups must collapse
    ).toDF("node", "nbr")
    val got = Graph.adamicAdar(adj)
      .select(col("a"), col("b"), col("n_common")).as[(Long, Long, Long)]
      .collect()
    assert(got.toSeq === Seq((1L, 2L, 1L)))
  }

  test("labelPropagate: two components converge to their min ids") {
    // path 1-2-3-4 and disjoint pair 10-11, symmetrized
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // diameter 3 → 3 supersteps suffice
    val got = Graph.labelPropagate(edges, 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("labelPropagate: a bounded superstep count labels exactly the k-hop ball") {
    // path 1-2-3-4-5: after 1 superstep node 3 sees min(2,3,4)=2,
    // node 5 sees 4; after 2, node 3 reaches 1 but node 5 only 3.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val one = Graph.labelPropagate(edges, 1).as[(Long, Long)].collect().toMap
    assert(one === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    val two = Graph.labelPropagate(edges, 2).as[(Long, Long)].collect().toMap
    assert(two === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("labelPropagate is partition-invariant") {
    val und = (1L to 40L).map(i => (i, i % 7 + 100L)) // 7 stars
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val a = Graph.labelPropagate(edges, 2)
      .as[(Long, Long)].collect().toSet
    val b = Graph.labelPropagate(edges.repartition(13), 2)
      .as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  /** Sequential reference peel for kCore: remove min-degree violators
    * one round at a time on in-memory adjacency. */
  private def bruteKCore(und: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var edges = (und ++ und.map(_.swap)).toSet
    var changed = true
    while (changed) {
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != edges.size
      edges = next
    }
    edges.groupBy(_._1).map { case (n, es) => n -> es.size }
  }

  test("kCore: K4 plus pendant chain — the 3-core is exactly the K4") {
    // K4 on {1,2,3,4}; chain 4-5-6 hangs off it
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = Graph.kCore(edges, 3).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: cascading peel (removing one node drags the next below k)") {
    // path 1-2-3-4-5: 2-core is empty — every endpoint removal cascades
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    assert(Graph.kCore(edges, 2).isEmpty)
  }

  test("kCore matches the sequential reference peel on a mixed graph") {
    // two triangles sharing node 3, plus a 4-clique bridged in, plus tails
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (11L, 13L), (12L, 13L), (5L, 10L), (13L, 20L), (20L, 21L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    for (k <- 1 to 4) {
      val got = Graph.kCore(edges, k).as[(Long, Long)].collect().toMap
      val want = bruteKCore(und, k).map { case (n, d) => n -> d.toLong }
      assert(got === want, s"k=$k")
    }
  }

  test("kCore is partition-invariant") {
    val und = (1L to 30L).flatMap(i => Seq((i, i % 5 + 100L), (i, i % 3 + 200L)))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val a = Graph.kCore(edges, 3).as[(Long, Long)].collect().toSet
    val b = Graph.kCore(edges.repartition(13), 3).as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  /** Sequential integer-fixed-point HITS reference, independent of the
    * operator's join/agg formulation. */
  private def refHits(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Long, Long)] = {
    val scale = 1000000L
    var h: Map[Long, Long] = edges.map(_._1).distinct.map(_ -> scale).toMap
    var a: Map[Long, Long] = Map.empty
    for (_ <- 1 to iters) {
      val araw = edges.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => h(u) }.sum).toMap
      val at = araw.values.sum
      a = araw.view.mapValues(r => r * scale / at).toMap
      val hraw = edges.groupBy(_._1).view
        .mapValues(_.map { case (_, v) => a(v) }.sum).toMap
      val ht = hraw.values.sum
      h = hraw.view.mapValues(r => r * scale / ht).toMap
    }
    (h.keySet ++ a.keySet).map(n =>
      n -> (h.getOrElse(n, 0L), a.getOrElse(n, 0L))).toMap
  }

  test("hits matches the sequential integer reference; mutual reinforcement ranks correctly") {
    // bipartite: hub 2 points at all three authorities, hub 4 only at 3
    val edges = Seq((2L, 1L), (2L, 3L), (2L, 5L), (4L, 3L))
    val got = Graph.hits(edges.toDF("src", "dst"), iterations = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (n, hf, af) => n -> (hf, af) }.toMap
    assert(got === refHits(edges, 2))
    // the broad hub outranks the narrow one; the shared authority
    // outranks the exclusive ones
    assert(got(2L)._1 > got(4L)._1)
    assert(got(3L)._2 > got(1L)._2)
    assert(got(1L)._2 === got(5L)._2)
    // partition invariance (integer math has no accumulation order)
    val re = Graph.hits(edges.toDF("src", "dst").repartition(7), iterations = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (n, hf, af) => n -> (hf, af) }.toMap
    assert(re === got)
  }

  test("personalizedPageRank: one superstep on a path matches hand arithmetic; locality is exact zero") {
    // 1↔2↔3, seed {1}: after one step the seed keeps only its restart
    // mass, node 2 holds 85% of the seed's pushed unit, node 3 is
    // EXACTLY 0 (outside the 1-hop neighborhood — integer math, no fuzz)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val got = Graph.personalizedPageRank(edges, Seq(1L).toDF("node"),
        iterations = 1)
      .select("node", "ppr_fp").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 150000000000L, 2L -> 850000000000L, 3L -> 0L))
  }

  test("personalizedPageRank with seeds = ALL nodes degenerates to global pageRank") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val all = Seq(1L, 2L, 3L).toDF("node")
    val ppr = Graph.personalizedPageRank(edges, all, iterations = 3)
      .select("node", "ppr_fp").as[(Long, Long)].collect().toMap
    val pr = Graph.pageRank(edges, iterations = 3)
      .select("node", "pr_fp").as[(Long, Long)].collect().toMap
    assert(ppr === pr)
  }

  test("bfs: hand-checked distances on a path + branch; unreachable absent") {
    // 1→2→3→4→5 plus 2→6; 9→10 is a separate component
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (9L, 10L)).toDF("src", "dst")
    val got = Graph.bfs(edges, Seq(1L).toDF("node"), maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 2L,
      4L -> 3L, 5L -> 4L))
  }

  test("bfs: multi-seed takes the minimum; maxHops truncates; isolated seed kept") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 3L))
      .toDF("src", "dst")
    // seed 7 shortcuts node 3 to distance 1 (vs 2 via seed 1); seed 99
    // has no edges but is still reported at 0
    val got = Graph.bfs(edges, Seq(1L, 7L, 99L).toDF("node"), maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 7L -> 0L, 99L -> 0L,
      2L -> 1L, 3L -> 1L, 4L -> 2L))
    // truncation: nothing past the hop bound, levels inside it intact
    val cut = Graph.bfs(edges, Seq(1L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(cut === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // maxHops = 0 is just the seed set
    val zero = Graph.bfs(edges, Seq(1L).toDF("node"), maxHops = 0)
      .as[(Long, Long)].collect().toMap
    assert(zero === Map(1L -> 0L))
  }

  test("bfs: a cycle terminates early and labels each node once; partition-invariant") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.bfs(edges, Seq(1L).toDF("node"), maxHops = 50)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    val re = Graph.bfs(edges.repartition(7), Seq(1L).toDF("node").repartition(3),
        maxHops = 50)
      .as[(Long, Long)].collect().toMap
    assert(re === got)
  }

  test("ccStar: chains, cycles, stars, isolates-by-absence match the min-label fixpoint") {
    // deep path (the doubling case), a cycle, a star, a 2-clique —
    // the min-label fixpoint computed by a driver-side union-find is
    // the independent reference
    val pairs =
      (1L to 19L).map(i => (i, i + 1)) ++          // path 1..20
      Seq((30L, 31L), (31L, 32L), (32L, 30L)) ++   // cycle
      Seq((40L, 41L), (40L, 42L), (40L, 43L)) ++   // star
      Seq((50L, 51L))
    val edges = pairs.toDF("u", "v")
    val got = Graph.ccStar(edges).as[(Long, Long)].collect().toMap
    val ref = minLabels(pairs)
    assert(got === ref)
    // edge rows in either orientation + duplicates change nothing
    val messy = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    assert(Graph.ccStar(messy).as[(Long, Long)].collect().toMap === ref)
  }

  test("ccStar converges in O(log n) rounds where hashmin needs O(n): a 200-node path") {
    // the path's eccentricity is 199, so the min-label loop needs ~199
    // supersteps; ccStar must land well under its default 30-round cap
    // (the doubling claim, asserted not just documented)
    val path = (1L until 200L).map(i => (i, i + 1)).toDF("u", "v")
    val got = Graph.ccStar(path).as[(Long, Long)].collect()
    assert(got.length === 200 && got.forall(_._2 == 1L))
  }

  test("ccStar witness: star-forest check ⇔ alternation fixpoint, round by round") {
    // r17 replaced the per-round count+exceptAll set-equality probe
    // with the star-forest scalar witness (Graph.ccIsStarForest). The
    // scaladoc's claim is: witness(E) ⟺ E is a FIXPOINT of the
    // alternation (ccRound(E) = E as sets). Pin exactly that, at
    // EVERY round, on the adversarial shapes the verdict names —
    // cycle, star, 200-node path (the deep-doubling case), mixed.
    // (Note the witness may stop one round EARLIER than the old
    // predecessor-equality probe — when next ≠ e but next is already
    // a star forest — which is a pure win: the old code's extra
    // round was the identity, so the read-off labels are unchanged.)
    val shapes = Seq(
      ("cycle", Seq((30L, 31L), (31L, 32L), (32L, 30L))),
      ("star", Seq((40L, 41L), (40L, 42L), (40L, 43L))),
      ("path200", (1L until 200L).map(i => (i, i + 1)).toSeq),
      ("mixed", (1L to 19L).map(i => (i, i + 1)).toSeq ++
        Seq((30L, 31L), (31L, 32L), (32L, 30L), (50L, 51L))))
    for ((name, pairs) <- shapes) {
      // localCheckpoint per round keeps the composed-round lineage
      // shallow (the production loop does the same)
      var e = Graph.ccCanon(pairs.toDF("u", "v")).localCheckpoint()
      var done = false
      var rounds = 0
      while (!done && rounds < 30) {
        val next = Graph.ccRound(e).localCheckpoint()
        val witness = Graph.ccIsStarForest(next)
        val again = Graph.ccRound(next).localCheckpoint()
        val isFixpoint = again.count() == next.count() &&
          again.exceptAll(next).isEmpty
        assert(witness === isFixpoint,
          s"$name round $rounds: witness=$witness fixpoint=$isFixpoint")
        done = witness
        e = next
        rounds += 1
      }
      assert(done, s"$name did not converge in 30 rounds")
    }
  }

  test("ccStar round 0 reads its input once: no join, one window on u") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.RangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // J is one symmetrizing explode + a windowed min partitioned by u:
    // the input is scanned once, with no min-groupBy joined back. (A
    // range, not a local Seq: ConvertToLocalRelation would fold a Seq
    // away before the plan is built.)
    val pairs = spark.range(1L, 200L)
      .select(col("id").as("u"), (col("id") + 1).as("v"))
    val plan = Graph.ccInit(pairs).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => fail(s"expected an adaptive plan:\n$p")
    }
    assert(plan.collect { case r: RangeExec => r }.size === 1, s"\n$plan")
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, s"\n$plan")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.map(_.partitionSpec.collect { case a: Attribute => a.name }) ===
      Seq(Seq("u")), s"\n$plan")
  }

  test("ccStar is partition-invariant and matches a random-graph reference") {
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(150)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val edges = pairs.toDF("u", "v")
    val a = Graph.ccStar(edges).as[(Long, Long)].collect().toMap
    val b = Graph.ccStar(edges.repartition(7)).as[(Long, Long)].collect().toMap
    val ref = minLabels(pairs)
    assert(a === ref && b === ref)
  }

  test("sssp: hand-checked min-plus on a weighted diamond; cheap long path beats expensive short one") {
    // 1→2 (w1) →4 (w1)  vs  1→4 (w5): the 2-hop route costs 2.
    // 1→3 (w10): only route to 3. 5→6 unreachable from the seed.
    val edges = Seq(
      (1L, 2L, 1L), (2L, 4L, 1L), (1L, 4L, 5L), (1L, 3L, 10L),
      (5L, 6L, 1L)).toDF("src", "dst", "w")
    val got = Graph.sssp(edges, Seq(1L).toDF("node"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 10L, 4L -> 2L))
  }

  /** Sequential Louvain-refinement reference: the same best-move +
    * locally-dominant rules in plain Scala collections (shares no
    * code with the DataFrame side). */
  private def refLouvain(edges: Seq[(Long, Long)], init: Map[Long, Long],
                         rounds: Int): Map[Long, Long] = {
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    val mm = edges.size / 2
    var lab = init
    for (_ <- 1 to rounds) {
      val dc = lab.toSeq.groupBy(_._2).view
        .mapValues(_.map(x => deg.getOrElse(x._1, 0L)).sum).toMap
      val best = nbrs.keys.toSeq.sorted.flatMap { i =>
        val a = lab(i)
        val k = nbrs(i).groupBy(lab).view.mapValues(_.size.toLong).toMap
        val ka = k.getOrElse(a, 0L)
        val cands = k.keys.filter(_ != a).map { b =>
          (i, a, b, 4L * mm * (k(b) - ka) -
            2L * deg(i) * (dc(b) - dc(a) + deg(i)))
        }.filter(_._4 > 0).toSeq
        if (cands.isEmpty) None else Some(cands.minBy(c => (-c._4, c._3)))
      }
      val byComm = best.flatMap(mv => Seq((mv._2, mv), (mv._3, mv)))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).minBy(m => (-m._4, m._1, m._3))).toMap
      val applied = best.filter(mv =>
        byComm(mv._2) == mv && byComm(mv._3) == mv)
      lab = lab ++ applied.map(mv => mv._1 -> mv._3)
    }
    lab
  }

  /** 4m²·Q as an exact integer (the q358 fraction's numerator over a
    * fixed denominator — enough to compare two labelings exactly). */
  private def qNum(edges: Seq[(Long, Long)], lab: Map[Long, Long]): Long = {
    val und = edges.filter { case (u, v) => u < v }
    val mm = und.size.toLong
    val eIn = und.count { case (u, v) => lab(u) == lab(v) }.toLong
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val d2 = lab.toSeq.groupBy(_._2).values
      .map(c => { val d = c.map(x => deg.getOrElse(x._1, 0L)).sum; d * d })
      .sum
    4L * mm * eIn - d2
  }

  test("louvainRefine ≡ sequential reference; Q strictly improves a bad init; partition-invariant") {
    // two 4-cliques joined by one bridge edge, initialized at
    // SINGLETONS (the classic Louvain start — local moves can only
    // join EXISTING neighbor communities, so a too-coarse init like
    // parity could never separate the cliques): refinement must
    // discover the clique communities and strictly raise Q.
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = (clique(1L to 4L) ++ clique(5L to 8L) ++
      Seq((4L, 5L), (5L, 4L))).toSeq
    val init = (1L to 8L).map(i => i -> i).toMap
    val ref = refLouvain(edges, init, 6)
    val got = graft.ops.Graph.louvainRefine(
        edges.toDF("src", "dst"),
        init.toSeq.toDF("node", "label"), rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got === ref)
    assert(qNum(edges, got) > qNum(edges, init), "Q did not improve")
    // the cliques end up as two communities (the bridge stays cut)
    assert((1L to 4L).map(got).toSet.size === 1)
    assert((5L to 8L).map(got).toSet.size === 1)
    assert(got(1L) !== got(5L))
    // random graph: reference equality + partition invariance
    val rnd = new scala.util.Random(29)
    val re = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (re ++ re.map(_.swap)).distinct
    val rInit = sym.map(_._1).distinct.map(n => n -> (n % 3)).toMap
    val rRef = refLouvain(sym, rInit, 2)
    val rGot = graft.ops.Graph.louvainRefine(
        sym.toDF("src", "dst"), rInit.toSeq.toDF("node", "label"), 2)
      .as[(Long, Long)].collect().toMap
    assert(rGot === rRef)
    assert(qNum(sym, rGot) >= qNum(sym, rInit))
    val rRep = graft.ops.Graph.louvainRefine(
        sym.toDF("src", "dst").repartition(7),
        rInit.toSeq.toDF("node", "label").repartition(3), 2)
      .as[(Long, Long)].collect().toMap
    assert(rRep === rRef)
  }

  test("earliestArrival: time-respecting constraint binds — hop-shortest but temporally-backward paths lose") {
    // 1→2 @5 then 2→4 @3: NOT time-respecting (3 < 5) — that 2-hop
    // route must NOT reach 4. 1→3 @1 then 3→4 @10 arrives at 10;
    // the direct 1→4 @20 is later. Expected arr(4) = 10.
    val edges = Seq(
      (1L, 2L, 5L), (2L, 4L, 3L), (1L, 3L, 1L), (3L, 4L, 10L),
      (1L, 4L, 20L)).toDF("src", "dst", "t")
    val got = Graph.earliestArrival(edges, Seq(1L).toDF("node"),
        startT = 0L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 5L, 3L -> 1L, 4L -> 10L))
    // a LATER start makes early edges unusable: from t=2 the 1→3 @1
    // edge is dead, so 4 is only reachable via the direct @20 edge
    val late = Graph.earliestArrival(edges, Seq(1L).toDF("node"),
        startT = 2L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(late === Map(1L -> 2L, 2L -> 5L, 4L -> 20L))
    // partition invariance + extra rounds are no-ops (witness exit)
    val rep = Graph.earliestArrival(edges.repartition(7),
        Seq(1L).toDF("node").repartition(3), 0L, rounds = 20)
      .as[(Long, Long)].collect().toMap
    assert(rep === got)
  }

  test("latestDeparture: time-reversed dual differs from earliest-arrival on the same diamond; deadline binds") {
    // Same diamond as the earliestArrival test, target 4, deadline 30.
    // The EA winner into 4 was the middle route (arr = 10 via 3→4);
    // the LD winner out of 1 is the DIRECT late edge: ld(1) = 20 —
    // the dual is a different answer, not a mirror. ld(2) = 3 (its
    // only out-edge 2→4 @3 still makes the deadline), ld(3) = 10.
    val edges = Seq(
      (1L, 2L, 5L), (2L, 4L, 3L), (1L, 3L, 1L), (3L, 4L, 10L),
      (1L, 4L, 20L)).toDF("src", "dst", "t")
    val got = Graph.latestDeparture(edges, Seq(4L).toDF("node"),
        deadline = 30L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(4L -> 30L, 2L -> 3L, 3L -> 10L, 1L -> 20L))
    // an EARLIER deadline kills the direct @20 edge: 1 must now leave
    // by t=1 (via 3) — the t ≤ ld(v) constraint composes with the
    // deadline, it isn't just an edge filter at the target
    val tight = Graph.latestDeparture(edges, Seq(4L).toDF("node"),
        deadline = 15L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(tight === Map(4L -> 15L, 2L -> 3L, 3L -> 10L, 1L -> 1L))
    // constraint vs plain reverse reachability: under deadline 8 the
    // unconstrained reverse-BFS decoration would claim ld(1) = 5 via
    // 1→2 @5 (2 IS in the answer set) — but 5 > ld(2) = 3, and every
    // other route misses the deadline, so node 1 drops out ENTIRELY
    // (as does 3: its only out-edge @10 is past the deadline)
    val viaMid = Graph.latestDeparture(edges, Seq(4L).toDF("node"),
        deadline = 8L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(viaMid === Map(4L -> 8L, 2L -> 3L))
    // partition invariance + extra rounds are no-ops (witness exit)
    val rep = Graph.latestDeparture(edges.repartition(7),
        Seq(4L).toDF("node").repartition(3), 30L, rounds = 20)
      .as[(Long, Long)].collect().toMap
    assert(rep === got)
  }

  test("fastestJourney: duration-minimal journey departs LATE where earliest-arrival departs early") {
    // Two routes 1→4: early 1→2 @2 then 2→4 @3 (dep 2, arr 3, one
    // day in transit) vs late 1→3 @10 then 3→4 @10 (dep 10, arr 10,
    // INSTANT). Earliest-arrival's answer is 3 (the early route);
    // the fastest journey is the late one with dur 0 — the two
    // objectives pick DIFFERENT journeys on the same graph.
    val edges = Seq(
      (1L, 2L, 2L), (2L, 4L, 3L), (1L, 3L, 10L), (3L, 4L, 10L))
      .toDF("src", "dst", "t")
    val ea = Graph.earliestArrival(edges, Seq(1L).toDF("node"),
        startT = 0L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(ea(4L) === 3L)
    val got = Graph.fastestJourney(edges, Seq(1L).toDF("node"),
        rounds = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(4L) === ((10L, 10L, 0L))) // dep, arr, dur
    assert(got(2L) === ((2L, 2L, 0L)))   // seed's own out-time strata
    assert(got(3L) === ((10L, 10L, 0L)))
    assert(got(1L)._3 === 0L)            // a seed is 0 days in transit
    // tie-break: equal durations resolve to the EARLIEST departure —
    // add a second instant route 1→5 @4, 5→4 @4: dur 0 at dep 4 < 10
    val edges2 = edges.unionByName(
      Seq((1L, 5L, 4L), (5L, 4L, 4L)).toDF("src", "dst", "t"))
    val got2 = Graph.fastestJourney(edges2, Seq(1L).toDF("node"),
        rounds = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got2(4L) === ((4L, 4L, 0L)))
    // partition invariance + extra rounds are no-ops (witness exit)
    val rep = Graph.fastestJourney(edges.repartition(7),
        Seq(1L).toDF("node").repartition(3), rounds = 20)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rep === got)
  }

  test("temporal trio ≡ exhaustive path enumeration on a seeded random graph") {
    // The independent route: enumerate EVERY time-respecting path of
    // ≤ 4 edges (no per-(node, dep) min-arr pruning — so this also
    // validates the pruning-losslessness argument in the
    // fastestJourney scaladoc: for fixed dep a smaller arr permits a
    // superset of continuations, hence pruning never loses a
    // duration) and reduce each objective by brute force.
    val rnd = new scala.util.Random(7)
    val n = 14
    val raw = Seq.fill(90)((rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L,
        rnd.nextInt(30) + 1L))
      .filter(e => e._1 != e._2).distinct
    val edges = raw.toDF("src", "dst", "t")
    val bySrc = raw.groupBy(_._1).withDefaultValue(Seq.empty)
    val byDst = raw.groupBy(_._2).withDefaultValue(Seq.empty)
    val seed = 1L
    // earliest arrival from seed at t = 0: states (node, arr)
    var eaFr = Seq((seed, 0L))
    var eaAll = eaFr.toSet
    for (_ <- 1 to 4) {
      eaFr = eaFr.flatMap { case (v, arr) =>
        bySrc(v).collect { case (_, w, t) if t >= arr => (w, t) } }.distinct
      eaAll ++= eaFr
    }
    val eaRef = eaAll.groupBy(_._1).map { case (k, s) => k -> s.map(_._2).min }
    val eaGot = Graph.earliestArrival(edges, Seq(seed).toDF("node"),
        startT = 0L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(eaGot === eaRef)
    // latest departure to target by a mid-range deadline: states
    // (node, firstT) built by BACKWARD prepending
    val target = 2L
    val deadline = 20L
    var ldFr = byDst(target).collect {
      case (u, _, t) if t <= deadline => (u, t) }.distinct
    var ldAll = ldFr.toSet
    for (_ <- 1 to 3) { // 4 edges total: 1 base prepend + 3 more
      ldFr = ldFr.flatMap { case (x, f) =>
        byDst(x).collect { case (u, _, t) if t <= f => (u, t) } }.distinct
      ldAll ++= ldFr
    }
    val ldRef = ldAll.groupBy(_._1).map { case (k, s) => k -> s.map(_._2).max }
      .updated(target, deadline) // the target holds the deadline itself
    val ldGot = Graph.latestDeparture(edges, Seq(target).toDF("node"),
        deadline = deadline, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(ldGot === ldRef)
    // fastest journey from seed: states (node, dep, arr), dep = the
    // FIRST hop's time; reduce by (dur, dep) lexicographic min
    var fjFr = bySrc(seed).map { case (_, _, t) => (seed, t, t) }.distinct
    var fjAll = fjFr.toSet
    for (_ <- 1 to 4) {
      fjFr = fjFr.flatMap { case (v, dep, arr) =>
        bySrc(v).collect { case (_, w, t) if t >= arr => (w, dep, t) } }
        .distinct
      fjAll ++= fjFr
    }
    val fjRef = fjAll.groupBy(_._1).map { case (k, s) =>
      k -> s.map { case (_, dep, arr) => (arr - dep, dep, arr) }.min }
    val fjGot = Graph.fastestJourney(edges, Seq(seed).toDF("node"),
        rounds = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._4, r._2, r._3))).toMap
    assert(fjGot === fjRef)
  }

  test("sssp fails loudly on a negative edge weight (min-plus precondition guard)") {
    // ADVICE r16: a negative weight silently changes the semantics
    // (min over walks, not paths) — must error, not mis-route.
    val edges = Seq((1L, 2L, 3L), (2L, 3L, -1L)).toDF("src", "dst", "w")
    val e = intercept[Exception] {
      Graph.sssp(edges, Seq(1L).toDF("node"), rounds = 3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("negative edge weight")), s"wrong error: $e")
  }

  test("sssp: bounded-hop semantics — round r holds the exact best ≤r-edge path") {
    // path 1→2→3→4 each w1, plus shortcut 1→4 w10: at rounds=1 the
    // shortcut is the ONLY ≤1-edge route to 4; at rounds=3 the 3-hop
    // path wins; extra rounds change nothing (fixpoint early-exit).
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 4L, 10L)).toDF("src", "dst", "w")
    def run(r: Int) = Graph.sssp(edges, Seq(1L).toDF("node"), r)
      .as[(Long, Long)].collect().toMap
    assert(run(1) === Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    assert(run(3) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    assert(run(9) === run(3))
  }

  test("sssp matches a sequential Bellman-Ford reference on a random graph; partition-invariant; multi-seed min") {
    val rnd = new scala.util.Random(29)
    val es = Seq.fill(160)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong,
      (rnd.nextInt(9) + 1).toLong)).filter { case (a, b, _) => a != b }
      .distinct
    val seeds = Seq(0L, 7L)
    // sequential reference: r rounds of full relaxation
    val rounds = 6
    var ref = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = es.flatMap { case (u, v, w) =>
        ref.get(u).map(d => v -> (d + w)) }
      ref = (ref.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    val edges = es.toDF("src", "dst", "w")
    val got = Graph.sssp(edges, seeds.toDF("node"), rounds)
      .as[(Long, Long)].collect().toMap
    assert(got === ref)
    val re = Graph.sssp(edges.repartition(7),
        seeds.toDF("node").repartition(3), rounds)
      .as[(Long, Long)].collect().toMap
    assert(re === ref)
  }

  test("shortestJourney: temporal hops differ from static BFS; arr is the EA decoration") {
    // seed 1 at startT = 10.
    // node 4: static BFS says 1 hop (edge 1→4 @5) — but 5 < 10 is
    //   temporally DEAD; the detour 1→2 @12 → 2→4 @15 respects time,
    //   so hops = 2 (MORE than static — the q327 metric disagrees).
    // node 9: the direct 1→9 @30 gives hops = 1, but the 2-hop route
    //   1→5 @11 → 5→9 @12 arrives earlier: the output must read
    //   (hops = 1, arr = 12) — the arr column is the earliest
    //   ≤rounds-hop arrival, NOT the hop-minimal journey's own
    //   arrival (the scaladoc decoration contract, pinned here).
    val edges = Seq(
      (1L, 4L, 5L), (1L, 2L, 12L), (2L, 4L, 15L),
      (1L, 9L, 30L), (1L, 5L, 11L), (5L, 9L, 12L)).toDF("src", "dst", "t")
    val got = Graph.shortestJourney(edges, Seq(1L).toDF("node"),
        startT = 10L, rounds = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> ((0L, 10L)), 2L -> ((1L, 12L)), 5L -> ((1L, 11L)),
      4L -> ((2L, 15L)), 9L -> ((1L, 12L))))
  }

  test("shortestJourney ≡ exhaustive enumeration (min hops + EA arr) on the trio's seeded graph") {
    // same seeded graph as the temporal-trio test, now enumerating
    // (node, arr, HOPS) states with no pruning — validating both the
    // min-hop claim and the arrival-dominance argument (pruned EA
    // state loses no reachability at any hop count).
    val rnd = new scala.util.Random(7)
    val n = 14
    val raw = Seq.fill(90)((rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L,
        rnd.nextInt(30) + 1L))
      .filter(e => e._1 != e._2).distinct
    val edges = raw.toDF("src", "dst", "t")
    val bySrc = raw.groupBy(_._1).withDefaultValue(Seq.empty)
    val seed = 1L
    var fr = Seq((seed, 0L, 0L))
    var all = fr.toSet
    for (_ <- 1 to 5) {
      fr = fr.flatMap { case (v, arr, hops) =>
        bySrc(v).collect { case (_, w, t) if t >= arr => (w, t, hops + 1L) } }
        .distinct
      all ++= fr
    }
    val ref = all.groupBy(_._1).map { case (k, s) =>
      k -> ((s.map(_._3).min, s.map(_._2).min)) }
    val got = Graph.shortestJourney(edges, Seq(seed).toDF("node"),
        startT = 0L, rounds = 5)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === ref)
  }

  /** sequential Brandes with the SAME integer quantization as
    * Graph.betweenness: term = (σ_v·(scale+δ_w)) / σ_w truncating. */
  private def refBetweenness(edges: Seq[(Long, Long)], sources: Seq[Long],
                             maxHops: Int, scale: Long): Map[Long, Long] = {
    val adj = edges.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct).toMap.withDefaultValue(Seq.empty)
    val bc = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (s <- sources) {
      var levels = Vector(Map(s -> 1L))
      var settled = Set(s)
      var frontier = levels.head
      var d = 0
      while (d < maxHops && frontier.nonEmpty) {
        val nxt = frontier.toSeq
          .flatMap { case (v, sig) => adj(v).map(w => (w, sig)) }
          .filter { case (w, _) => !settled(w) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        settled ++= nxt.keys
        levels :+= nxt
        frontier = nxt
        d += 1
      }
      var delta = levels.last.map { case (v, _) => v -> 0L }
      for (i <- levels.length - 2 to 0 by -1) {
        val deepSig = levels(i + 1)
        val dl = levels(i).map { case (v, sig) =>
          v -> adj(v).filter(deepSig.contains).map { w =>
            (sig * (scale + delta(w))) / deepSig(w) }.sum }
        dl.foreach { case (v, x) => if (v != s) bc(v) += x }
        delta = dl
      }
    }
    bc.filter(_._2 > 0).toMap
  }

  test("betweenness: hand-checked path and diamond; the σ-split quantizes exactly") {
    // undirected path 1-2-3, source 1: δ(2) = σ2/σ3·(1+δ(3)) = 1 →
    // one full scaled path share; endpoints carry none.
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val g1 = Graph.betweenness(path, Seq(1L).toDF("node"), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(g1 === Map(2L -> 1000000L))
    // both endpoints as sources: the bridge counts once per source
    val g2 = Graph.betweenness(path, Seq(1L, 3L).toDF("node"), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(g2 === Map(2L -> 2000000L))
    // diamond 1-2-4 / 1-3-4: σ(4) = 2, so each middle node carries
    // HALF a share — (1·(1e6+0)) div 2 = 500000, the σ-split exact
    val dia = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val sym = (dia ++ dia.map(_.swap)).toDF("src", "dst")
    val g3 = Graph.betweenness(sym, Seq(1L).toDF("node"), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(g3 === Map(2L -> 500000L, 3L -> 500000L))
  }

  test("betweenness ≡ sequential quantized Brandes on a random graph; partition-invariant") {
    val rnd = new scala.util.Random(43)
    val re = Seq.fill(140)((rnd.nextInt(24).toLong, rnd.nextInt(24).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (re ++ re.map(_.swap)).distinct
    val sources = Seq(1L, 5L, 9L, 17L)
    val ref = refBetweenness(sym, sources, maxHops = 4, scale = 1000000L)
    val got = Graph.betweenness(sym.toDF("src", "dst"),
        sources.toDF("node"), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === ref)
    assert(got.values.exists(_ % 1000000L != 0L),
      "no fractional σ-split exercised — vacuous fixture")
    val rep = Graph.betweenness(sym.toDF("src", "dst").repartition(7),
        sources.toDF("node").repartition(2), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(rep === ref)
  }

  test("betweenness fails loudly past the sigma cap (scaled-term overflow guard)") {
    val dia = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val sym = (dia ++ dia.map(_.swap)).toDF("src", "dst")
    val e = intercept[Exception] {
      Graph.betweenness(sym, Seq(1L).toDF("node"), maxHops = 4,
        sigmaCap = 1L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("sigma")), s"wrong error: $e")
  }

  /** sequential WEIGHTED louvainMove (louvainMove's conventions:
    * self-loops out of k, in d; gain scale 2·M₂ = Σw). */
  private def refMoveW(edges: Seq[(Long, Long, Long)],
                       init: Map[Long, Long],
                       rounds: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val m2 = edges.map(_._3).sum
    val nl = edges.filter(e => e._1 != e._2).groupBy(_._1)
      .withDefaultValue(Seq.empty)
    var lab = init
    for (_ <- 1 to rounds) {
      val dc = lab.toSeq.groupBy(_._2).view
        .mapValues(_.map(x => deg.getOrElse(x._1, 0L)).sum).toMap
      val cur = lab
      val best = deg.keys.toSeq.sorted.flatMap { i =>
        val a = cur(i)
        val k = nl(i).groupBy(e => cur(e._2)).view
          .mapValues(_.map(_._3).sum).toMap
        val ka = k.getOrElse(a, 0L)
        val cands = k.keys.filter(_ != a).map { b =>
          (i, a, b, 2L * m2 * (k(b) - ka) -
            2L * deg(i) * (dc(b) - dc(a) + deg(i)))
        }.filter(_._4 > 0).toSeq
        if (cands.isEmpty) None else Some(cands.minBy(c => (-c._4, c._3)))
      }
      val byComm = best.flatMap(mv => Seq((mv._2, mv), (mv._3, mv)))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).minBy(m => (-m._4, m._1, m._3))).toMap
      val applied = best.filter(mv =>
        byComm(mv._2) == mv && byComm(mv._3) == mv)
      lab = lab ++ applied.map(mv => mv._1 -> mv._3)
    }
    lab
  }

  /** sequential multi-level Blondel: singleton init per level, one
    * refMoveW pass, contraction, expansion — louvainPyramid's twin. */
  private def refPyramid(edges: Seq[(Long, Long, Long)], levels: Int,
                         moveRounds: Int): Seq[Map[Long, Long]] = {
    var cur = edges
    val out = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    var stopped = false
    for (_ <- 1 to levels) {
      if (stopped) out += out.last
      else {
        val init = cur.map(_._1).distinct.map(n => n -> n).toMap
        val moved = refMoveW(cur, init, moveRounds)
        val anyMove = moved.exists { case (nd, l) => nd != l }
        out += (if (out.isEmpty) moved
                else out.last.view.mapValues(moved).toMap)
        if (anyMove)
          cur = cur.groupBy(e => (moved(e._1), moved(e._2))).toSeq
            .map { case ((a, b), es) => (a, b, es.map(_._3).sum) }
        else stopped = true
      }
    }
    out.toSeq
  }

  test("louvainPyramid ≡ sequential multi-level reference; Q non-decreasing per level; converged tail repeats") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val pairs = (clique(1L to 4L) ++ clique(5L to 8L) ++
      Seq((4L, 5L), (5L, 4L))).toSeq
    val ref = refPyramid(pairs.map { case (a, b) => (a, b, 1L) },
      levels = 3, moveRounds = 1)
    val got = Graph.louvainPyramid(
        pairs.toDF("src", "dst").withColumn("w", lit(1L)),
        levels = 3, moveRounds = 1)
      .map(_.as[(Long, Long)].collect().toMap)
    assert(got.size === 3)
    (0 until 3).foreach(i => assert(got(i) === ref(i), s"level ${i + 1}"))
    val qs = got.map(l => qNum(pairs, l))
    assert(qs === qs.sorted, s"Q decreased across levels: $qs")
    // single-edge graph: level 1 merges the pair; the contracted
    // graph is one self-loop super-node — no further move is
    // possible, and the converged tail repeats level 1's assignment
    val gotOne = Graph.louvainPyramid(
        Seq((1L, 2L), (2L, 1L)).toDF("src", "dst").withColumn("w", lit(1L)),
        levels = 3, moveRounds = 1)
      .map(_.as[(Long, Long)].collect().toMap)
    assert(gotOne(0) === Map(1L -> 2L, 2L -> 2L))
    assert(gotOne(1) === gotOne(0))
    assert(gotOne(2) === gotOne(0))
    // random graph: reference equality + partition invariance
    val rnd = new scala.util.Random(31)
    val re = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (re ++ re.map(_.swap)).distinct
    val rRef = refPyramid(sym.map { case (a, b) => (a, b, 1L) },
      levels = 3, moveRounds = 1)
    val rGot = Graph.louvainPyramid(
        sym.toDF("src", "dst").withColumn("w", lit(1L)),
        levels = 3, moveRounds = 1)
      .map(_.as[(Long, Long)].collect().toMap)
    (0 until 3).foreach(i =>
      assert(rGot(i) === rRef(i), s"rnd level ${i + 1}"))
    val rRep = Graph.louvainPyramid(
        sym.toDF("src", "dst").repartition(7).withColumn("w", lit(1L)),
        levels = 3, moveRounds = 1)
      .map(_.as[(Long, Long)].collect().toMap)
    (0 until 3).foreach(i => assert(rRep(i) === rRef(i)))
  }

  test("harmonicCentrality: hand-worked path + disconnected pair, horizon and unreachability") {
    // path 1-2-3-4-5-6 (symmetrized) plus isolated pair 7-8;
    // sources {1, 7}, maxHops = 3.
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (7L, 8L))
    val edges = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val srcs = Seq(1L, 7L).toDF("node")
    val got = Graph.harmonicCentrality(edges, srcs, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    // from 1: d(2)=1, d(3)=2, d(4)=3; 5 and 6 beyond the horizon.
    // from 7: d(8)=1. Sources see each other NEVER (disconnected) —
    // nodes 1 and 7 are absent, like 5/6: absence IS the contract.
    assert(got === Map(
      2L -> 1000000L, 3L -> 500000L, 4L -> 333333L, 8L -> 1000000L))
  }

  test("harmonicCentrality: overlapping sources sum; an edgeless source contributes nothing") {
    // triangle 1-2-3, sources {1, 2, 9} — 9 appears in no edge row.
    val raw = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val edges = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val got = Graph.harmonicCentrality(
        edges, Seq(1L, 2L, 9L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    // 3 is at distance 1 from BOTH live sources; 1 and 2 each see the
    // other source at distance 1; 9 reaches nothing and nothing
    // reaches anyone FROM 9.
    assert(got === Map(
      1L -> 1000000L, 2L -> 1000000L, 3L -> 2000000L))
  }

  test("eccentricity: horizon-bounded vs exhausted sources, edgeless source absent") {
    // path 1-2-3-4-5-6 (symmetrized) + isolated pair 7-8; sources
    // {1, 7, 9} with 9 in no edge row.
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (7L, 8L))
    val edges = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val srcs = Seq(1L, 7L, 9L).toDF("node")
    val at3 = Graph.eccentricity(edges, srcs, maxHops = 3)
      .select(col("node"), col("ecc"), col("n_reached"), col("is_exact"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(at3 === Map(
      // 1's level-3 frontier {4} is nonempty: ecc 3 is a LOWER bound
      1L -> ((3L, 3L, 0L)),
      // 7 exhausted its pair at level 1: exact
      7L -> ((1L, 1L, 1L))))
    val at10 = Graph.eccentricity(edges, srcs, maxHops = 10)
      .select(col("node"), col("ecc"), col("n_reached"), col("is_exact"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // a bound past the true eccentricity turns the same row exact
    assert(at10 === Map(1L -> ((5L, 5L, 1L)), 7L -> ((1L, 1L, 1L))))
  }

  test("katz: hand-worked directed path and symmetrized star") {
    // path 1 -> 2 -> 3, levels 4, attenuation 8, scale 1e9:
    // v1 = {2: 125e6, 3: 125e6}; v2 = {3: 15625000}; v3, v4 empty.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val gotP = Graph.katz(path, levels = 4)
      .as[(Long, Long)].collect().toMap
    assert(gotP === Map(2L -> 125000000L, 3L -> 140625000L))
    // star hub 1 with leaves 2..5 (symmetrized), levels 2:
    // v1(1) = 4e9 div 8 = 5e8, v1(leaf) = 125e6;
    // v2(1) = (4*125e6) div 8 = 62.5e6, v2(leaf) = 5e8 div 8.
    val raw = (2L to 5L).map(l => (1L, l))
    val star = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val gotS = Graph.katz(star, levels = 2)
      .as[(Long, Long)].collect().toMap
    assert(gotS === Map(
      1L -> 562500000L, 2L -> 187500000L, 3L -> 187500000L,
      4L -> 187500000L, 5L -> 187500000L))
  }

  test("katz: the level cap fails loudly instead of overflowing") {
    val raw = (2L to 5L).map(l => (1L, l))
    val star = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val e = intercept[Exception] {
      Graph.katz(star, levels = 2, levelCap = 10L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("katz: level value > cap")),
      s"unexpected: ${messages(e)}")
  }

  test("butterflyCounts: hand-worked bipartite graph and K(2,2)") {
    // L = {1,2,3}, R = {10,20,30}: 10 and 20 share lefts {1,2,3}
    // (w = 3 -> C(3,2) = 3 butterflies); 30 shares only {3} with
    // each (w = 1, filtered) -> absent.
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 30L)).toDF("l", "r")
    val got = Graph.butterflyCounts(e)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 3L, 20L -> 3L))
    // the single K(2,2) is exactly one butterfly on each right vertex
    val k22 = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L))
      .toDF("l", "r")
    assert(Graph.butterflyCounts(k22).as[(Long, Long)].collect().toMap
      === Map(10L -> 1L, 20L -> 1L))
  }

  test("butterflyCounts: matches brute-force 4-cycle enumeration on a random bipartite graph") {
    val rnd = new scala.util.Random(53)
    val es = Seq.fill(150)((rnd.nextInt(12).toLong, 100L + rnd.nextInt(10)))
      .distinct
    val got = Graph.butterflyCounts(es.toDF("l", "r"))
      .as[(Long, Long)].collect().toMap
    // brute force: for each right pair, count shared lefts
    val byR = es.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val ref = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val rs = byR.keys.toSeq.sorted
    for (i <- rs.indices; j <- i + 1 until rs.length) {
      val w = (byR(rs(i)) & byR(rs(j))).size.toLong
      if (w >= 2) { val bf = w * (w - 1) / 2
        ref(rs(i)) += bf; ref(rs(j)) += bf }
    }
    assert(got === ref.toMap)
  }

  test("luby: matches a sequential reference, independence and maximality at convergence") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val rnd = new scala.util.Random(59)
    val re = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (re ++ re.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // sequential reference of the deterministic rounds
    val prio = adj.keys.map(n => n -> md5hex("mis:" + n)).toMap
    var live = adj.keySet
    val ref = scala.collection.mutable.Map[Long, (String, Long)]()
    for (i <- 1 to 10 if live.nonEmpty) {
      val joiners = live.filter(v =>
        (adj(v) & live).forall(u => prio(v) < prio(u)))
      val removed = joiners.flatMap(adj) & live &~ joiners
      joiners.foreach(v => ref(v) = ("mis", i.toLong))
      removed.foreach(v => ref(v) = ("removed", i.toLong))
      live = live &~ joiners &~ removed
    }
    live.foreach(v => ref(v) = ("live", 0L))
    val got = Graph.luby(sym.toDF("src", "dst"), rounds = 10)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === ref.toMap)
    // converged at 10 rounds on 25 nodes: no live rows, so the MIS
    // must be independent AND maximal
    assert(!got.values.exists(_._1 == "live"))
    val mis = got.collect { case (n, ("mis", _)) => n }.toSet
    sym.foreach { case (u, v) =>
      assert(!(mis(u) && mis(v)), s"adjacent MIS pair $u-$v") }
    got.collect { case (n, (st, _)) if st != "mis" => n }.foreach { n =>
      assert((adj(n) & mis).nonEmpty, s"non-MIS node $n has no MIS neighbor") }
    // partition invariance
    val rep = Graph.luby(sym.toDF("src", "dst").repartition(7), rounds = 10)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rep === ref.toMap)
  }

  test("articulation: bridge node cuts, cycle node doesn't, horizon leaves a claim unproven") {
    // path 1-2-3 (2 is a cut vertex) + 4-cycle 10-11-12-13 (no cut
    // vertices), symmetrized.
    val raw = Seq((1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))
    val edges = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val got = Graph.articulation(edges,
        Seq(2L, 11L).toDF("node"), maxHops = 8)
      .select(col("node"), col("n_neighbors"), col("n_reached"),
        col("is_articulation"), col("is_exact"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === Map(
      // removing 2 strands 3 from 1: articulation, proven (exhausted)
      2L -> ((2L, 1L, 1L, 1L)),
      // the cycle reroutes around 11: not articulation, definitive
      11L -> ((2L, 2L, 0L, 1L))))
    // horizon honesty: on a 8-cycle at maxHops 2, the far neighbor
    // of a candidate is unreached but the frontier is still alive —
    // the positive is UNPROVEN (is_exact = 0), not asserted
    val cyc = (0L to 7L).map(i => (20L + i, 20L + (i + 1) % 8))
    val cedges = (cyc ++ cyc.map(_.swap)).toDF("src", "dst")
    val h = Graph.articulation(cedges, Seq(20L).toDF("node"), maxHops = 2)
      .select(col("n_neighbors"), col("n_reached"),
        col("is_articulation"), col("is_exact"))
      .as[(Long, Long, Long, Long)].head()
    assert(h === ((2L, 1L, 1L, 0L)))
    // the same cycle at maxHops 8 exhausts and flips to a definitive
    // negative
    val h8 = Graph.articulation(cedges, Seq(20L).toDF("node"), maxHops = 8)
      .select(col("n_neighbors"), col("n_reached"),
        col("is_articulation"), col("is_exact"))
      .as[(Long, Long, Long, Long)].head()
    assert(h8 === ((2L, 2L, 0L, 1L)))
  }

  test("triadCensus: one hand-built triangle per class, every CASE branch") {
    val edges = Seq(
      // 030T: 1->2, 2->3, 1->3 (source, middle, sink)
      (1L, 2L), (2L, 3L), (1L, 3L),
      // 030C: 11->12->13->11
      (11L, 12L), (12L, 13L), (13L, 11L),
      // 120_in, bi on (u,v): 21<->22, 23->21, 23->22
      (21L, 22L), (22L, 21L), (23L, 21L), (23L, 22L),
      // 120_out, bi on (u,v): 31<->32, 31->33, 32->33
      (31L, 32L), (32L, 31L), (31L, 33L), (32L, 33L),
      // 120_mixed, bi on (u,v): 41<->42, 41->43, 43->42
      (41L, 42L), (42L, 41L), (41L, 43L), (43L, 42L),
      // 210: 51<->52, 51<->53, 52->53
      (51L, 52L), (52L, 51L), (51L, 53L), (53L, 51L), (52L, 53L),
      // 300: all six arcs
      (61L, 62L), (62L, 61L), (61L, 63L), (63L, 61L),
      (62L, 63L), (63L, 62L),
      // 120_in with the bi pair on (u,w): 71<->73, 72->71, 72->73
      (71L, 73L), (73L, 71L), (72L, 71L), (72L, 73L),
      // 120_out with the bi pair on (v,w): 82<->83, 82->81, 83->81
      (82L, 83L), (83L, 82L), (82L, 81L), (83L, 81L)
    ).toDF("u", "v")
    val got = Graph.triadCensus(edges)
      .as[(String, Long)].collect().toMap
    assert(got === Map(
      "030T" -> 1L, "030C" -> 1L, "120_in" -> 2L, "120_out" -> 2L,
      "120_mixed" -> 1L, "210" -> 1L, "300" -> 1L))
  }

  test("deterministicWalks: matches a sequential md5-argmin reference; sinks stop walks") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val rnd = new scala.util.Random(61)
    val re = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (re ++ re.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ref = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    adj.keys.foreach { s =>
      var cur = s
      ref += ((s, 0L, s))
      for (i <- 1 to 4) {
        val nxt = adj(cur).minBy(d => md5hex(s"dw:$s:$i:$d"))
        ref += ((s, i.toLong, nxt))
        cur = nxt
      }
    }
    val got = Graph.deterministicWalks(sym.toDF("src", "dst"), length = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === ref.toSet)
    // sink stop: directed path 1 -> 2 -> 3, walks truncate at 3
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Graph.deterministicWalks(path, length = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(p === Set(
      (1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L),
      (2L, 0L, 2L), (2L, 1L, 3L),
      (3L, 0L, 3L)))
    // the prepared (bucket-on-src read path) variant is output-
    // identical on an already-normalized edge set
    val prep = Graph.deterministicWalksPrepared(
        sym.toDF("src", "dst"), length = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(prep === got)
  }

  test("localClustering: triangle + leaf + isolated edge covers every branch") {
    // triangle 1-2-3, leaf 4 on 1, isolated edge 5-6 (one row per
    // undirected edge — the operator symmetrizes internally).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("u", "v")
    val got = Graph.localClustering(edges)
      .select(col("node"), col("deg"), col("tri"), col("lcc_scaled"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      // node 1: deg 3, 1 triangle of 3 possible pairs -> 1/3
      1L -> ((3L, 1L, 333333L)),
      2L -> ((2L, 1L, 1000000L)),
      3L -> ((2L, 1L, 1000000L)),
      // deg-1 leaves: emitted with lcc 0, never dropped
      4L -> ((1L, 0L, 0L)),
      5L -> ((1L, 0L, 0L)),
      6L -> ((1L, 0L, 0L))))
  }

  test("localClustering: replays q171's triangle counts on its own edges") {
    val rnd = new scala.util.Random(47)
    val re = Seq.fill(80)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a < b }.distinct
    val edges = re.toDF("u", "v")
    val tri = Graph.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    val lcc = Graph.localClustering(edges)
      .select(col("node"), col("tri")).as[(Long, Long)].collect().toMap
    // every triangle corner agrees; lcc-only rows are tri = 0
    tri.foreach { case (n, t) => assert(lcc(n) === t, s"node $n") }
    lcc.filterNot { case (n, _) => tri.contains(n) }
      .foreach { case (n, t) => assert(t === 0L, s"node $n") }
  }

  test("iterative ops retain exactly ONE checkpoint after the call (r22 settle contract)") {
    // VERDICT r21 #1: the r21 lazy-union restructure kept every
    // per-round level checkpoint persisted for the life of the
    // returned frame. The settle() fix eager-checkpoints the final
    // reduced frame once and releases the levels — so each call must
    // grow sc.getPersistentRDDs by exactly 1 (the output-sized final
    // checkpoint), regardless of round count, and the query's release
    // (Checkpoints.releaseQuery) must free that one too. unpersist
    // updates the persistentRdds map synchronously, so the count is
    // deterministic.
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    def retainedAfter(label: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
      // compare RDD-id SETS, not counts: the ContextCleaner may
      // concurrently drop older persisted RDDs whose frames were GC'd.
      // RDD ids grow monotonically: a fresh RDD marks the call's start.
      val mark = sc.emptyRDD[Int].id
      def fresh = sc.getPersistentRDDs.keySet.filter(_ > mark)
      run.collect() // evaluate through the checkpoint
      assert(fresh.size === 1,
        s"$label retained ${fresh.size} new checkpoints (want 1)")
      Checkpoints.releaseQuery()
      assert(fresh.isEmpty, s"$label's checkpoint outlived releaseQuery")
    }
    retainedAfter("bfs")(Graph.bfs(edges, seeds, maxHops = 10))
    retainedAfter("katz")(Graph.katz(edges, levels = 4))
    retainedAfter("harmonicCentrality")(
      Graph.harmonicCentrality(edges, seeds, maxHops = 10))
    retainedAfter("eccentricity")(
      Graph.eccentricity(edges, seeds, maxHops = 10))
    retainedAfter("betweenness")(
      Graph.betweenness(edges, seeds, maxHops = 10))
    retainedAfter("luby")(Graph.luby(edges, rounds = 10))
    retainedAfter("articulation")(
      Graph.articulation(edges, Seq(2L, 3L).toDF("node"), maxHops = 10))
    retainedAfter("deterministicWalks")(
      Graph.deterministicWalks(edges, length = 5))
    retainedAfter("louvainMove")(
      Graph.louvainMove(edges.withColumn("w", lit(1L)),
        (1L to 6L).map(i => (i, i)).toDF("node", "label"), rounds = 3))
    retainedAfter("sssp")(
      Graph.sssp(edges.withColumn("w", lit(2L)), seeds, rounds = 10))
    val dated = edges.withColumn("t", col("src") + col("dst"))
    retainedAfter("earliestArrival")(
      Graph.earliestArrival(dated, seeds, startT = 0L, rounds = 10))
    retainedAfter("latestDeparture")(
      Graph.latestDeparture(dated, Seq(6L).toDF("node"), deadline = 100L,
        rounds = 10))
    retainedAfter("fastestJourney")(
      Graph.fastestJourney(dated, seeds, rounds = 10))
    retainedAfter("shortestJourney")(
      Graph.shortestJourney(dated, seeds, startT = 0L, rounds = 10))
    val undirected = edges.select(col("src").as("u"), col("dst").as("v"))
    retainedAfter("kCore")(Graph.kCore(undirected, k = 2))
    retainedAfter("ccStar")(Graph.ccStar(undirected))
  }

  test("bfs, sssp, ccStar and kCore build with a pinned number of Spark jobs") {
    // one checkpoint job per round (the witness rides it): an extra
    // job per round or per call moves these counts, and so does a
    // join that plans a shuffle against a checkpoint it could
    // broadcast. Fixtures are the hand-checked bfs, sssp and ccStar
    // inputs above; kCore's is K5 at k = 3, whose minimum degree (4)
    // leaves nothing to peel. katz and deterministicWalks run on the
    // bfs paths with 10 levels/steps: the longest directed path has 4
    // edges, so their frontier empties and the loop stops early.
    val paths = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (9L, 10L)).toDF("src", "dst")
    val diamond = Seq(
      (1L, 2L, 1L), (2L, 4L, 1L), (1L, 4L, 5L), (1L, 3L, 10L),
      (5L, 6L, 1L)).toDF("src", "dst", "w")
    val pairs = ((1L to 19L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L), (32L, 30L)) ++
      Seq((40L, 41L), (40L, 42L), (40L, 43L)) ++
      Seq((50L, 51L))).toDF("u", "v")
    val seed = Seq(1L).toDF("node")
    val (_, bfsJobs) = jobsIn(Graph.bfs(paths, seed, maxHops = 10))
    val (_, ssspJobs) = jobsIn(Graph.sssp(diamond, seed, rounds = 4))
    val (_, ccJobs) = jobsIn(Graph.ccStar(pairs))
    val k5 = (for (a <- 1L to 5L; b <- 1L to 5L if a != b) yield (a, b))
      .toDF("u", "v")
    val (core, kCoreJobs) = jobsIn(Graph.kCore(k5, k = 3))
    assert(core.count() === 5L)
    assert((bfsJobs, ssspJobs, ccJobs, kCoreJobs) === ((17, 11, 23, 3)))
    val (_, katzJobs) = jobsIn(Graph.katz(paths, levels = 10))
    val (_, walkJobs) = jobsIn(Graph.deterministicWalks(paths, length = 10))
    assert((katzJobs, walkJobs) === ((20, 14)))
    // no edges: round 0 is empty and stops the loop
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.katz(none, levels = 10).count() === 0L)
    assert(Graph.deterministicWalks(none, length = 10).count() === 0L)
  }

  test("a checkpoint is planned from its measured size, and released with it") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // Both frames come out of joins, so without CBO their estimates
    // are products of their inputs' sizes, far over the broadcast
    // threshold: only the measured sizes can plan a broadcast here.
    // (A range, not a local Seq: a filter over a LocalRelation is
    // folded into a smaller LocalRelation before the join is estimated.)
    val raw = spark.range(1L, 2001L)
      .select((col("id") % 50).as("src"), col("id").as("dst"))
    val e = Graph.observedCheckpoint(
      raw.join(raw.select(col("dst")), Seq("dst")).select("src", "dst"),
      count(lit(1)))._1
    val state = Graph.observedCheckpoint(
      raw.as("a").join(raw.as("b"), col("a.dst") === col("b.dst"))
        .filter(col("a.dst") < 10)
        .select(col("a.dst").as("node"), lit(0L).as("dist")),
      count(lit(1)))._1
    val stateBytes = state.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(stateBytes < e.queryExecution.optimizedPlan.stats.sizeInBytes)
    def initialBroadcasts(): Int =
      state.join(e, col("node") === col("src")).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec =>
          a.initialPlan.collect { case b: BroadcastHashJoinExec => b }.size
        case p => fail(s"expected an adaptive plan:\n$p")
      }
    assert(initialBroadcasts() === 1)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> (stateBytes - 1).toString) {
      assert(initialBroadcasts() === 0)
    }
    def rddId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical match { case lr: LogicalRDD => lr.rdd.id }
    val ids = Set(rddId(e), rddId(state))
    Checkpoints.release(e)
    Checkpoints.release(state)
    // unpersist is asynchronous here and the storage info is fed by
    // the listener bus: poll until both RDDs are gone
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 30L * 1000000000L
    def held = sc.getRDDStorageInfo.map(_.id).toSet & ids
    while (held.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(held.isEmpty)
  }
}
