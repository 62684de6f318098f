package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup operator tests (SURVEY.md §5.2 #1/#3). The MinHash-LSH path is
  * excluded from the SQL oracle by contract (SURVEY §2B: "verify by
  * property: near-dup pairs ⊇ exact dups") — those properties live here.
  */
class DedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "completely different content about spark engines"), // exact dup of 4
    (6L, "unrelated text with no overlap whatsoever here today"),
  ).toDF("doc_id", "text")

  test("exactDedup keeps the min-key row per distinct text") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
    assert(out.select("doc_id").as[Long].collect().sorted === Seq(1L, 3L, 4L, 6L))
    assert(out.columns.toSeq === Seq("doc_id", "text")) // helper cols dropped
  }

  test("exactDedup is idempotent") {
    val once = Dedup.exactDedup(docs, "text", "doc_id")
    val twice = Dedup.exactDedup(once, "text", "doc_id")
    assert(twice.collect().toSet === once.collect().toSet)
  }

  test("exactDedup of an empty input is empty") {
    val empty = docs.filter(lit(false))
    assert(Dedup.exactDedup(empty, "text", "doc_id").isEmpty)
  }

  test("dedupGroups counts copies per distinct content") {
    val out = Dedup.dedupGroups(docs, "text", "doc_id")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 3L -> 1L, 4L -> 2L, 6L -> 1L))
  }

  test("shingles: n-grams of a token array; shorter-than-n shingles to empty") {
    val df = Seq("a b c d", "a b", "a").toDF("text")
      .select(Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Nil) // 2 tokens < n=3
    assert(got(2) === Nil)
  }

  test("identical texts get identical minhash signatures (est Jaccard = 1)") {
    val sigs = docs.filter(col("doc_id").isin(1, 2))
      .select(Dedup.minhashSignature(
        Dedup.shingles(split(col("text"), " "), 2), 64).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs(0) === sigs(1))
  }

  test("minhashSignatures equals an independent driver-side reimplementation") {
    // Oracle: recompute FNV-1a 64 + SplitMix64 + per-seed min in plain
    // Scala from the same public constants and compare exactly.
    val got = Dedup.minhashSignatures(docs, "doc_id", "text", 2, 32)
      .select(col("id"), col("sig")).as[(Long, Option[Seq[Long]])].collect()
      .collect { case (id, Some(sig)) => id -> sig }.toMap
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      for (b <- s.getBytes("UTF-8")) h = (h ^ (b & 0xffL)) * 0x100000001b3L
      h
    }
    def mix(x: Long): Long = {
      var z = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val seeds = { val r = new scala.util.Random(42L); Array.fill(32)(r.nextLong()) }
    for ((id, text) <- docs.as[(Long, String)].collect()) {
      val toks = text.split(" ")
      if (toks.length >= 2) {
        val grams = toks.sliding(2).map(_.mkString(" ")).toSeq
        val expect = seeds.toSeq.map(s => grams.map(g => mix(fnv(g) + s)).min)
        assert(got(id) === expect, s"doc $id")
      } else assert(!got.contains(id))
    }
  }

  test("minhash estimate tracks exact Jaccard within statistical tolerance") {
    // k=128 hashes → σ = sqrt(J(1-J)/k) ≤ 0.045; assert within 4σ ≈ 0.18.
    val k = 128
    val sh = docs.select(col("doc_id"),
      Dedup.shingles(split(col("text"), " "), 2).as("sh"),
      Dedup.minhashSignature(Dedup.shingles(split(col("text"), " "), 2), k).as("sig"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("sig").as("sig_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("sig").as("sig_b"))
    val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(
        Dedup.exactJaccard(col("sh_a"), col("sh_b")).as("exact"),
        Dedup.estJaccard(col("sig_a"), col("sig_b"), k).as("est"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    for ((exact, est) <- pairs)
      assert(math.abs(exact - est) <= 0.18, s"exact=$exact est=$est")
  }

  test("LSH candidate pairs contain every exact-duplicate pair (superset property)") {
    val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // Exact dups always collide in EVERY band.
    assert(cands.contains((1L, 2L)), s"missing exact-dup pair in $cands")
    assert(cands.contains((4L, 5L)), s"missing exact-dup pair in $cands")
  }

  test("LSH finds the near-dup pair and scores it high; est Jaccard on dups is 1") {
    val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 32) // r=2 → high recall
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(cands((1L, 2L)) === 1.0)
    assert(cands((1L, 3L)) > 0.5, s"near-dup pair scored ${cands.get((1L, 3L))}")
    // Unrelated doc 6 must not pair with doc 1's cluster at high score.
    for (((x, y), j) <- cands if (x == 6L || y == 6L)) assert(j < 0.5)
  }

  test("nearDedup keeps the lowest-id representative of each near-dup cluster") {
    val kept = Dedup.nearDedup(docs, "doc_id", "text", threshold = 0.5,
      shingleN = 2, numHashes = 64, bands = 32)
      .select("doc_id").as[Long].collect().sorted
    // clusters: {1,2,3} (exact + near), {4,5} (exact), {6} — keep 1, 4, 6
    assert(kept.toSeq === Seq(1L, 4L, 6L))
  }

  test("LSH pair list is deduplicated across bands and ordered id_a < id_b") {
    val rows = Dedup.lshCandidatePairs(docs, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(rows.length === rows.toSet.size)
    for ((a, b) <- rows) assert(a < b)
  }

  test("connectedComponents: chains, cycles, disjoint pairs, convergence") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain -> comp 1
      (10L, 11L), (11L, 12L), (12L, 10L), // cycle -> comp 10
      (20L, 21L))                      // isolated pair -> comp 20
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents throws (never silently under-merges) when maxIter is too low") {
    // chain 1-2-3-4-5: ccStar needs 2 alternation rounds to star it
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1).collect()
    }
    // and with enough rounds the same graph converges to one component
    val ok = Dedup.connectedComponents(chain, maxIter = 10)
      .select("comp").distinct().as[Long].collect().toSeq
    assert(ok === Seq(1L))
  }

  test("connectedComponents: a 200-node path converges under the default cap") {
    // eccentricity 199 — hashmin would need ~199 rounds; ccStar's
    // O(log n) rounds fit the default cap of 20
    val path = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(path).as[(Long, Long)].collect()
    assert(got.length === 200 && got.forall(_._2 == 1L))
  }

  test("connectedComponents: String ids (the q303/q328 entity-name shape)") {
    val pairs = Seq(("bolt b", "bolt a"), ("bolt c", "bolt b"),
      ("nut y", "nut x")).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(comps === Map(
      "bolt a" -> "bolt a", "bolt b" -> "bolt a", "bolt c" -> "bolt a",
      "nut x" -> "nut x", "nut y" -> "nut x"))
  }

  test("connectedComponents leaves at most one persisted RDD behind") {
    // ccStar releases each superseded round's checkpoint; only the
    // one the result reads from stays. Compare RDD-id sets: the
    // ContextCleaner may drop older persisted RDDs concurrently.
    val sc = spark.sparkContext
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = sc.getPersistentRDDs.keySet
    Dedup.connectedComponents(chain).collect()
    val fresh = sc.getPersistentRDDs.keySet -- before
    assert(fresh.size <= 1, s"retained ${fresh.size} new persisted RDDs")
  }

  test("nearDedupExact keeps one representative per transitive cluster; greedy may differ") {
    // chain: 1~2 and 2~3 near-dup, but 1 and 3 do NOT pair directly.
    // Exact CC semantics keep {1} for the whole chain (plus unrelated
    // docs); the greedy pass also keeps {1} here — the pinned
    // difference is semantics: CC assigns 3 to component 1 even
    // though (1,3) is never a candidate pair.
    val chain = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "aa bb cc dd ee ff gg xx"), // near 1
      (3L, "yy bb cc dd ee ff gg xx"), // near 2, not 1
      (9L, "completely different words entirely unrelated here now"))
      .toDF("doc_id", "text")
    val kept = Dedup.nearDedupExact(chain, "doc_id", "text",
        threshold = 0.3, shingleN = 2, numHashes = 64, bands = 32)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 9L))
    // and exactDedup-style safety: thresholding at > 1.0 keeps everything
    val all = Dedup.nearDedupExact(chain, "doc_id", "text",
        threshold = 1.1, shingleN = 2, numHashes = 64, bands = 32)
      .count()
    assert(all === 4)
  }

  test("nearDedupBestFromPairs keeps the best-scoring cluster member; ties to lowest id") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9),  // cluster {1,2,3}: best score ties 2/3 → keep 2
      (10L, 0.5), (11L, 0.1),           // cluster {10,11}: keep 10 (higher score)
      (42L, 0.0))                       // singleton: always kept
      .toDF("doc_id", "score")
    val pairs = Seq(
      (1L, 2L, 0.8), (2L, 3L, 0.8),     // chain — transitive cluster
      (10L, 11L, 0.9),
      (10L, 42L, 0.1))                  // below threshold — not an edge
      .toDF("id_a", "id_b", "est_jaccard")
    val kept = Dedup.nearDedupBestFromPairs(docs, "doc_id",
        org.apache.spark.sql.functions.col("score"), pairs, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 10L, 42L))
    // contrast with the min-id variant on the same pairs: keeps 1, not 2
    val minId = Dedup.nearDedupExactFromPairs(docs, "doc_id", pairs, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(minId === Seq(1L, 10L, 42L))
  }

  test("simhash: identical token bags hash identically; empty array is null") {
    val sigs = docs.select(col("doc_id"),
        Dedup.simhash(split(col("text"), " ")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) === sigs(2L)) // exact dups
    assert(sigs(4L) === sigs(5L))
    assert(sigs(1L) !== sigs(6L)) // unrelated
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("toks")
      .select(Dedup.simhash(col("toks")).as("sig"))
    assert(empty.filter(col("sig").isNotNull).isEmpty)
  }

  test("simhash Hamming separates near from far token bags") {
    val rnd = new scala.util.Random(11)
    val vocab = Array.tabulate(500)(i => s"w$i")
    val baseToks = Array.fill(120)(vocab(rnd.nextInt(vocab.length)))
    val near = baseToks.clone(); near(3) = "changed"; near(77) = "edited"
    val far = Array.fill(120)(vocab(rnd.nextInt(vocab.length)) + "x")
    val df = Seq((1L, baseToks.toSeq), (2L, near.toSeq), (3L, far.toSeq))
      .toDF("id", "toks")
      .select(col("id"), Dedup.simhash(col("toks")).as("sig"))
    val s = df.as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(s(1L), s(2L)) < ham(s(1L), s(3L)),
      s"near ${ham(s(1L), s(2L))} !< far ${ham(s(1L), s(3L))}")
  }

  test("simhashPairs equals brute-force Hamming join for maxHamming <= bands-1") {
    // pigeonhole exactness: with 8 bands, any pair within Hamming 7
    // shares a full band — banding must lose NOTHING at maxHamming 7.
    val docs = Tables.documents(spark, sfDir).limit(300)
    val sigs = docs.select(col("doc_id"),
        Dedup.simhash(split(col("text"), " ")).as("sig"))
      .filter(col("sig").isNotNull)
    val a = sigs.select(col("doc_id").as("ia"), col("sig").as("sa"))
    val b = sigs.select(col("doc_id").as("ib"), col("sig").as("sb"))
    val brute = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("h"))
      .filter(col("h") <= 7)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashPairs(docs, "doc_id", "text",
        maxHamming = 7, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
  }

  test("dedupAgainst drops only content present in the seen corpus") {
    val seen = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta"),    // exact content match → dropped
      (11L, "epsilon zeta"),  // new → kept
      (12L, "epsilon zeta"),  // within-batch dup → BOTH kept (out of scope)
      (13L, "gamma delta"))   // match → dropped
      .toDF("doc_id", "text")
    val kept = Dedup.dedupAgainst(fresh, seen, "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(11L, 12L))
    // helper column dropped, schema preserved
    assert(Dedup.dedupAgainst(fresh, seen, "text").columns.toSeq
      === Seq("doc_id", "text"))
  }

  test("dedupAgainst with an empty seen corpus keeps everything") {
    val seen = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val fresh = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.dedupAgainst(fresh, seen, "text").count() === 2L)
  }

  test("bloomDedupAgainst never keeps a true duplicate (no false negatives)") {
    val docs = Tables.documents(spark, sfDir)
    val seen = docs.filter($"doc_id" < 250)
    val fresh = docs.filter($"doc_id" >= 250)
      .select($"doc_id", $"text")
      .unionByName(seen.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 1000).as("doc_id"), $"text"))
    val bloomKept = Dedup.bloomDedupAgainst(fresh, seen, "text",
        expectedItems = 100000L, fpp = 0.01)
      .select("doc_id").as[Long].collect().toSet
    // every planted copy of seen content is dropped, guaranteed
    assert(bloomKept.forall(_ < 1000L))
    // keep-set ⊆ the exact anti-join's keep-set: bloom drops a
    // SUPERSET of the true duplicates (its only error is false drops)
    val exactKept = Dedup.dedupAgainst(fresh, seen, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(bloomKept.subsetOf(exactKept))
    // at this filter size the false-drop cost on the fixture is ~0
    assert(bloomKept.size >= (exactKept.size * 0.95).toInt)
  }

  test("bloomDedupAgainst under a deliberately tiny filter still drops all dups") {
    // 64 bits for 250 seen hashes → saturated filter, many false
    // positives; the no-false-negative guarantee must survive.
    val docs = Tables.documents(spark, sfDir)
    val seen = docs.filter($"doc_id" < 250)
    val fresh = docs.filter($"doc_id" >= 250)
      .select($"doc_id", $"text")
      .unionByName(seen.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 1000).as("doc_id"), $"text"))
    val kept = Dedup.bloomDedupAgainst(fresh, seen, "text",
        expectedItems = 1L, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.forall(_ < 1000L))
    val exactKept = Dedup.dedupAgainst(fresh, seen, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(exactKept))
  }

  test("bloomDedupAgainst with an empty seen corpus keeps everything") {
    // BloomFilterAggregate yields a null sketch at zero input rows;
    // the bootstrap increment must keep all of fresh, like dedupAgainst.
    val seen = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val fresh = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.bloomDedupAgainst(fresh, seen, "text",
      expectedItems = 1000L, fpp = 0.01).count() === 2L)
  }

  test("bloomDedupAgainst keeps null-text rows, matching dedupAgainst") {
    val seen = Seq((1L, Option("a")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val fresh = Seq((10L, Option("a")), (11L, Option("b")),
      (12L, Option.empty[String])).toDF("doc_id", "text")
    val bloomKept = Dedup.bloomDedupAgainst(fresh, seen, "text",
        expectedItems = 1000L, fpp = 0.01)
      .select("doc_id").as[Long].collect().toSet
    val exactKept = Dedup.dedupAgainst(fresh, seen, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(exactKept === Set(11L, 12L))
    assert(bloomKept === exactKept)
  }

  test("bloom build honors above-cap sizing AND restores the session caps after") {
    // Above the 4M-item default cap BloomFilterAggregate would silently
    // clamp and saturate; the op must raise the caps for the build —
    // and restore them, or every later InjectRuntimeFilter in the
    // session inherits a multi-GB ceiling.
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (itemsBefore, bitsBefore) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    val seen = Tables.documents(spark, sfDir).filter($"doc_id" < 100)
    val requestedItems = 5000000L
    val sketch = Dedup.buildBloomSketch(seen, "text",
      expectedItems = requestedItems, fpp = 0.01)
    // the serialized filter carries numBits/8 bytes of registers:
    // ~9.585 bits/item at fpp 1% ⇒ ≥ 5.9 MB — proof the 64 Mbit
    // default cap did NOT clamp the build
    assert(sketch.length > (requestedItems * 9.5 / 8).toLong,
      s"sketch ${sketch.length} B — the default cap clamped the build")
    assert(spark.conf.get(itemsKey) === itemsBefore, "items cap must be restored")
    assert(spark.conf.get(bitsKey) === bitsBefore, "bits cap must be restored")
  }

  test("persisted LSH index candidate pass equals the in-memory pass") {
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_lsh_index_spec"
    try {
      Dedup.writeLshIndex(docs, "doc_id", "text", tbl,
        shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val fromIndex = pairSet(Dedup.lshCandidatePairsFromIndex(spark, tbl))
      val inMemory = pairSet(Dedup.lshCandidatePairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16))
      assert(fromIndex === inMemory)
      assert(fromIndex.nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("nearDedupAgainstIndex drop-set equals the in-memory cross-pair formulation") {
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_lsh_index_incr_spec"
    try {
      Dedup.writeLshIndex(docs, "doc_id", "text", tbl,
        shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
      // fresh = near-variants (one appended token ⇒ must drop) +
      // novel docs (every token suffixed ⇒ must keep); ids offset
      // above the corpus so cross pairs are exactly id_a < 10000 <= id_b
      val variants = docs.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 10000).as("doc_id"),
          concat($"text", lit(" graftprobe")).as("text"))
      val novel = docs.filter($"doc_id" % 5 === 1)
        .select(($"doc_id" + 20000).as("doc_id"),
          array_join(transform(split($"text", " "),
            t => concat(t, lit("_x"))), " ").as("text"))
      val fresh = variants.unionByName(novel)
      val keptIdx = Dedup.nearDedupAgainstIndex(fresh, "doc_id", "text",
          tbl, threshold = 0.5)
        .select("doc_id").as[Long].collect().toSet
      // oracle formulation: one in-memory candidate pass over corpus ∪
      // fresh; a fresh doc drops iff it pairs at >= 0.5 with a CORPUS doc
      val expectedLosers = Dedup.lshCandidatePairs(
          docs.select($"doc_id", $"text").unionByName(fresh),
          "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16)
        .filter($"est_jaccard" >= 0.5 && $"id_a" < 10000 && $"id_b" >= 10000)
        .select($"id_b").as[Long].collect().toSet
      val freshIds = fresh.select("doc_id").as[Long].collect().toSet
      assert(keptIdx === (freshIds -- expectedLosers))
      assert(expectedLosers.nonEmpty, "variants must actually drop")
      assert(keptIdx.exists(_ >= 20000L), "novel docs must survive")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("appendLshIndex: appended batch is visible to the next batch's dedup") {
    val docs = Tables.documents(spark, sfDir)
    val tbl = "graft_lsh_index_append_spec"
    try {
      // index the corpus, then ACCEPT a novel batch by appending it
      Dedup.writeLshIndex(docs, "doc_id", "text", tbl,
        shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
      val batch1 = docs.filter($"doc_id" % 5 === 1)
        .select(($"doc_id" + 20000).as("doc_id"),
          array_join(transform(split($"text", " "),
            t => concat(t, lit("_x"))), " ").as("text"))
      assert(Dedup.nearDedupAgainstIndex(batch1, "doc_id", "text", tbl, 0.5)
        .count() === batch1.count(), "novel batch must fully survive")
      Dedup.appendLshIndex(batch1, "doc_id", "text", tbl)
      // batch 2 repeats batch 1's content (new ids) → dropped ONLY if
      // the append actually reached the index
      val batch2 = batch1.select(($"doc_id" + 10000).as("doc_id"), $"text")
      assert(Dedup.nearDedupAgainstIndex(batch2, "doc_id", "text", tbl, 0.5)
        .count() === 0L, "replayed content must drop against the appended index")
      // and the candidate join over the appended table is STILL
      // Exchange-free on the index side (one band-key exchange = fresh)
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val p = Dedup.nearDedupAgainstIndex(batch2, "doc_id", "text", tbl, 0.5)
          .queryExecution.executedPlan.toString
        assert("hashpartitioning\\(band".r.findAllIn(p).size == 1,
          s"append broke the bucketed index read:\n$p")
      }
      // REPLAY the append (crash between append commit and offset
      // commit — the documented non-idempotent window), then compact:
      // the duplicate band rows must disappear and results still hold
      val before = spark.table(tbl).count()
      Dedup.appendLshIndex(batch1, "doc_id", "text", tbl)
      assert(spark.table(tbl).count() > before, "replay should duplicate rows")
      Dedup.compactLshIndex(spark, tbl)
      assert(spark.table(tbl).count() === before,
        "compaction must drop the replayed duplicates")
      assert(Dedup.nearDedupAgainstIndex(batch2, "doc_id", "text", tbl, 0.5)
        .count() === 0L, "compacted index must still drop replayed content")
      // mismatched banding parameters fail fast instead of silently
      // producing wrong estimates
      intercept[IllegalArgumentException] {
        Dedup.lshCandidatePairsFromIndex(spark, tbl, numHashes = 128)
      }
      intercept[IllegalArgumentException] {
        Dedup.nearDedupAgainstIndex(batch2, "doc_id", "text", tbl, 0.5, bands = 8)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("segmentDedup keeps global first occurrences and reconstructs text") {
    val df = Seq(
      (1L, "a b c d"),   // segs: "a b", "c d" — both first occurrences
      (2L, "c d e f"),   // "c d" seen in doc 1 → dropped; "e f" kept
      (3L, "a b c d"))   // exact dup of doc 1 → everything dropped
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "e f"),
      (3L, 2L, 0L, "")))
  }

  test("segmentDedup dedups repeats WITHIN a document, preserving order") {
    // segs: "x y", "x y", "z w" — the second "x y" is a later
    // occurrence (same doc, higher seg_idx) and must drop.
    val df = Seq((1L, "x y x y z w")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", 2)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq((1L, 3L, 2L, "x y z w")))
  }

  test("segmentDedup ragged tail forms its own (shorter) segment") {
    val df = Seq((1L, "a b c"), (2L, "z c")).toDF("doc_id", "text")
    // doc 1: "a b" + tail "c"; doc 2: "z c" (≠ segment "c" — no match)
    val out = Dedup.segmentDedup(df, "doc_id", "text", 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq((1L, 2L, 2L, "a b c"), (2L, 1L, 1L, "z c")))
  }

  test("segmentDedup is partition-invariant") {
    val docs = Tables.documents(spark, sfDir).limit(200)
    val base = Dedup.segmentDedup(docs, "doc_id", "text", 8)
      .collect().toSet
    val repart = Dedup.segmentDedup(docs.repartition(7), "doc_id", "text", 8)
      .collect().toSet
    assert(base === repart)
  }

  test("prefixSimilarityJoin finds exactly the pairs at/above threshold") {
    import org.apache.spark.sql.functions._
    // sets: 1={a,b,c,d}, 2={a,b,c,e} (J=3/5=0.6), 3={a,b,c,d} (J(1,3)=1,
    // J(2,3)=0.6), 4={x,y} (disjoint), 5={c,d} (J(1,5)=J(3,5)=2/4=0.5 —
    // exactly AT the threshold, must be kept)
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")), (2L, Seq("a", "b", "c", "e")),
      (3L, Seq("a", "b", "c", "d")), (4L, Seq("x", "y")),
      (5L, Seq("c", "d"))).toDF("id", "toks")
    val out = Dedup.prefixSimilarityJoin(df, "id", "toks", 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set(
      (1L, 2L, 0.6), (1L, 3L, 1.0), (2L, 3L, 0.6),
      (1L, 5L, 0.5), (3L, 5L, 0.5)))
  }

  test("prefixSimilarityJoin is candidate-lossless vs the naive all-pairs join") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir).limit(120)
      .select(col("doc_id"), Dedup.shingles(split(col("text"), " "), 3).as("sh"))
    val fast = Dedup.prefixSimilarityJoin(docs, "doc_id", "sh", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val naive = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
      .filter(Dedup.exactJaccard(col("sh_a"), col("sh_b")) >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast === naive)
  }

  test("editOneJoin: adversarial shapes — empty, transposition, repeats, nulls") {
    val df = Seq(
      (1L, "abc"),  (2L, "abd"),   // substitution  -> ed 1
      (3L, "abcd"), (4L, "ab"),    // 3~1 deletion ed 1; 4~1 ed 1
      (5L, "ba"),                  // vs "ab": TRANSPOSITION ed 2 — shares
                                   // a deletion sig, the verify must kill it
      (6L, ""),     (7L, "a"),     // empty vs one char -> ed 1
      (8L, "aaa"),  (9L, "aa"),    // repeated chars: duplicate deletion
                                   // sigs must not duplicate the pair
      (10L, null.asInstanceOf[String]), // null drops entirely
      (11L, "zzzz")                // isolated
    ).toDF("id", "s")
    val got = Dedup.editOneJoin(df, "id", "s")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // independent brute force over the non-null rows
    val base = df.filter(col("s").isNotNull)
    val naive = base.select(col("id").as("id_a"), col("s").as("s_a"))
      .crossJoin(base.select(col("id").as("id_b"), col("s").as("s_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(levenshtein(col("s_a"), col("s_b")) <= 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === naive)
    assert(got.contains((1L, 3L)) && got.contains((6L, 7L)) &&
      got.contains((8L, 9L)))
    assert(!got.exists(p => p._1 == 10L || p._2 == 10L))
    assert(!got.contains((4L, 5L)), "transposition at ed 2 must be verified away")
    // exactly-once per pair even when deletion signatures collide
    val rows = Dedup.editOneJoin(df, "id", "s")
      .groupBy("id_a", "id_b").count().filter(col("count") > 1).count()
    assert(rows === 0)
  }

  test("cdcChunks: chunks survive a prefix insertion (the fixed-block failure mode)") {
    // deterministic 2000-char text from an md5 chain
    val text = Iterator.iterate("seed")(s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString)
      .drop(1).take(63).mkString
    val shifted = "inserted prefix " + text
    def chunkSet(id: Long, t: String) = Dedup.cdcChunks(
        Seq((id, t)).toDF("doc_id", "text"), "doc_id", "text",
        window = 16, maskHex = "0")
      .select("h").as[String].collect().toSet
    val a = chunkSet(1L, text)
    val b = chunkSet(2L, shifted)
    assert(a.size >= 3, s"need several chunks to make the claim, got ${a.size}")
    // every chunk after the first boundary is content-addressed, so
    // only the leading chunk can differ
    assert((a intersect b).size >= a.size - 1,
      s"insertion destroyed chunk identity: ${a.size} vs shared ${(a intersect b).size}")
    // reconstruction sanity: copies × length covers the doc exactly
    // (identical chunks share a hash group — weight by n_copies)
    val chunks = Dedup.cdcChunks(Seq((1L, text)).toDF("doc_id", "text"),
      "doc_id", "text", 16, "0")
    assert(chunks.agg(sum(col("chunk_len") * col("n_copies")))
      .as[Long].head() === text.length.toLong)
  }

  test("dupGramScore: corpus-wide positional duplication rate; within-doc repeats count; short docs NULL") {
    val docs = Seq(
      (1L, "a b c d"), // grams: "a b" (dup via doc 2), "b c", "c d"
      (2L, "a b x"),   // grams: "a b" (dup), "b x"
      (3L, "z"),       // < n tokens: no gram positions
      (4L, "q q q"))   // "q q" twice WITHIN one doc -> both dup
      .toDF("doc_id", "text")
    val got = Dedup.dupGramScore(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 1L, Some(0.3333)),
      (2L, 2L, 1L, Some(0.5)),
      (3L, 0L, 0L, None),
      (4L, 2L, 2L, Some(1.0))))
    // partition invariance (no order-dependent state anywhere)
    val again = Dedup.dupGramScore(docs.repartition(7), "doc_id",
        "text", n = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(again === got)
  }
}
