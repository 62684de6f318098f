package graft.queries

import graft.{Q, Tables}
import graft.ops.{Checkpoints, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators as oracle-checked queries (SURVEY.md §2B
  * "LLM-data-pipeline extensions" — the mandate's north star): exact
  * dedup, similarity search, multimodal assembly, text analysis.
  * The non-SQL-expressible near-dup path (MinHash-LSH) lives in
  * graft.ops.Dedup and is property-tested in DedupSpec instead.
  *
  * Scale notes are on the ops modules; every query here is either
  * row-local (no shuffle) or shuffles fixed-size derived keys
  * (hashes/tokens/ids), never raw document text beyond the first
  * explode.
  */
object LlmQueries {

  /** Positionally exploded embeddings with DECIMAL(12,6)-quantized
    * components — the shared base of q285 (drift audit) and q288
    * (centroid classifier): quantizing BEFORE any sum keeps every
    * downstream aggregate order-invariant. */
  private def posExplodedEmbeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("label"), col("pos"),
        round(col("v").cast("double"), 6).cast("decimal(12,6)").as("v"))

  /** BM25 scores (doc_id, bm25) for a fixed term set — q140's body,
    * shared with the q265 hybrid-fusion ranker so both gates score
    * with the one implementation. Unordered; callers sort. */
  private def bm25Scores(s: SparkSession, dir: String,
                         terms: Seq[String]): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log((col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)) + lit(1.0))
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
              + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib").cast("decimal(18,6)"))
        .cast("double").as("bm25"))
  }

  /** ONE MinHash-LSH candidate pass shared by q72 and q81 (VERDICT r7
    * #5): both dedup variants consume the identical candidate pairs, so
    * computing them twice in one session (shingle → signature → banded
    * self-join, the expensive part of both queries) is pure waste. The
    * pass is a session memo (`Checkpoints.shared`), LAZILY checkpointed:
    * the first action materializes it once, every later consumer reads
    * the checkpointed blocks. q70 deliberately stays on the direct path
    * so the full LSH pipeline remains visible to plan inspection (a
    * checkpoint erases the plan behind a LogicalRDD — the caveat
    * PlanShapeSpec documents for q81). */
  private def sharedLshCandidates(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    Checkpoints.shared(s, dir, "lsh") {
      Checkpoints(Dedup.lshCandidatePairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 64, bands = 16), eager = false)
    }

  /** ONE connected-components pass over the shared candidates at the
    * q72/q81/q104 threshold — both canonical-selection policies
    * (min-id q81, best-quality q104) read the same labels, so the
    * iterative CC runs once per (application, fixture dir). */
  private def sharedCcComponents(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    Checkpoints.shared(s, dir, "cc") {
      Checkpoints(Dedup.componentsFromPairs(sharedLshCandidates(s, dir),
        threshold = 0.5), eager = false)
    }

  /** Once-per-session setup for q120: persist the LSH band index as a
    * bucketed table (same parameters as the in-session shared pass).
    * Table name carries the fixture dir; catalog.tableExists makes the
    * write idempotent across invocations in one session. */
  private def lshIndexTable(s: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_lsh_index$tag"
    this.synchronized {
      if (!s.catalog.tableExists(tbl))
        Dedup.writeLshIndex(Tables.documents(s, dir), "doc_id", "text", tbl,
          shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
    }
    tbl
  }

  /** Once-per-session setup for q123: persist the IVF index as a
    * cell-partitioned layout (q71's corpus/centroid conventions).
    * Memoized per (application, fixture dir); directories are
    * TempDirs-scratch so they self-clean at JVM exit. */
  private val ivfIndexPaths =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def ivfIndexPath(s: org.apache.spark.sql.SparkSession,
                           dir: String): String =
    ivfIndexPaths.synchronized {
      ivfIndexPaths.getOrElseUpdate((s.sparkContext.applicationId, dir), {
        val e = Tables.embeddings(s, dir)
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
        val path = graft.TempDirs.scratch("graft-ivf-")
        Similarity.writeIvfIndex(e.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", centroids, path)
        path
      })
    }

  val queries: Map[String, Q] = Map(
    // embedding-cosine near-dup, brute force on a BOUNDED slice (the
    // honest baseline; the scale path is Similarity.cosineSketch
    // bucketing — same rescoring expression, sub-quadratic candidates).
    "q48_cosine_pairs" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 80)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Similarity.cosine(col("va"), col("vb")).as("c"))
        .filter(col("c") >= 0.2)
        .select(col("id_a"), col("id_b"), round(col("c"), 4).as("cos_sim"))
        .orderBy("id_a", "id_b")
    }),

    // language-ID: marker-word argmax heuristic, row-local, no UDF.
    // The `lang` fixture column is ground truth; the query reports the
    // detected language so the oracle pins the heuristic itself.
    "q49_langid" -> ((s, dir) => {
      // lowercase token array materialized ONCE; langIdOf references it
      // per language profile (4×) inside non-CSE'd lambdas.
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokens(lower(col("text"))).as("__toks"))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langIdOf(col("__toks")).as("detected"))
        .orderBy("doc_id")
    }),

    // READABILITY SCORING (Flesch 1948; Kincaid et al. 1975 — r19):
    // Flesch reading ease + FK grade level per doc — the standard
    // surface-form readability pair, a DIFFERENT quality axis from
    // q55's ratio heuristics (those measure token diversity and
    // punctuation density; FK measures sentence and word LENGTH
    // structure via the regex syllable approximation). Entirely
    // row-local and codegen'd (three counts + two fixed IEEE
    // expressions, one 4dp rounding each — both engines replay the
    // identical op tree; the syllable regexes are lookaround-free
    // because the DuckDB oracle runs RE2). Non-vacuity inspected:
    // ease spans −20.98 → 96.02 and grade 2.6 → 40.8 at sf0.01 (a
    // real corpus spread, both formulas far from constant). The
    // vowelless-token correction (W − vowel-bearing tokens) is
    // FIXTURE-DEAD — every shipped token carries a vowel at both
    // gated SFs — so that branch is pinned by TextAnalysisSpec's
    // hand case, not the gate (the q375 deg≤1 convention).
    "q378_readability" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.readability(col("text")).as("rd"))
        .select(col("doc_id"), col("rd.n_words").as("n_words"),
          col("rd.n_sentences").as("n_sentences"),
          col("rd.n_syllables").as("n_syllables"),
          col("rd.ease").as("ease"), col("rd.grade").as("grade"))
        .orderBy("doc_id")
    }),

    // TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau 2004, "TextRank:
    // Bringing Order into Text" — r19): the classic unsupervised
    // keyword ranker — PageRank over the word co-occurrence graph —
    // and the registry's first GRAPH-composition over TEXT (the graph
    // stack and the text stack never met before). Relationship to
    // q276 (RAKE), stated up front: same deliverable FAMILY
    // (unsupervised keyword extraction), disjoint machinery and
    // output — RAKE segments each doc at stopwords and deg/freq-
    // scores multi-word PHRASES per doc; TextRank ranks single
    // tokens CORPUS-wide by co-occurrence centrality. The two
    // disagree productively (see the non-vacuity note). Variant pinned
    // down: window w = 2 (adjacent tokens via the q101 row-local
    // bigram kernel — no token self-join), unweighted distinct
    // edges, symmetrized, self-pairs dropped; 3 exact-integer
    // pageRank supersteps (q163's machinery verbatim — the 1e-12
    // fixed-point discipline, deg ≥ 1 guaranteed by symmetrization);
    // top 20 by (pr_fp DESC, token) — a rounded-free total order, so
    // the LIMIT is deterministic. Scale: the graph is VOCAB-sized
    // (all iterations run on it); only the bigram explode is
    // corpus-sized, and it shuffles 2-token strings, never text.
    // Non-vacuity inspected: the top-20 keyword set differs from the
    // top-20 raw-frequency tokens at both gated SFs — 9 displaced at
    // sf0.001, 6 at sf0.01 (TextRank promotes tokens adjacent to
    // MANY DISTINCT neighbors over tokens repeated in few contexts).
    "q383_textrank" -> ((s, dir) => {
      // r21: tokens materialize in their OWN projection (the q57/q100
      // CSE trap — rawBigramsOf over an inline split() re-evaluated
      // the split per ELEMENT, O(n²) per doc), and the explode is
      // explode_outer (plain explode let InferFiltersFromGenerate
      // push `size(bgs) > 0 AND isnotnull(bgs)` below the projection
      // with the whole bigram lambda INLINED — the before plan's
      // Filter(2) evaluated it twice more per doc). Output identical:
      // empty/null bigram arrays died at explode before, the null row
      // explode_outer emits dies at the isNotNull filter now.
      val pairs = Tables.documents(s, dir)
        .select(TextAnalysis.tokens(col("text")).as("toks"))
        .select(TextAnalysis.rawBigramsOf(col("toks")).as("bgs"))
        .select(explode_outer(col("bgs")).as("bg"))
        .filter(col("bg").isNotNull)
        .select(split(col("bg"), " ").as("sp"))
        .select(col("sp").getItem(0).as("w1"),
          col("sp").getItem(1).as("w2"))
        .filter(col("w1") =!= col("w2"))
        .distinct()
      // the derived bigram edge list is re-read by every pageRank
      // superstep — checkpoint once at the call site (r22, VERDICT
      // r21 #7; the op stays bucketing-transparent)
      val edges = Checkpoints(pairs.select(col("w1").as("src"), col("w2").as("dst"))
        .unionByName(pairs.select(col("w2").as("src"), col("w1").as("dst")))
        .distinct())
      graft.ops.Graph.pageRank(edges, iterations = 3)
        .orderBy(col("pr_fp").desc, col("node"))
        .limit(20)
    }),

    // MLM MASKING example builder (Devlin et al. 2019 §3.1 — r19):
    // BERT's 15% / 80-10-10 masking as the second member of the
    // objective-builder family q380 opened (T5 spans → BERT tokens;
    // q391 adds FIM). One row-local projection — three array HOFs,
    // zero shuffle, text never moves; each position reads its own
    // md5 hex slices for the three decisions (see the mlmMask
    // scaladoc, incl. the documented in-doc random-draw deviation).
    // Non-vacuity inspected: all three 80/10/10 branches live at
    // both gated SFs — sentinel/random/kept = 3351/421/413 of 4185
    // selected at sf0.001 (3251/396/414 of 4061 at sf0.01, both
    // within binomial noise of 80/10/10), and the masked rate is
    // 15.0/14.9% of ~28k tokens.
    "q390_mlm_mask" -> ((s, dir) => {
      TextAnalysis.mlmMask(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022 — r19): the
    // code-LLM infilling objective — two content-addressed cuts,
    // PSM rearrangement <PRE> p <SUF> s <MID> m; third member of the
    // q380/q390 objective-builder family, entirely row-local (two
    // md5 coins + three slices + one concat). Non-vacuity inspected:
    // 422/429 distinct (cut1, cut2) pairs over 500 docs at
    // sf0.001/sf0.01, and every empty-segment edge case realizes on
    // the fixture — 23/19 empty prefixes (cut1 = 0), 18/15 empty
    // middles (cut1 = cut2), 26/17 empty suffixes (cut2 = n); the
    // DuckDB NULL-on-empty-slice hazard those cases exposed is why
    // the oracle coalesces each segment (caught at the sf0.001
    // gate).
    "q391_fim" -> ((s, dir) => {
      TextAnalysis.fim(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // SPAN CORRUPTION example builder (Raffel et al. 2020 §3.1.4 —
    // r19): the T5 denoising objective's (input, target) pair
    // construction — the registry packs, shuffles, dedups, scores and
    // splits training text, but had no OBJECTIVE-construction op.
    // Deterministic md5 coins pick span starts (the q124 idiom), runs
    // merge exactly as T5 merges them, sentinels number RUNS; see the
    // spanCorrupt scaladoc for the one documented deviation (no
    // terminal sentinel). Non-vacuity inspected: at startDenom = 20 /
    // spanLen = 3 the corpus masks 14.0/13.9% of tokens
    // (sf0.001/sf0.01 — the spanLen/startDenom = 15% expectation
    // minus boundary loss), runs MERGE in 31/34 docs (n_masked <
    // 3·n_spans strictly — the T5 run-merge branch is live), and
    // 58/54 docs draw NO span (input = original text, target = '' —
    // the kept-clean branch is live too, not dead code). Every
    // branch of the piece CASE reaches the hash.
    "q380_span_corruption" -> ((s, dir) => {
      TextAnalysis.spanCorrupt(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // INSTRUCTION-PAIR SYNTHESIS (Wei et al. 2022 — r20): the SFT
    // example builder — each doc becomes ONE (instruction, response)
    // pair, template drawn by a content-addressed md5 coin from a
    // 4-template bank whose responses are all grounded in the doc
    // itself (machine-checkable, no generation). Row-local single
    // projection, zero shuffle. Non-vacuity inspected: all four
    // templates live (head12/word_count/longest_word/first_last =
    // 121/124/150/105 on the 500-doc corpus, binomial-consistent
    // with mod 4), and the longest-word length-TIE branch is real on
    // the fixture — 24/30 of the 150 longest-word docs (sf0.001/
    // sf0.01) have ≥ 2 distinct max-length tokens, so the
    // alphabetically-last tie-break is load-bearing at the hash gate
    // (and pinned by the spec's three-way-tie case).
    "q392_instruction_pairs" -> ((s, dir) => {
      TextAnalysis.instructionPairs(Tables.documents(s, dir),
        "doc_id", "text").orderBy("doc_id")
    }),

    // UL2 MIXTURE-OF-DENOISERS selector (Tay et al. 2022 §3.1 —
    // r20): one md5 routing coin sends each doc to the R (15% span
    // corruption), S (PrefixLM cut) or X (50% extreme corruption)
    // objective — the operator that composes q380's builder family
    // into one objective-tagged example stream. The routing filter
    // sits UNDER each spanCorrupt exchange, so only the routed
    // fraction shuffles. Non-vacuity inspected: all three objectives
    // live (R/S/X = 251/123/126 of 500 — binomial ~50/25/25), the X
    // regime is genuinely extreme (masks 42.1/41.0% of its tokens vs
    // R's 14.6/14.5% at sf0.001/sf0.01 — ~2.9×, spans merge hard at
    // denom 8), and S cuts span the interior (57/55 distinct suffix
    // lengths, min 1, max 85/82).
    "q393_denoiser_mix" -> ((s, dir) => {
      TextAnalysis.denoiserMix(Tables.documents(s, dir),
        "doc_id", "text").orderBy("doc_id")
    }),

    // DPO PREFERENCE-PAIR synthesis (Rafailov et al. 2023 — r20):
    // (prompt, chosen, rejected) triples with chosen ≻ rejected BY
    // CONSTRUCTION — q392's template bank supplies prompt + ground-
    // truth chosen; a 3-way content-addressed corruption coin
    // (repeat_first / uppercase / head_half, total fallback to
    // repeat_first) supplies rejected. Siblings documented in the
    // scaladoc: q258 FITS ratings from pairs, q183 pairs docs for
    // embeddings; this CONSTRUCTS the policy-training triples. One
    // row-local projection, zero shuffle. Non-vacuity inspected at
    // the gate (both gated SFs, identical 500-doc corpus): all three
    // corruption branches live (repeat_first/uppercase/head_half =
    // 307/120/73) AND both fallback edges real — 86 word_count docs
    // bounce off uppercase (digit answers) or head_half (one-token
    // answers) and 58 longest_word docs bounce off head_half
    // (one-word chosen); rejected ≠ chosen on every one of the 500
    // rows (0 degenerate ties, counted).
    "q394_dpo_pairs" -> ((s, dir) => {
      TextAnalysis.preferencePairs(Tables.documents(s, dir),
        "doc_id", "text").orderBy("doc_id")
    }),

    // HARD-NEGATIVE MINING (Karpukhin et al. 2020 DPR; Xiong et al.
    // 2021 ANCE — r20): for every anchor vector the 2 most-similar
    // cell-mates BELOW the positive threshold — similarity-RANKED
    // negatives from the IVF candidate structure, vs q183's ring
    // (uniform) negatives; q109 drops the ≥-threshold band, this
    // mines just under it. Cell-co-partitioned self-join (Σ|cell|²,
    // never n²) + per-anchor window; ranking on the raw double dot,
    // reported sim rounded once (q71 conventions). Threshold 0.4,
    // MEASURED against the fixture's pair-sim distribution (max pair
    // dot ≈ 0.5 — a 0.9 near-dup band is fixture-absent, so 0.9
    // would be a dead filter at the hash gate): at 0.4 the filter is
    // load-bearing — 38/40/524 pairs covering 34/38/453 anchors are
    // excised at sf0.001/sf0.01/sf0.1 (inspected) — while EVERY
    // anchor still emits both ranks (500/500/2000).
    "q395_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      val indexed = Similarity.assignCells(e, "vec_id", "embedding",
        centroids)
      Similarity.hardNegatives(indexed, "vec_id", "embedding",
          k = 2, posThreshold = 0.4)
        .orderBy("anchor_id", "rank")
    }),

    // DUPLICATED-8-GRAM RATE (Lee et al. 2022 — r20): per-doc
    // fraction of overlapping 8-gram positions whose gram occurs ≥ 2
    // times anywhere in the corpus — the memorization-risk /
    // boilerplate filter score. Distinct from q50/q83/q106/q182
    // (dedup GROUPS), q100 (overlap vs an EVAL slice) and q101
    // (WITHIN-doc repetition): this is the corpus-wide per-doc score.
    // Text never shuffles (grams leave the scan as md5 hex); (gram,
    // doc) pre-agg = map-side combine before the gram-keyed window
    // SUM (no join-back over the wide frame — the q387 lesson). The
    // DuckDB oracle works on RAW gram strings — an independent
    // formulation that also proves the 128-bit hash is collision-
    // free on the fixture. Non-vacuity inspected: all three score
    // regimes live at both gated SFs (zero / interior / exactly-1 =
    // 455/21/24 at sf0.001, 453/23/24 at sf0.01 — the planted
    // near-dup docs read 1.0, the fixture's shared spans put 0.0884
    // mean duplication on the rest); the <n-token NULL edge is
    // fixture-absent (every doc has ≥ 8 tokens) and is pinned by the
    // DedupSpec short-doc case instead.
    "q396_dup_ngram_rate" -> ((s, dir) => {
      Dedup.dupGramScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // exact dedup via content hash: group keys are 32-byte hashes, not
    // raw text (the 100 TB shuffle-payload design).
    "q50_exact_dedup" -> ((s, dir) => {
      Dedup.dedupGroups(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("content_hash"), col("n_copies"))
        .orderBy("doc_id")
    }),

    // exact dedup on NORMALIZED text (casefold + whitespace collapse —
    // TextAnalysis.normalizeForDedup): the standard pre-hash pass that
    // merges copies differing only in case/spacing. Same fixed-size-
    // hash shuffle discipline as q50.
    "q83_normalized_dedup" -> ((s, dir) => {
      val normed = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.normalizeForDedup(col("text")).as("norm"))
      Dedup.dedupGroups(normed, "norm", "doc_id")
        .select(col("doc_id"), col("content_hash"), col("n_copies"))
        .orderBy("doc_id")
    }),

    // CLUSTER-AWARE TRAIN/VAL/TEST SPLIT (r17 — the leakage-free
    // split every training pipeline needs: split by md5 coin on the
    // DOC and near-identical copies land on both sides of the
    // train/eval boundary, the classic contamination bug q108 audits
    // after the fact; split by the CONTENT-GROUP hash and leakage is
    // impossible BY CONSTRUCTION — the coin is a function of the
    // q83-normalized content, so every copy of a text shares a
    // split). 80/10/10 via one md5 nibble-pair on the group hash;
    // output = per-(lang, split) doc count, distinct-group count and
    // a membership CHECKSUM (Σ md5-prefix per doc) pinning WHICH
    // docs landed where. The shipped corpus has ZERO normalized
    // duplicates (checked — the first cut's n_docs = n_groups
    // everywhere, the q361 vacuity shape), so 1-in-7 copies are
    // PLANTED by md5 coin with pure-ASCII whitespace variation
    // ('  '+text+' ' — unicode casefolding is an engine-parity
    // hazard): normalization is exercised, n_docs > n_groups in
    // planted cells (inspected), and the checksum OBSERVES each copy
    // landing in its original's split. At 100 TB:
    // the only shuffle is 32-byte hashes + the map-side-combined
    // rollup; text never moves, assignment is row-local.
    "q366_cluster_split" -> ((s, dir) => {
      // planted ids live at doc_id + 10⁷, DOCUMENTED DISJOINT from
      // the real id space — and enforced on the BASE scan (ADVICE
      // r18 tightened r17's copies-branch guard: a sampled copy of
      // doc k lands at k + 10⁷, which could collide with an
      // UNSAMPLED real doc's id, so every base doc_id must be
      // < 10⁷, not just the md5%7-sampled ones). Every row of both
      // union branches projects through this guard; it never fires
      // on the shipped fixtures, so gate hashes are untouched.
      val base = Tables.documents(s, dir)
        .select(when(col("doc_id") >= 10000000L, raise_error(lit(
            "q366: doc_id >= 10^7 collides with the planted-copy id " +
              "range")).cast("long"))
            .otherwise(col("doc_id")).as("doc_id"),
          col("lang"), col("text"))
      val copies = base
        .filter(conv(substring(md5(concat(lit("dup:"),
          col("doc_id").cast("string"))), 1, 4), 16, 10)
          .cast("long") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          col("lang"),
          concat(lit("  "), col("text"), lit(" ")).as("text"))
      val d = base.unionByName(copies)
        .select(col("doc_id"), col("lang"),
          md5(TextAnalysis.normalizeForDedup(col("text"))).as("ghash"))
      val coin = conv(substring(md5(concat(lit("split:"), col("ghash"))),
        1, 4), 16, 10).cast("long") % 10
      d.select(col("doc_id"), col("lang"), col("ghash"),
          when(coin <= 7, "train").when(coin === 8, "val")
            .otherwise("test").as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("ghash")).as("n_groups"),
          sum(conv(substring(md5(concat(lit("m:"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"))
            .as("member_checksum"))
        .orderBy("lang", "split")
    }),

    // brute-force cosine/dot top-k: query vector = vec_id 0, scored
    // against the rest of the corpus. One broadcast row + a
    // TakeOrderedAndProject — no global sort, no all-pairs.
    "q51_similarity_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      Similarity.topKDot(
          e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          q, "q_embedding", 20)
        .select(col("vec_id"), round(col("sim"), 4).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
    }),

    // quantized two-pass ANN (Similarity.quantizedTopK ∘ ops.Quantize):
    // int8 first pass over the whole corpus → top-40 shortlist → exact
    // float rescore → top-10. Every step is deterministic and the
    // quantized ints are engine-reproducible (q87), so the DuckDB
    // oracle replays the identical arithmetic — a hash gate on the
    // full approximate-then-exact pipeline, not just its pieces.
    "q92_quantized_ann" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      Similarity.quantizedTopK(
          e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          q, "q_embedding", k = 10, shortlist = 40)
        .select(col("vec_id"), round(col("sim"), 4).as("dot_sim"))
        .orderBy("vec_id")
    }),

    // PRODUCT-QUANTIZATION ANN (Jégou et al. 2011) — the mainstream
    // memory-bound ANN layout the family lacked: 4 subspaces × 16 dims,
    // 8-codeword codebook per subspace trained by the SAME
    // deterministic Lloyd as q121 (seeds = vec_id<8 sub-slices, 2
    // iterations), every vector encoded to 4 codes, ADC
    // lookup-table scoring (LUT entries DECIMAL-quantized before the
    // 4-way sum — order-invariant, rule 8) → top-40 shortlist → exact
    // rescore → top-10 (the q92 two-pass discipline). The whole
    // lifecycle — codebooks, codes, LUT, both rank steps — is
    // deterministic and replayed by the oracle (generated per-subspace
    // CTE blocks mirroring q121's unrolled-Lloyd SQL).
    "q293_pq_ann" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      val corpus = e.filter(col("vec_id") =!= 0)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      val cb = Similarity.pqTrain(corpus, "vec_id", "embedding", seeds,
        m = 4, dims = 64, iters = 2)
      Similarity.pqTopK(corpus, "vec_id", "embedding", cb,
          q, "q_embedding", m = 4, dims = 64, k = 10, shortlist = 40)
        .select(col("vec_id"), round(col("sim"), 4).as("dot_sim"))
        .orderBy("vec_id")
    }),

    // IVF-PQ ANN (the FAISS production layout — Jégou et al. 2011 §V):
    // coarse quantizer (8 seeded cells, q71/q123's family) + PRODUCT-
    // QUANTIZED RESIDUALS (x − c(x), 4×16 subspaces, one Lloyd update
    // from vec 8..15 residual seeds) + nProbe=4 cell pruning + ADC
    // scoring q·c + Σ lut[sub, code] with every term DECIMAL-quantized
    // before the sum + exact rescore of the 40-shortlist. At 100 TB
    // this is THE ANN read path: the probe prunes cells (q123's
    // partition layout), the scan phase reads 4-byte codes, and only
    // 40 full vectors are ever fetched. The full lifecycle — coarse
    // assign, residuals, codebook training, encode, probe, ADC, both
    // ranks — is deterministic and hash-matches the generated DuckDB
    // replay.
    "q301_ivfpq_ann" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      val corpus = e.filter(col("vec_id") =!= 0)
      val coarse = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      Similarity.ivfPqTopK(corpus, "vec_id", "embedding", coarse,
          seedLo = 8L, seedHi = 16L, q, "q_embedding",
          m = 4, dims = 64, iters = 1, nProbe = 4, k = 10, shortlist = 40)
        .select(col("vec_id"), round(col("sim"), 4).as("dot_sim"))
        .orderBy("vec_id")
    }),

    // CURATION FUNNEL END-TO-END (the capstone composition: what a
    // training-data release actually runs, as ONE gated query emitting
    // the per-stage funnel a data-ops dashboard shows): raw corpus →
    // quality gate (length band [100,500] — BOTH bounds live on the
    // fixture — plus type-token ratio ≥ 0.3, integer-style) →
    // head-fingerprint exact-dup drop (q266's 5-token normalized-head
    // key; full-text md5 is VACUOUS on this fixture — every doc is
    // unique) → bag-of-words near-dup drop (q58's order/multiplicity-
    // insensitive fingerprint) → decontamination (train docs sharing a
    // bag fingerprint with any eval doc are dropped — q100's class) →
    // the surviving train split. Keep-policy is min-doc_id everywhere
    // (windowless: groupBy min + self-semi-join). Each stage re-derives
    // from the previous lazily; at 100 TB each stage PERSISTS and the
    // funnel reads counts from the stage outputs (the Ingest snapshot
    // discipline) — the composition, not the caching, is the operator.
    "q312_curation_funnel" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"),
        col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_dist"))
      val s1 = d.filter(col("n_chars") >= 100 && col("n_chars") <= 500 &&
        col("n_dist") * 10 >= col("n_toks") * 3)
      val s2 = s1.withColumn("h5",
        md5(array_join(slice(split(lower(col("text")), " "), 1, 5), " ")))
      val s2d = s2.join(s2.groupBy("h5").agg(min("doc_id").as("doc_id")),
        Seq("h5", "doc_id"), "left_semi")
      val s3 = s2d.withColumn("fp",
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")))
      val s3d = s3.join(s3.groupBy("fp").agg(min("doc_id").as("doc_id")),
        Seq("fp", "doc_id"), "left_semi")
      val lab = s3d.withColumn("split",
        graft.ops.Sampling.hashSplitLabel(col("doc_id"), "cc"))
      val s4 = lab.filter(col("split") === "train")
        .join(lab.filter(col("split") === "eval").select("fp"),
          Seq("fp"), "left_anti")
      def stage(n: Int, label: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(coalesce(count(lit(1)), lit(0L)).as("n_docs"),
            coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
          .select(lit(n).as("stage"), lit(label).as("label"),
            col("n_docs"), col("n_tokens"))
      stage(0, "raw", d)
        .unionByName(stage(1, "quality_gate", s1))
        .unionByName(stage(2, "head_dedup", s2d))
        .unionByName(stage(3, "bag_neardup", s3d))
        .unionByName(stage(4, "decontaminated_train", s4))
        .orderBy("stage")
    }),

    // RANK-BIASED OVERLAP @15 (Webber, Moffat & Zobel 2010 — the
    // top-weighted ranking-SIMILARITY metric; r16): q309's NDCG
    // scores one ranking against relevance, THIS scores two rankings
    // against EACH OTHER — the leaderboard-churn monitor ("did the
    // revenue top-15 change?") every reporting pipeline wants.
    // Rankings: BRAND-revenue top-15 (25-brand bounded domain) in the
    // fixture calendar's first half vs second half (split 1998-06-01;
    // rank by exact decimal revenue desc, brand — total order; the
    // first cut ranked PARTS and the two leaderboards were DISJOINT
    // at sf0.01 — overlap@15 = 0, RBO = 0, caught by the
    // vacuous-branch inspection). Truncated RBO =
    // (1−p)·Σ_{d≤15} p^{d−1}·|A_d ∩ B_d|/d at p = 0.9, with the
    // p-powers carried as EXACT integer rationals 9^{d−1}/10^{d−1}
    // (a literal 15-row table — libm pow() is not correctly rounded
    // and would be an engine-parity hazard; 9¹⁴ < 2⁵³ so the one
    // division per row is exact-input IEEE). overlap@d = common
    // pairs with max(rank_a, rank_b) ≤ d over the ≤15-row
    // intersection (15×15 broadcast grid); terms quantized to
    // DECIMAL(18,6) before the order-free sum (q334's discipline).
    // Ranks ride a ≤15-row window after TakeOrdered (q309's class).
    // Inspected post-fix: overlap@15 = 14/13/13 with a PERMUTED
    // order, RBO 0.58/0.56/0.71 across the three SFs — real, graded
    // churn measured, neither 0 nor 1.
    "q362_rbo_rank_stability" -> ((s, dir) => {
      val cut = lit("1998-06-01").cast("date")
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          round(col("l_extendedprice"), 2).cast("decimal(18,2)").as("rev"),
          (to_date(col("o_orderdate")) < cut).as("first_half"))
      import org.apache.spark.sql.expressions.Window
      def top15(half: Boolean) = {
        val w = Window.orderBy(desc("rev"), col("brand"))
        li.filter(col("first_half") === half)
          .groupBy(col("brand")).agg(sum(col("rev")).as("rev"))
          .orderBy(desc("rev"), col("brand")).limit(15)
          .withColumn("rnk", row_number().over(w).cast("long"))
      }
      val common = top15(true).select(col("brand"), col("rnk").as("ra"))
        .join(top15(false).select(col("brand"), col("rnk").as("rb")),
          Seq("brand"))
        .select(greatest(col("ra"), col("rb")).as("dmin"))
      val pw = s.createDataFrame(Seq(
        (1L, 1L, 1L), (2L, 9L, 10L), (3L, 81L, 100L), (4L, 729L, 1000L),
        (5L, 6561L, 10000L), (6L, 59049L, 100000L),
        (7L, 531441L, 1000000L), (8L, 4782969L, 10000000L),
        (9L, 43046721L, 100000000L), (10L, 387420489L, 1000000000L),
        (11L, 3486784401L, 10000000000L), (12L, 31381059609L, 100000000000L),
        (13L, 282429536481L, 1000000000000L),
        (14L, 2541865828329L, 10000000000000L),
        (15L, 22876792454961L, 100000000000000L)))
        .toDF("d", "pnum", "pden")
      val ov = pw.join(broadcast(common), col("dmin") <= col("d"), "left")
        .groupBy(col("d"), col("pnum"), col("pden"))
        .agg(sum(when(col("dmin").isNotNull, 1L).otherwise(0L))
          .as("overlap_d"))
      val terms = ov.withColumn("term",
        round(col("pnum").cast("double") / col("pden").cast("double") *
          col("overlap_d").cast("double") / col("d").cast("double") *
          lit(0.1), 6))
        .withColumn("term_q", col("term").cast("decimal(18,6)"))
      val rbo = terms.agg(sum(col("term_q")).as("r"))
        .select(col("r").cast("double").as("rbo"))
      terms.crossJoin(broadcast(rbo))
        .select(col("d"), col("overlap_d"), col("term"), col("rbo"))
        .orderBy("d")
    }),

    // NDCG@10 + MRR RETRIEVAL EVAL (Järvelin & Kekäläinen 2002) of
    // the q140 BM25 ranker — the GRADED-relevance eval the retrieval
    // family lacked (q117 recall@k is binary, q288/q291 classify):
    // relevance proxy = number of distinct query terms present
    // (0..3), DCG@10 over the BM25 top-10 vs the ideal ordering's
    // IDCG, MRR of the first rel≥2 hit (0 when none — coalesced, a
    // nullable rank would also flip the driver dtype). Each DCG term
    // rel/log2(rank+1) is DECIMAL-quantized before the ≤10-term sum;
    // both rank picks are TakeOrdered + a ≤10-row window.
    "q309_ndcg_eval" -> ((s, dir) => {
      val terms = Seq("spark", "join", "window")
      // Relevance grades deliberately DIVERGE from the ranker: only
      // ENGLISH documents count as relevant (graded by term coverage)
      // while BM25 is language-blind — so the top-10 admits non-en
      // docs the ideal ordering rejects and the metric actually
      // discriminates. (Two earlier proxies scored NDCG ≡ 1 — every
      // BM25 winner carried the max grade: the q241/q242
      // vacuous-branch trap, caught by inspecting the value.)
      val rel = Tables.documents(s, dir).select(col("doc_id"),
        (when(col("lang") === "en", 1L).otherwise(0L) *
          terms.map(t => when(array_contains(split(col("text"), " "), t), 1L)
            .otherwise(0L)).reduce(_ + _)).as("rel"))
      val cand = bm25Scores(s, dir, terms).join(rel, Seq("doc_id"))
      def dcgOf(ranked: org.apache.spark.sql.DataFrame) =
        (col("rel").cast("double") / log2(col("rn").cast("double") + 1))
          .cast("decimal(18,12)")
      val top = cand.orderBy(desc("bm25"), col("doc_id")).limit(10)
        .withColumn("rn", row_number().over(
          Window.orderBy(desc("bm25"), col("doc_id"))))
      val d = top.agg(sum(dcgOf(top)).as("dcg"),
        min(when(col("rel") >= 2, col("rn"))).as("first_hi"))
      val ideal = cand.orderBy(desc("rel"), col("doc_id")).limit(10)
        .withColumn("rn", row_number().over(
          Window.orderBy(desc("rel"), col("doc_id"))))
      val i = ideal.agg(sum(dcgOf(ideal)).as("idcg"))
      val n = cand.agg(count(lit(1)).as("n_candidates"))
      d.crossJoin(broadcast(i)).crossJoin(broadcast(n))
        .select(col("n_candidates"),
          round(col("dcg").cast("double") / col("idcg").cast("double"), 6)
            .as("ndcg10"),
          coalesce(col("first_hi").cast("long"), lit(0L)).as("first_hi_rank"),
          round(coalesce(lit(1.0) / col("first_hi"), lit(0.0)), 6).as("mrr"))
    }),

    // TEMPORAL SPLIT-LEAKAGE AUDIT (the ML-ops check a sequence/
    // recommendation training run needs before trusting its eval):
    // events split train/eval by the content-addressed md5 coin
    // (q76's split — which is deliberately NOT temporal), then per
    // user compare max(train ts) against min(eval ts). A user whose
    // eval interactions interleave their train history (eval_min <
    // train_max) leaks the future into training for sequence models —
    // the audit REPORTS the rate instead of assuming the split is
    // safe. One user-keyed conditional aggregation; exact integer
    // counts, one double division.
    "q307_split_leakage" -> ((s, dir) => {
      val lab = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
          graft.ops.Sampling.hashSplitLabel(col("event_id"), "cc").as("split"))
      lab.groupBy("user_id")
        .agg(max(when(col("split") === "train", col("ts"))).as("train_max"),
          min(when(col("split") === "eval", col("ts"))).as("eval_min"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("train_max").isNotNull && col("eval_min").isNotNull,
            1L).otherwise(0L)).as("n_both"),
          sum(when(col("eval_min") < col("train_max"), 1L).otherwise(0L))
            .as("n_leaky"))
        .select(col("n_users"), col("n_both"), col("n_leaky"),
          round(col("n_leaky").cast("double") / col("n_both").cast("double"), 6)
            .as("leak_rate"))
    }),

    // DATASET CARD (the one-row corpus summary a training-data release
    // ships — Gebru et al. 2021's "datasheets" reduced to the
    // numbers): size, token mass, language spread with Shannon
    // entropy, and the boilerplate-template rate (q275's skeleton
    // signal). Entropy terms are per-LANGUAGE (domain-bounded)
    // scalars, each one quantized to DECIMAL before the sum (rule 8).
    "q308_dataset_card" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val n = d.count() // fixture-bounded driver scalar (q54's n_docs pattern)
      val langs = d.groupBy("lang").agg(count(lit(1)).as("c"))
        .select(col("lang"), col("c"),
          (-(col("c").cast("double") / lit(n.toDouble)) *
            log(col("c").cast("double") / lit(n.toDouble)))
            .cast("decimal(18,12)").as("term"))
      val langAgg = langs.agg(
        count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("lang"))).as("top"),
        sum(col("term")).as("ent"))
      d.agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .crossJoin(broadcast(langAgg))
        .select(col("n_docs"), col("n_tokens"), col("n_langs"),
          col("top.lang").as("top_lang"),
          round(col("top.c").cast("double") / col("n_docs").cast("double"), 6)
            .as("top_lang_share"),
          round(col("ent").cast("double"), 6).as("lang_entropy"))
    }),

    // K-ANONYMITY AUDIT (Sweeney 2002 — the privacy gate a dataset
    // release runs before shipping): rows sharing a quasi-identifier
    // tuple (nation, segment, account-balance band) form an
    // equivalence class; a class of size k < 5 re-identifies its
    // members. Output is the k-DISTRIBUTION (classes and rows per
    // class size, violation flag) — the report a release pipeline
    // alerts on, two map-side-combined aggregations end to end.
    // Banding uses floor(x/1000) (IEEE-identical both engines), never
    // an integer cast (rule 6).
    "q306_k_anonymity" -> ((s, dir) => {
      val classes = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("k"))
      classes.groupBy("k")
        .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
        .withColumn("violates_k5", col("k") < 5)
        .orderBy("k")
    }),

    // TARGET ENCODING with LEAVE-ONE-OUT (the categorical-feature
    // workhorse of tabular ML prep; LOO is the leakage-safe form —
    // each row's encoding excludes its OWN target, the difference
    // between a feature and a label leak): te(i) = (Σ_cat y − y_i) /
    // (n_cat − 1). Category sums are one map-side-combined agg
    // broadcast back (category-cardinality rows); the subtraction is
    // exact DECIMAL and the division ONE double op (rule 8).
    // Singleton categories yield NULL (no peers — the honest value,
    // not 0).
    "q304_target_encoding" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderpriority").as("cat"),
        col("o_totalprice").cast("decimal(18,2)").as("y"))
      val agg = o.groupBy("cat").agg(sum(col("y")).as("sy"), count(lit(1)).as("n"))
      o.join(broadcast(agg), Seq("cat"))
        .select(col("o_orderkey"), col("cat"),
          when(col("n") > 1,
            round((col("sy") - col("y")).cast("double") /
              (col("n") - 1).cast("double"), 4))
            .otherwise(lit(null).cast("double")).as("te"))
        .orderBy("o_orderkey")
    }),

    // FEATURE HASHING (Weinberger et al. 2009, the "hashing trick"):
    // token → signed bucket via the house md5 coin (bucket = first 4
    // hex digits mod 64, sign = 5th hex digit's parity — content-
    // addressed, engine-replayable, no dictionary to build or ship:
    // THE point of the trick at 100 TB is that unlike q86's vocab
    // there is no vocabulary state at all). Per-doc sparse vector
    // summarized as exact integers: nonzero buckets, L1, L2². One
    // token explode + one (doc, bucket) shuffle, all-integer outputs.
    "q305_feature_hashing" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val hashed = toks.select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 4), 16, 10) % 64).as("bucket"),
        when(conv(substring(md5(col("tok")), 5, 1), 16, 10) % 2 === 0, lit(1L))
          .otherwise(lit(-1L)).as("sign"))
      hashed.groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sign")).as("v"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("v") =!= 0, 1L).otherwise(0L)).as("nnz"),
          sum(abs(col("v"))).as("l1"),
          sum(col("v") * col("v")).as("l2sq"))
        .orderBy("doc_id")
    }),

    // IVF-probed similarity search, FULL probe: with nProbe = all
    // cells the probe must equal brute force exactly — which makes the
    // brute-force SQL its oracle. The sub-linear partial-probe path
    // (and cell assignment) is covered in SimilaritySpec; centroids
    // here are the first 8 corpus vectors (deterministic).
    "q71_ivf_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      val corpus = e.filter(col("vec_id") =!= 0)
      val indexed = Similarity.assignCells(corpus, "vec_id", "embedding", centroids)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_embedding"))
      Similarity.ivfTopK(indexed, "vec_id", "embedding", centroids,
          q, "q_embedding", 10, nProbe = 8)
        .select(col("vec_id"), round(col("sim"), 4).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
    }),

    // ANN over the PERSISTED cell-partitioned IVF index
    // (Similarity.ivfTopKFromIndex): the index written once per
    // session (one directory per cell), the probe reduced to a literal
    // IN on the partition column so the scan reads ONLY the nProbe=2
    // probed cells (PartitionFilters plan-pinned) — the 100 TB ANN
    // read path, vs q71 which re-assigns the corpus per query. Partial
    // probe ⇒ results differ from brute force by design; the oracle
    // replays assignment + probe selection + rescore (q117's CTE
    // technique with q71's conventions).
    "q123_ivf_index_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_embedding"))
      Similarity.ivfTopKFromIndex(s, ivfIndexPath(s, dir), "vec_id",
          "embedding", centroids, q, "q_embedding", k = 10, nProbe = 2)
        .select(col("vec_id"), round(col("sim"), 4).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
    }),

    // one Lloyd step of IVF index building: assign every vector to its
    // nearest of the 8 seed centroids, then recompute each cell's
    // centroid as the element-wise member mean
    // (Similarity.updateCentroids). Flattened to (cell, pos, mean)
    // scalars for the oracle compare (array cells don't hash — q46
    // lesson); means rounded to 4 for float-order tolerance.
    "q80_kmeans_step" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      val corpus = e.filter(col("vec_id") =!= 0)
      val indexed = Similarity.assignCells(corpus, "vec_id", "embedding", centroids)
      Similarity.updateCentroids(indexed, "embedding")
        .select(col("cell_id"),
          posexplode(col("c_vec")).as(Seq("pos", "m")))
        // cast BEFORE rounding (round(float) stays float and the float
        // widens back to an unrounded-looking double in the compare);
        // + 0.0 normalizes IEEE -0.0 to +0.0: the engines round a tiny
        // negative mean to differently-signed zeros, which compare
        // equal numerically but diverge under the driver's repr-sort.
        .select(col("cell_id"), col("pos"),
          (round(col("m").cast("double"), 4) + lit(0.0)).as("mean_x"))
        .orderBy("cell_id", "pos")
    }),

    // FULL k-means index build (VERDICT r9 #6): THREE deterministic
    // Lloyd iterations from the 8 seed centroids
    // (Similarity.kmeansBuild) — q80 gates one step; this gates the
    // convergence behavior of the whole build under the hash oracle
    // (unrolled CTE replay in DuckDB). Cross-engine determinism hinges
    // on the float cast in updateCentroids: casting each refined mean
    // to float32 quantizes away both engines' summation-order noise
    // (≪ one float ulp), so the centroids entering each next iteration
    // are BIT-IDENTICAL across engines and every argmax agrees.
    "q121_kmeans_build" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      val corpus = e.filter(col("vec_id") =!= 0)
      Similarity.kmeansBuild(corpus, "vec_id", "embedding", seeds, iters = 3)
        .select(col("cell_id"),
          posexplode(col("c_vec")).as(Seq("pos", "m")))
        .select(col("cell_id"), col("pos"),
          (round(col("m").cast("double"), 4) + lit(0.0)).as("mean_x"))
        .orderBy("cell_id", "pos")
    }),

    // TOP PRINCIPAL COMPONENT of the embedding corpus (Linalg
    // .topComponent; r16) — the decomposition family's opener beside
    // search (q51/q71) and clustering (q121/q329): ONE corpus pass
    // builds the exact-integer 64×64 Gram matrix, then 3 power
    // iterations run entirely on the dim²-bounded broadcast grid
    // (the Halko et al. sketch shape — at 100 TB the rows are
    // touched once). Coordinates quantize to integer millis, every
    // mat-vec is exact-Long, and the max-norm rescale divides two
    // exactly-double-representable integers — so the DuckDB oracle
    // replays all three iterations bit-identically as CTEs.
    // Non-vacuity inspected: loadings span the full ±1000 range with
    // mixed signs (the label-clustered fixture has a real dominant
    // direction; a vacuous iterate would sit at the all-ones start).
    "q351_pca_power" -> ((s, dir) => {
      graft.ops.Linalg.topComponent(
        Tables.embeddings(s, dir), "vec_id", "embedding", iters = 3)
        .orderBy("pos")
    }),

    // multimodal row assembly: documents ⋈ embeddings into nested
    // structs, then field projection (proves the nesting round-trips).
    "q52_multimodal" -> ((s, dir) => {
      Multimodal.assemble(Tables.documents(s, dir), Tables.embeddings(s, dir))
        .select(
          col("doc_id"),
          col("doc.meta.lang").as("lang"),
          col("doc.meta.source").as("source"),
          col("doc.meta.n_chars").as("n_chars"),
          col("vec.label").as("label"),
          size(col("vec.embedding")).cast("long").as("n_dims"))
        .orderBy("doc_id")
    }),

    // per-document token counts: ROW-LOCAL array ops — zero shuffles
    // (the explode→groupBy shape would shuffle every token; counting
    // inside the row is the 100 TB version).
    "q53_token_counts" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(
          col("doc_id"),
          TextAnalysis.tokenCountOf(col("__toks")).as("n_tokens"),
          TextAnalysis.distinctTokenCountOf(col("__toks")).as("n_distinct"),
          round(TextAnalysis.avgTokenLenOf(col("__toks")), 4).as("avg_token_len"))
        .orderBy("doc_id")
    }),

    // tf-idf: two aggregations + a token join; df/N are corpus-global
    // while the reported slice is doc_id < 30 (tf filtered early).
    "q54_tfidf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.tfIdf(docs, "doc_id", "text")
        .filter(col("doc_id") < 30)
        .select(col("doc_id"), col("token"), round(col("tfidf"), 4).as("tfidf"))
        .orderBy("doc_id", "token")
    }),

    // quality scoring: length band, lexical diversity, stopword ratio —
    // all row-local.
    "q55_text_quality" -> ((s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to")
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(
          col("doc_id"),
          round(TextAnalysis.typeTokenRatioOf(col("__toks")), 4).as("type_token_ratio"),
          round(TextAnalysis.stopwordRatioOf(col("__toks"), stop), 4).as("stopword_ratio"),
          round(TextAnalysis.qualityScoreOf(col("__toks")), 4).as("quality"))
        .orderBy("doc_id")
    }),

    // corpus language distribution: the one text-analysis op that MUST
    // aggregate; shuffles one row per (lang) group per partition.
    "q56_lang_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"))
        .orderBy("lang")
    }),

    // n-gram Jaccard between adjacent doc pairs (id, id+1): shingle
    // sets are row-local; the pairing is an equi self-join on id — a
    // demonstration pairing that keeps the op linear, vs the banded LSH
    // path in ops.Dedup for real near-dup discovery.
    "q57_ngram_jaccard" -> ((s, dir) => {
      // tokens materialized in their own projection — shingles()
      // references its input per n-gram slot, and an inlined split()
      // would be re-evaluated at every reference (see
      // Dedup.minhashSignatures).
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), Dedup.shingles(col("toks"), 2).as("sh"))
      val a = sh.select(col("doc_id").as("pair_id"), col("sh").as("sh_a"))
      val b = sh.select((col("doc_id") - 1).as("pair_id"), col("sh").as("sh_b"))
      a.join(b, Seq("pair_id"))
        .select(col("pair_id"),
          round(Dedup.exactJaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
        .orderBy("pair_id")
    }),

    // BM25 RETRIEVAL SCORING (Robertson/Spärck Jones; k1=1.2, b=0.75):
    // rank documents against a fixed term set — the lexical-retrieval
    // op a training-data pipeline runs for targeted corpus queries and
    // retrieval-baseline evals. Scale shape: term frequencies come
    // from explode→filter→groupBy where the isin filter drops every
    // non-query token IN THE SAME CODEGEN STAGE as the explode, so the
    // shuffle carries only (doc_id, term, count) partials for the |Q|
    // query terms — document text never shuffles; document frequencies
    // aggregate those partials (|Q| rows) and broadcast back; the
    // corpus-wide (N, avgdl) one-row aggregate broadcasts as a cross
    // join. Float determinism: each per-term contribution is one
    // fixed-shape double expression tree (libm ln parity with DuckDB
    // holds — q132 precedent), rounded to decimal(18,6) BEFORE the
    // order-invariant sum, surfaced as double.
    "q140_bm25" -> ((s, dir) =>
      bm25Scores(s, dir, Seq("spark", "join", "window")).orderBy("doc_id")),

    // HYBRID SCORE FUSION (the weighted-sum ranker of hybrid search —
    // Vespa/Elastic "linear" mode; q186's RRF is the RANK-based
    // fusion, this is the SCORE-based one, and the normalization step
    // is exactly what RRF exists to avoid): lexical BM25 (shared
    // implementation with q140) min-max normalized over the candidate
    // set, fused 0.6/0.4 with a quality prior (ln n_chars, likewise
    // normalized), top-10. Scale shape: candidates = docs matching ≥1
    // query term (BM25's own output — corpus never scored); the
    // min-max extremes are ONE 4-value broadcast row; the top-10 is
    // TakeOrderedAndProject, no global sort. Every division is a
    // fixed double tree over decimal-quantized inputs; degenerate
    // spread (max = min) pins the normalized score to 0 on both
    // engines.
    "q265_hybrid_fusion" -> ((s, dir) => {
      val cand = bm25Scores(s, dir, Seq("spark", "join", "window"))
        .join(Tables.documents(s, dir)
          .select(col("doc_id"),
            round(log(col("n_chars").cast("double")), 6).as("qual")),
          Seq("doc_id"))
      val ext = cand.agg(
        min("bm25").as("bmin"), max("bm25").as("bmax"),
        min("qual").as("qmin"), max("qual").as("qmax"))
      val bn = when(col("bmax") === col("bmin"), lit(0.0))
        .otherwise((col("bm25") - col("bmin")) / (col("bmax") - col("bmin")))
      val qn = when(col("qmax") === col("qmin"), lit(0.0))
        .otherwise((col("qual") - col("qmin")) / (col("qmax") - col("qmin")))
      cand.crossJoin(broadcast(ext))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"),
          col("qual"),
          round(lit(0.6) * bn + lit(0.4) * qn, 6).as("hybrid"))
        .orderBy(desc("hybrid"), col("doc_id"))
        .limit(10)
    }),

    // DUPLICATE-CLUSTER SIZE HISTOGRAM (the dedup AUDIT every corpus
    // release publishes — "X% of the corpus shares a cluster, largest
    // cluster size Y" — CCNet/C4 report exactly this table): cluster
    // key = md5 of the first-5-token HEAD of the q83-normalized text,
    // the boilerplate-header blocking signal (full-text exact dedup is
    // vacuous on this fixture — every document is unique — and a gate
    // whose multi-size branch can never fire is the q241/q242 trap;
    // the head fingerprint clusters for real: sizes 1–4 at both SFs).
    // 16-byte hash wire — text never shuffles; cluster sizes from the
    // hash groupBy, then a size-domain histogram with corpus
    // fractions. Two map-side-combined aggregates; the histogram is
    // |distinct size| rows; the corpus total is a one-row broadcast.
    "q266_dup_cluster_hist" -> ((s, dir) => {
      val sizes = Tables.documents(s, dir)
        .select(md5(concat_ws(" ",
          slice(split(TextAnalysis.normalizeForDedup(col("text")), " "),
            1, 5))).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("cluster_size"))
      val total = sizes.agg(sum("cluster_size").as("n_total"))
      sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(total))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          round((col("cluster_size") * col("n_clusters")).cast("double")
            / col("n_total").cast("double"), 6).as("frac_corpus"))
        .orderBy("cluster_size")
    }),

    // SHINGLE CONTAINMENT within head-fingerprint blocks (Broder's
    // containment C(A,B)=|A∩B|/|A| — the ASYMMETRIC near-dup measure
    // that catches quote inclusion / boilerplate SUBSETS where
    // symmetric Jaccard (q57) stays low; Lee et al. 2022 dedup on
    // exactly this): candidate pairs come from q266's 5-token-head
    // blocking key (real clusters 2–4 docs — never corpus²), then
    // per-pair distinct word-3-gram intersection gives both
    // directions' containment + the Jaccard for contrast. ORDER OF
    // OPERATIONS is the scale story: the cheap 16-byte head
    // fingerprint goes first, blocks with ≥2 members are found on the
    // hash alone (a tiny aggregate), and ONLY the surviving docs are
    // shingled — the first cut shingled and shuffled the WHOLE corpus
    // (~2 KB of 3-gram array per doc, both join sides: 12–15 s at
    // sf0.1) when only multi-doc blocks can ever form a pair; this
    // form shuffles a few dozen arrays (sub-second). Same rows, same
    // hash.
    "q274_containment_pairs" -> ((s, dir) => {
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        md5(concat_ws(" ",
          slice(split(TextAnalysis.normalizeForDedup(col("text")), " "),
            1, 5))).as("h"),
        col("text"))
      val hot = keyed.groupBy("h").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("h")
      val sh = keyed.join(broadcast(hot), Seq("h"))
        .select(col("doc_id"), col("h"),
          Dedup.shingles(split(col("text"), " "), 3).as("s"))
      sh.as("a").join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          size(array_intersect(col("a.s"), col("b.s"))).cast("long")
            .as("inter"),
          size(col("a.s")).cast("long").as("na"),
          size(col("b.s")).cast("long").as("nb"))
        .select(col("doc_a"), col("doc_b"),
          round(col("inter").cast("double") / col("na").cast("double"), 4)
            .as("cont_ab"),
          round(col("inter").cast("double") / col("nb").cast("double"), 4)
            .as("cont_ba"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 4)
            .as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // ALIGNMENT-OFFSET VOTING (the dotplot-diagonal estimator —
    // plagiarism/quote-detection's first move, and the alignment
    // companion to q144's dup-substring spans: q274 says THAT two
    // docs overlap, this says WHERE — the token shift that best
    // aligns them): docs pair through shared RARE 5-grams
    // (2 ≤ df ≤ 4 — the standard rare-feature blocking; a head-block
    // formulation was VACUOUS, every winning shift 0, because
    // same-head pairs start identical by construction — the q324
    // design-time audit applied), every co-occurrence votes for its
    // position delta, and the winning delta (max votes, min-delta
    // tiebreak — q328's two-aggregate mode, no window) is the
    // alignment. On the fixture BOTH branches fire at every SF:
    // true near-dups align at 0 with up to ~95 votes; offset matches
    // win nonzero shifts on 8/11/1190 pairs. Scale: the pair space
    // is Σ df² over RARE grams (df-capped, never corpus²); the vote
    // fan is occurrence-bounded.
    "q339_align_offset" -> ((s, dir) => {
      val g = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), posexplode(
          when(size(col("toks")) >= 5,
            transform(sequence(lit(0), size(col("toks")) - 5), i =>
              concat_ws(" ", element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2),
                element_at(col("toks"), i + 3),
                element_at(col("toks"), i + 4),
                element_at(col("toks"), i + 5))))
            .otherwise(array().cast("array<string>"))))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("gram"))
      val rare = g.groupBy("gram")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2 && col("df") <= 4).select("gram")
      val m = g.join(rare, Seq("gram"))
      val votes = m.as("a").join(m.as("b"),
          col("a.gram") === col("b.gram") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (col("a.pos") - col("b.pos")).as("delta"))
        .agg(count(lit(1)).as("v"))
      votes
        .join(votes.groupBy("doc_a", "doc_b").agg(max(col("v")).as("mv"),
          sum(col("v")).as("n_match")), Seq("doc_a", "doc_b"))
        .filter(col("v") === col("mv"))
        .groupBy("doc_a", "doc_b")
        .agg(min(col("delta")).as("best_shift"),
          max(col("mv")).as("votes"), max(col("n_match")).as("n_match"))
        .select(col("doc_a"), col("doc_b"), col("best_shift"),
          col("votes"), col("n_match"))
        .orderBy("doc_a", "doc_b")
    }),

    // SIMILARITY-THRESHOLD CALIBRATION CURVE (the tuning table behind
    // every near-dup threshold choice — "how many pairs does 0.9 vs
    // 0.8 sweep in?" — q109 picks ONE threshold, this measures the
    // curve): exact pairwise cosine WITHIN label blocks (the blocked
    // join keeps the pair space Σ block², ~12k pairs, never corpus²),
    // then one conditional aggregate per (label, threshold) from a
    // 4-literal threshold explode. Cosines are index-ordered dot
    // products rounded to 4 (the q48/q51 float-parity rule).
    "q284_threshold_curve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), col("embedding"))
      val pairs = e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.label").as("label"),
          round(Similarity.cosine(col("a.embedding"), col("b.embedding")),
            4).as("cos"))
      pairs
        .select(col("label"), col("cos"),
          explode(array(lit(0.99), lit(0.95), lit(0.9), lit(0.8)))
            .as("threshold"))
        .groupBy("label", "threshold")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cos") >= col("threshold"), 1L).otherwise(0L))
            .as("n_over"))
        .select(col("label"), col("threshold"), col("n_pairs"),
          col("n_over"),
          round(col("n_over").cast("double") / col("n_pairs").cast("double"),
            6).as("frac_over"))
        .orderBy("label", "threshold")
    }),

    // EMBEDDING CENTROID / DRIFT AUDIT (the per-class health report a
    // vector store publishes: class size, mean vector norm, centroid
    // norm, mean cosine-to-centroid — cohesion; a drifting or
    // corrupted class shows up as falling cohesion long before
    // retrieval degrades): everything computed RELATIONALLY from ONE
    // posexplode pass — no array rebuild, no collect: per-(label,pos)
    // centroid means and per-vec norms from DECIMAL-quantized terms
    // (order-invariant — a raw float sum would be partition-order
    // dependent), the cos-to-centroid dot via the (label,pos)-keyed
    // join of the exploded frame against the 640-row broadcast
    // centroid table.
    "q285_embedding_drift" -> ((s, dir) => {
      val pe = posExplodedEmbeddings(s, dir)
      val centroid = pe.groupBy("label", "pos")
        .agg(round(sum("v").cast("double") / count(lit(1)).cast("double"), 8)
          .cast("decimal(18,8)").as("c"))
      val cnorm = centroid.groupBy("label")
        .agg(sqrt(sum(col("c") * col("c")).cast("double")).as("cnorm"))
      val perVec = pe.join(broadcast(centroid), Seq("label", "pos"))
        .groupBy("label", "vec_id")
        .agg(sum(col("v") * col("v")).as("ss"),
          sum(col("v") * col("c")).as("dot"))
        .select(col("label"), col("vec_id"),
          sqrt(col("ss").cast("double")).as("vnorm"),
          col("dot").cast("double").as("dot"))
      perVec.join(broadcast(cnorm), Seq("label"))
        .select(col("label"),
          round(col("vnorm"), 8).cast("decimal(18,8)").as("vnorm_q"),
          round(col("dot") / (col("vnorm") * col("cnorm")), 8)
            .cast("decimal(18,8)").as("cos_q"),
          col("cnorm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum("vnorm_q").cast("double") / count(lit(1)).cast("double"),
            6).as("mean_norm"),
          round(first(col("cnorm")), 6).as("centroid_norm"),
          round(sum("cos_q").cast("double") / count(lit(1)).cast("double"),
            6).as("cohesion"))
        .orderBy("label")
    }),

    // LANGUAGE-ID CONFUSION / P-R-F1 EVAL (the accuracy report for
    // q49's marker-argmax detector against the corpus labels — the
    // eval every lang-ID gate ships with, and q288's pattern applied
    // to the TEXT classifier): one row-local classification pass,
    // then the confusion-derived per-language precision/recall/F1
    // from two conditional aggregates (language-cardinality rows;
    // detected-but-never-true codes like 'und' fold into precision
    // denominators via the left join exactly as q288 handles
    // never-predicted classes).
    "q291_langid_eval" -> ((s, dir) => {
      val pred = Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("detected"))
      val perTrue = pred.groupBy("lang").agg(
        count(lit(1)).as("n_actual"),
        sum(when(col("detected") === col("lang"), 1L).otherwise(0L))
          .as("n_correct"))
      val perPred = pred.groupBy(col("detected").as("lang"))
        .agg(count(lit(1)).as("n_predicted"))
      val p = col("n_correct").cast("double") /
        col("n_predicted").cast("double")
      val r = col("n_correct").cast("double") / col("n_actual").cast("double")
      perTrue.join(perPred, Seq("lang"), "left")
        .select(col("lang"), col("n_actual"),
          coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
          col("n_correct"),
          round(when(col("n_predicted").isNull, 0.0).otherwise(p), 6)
            .as("prec"),
          round(r, 6).as("recall"),
          round(when(col("n_predicted").isNull || (p + r) === 0.0, 0.0)
            .otherwise(lit(2.0) * p * r / (p + r)), 6).as("f1"))
        .orderBy("lang")
    }),

    // NEAREST-CENTROID CLASSIFIER EVAL (Rocchio classification + the
    // precision/recall/F1 report — the label-quality eval a curation
    // stack runs on its embedding classes; q285 measures cohesion,
    // this measures SEPARABILITY): per-class centroids from the
    // shared quantized positional frame, every vector scored against
    // ALL 10 centroids (pos-keyed join against the 640-row broadcast
    // centroid table — ~64·|classes| rows per vector, never a UDF or
    // array rebuild), argmax by (cos, −label) struct (deterministic
    // tie to the smaller label), then the confusion-derived per-class
    // P/R/F1 from two conditional aggregates. In-sample by design —
    // the SEPARABILITY audit, not a generalization claim (the
    // train/eval split ops are q76/q108's family).
    "q288_centroid_classifier" -> ((s, dir) => {
      val pe = posExplodedEmbeddings(s, dir)
      val centroid = pe.groupBy("label", "pos")
        .agg(round(sum("v").cast("double") / count(lit(1)).cast("double"), 8)
          .cast("decimal(18,8)").as("c"))
        .select(col("label").as("clabel"), col("pos"), col("c"))
      val cnorm = centroid.groupBy("clabel")
        .agg(sqrt(sum(col("c") * col("c")).cast("double")).as("cnorm"))
      val scores = pe.join(broadcast(centroid), Seq("pos"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(col("v") * col("c")).as("dot"),
          sum(col("v") * col("v")).as("ss"))
        .join(broadcast(cnorm), Seq("clabel"))
        .select(col("vec_id"), col("label"), col("clabel"),
          round(col("dot").cast("double") /
            (sqrt(col("ss").cast("double")) * col("cnorm")), 8)
            .cast("decimal(18,8)").as("cos"))
      val pred = scores.groupBy("vec_id", "label")
        .agg(max(struct(col("cos"), (-col("clabel")).as("nl"))).as("w"))
        .select(col("label"), (-col("w.nl")).cast("long").as("pred"))
      val perTrue = pred.groupBy("label").agg(
        count(lit(1)).as("n_actual"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      val perPred = pred.groupBy(col("pred").as("label"))
        .agg(count(lit(1)).as("n_predicted"))
      val p = col("n_correct").cast("double") /
        col("n_predicted").cast("double")
      val r = col("n_correct").cast("double") / col("n_actual").cast("double")
      perTrue.join(perPred, Seq("label"), "left")
        .select(col("label").cast("long").as("label"), col("n_actual"),
          coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
          col("n_correct"),
          round(when(col("n_predicted").isNull, 0.0).otherwise(p), 6)
            .as("prec"),
          round(r, 6).as("recall"),
          round(when(col("n_predicted").isNull || (p + r) === 0.0, 0.0)
            .otherwise(lit(2.0) * p * r / (p + r)), 6).as("f1"))
        .orderBy("label")
    }),

    // TOKENIZER VOCAB-COVERAGE / OOV AUDIT (the ship-gate for a fixed
    // vocabulary: what fraction of token OCCURRENCES does the top-k
    // vocab cover, per language — the number that decides whether a
    // tokenizer retrains before a new corpus mixes in; q86 BUILDS the
    // vocab, this audits it): vocab = top-20 corpus tokens
    // (freq-desc/token-asc deterministic cut — the corpus holds 31
    // distinct tokens, so the 20-cut leaves real OOV mass), coverage
    // via ONE broadcast semi-membership flag, per-lang rates. Two
    // vocabulary-sized aggregates + one token-explode pass.
    "q279_vocab_coverage" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(split(lower(col("text")), " "))
          .as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("tok")).limit(20)
        .select(col("tok"), lit(1L).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
        .select(col("lang"), col("n_tokens"), col("n_covered"),
          round(col("n_covered").cast("double") /
            col("n_tokens").cast("double"), 6).as("coverage"),
          round((col("n_tokens") - col("n_covered")).cast("double") /
            col("n_tokens").cast("double"), 6).as("oov_rate"))
        .orderBy("lang")
    }),

    // TEMPLATE-SKELETON DETECTION (the boilerplate/machine-generated-
    // text detector CCNet-style curation runs: collapse every digit
    // run to '#' and every letter run to 'w', fingerprint the
    // SHAPE — docs produced by the same template collide even when
    // every slot value differs, exactly what q266's head fingerprint
    // and full-text dedup both miss; this fixture: 88 templates over
    // 500 docs, clusters up to 12). Skeletonization is ONE row-local
    // regex chain; only the 16-byte md5 shuffles. Output: the top-10
    // templates by population with their canonical exemplar doc.
    "q275_template_fingerprint" -> ((s, dir) => {
      val skel = regexp_replace(
        regexp_replace(lower(col("text")), "[0-9]+", "#"), "[a-z]+", "w")
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(skel).as("fp"),
          length(skel).cast("long").as("skel_len"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("exemplar_doc"),
          min("skel_len").as("skel_len"))
        .orderBy(desc("n_docs"), col("fp"))
        .limit(10)
    }),

    // RAKE KEYPHRASE EXTRACTION (Rose et al. 2010 — the unsupervised
    // keyphrase baseline): split token streams at stopwords, score
    // each word w by deg(w)/freq(w) over the candidate-phrase
    // co-occurrence graph (deg = Σ length of phrases containing w,
    // both corpus-wide), phrase score = Σ word scores; candidates
    // capped at 8 tokens (standard RAKE practice — longer runs are
    // boilerplate). Shapes: positional explode → per-doc segment ids
    // (bounded per-doc window) → phrase grouping; word stats are ONE
    // vocabulary-sized aggregate broadcast back; word scores quantized
    // DECIMAL(18,6) before the phrase sum. Top-10 via
    // TakeOrderedAndProject.
    "q276_rake_keyphrases" -> ((s, dir) => {
      val stop = Seq("the", "a", "and", "of", "in", "to")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
        .withColumn("stop", when(col("tok").isin(stop: _*), 1L).otherwise(0L))
      val seg = toks.withColumn("sid",
        sum("stop").over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")))
        .filter(col("stop") === 0L)
      // collect_list order is NOT deterministic post-shuffle — the
      // phrase is rebuilt by POSITION via a sorted (pos, tok) struct
      // array (the oracle's string_agg ... ORDER BY pos)
      val phrases = seg.groupBy("doc_id", "sid")
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("phrase"),
          count(lit(1)).as("plen"))
        .filter(col("plen") <= 8L)
      val members = seg.join(phrases.select("doc_id", "sid", "plen"),
        Seq("doc_id", "sid"))
      val wordStats = members.groupBy("tok")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .withColumn("wscore",
          round(col("deg").cast("double") / col("freq").cast("double"), 6)
            .cast("decimal(18,6)"))
      members.join(broadcast(wordStats.select("tok", "wscore")), Seq("tok"))
        .groupBy("doc_id", "sid")
        .agg(sum("wscore").as("pscore"))
        .join(phrases, Seq("doc_id", "sid"))
        .select(col("phrase"),
          round(col("pscore").cast("double"), 6).as("score"),
          col("doc_id"), col("plen"))
        .orderBy(desc("score"), col("doc_id"), col("phrase"))
        .limit(10)
    }),

    // LENGTH-BUCKET PADDING-WASTE AUDIT (the batching cost model for
    // training: documents padded to the next power-of-2 bucket —
    // HuggingFace group_by_length / bucketed batching — and the
    // audit says how many pad tokens each bucket burns; q78/q82 PACK
    // sequences, this one PRICES the no-packing alternative): bucket
    // caps via an exact integer CASE ladder (a log2/ceil float
    // derivation would be engine-hazardous at exact powers of two),
    // then one map-side-combined aggregate per bucket. Token counts
    // are whitespace tokens, the q140 convention.
    "q267_length_buckets" -> ((s, dir) => {
      val len = size(split(col("text"), " ")).cast("long")
      val cap = when(len <= 16L, 16L).when(len <= 32L, 32L)
        .when(len <= 64L, 64L).when(len <= 128L, 128L)
        .when(len <= 256L, 256L).otherwise(512L)
      Tables.documents(s, dir)
        .select(cap.as("bucket_cap"), len.as("len"))
        .groupBy("bucket_cap")
        .agg(count(lit(1)).as("n_docs"), sum("len").as("n_tokens"))
        .select(col("bucket_cap"), col("n_docs"), col("n_tokens"),
          (col("bucket_cap") * col("n_docs") - col("n_tokens"))
            .as("pad_tokens"),
          round((col("bucket_cap") * col("n_docs") - col("n_tokens"))
            .cast("double") /
            (col("bucket_cap") * col("n_docs")).cast("double"), 6)
            .as("waste_frac"))
        .orderBy("bucket_cap")
    }),

    // DUPLICATED-SUBSTRING SPAN EXTRACTION (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better" —
    // the exact-substring pass their suffix-array tool runs, here as
    // the distributed n-gram seed-and-merge equivalent): per document,
    // the MAXIMAL token spans covered by 16-grams that also occur in
    // another document. Three stages, each with one bounded shuffle:
    // (1) positional 16-gram md5 keys (row-local; 16 bytes shuffle per
    // gram, never the text); (2) cross-doc test as min(doc)≠max(doc)
    // over a window partitioned by gram key — ONE gram-key shuffle,
    // where the naive countDistinct-then-join-back pays two, and
    // intra-doc repeats correctly do NOT count; (3) overlap-or-adjacent
    // span merge via gaps-and-islands (the q114 machinery) on the
    // doc_id shuffle: a new span starts where pos > prev_pos + 16.
    // Output: spans and duplicated-token coverage per affected doc —
    // what the removal pass consumes.
    "q144_dup_spans" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val n = 16
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= n) // sequence() must not run backwards
      val grams = toks.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(col("t")) - n),
            i => md5(array_join(slice(col("t"), i + 1, lit(n)), " ")))))
        .toDF("doc_id", "pos", "g")
      val wG = Window.partitionBy("g")
      val dup = grams
        .withColumn("cross",
          min(col("doc_id")).over(wG) =!= max(col("doc_id")).over(wG))
        .filter(col("cross"))
        .select(col("doc_id"), col("pos"))
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val lagPos = lag(col("pos"), 1).over(wOrd)
      val spans = dup
        .withColumn("f",
          when(lagPos.isNull || col("pos") > lagPos + n, 1).otherwise(0))
        .withColumn("island", sum(col("f")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("island"))
        .agg((max(col("pos")) - min(col("pos")) + n).as("span_tokens"))
      spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_tokens")).as("dup_tokens"))
        .orderBy("doc_id")
    }),

    // INVERTED INDEX BUILD (q140's layout counterpart: the index a
    // lexical retrieval system queries instead of re-scoring the
    // corpus): term → document frequency, total term frequency, and
    // the doc_id-sorted posting list. Scale shape: (term, doc_id, tf)
    // partial-aggregates map-side before the term shuffle — document
    // text never shuffles, the wire carries one row per distinct
    // (term, doc) pair; the posting ARRAY is per-term, so its size is
    // the term's df — fine for body terms, and the known skew seam for
    // stopword-grade terms, where a production layout shards hot
    // posting lists into fixed-size blocks (block id ⊂ sort key) the
    // same way q120 buckets LSH bands; the fixture vocabulary (~60
    // terms × ≤500 docs) sits far below that threshold so the
    // single-row-per-term form is the honest one here. sort_array
    // makes the list deterministic; it rides the gate as a canonical
    // comma-joined string (gated outputs must be scalar — the
    // driver's row canonicalizer can't sort array cells).
    "q142_inverted_index" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("term"))
        .agg(
          count(lit(1)).as("df"),
          sum(col("tf")).as("total_tf"),
          array_join(sort_array(collect_list(col("doc_id"))), ",")
            .as("postings"))
        .orderBy("term")
    }),

    // BPE MERGE-STEP PAIR COUNTING (Sennrich, Haddow & Birch 2016,
    // "Neural Machine Translation of Rare Words with Subword Units" —
    // one training iteration of byte-pair encoding): corpus-wide
    // adjacent-symbol-pair frequencies, the table whose argmax is the
    // iteration's merge. Computed the way the reference algorithm
    // does: collapse the corpus to the WORD-FREQUENCY table first
    // (one word shuffle, map-side combined — the corpus-sized pass),
    // then explode each DISTINCT word's adjacent character pairs
    // weighted by its count (vocabulary-sized, corpus-free). At 100 TB
    // the second stage touches |vocab| rows no matter the corpus size —
    // this two-stage shape IS the reason real BPE trainers count words
    // first. Top-20 by (count desc, pair) via TakeOrderedAndProject.
    "q145_bpe_pair_step" -> ((s, dir) => {
      val wordFreq = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wc"))
      wordFreq
        .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"), col("wc"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
        .orderBy(desc("cnt"), col("pair"))
        .limit(20)
    }),

    // FULL BPE MERGE TRAINING, 5 iterations (ops.TextAnalysis
    // .bpeTrain — q145's pair count driven through the actual train
    // loop: argmax pair, left-to-right non-overlapping merge across
    // the vocabulary, recount). Rows-only by contract: the merge fold
    // has no oracle-dialect replay (needs list folding or lookahead
    // regex); TextAnalysisSpec pins the loop against an independent
    // sequential reference implementation, and determinism comes from
    // integer counts + the (count desc, pair asc) tie-break.
    "q170_bpe_train" -> ((s, dir) => {
      graft.ops.TextAnalysis.bpeTrain(Tables.documents(s, dir), "text", 5)
        .orderBy("step")
    }),

    // BPE APPLY / ENCODE with the TRAINED merge list — the tokenizer
    // INFERENCE path that completes the q170 lifecycle (q170 trains
    // merges; q86 encodes via a longest-match vocab; nothing previously
    // consumed the merge table itself). Train → collect the
    // numMerges-sized merge list (bounded driver hop, the q170 argmax
    // discipline) → encode the corpus's distinct-word table with the
    // min-rank iterative kernel under a broadcast rank map → corpus-
    // weighted token spectrum. Rows-only by contract (the iterative
    // min-rank loop has no SQL replay — q170's own contract);
    // TextAnalysisSpec pins the kernel and the full lifecycle against
    // an independent sequential-replay reference.
    "q292_bpe_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.ops.TextAnalysis.bpeTrain(docs, "text", 5)
        .orderBy("step").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      graft.ops.TextAnalysis.bpeEncode(docs, "text", merges)
        .orderBy(desc("occurrences"), col("token"))
    }),

    // CONTRASTIVE PAIR GENERATION (the embedding-training dataset
    // constructor): positives = consecutive-by-id pairs inside each
    // BAG-OF-WORDS-duplicate cluster (q58's sorted-distinct-token
    // fingerprint — same content up to word order and repetition, the
    // hard-positive definition that actually fires at every fixture
    // SF; byte-exact sha256 clusters only exist at sf0.1); negatives
    // = the
    // content-addressed RING pairing (each doc to its successor in
    // md5(doc_id:seed) order — deterministic, partition-invariant,
    // uniformly scrambled), with accidental same-content pairs
    // filtered. One content-hash shuffle + SHARD-LOCAL md5-order
    // windows (the chain runs inside each of 256 md5-prefix shards —
    // a global-order window would be the single-partition funnel this
    // repo keeps killing; the cost is one fewer negative per shard
    // than the global chain would give). No rand(), no self-join;
    // pair ids canonicalized a < b.
    "q183_contrastive_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(
            split(col("text"), " "))), " ")).as("ch"))
      val wPos = Window.partitionBy("ch").orderBy("doc_id")
      val pos = d.withColumn("nxt", lead(col("doc_id"), 1).over(wPos))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id").as("id_a"), col("nxt").as("id_b"),
          lit(1).as("label"))
      val keyed = d.withColumn("rk",
          md5(concat(col("doc_id").cast("string"), lit(":29"))))
        .withColumn("shard", substring(col("rk"), 1, 2))
      val wRing = Window.partitionBy("shard").orderBy("rk", "doc_id")
      val ring = keyed
        .withColumn("nxt", lead(col("doc_id"), 1).over(wRing))
        .withColumn("nxt_ch", lead(col("ch"), 1).over(wRing))
        .filter(col("nxt").isNotNull && col("ch") =!= col("nxt_ch"))
        .select(least(col("doc_id"), col("nxt")).as("id_a"),
          greatest(col("doc_id"), col("nxt")).as("id_b"),
          lit(0).as("label"))
      pos.unionByName(ring).orderBy("label", "id_a", "id_b")
    }),

    // CONTENT-DEFINED CHUNKING DEDUP (ops.Dedup.cdcChunks): duplicate
    // spans across documents at hash-boundary chunk granularity — the
    // storage/rsync-style sub-document dedup pass (q144's positional
    // exact-substring analysis, done with one row-local cut + one
    // chunk-hash shuffle instead of a positional gram join). The
    // fixture's planted near-dups share long spans, so their chunks
    // collide across doc_ids. The DuckDB oracle re-cuts every document
    // from scratch with the same boundary rule — identical substrings
    // hash identically, so the whole chunking must agree byte-for-byte.
    "q182_cdc_dedup" -> ((s, dir) => {
      graft.ops.Dedup.cdcChunks(Tables.documents(s, dir), "doc_id", "text")
        .filter(col("n_copies") >= 2)
        .orderBy("first_doc", "h")
    }),

    // POSITIONAL PHRASE SEARCH (the q142 inverted index extended with
    // positions — the IR adjacency query): documents containing the
    // exact phrase "part filter", with occurrence counts. The Spark
    // side is the POSTING-LIST formulation: posexplode to (term, doc,
    // pos) rows, keep ONLY the two query terms (Catalyst pushes the
    // IN right above the generate — grep-shaped scans never leave the
    // stage), then an equi join on (doc_id, pos+1). At scale the
    // postings are a persisted term-bucketed table and the two terms'
    // rows are all that is read; the join wire carries (doc, pos)
    // pairs for TWO terms, never the corpus. The DuckDB oracle scans
    // positions row-locally (list comprehension) — an independent
    // formulation, so the hash match checks the adjacency semantics.
    "q172_phrase_search" -> ((s, dir) => {
      val posts = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .filter(col("term").isin("part", "filter"))
      val a = posts.filter(col("term") === "part")
        .select(col("doc_id"), col("pos"))
      val b = posts.filter(col("term") === "filter")
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      a.join(b, Seq("doc_id", "pos"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }),

    // EXACT SET-SIMILARITY SELF-JOIN via prefix filtering
    // (ops/Dedup.prefixSimilarityJoin — SSJoin/All-Pairs): ALL document
    // pairs with 3-gram shingle-set Jaccard >= 0.5, exactly — the
    // deterministic counterpart of the MinHash-LSH candidate path
    // (q70/q72), for when the pipeline needs no-false-negative
    // guarantees (contamination audits, eval-set isolation proofs).
    // The DuckDB oracle is the NAIVE QUADRATIC formulation (every pair,
    // exact Jaccard) — an independent algorithm, so the hash match
    // proves the prefix filter candidate-lossless, not just
    // self-consistent. Jaccard surfaces rounded to 4dp (exact integer
    // ratio in doubles; rounding only normalizes display width).
    "q147_prefix_simjoin" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val sets = toks.select(col("doc_id"), Dedup.shingles(col("t"), 3).as("sh"))
      Dedup.prefixSimilarityJoin(sets, "doc_id", "sh", 0.5)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // token counting under the BPE-ish regex pre-tokenizer (words /
    // digit runs / punctuation runs) next to the whitespace count —
    // row-local, the difference is the subword-split overhead a real
    // BPE pass would amplify.
    "q59_regex_tokens" -> ((s, dir) => {
      // single-use tokenizations — no materialized projection needed
      // (each split/regex runs once per row here).
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(TextAnalysis.regexTokens(col("text"))).cast("long").as("n_regex_tokens"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"))
        .orderBy("doc_id")
    }),

    // TRAIN/EVAL DECONTAMINATION — the pre-training hygiene pass: flag
    // every train document sharing a distinct token trigram with the
    // held-out eval slice (deterministic: doc_id % 50 == 0), with its
    // distinct-overlap count. Shingles are array_distinct per doc and
    // the eval gram set is globally distinct, so the post-join count
    // IS the distinct shared-gram count — no second dedup. Scale: the
    // eval side is benchmark-sized (thousands of docs), never
    // corpus-sized, so its gram set BROADCASTS and the train side
    // shuffles only (doc_id, count) partials; the corpus is scanned
    // once and raw text never shuffles.
    "q100_decontaminate" -> ((s, dir) => {
      // tokens materialized in their OWN projection before shingles —
      // the q57 CSE trap: inlining split() into the shingle lambda
      // re-evaluates it per gram per referenced token (no cross-
      // iteration CSE in higher-order functions), turning a linear
      // pass quadratic (measured 12.5 s → 1.9 s at sf0.1).
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), Dedup.shingles(col("toks"), 3).as("sh"))
      // explode_OUTER, deliberately: plain explode lets the optimizer
      // infer `size(sh) > 0 AND isnotnull(sh)` and push it below the
      // projections, inlining the interpreted shingle lambda into a
      // per-row Filter that computes the whole array twice with
      // split() re-evaluated per element — measured 7.1 s → 0.45 s at
      // sf0.1 for the explode alone. Outer explode has no implicit
      // predicate to infer; the null grams it emits die at the inner
      // join (whose isnotnull(gram) sits ABOVE the Generate, where the
      // gram column exists).
      val evalGrams = sh.filter(col("doc_id") % 50 === 0)
        .select(explode_outer(col("sh")).as("gram"))
        .filter(col("gram").isNotNull).distinct()
      sh.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), explode_outer(col("sh")).as("gram"))
        .join(broadcast(evalGrams), Seq("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    }),

    // REPETITION SIGNALS — the Gopher-style repetition filters
    // (dominant-token fraction, duplicate/top bigram fraction) that
    // catch boilerplate and degenerate generations exact dedup
    // misses. Entirely row-local over the materialized token/bigram
    // arrays (documents are bounded-length), zero shuffle except the
    // presentation sort; both arrays materialize ONCE (multi-reference
    // projections survive CollapseProject — the q57/q100 CSE
    // discipline).
    "q101_repetition" -> ((s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          TextAnalysis.rawBigramsOf(col("toks")).as("bigrams"))
      t.select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(TextAnalysis.topElementFractionOf(col("toks")), 4)
          .as("top_token_frac"),
        round(TextAnalysis.dupFractionOf(col("bigrams")), 4)
          .as("dup_bigram_frac"),
        round(TextAnalysis.topElementFractionOf(col("bigrams")), 4)
          .as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // CORPUS-LM QUALITY SCORING — the CCNet-style proxy: score each
    // document by the mean log-probability of its tokens under the
    // corpus's OWN unigram model (two passes: count, then score).
    // Low-scoring docs are rare-token noise; degenerate docs score
    // high on repetition — pair with q101's signals. The token-count
    // join is deliberately UNHINTED: at fixture scale AQE broadcasts
    // the small count table, at 100 TB an unbounded raw vocab may not
    // fit and the join falls back to a co-partitioned shuffle on
    // token — both plans are correct, and production would cap to a
    // top-V vocab (q86) before forcing a broadcast.
    "q102_unigram_logprob" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
      val total = counts.agg(sum("c").as("t"))
      toks.join(counts, Seq("token"))
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round(avg(log(col("c").cast("double") / col("t"))), 4)
            .as("avg_logprob"),
          count(lit(1)).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // BIGRAM-LM QUALITY SCORING (q102's order-2 companion — the
    // CCNet-style perplexity filter at the order production actually
    // uses): score each document by the mean Laplace-smoothed bigram
    // log-probability under the corpus's OWN bigram model,
    // ln((c(w1,w2)+1)/(c(w1·)+V)), plus the perplexity exp(−avg) that
    // the filter thresholds on. Bigram arrays build ROW-LOCALLY
    // (q101's rawBigramsOf — no token self-join, no window); the three
    // model tables (bigram counts, context counts, vocab size) are
    // map-side-combined aggregates; the score join back on the bigram
    // key is q102's deliberately UNHINTED shape — AQE broadcasts the
    // model at fixture scale, an unbounded raw bigram table at 100 TB
    // falls back to a co-partitioned shuffle, and production would cap
    // to a top-V vocab (q86) first. Docs with <2 tokens have no
    // bigrams and drop (inner-join semantics, like q102 drops nothing
    // only because every fixture doc tokenizes non-empty).
    "q326_bigram_logprob" -> ((s, dir) => {
      // r21: same two-trap fix as q383 — tokens then bigrams each
      // materialize in their own projection (no per-element re-split)
      // and the corpus explode is the explode_outer + isNotNull form
      // (no inferred filter re-evaluating the bigram lambda below the
      // Generate). Row set unchanged: <2-token docs had no bigrams
      // and dropped at the inner joins before; their null rows die at
      // the isNotNull filter now.
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextAnalysis.rawBigramsOf(col("toks")).as("bgs"))
        .select(col("doc_id"), explode_outer(col("bgs")).as("bigram"))
        .filter(col("bigram").isNotNull)
      val bc = grams.groupBy("bigram").agg(count(lit(1)).as("cb"))
      val ctx = grams.select(substring_index(col("bigram"), " ", 1).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("cw"))
      val vocab = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .agg(countDistinct(col("token")).as("v"))
      grams
        .join(bc, Seq("bigram"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .join(ctx, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(
          round(avg(log((col("cb") + 1).cast("double") / (col("cw") + col("v")))), 4)
            .as("avg_logprob"),
          count(lit(1)).as("n_bigrams"))
        .withColumn("ppl", round(exp(-col("avg_logprob")), 4))
        .orderBy("doc_id")
    }),

    // SOURCE-DISTRIBUTION DRIFT AUDIT (Jensen–Shannon divergence of
    // each source's token distribution vs the LEAVE-ONE-OUT corpus
    // reference — the text-side sibling of q176's numeric PSI, and
    // the monitoring table a mixture pipeline (q103/q111/q125) reads
    // before trusting its source weights): JSD in nats per source,
    // with the most-shifted token named (the "what changed" column an
    // on-call engineer actually wants). Leave-one-out reference
    // (q304's discipline) so a big source can't mask its own drift.
    // One corpus token aggregate; everything after runs on the
    // (sources × corpus vocab) grid — BOUNDED domain (the vocab is
    // capped in any production run, q86), so the full-outer coverage
    // of tokens absent on either side comes from a broadcast grid,
    // not a blown-up join. JSD terms are ln-of-rational doubles
    // quantized DECIMAL(18,15) BEFORE the sum (rule 8 — JSD term
    // signs differ, order-invariance matters); the top-shift pick is
    // max-then-min-token via an equi-join (no window).
    "q334_source_drift" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val sc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val g = sc.groupBy("tok").agg(sum("c").as("gc"))
      val sn = sc.groupBy("source").agg(sum("c").as("n"))
      val gn = sn.agg(sum("n").as("tn"))
      val grid = sn.crossJoin(broadcast(g)).crossJoin(broadcast(gn))
        .join(sc, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"), col("n"),
          coalesce(col("c"), lit(0L)).as("c"),
          (col("gc") - coalesce(col("c"), lit(0L))).as("rc"),
          (col("tn") - col("n")).as("rn"))
      val terms = grid
        .withColumn("p", col("c").cast("double") / col("n"))
        .withColumn("q", col("rc").cast("double") / col("rn"))
        .withColumn("termq", round(
          when(col("p") > 0,
            col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
            .otherwise(lit(0.0)) +
          when(col("q") > 0,
            col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
            .otherwise(lit(0.0)), 15).cast("decimal(18,15)"))
        .withColumn("shift", round(abs(col("p") - col("q")), 12))
      val j = terms.groupBy("source")
        .agg(max("n").cast("long").as("n_tokens"),
          sum(when(col("c") > 0, 1L).otherwise(0L)).as("vocab"),
          (sum("termq").cast("double") / 2.0).as("jsd_raw"),
          max("shift").as("ms"))
      val top = terms
        .join(j.select(col("source"), col("ms")), Seq("source"))
        .filter(col("shift") === col("ms"))
        .groupBy("source").agg(min("tok").as("top_shift_token"))
      j.join(top, Seq("source"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          round(col("jsd_raw"), 6).as("jsd"),
          round(col("ms"), 6).as("max_shift"),
          col("top_shift_token"))
        .orderBy("source")
    }),

    // IMPORTANCE REWEIGHTING TOWARD THE POOLED CORPUS (the acting
    // half of q334's drift audit — the domain-reweighting move of
    // DoReMi/CCNet-style pipelines: q334 says WHICH sources drifted,
    // this says what each DOCUMENT's mixture weight should be):
    // per-doc weight = exp(mean over tokens of ln(P(t)/Q_s(t))), the
    // geometric-mean likelihood ratio between the pooled target
    // distribution P and the doc's own source distribution Q_s. Docs
    // whose tokens their source OVER-represents read weight < 1
    // (downsample), under-represented docs read > 1. The ratio table
    // is (sources × vocab)-bounded and broadcasts; log-ratio terms
    // are DECIMAL-quantized before the per-doc mean (rule 8); one
    // token scan, one bounded join — no corpus² anywhere.
    "q338_importance_weights" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val sc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val sn = sc.groupBy("source").agg(sum("c").as("n"))
      val g = sc.groupBy("tok").agg(sum("c").as("gc"))
      val gn = g.agg(sum("gc").as("tn"))
      val lr = sc.join(sn, Seq("source")).crossJoin(broadcast(gn))
        .join(g, Seq("tok"))
        .select(col("source"), col("tok"),
          (log(col("gc").cast("double") / col("tn")) -
            log(col("c").cast("double") / col("n"))).as("lr"))
      toks.join(broadcast(lr), Seq("source", "tok"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_tokens"),
          (sum(round(col("lr"), 12).cast("decimal(20,12)")).cast("double") /
            count(lit(1))).as("mlr"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          round(col("mlr"), 6).as("mean_log_ratio"),
          round(exp(col("mlr")), 6).as("weight"))
        .orderBy("doc_id")
    }),

    // MinHash-LSH near-dup candidates over the corpus — banded
    // bucketing, never all-pairs (Dedup.lshCandidatePairs). No SQL
    // oracle by contract (hash-seed-dependent); driver records the
    // rows-only check, DedupSpec/LawsSpec carry the property proofs
    // (candidates ⊇ exact dups, est ≈ exact Jaccard).
    "q70_lsh_neardup" -> ((s, dir) => {
      Dedup.lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // END-TO-END near-dedup keep-set (Dedup.nearDedupFromPairs): greedy
    // keep-lowest-id over the SHARED LSH candidate pass (computed once,
    // reused by q81) at threshold 0.5. Rows-only by contract like q70
    // (hash-seed-dependent candidates); DedupSpec carries the keep-set
    // properties (winners kept, exact duplicates always dropped).
    "q72_near_dedup" -> ((s, dir) => {
      Dedup.nearDedupFromPairs(Tables.documents(s, dir), "doc_id",
          sharedLshCandidates(s, dir), threshold = 0.5)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // EXACT near-dedup keep-set: one representative per CONNECTED
    // COMPONENT of the candidate graph (Dedup.connectedComponents,
    // ccStar's min-id labels) — the canonical
    // semantics q72's one-pass greedy approximates, over the SAME
    // shared candidate pass (no second shingle/signature/band-join).
    // Rows-only by contract like q72 (hash-seed-dependent candidates);
    // DedupSpec pins CC correctness on known graphs and the chain
    // semantics.
    "q81_near_dedup_cc" -> ((s, dir) => {
      Dedup.nearDedupExactFromComponents(Tables.documents(s, dir), "doc_id",
          sharedCcComponents(s, dir))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // QUALITY-AWARE near-dedup keep-set: each candidate cluster keeps
    // its BEST-quality member (Dedup.nearDedupBestFromPairs) instead
    // of q81's lowest id — the curation-grade canonical choice when
    // duplicates differ in truncation/boilerplate. Consumes the SAME
    // shared LSH candidate pass AND the same component labels as q81
    // (candidates computed once, iterative CC run once, per session).
    // Rows-only by contract like q72/q81 (hash-seed-dependent
    // candidates); DedupSpec pins winner selection on known graphs.
    "q104_near_dedup_best" -> ((s, dir) => {
      Dedup.nearDedupBestFromComponents(Tables.documents(s, dir), "doc_id",
          TextAnalysis.qualityScore(col("text")),
          sharedCcComponents(s, dir))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // INDEX-BACKED exact near-dedup keep-set: identical semantics to
    // q81 (CC over thresholded candidates, min-id canonical), but the
    // candidate pass reads the PERSISTED bucketed band index
    // (Dedup.writeLshIndex, written once per session per fixture —
    // catalog-guarded like q96's bucketed tables) instead of
    // re-shingling the corpus: the incremental near-dedup shape at
    // 100 TB, where the index outlives sessions and each new batch
    // joins against it Exchange-free (plan pinned in PlanShapeSpec).
    // Rows-only by contract like q72/q81; DedupSpec pins
    // index-pass ≡ in-memory-pass equivalence, which transitively
    // makes this query's output q81's output. Bench note: the first
    // invocation pays the one-time index write (the q96 discipline —
    // the write cost is real and should be visible once).
    "q120_lsh_index_dedup" -> ((s, dir) => {
      Dedup.nearDedupExactFromPairs(Tables.documents(s, dir), "doc_id",
          Dedup.lshCandidatePairsFromIndex(s, lshIndexTable(s, dir)),
          threshold = 0.5)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL near-dedup against the persisted index — the daily-
    // batch flow (Dedup.nearDedupAgainstIndex): a synthetic fresh
    // batch of near-variants (corpus docs + one trailing token ⇒
    // shingle-set Jaccard near 1, must drop) and genuinely-novel docs
    // (every token suffixed ⇒ zero shared shingles, must keep) is
    // deduped against q120's index. The corpus never re-shingles and
    // never shuffles — the only band-key Exchange is the FRESH side
    // hashing into the index's bucket layout (plan pinned). Rows-only
    // by contract (hash-family candidates); DedupSpec pins the
    // drop-set ≡ the in-memory cross-pair formulation.
    "q122_incremental_index_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val variants = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" graftprobe")).as("text"))
      val novel = docs.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 20000).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("_x"))), " ").as("text"))
      Dedup.nearDedupAgainstIndex(variants.unionByName(novel),
          "doc_id", "text", lshIndexTable(s, dir), threshold = 0.5)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // embedding near-dup at scale: banded cosine-sketch candidates
    // rescored with EXACT cosine (Similarity.cosineNearDupPairs) — the
    // sub-quadratic path that replaces q48's bounded brute baseline.
    // Rows-only by contract (candidate recall is sketch-seed-dependent;
    // precision is exact — SimilaritySpec pins recall on planted
    // near-dups and precision on every returned pair). 16 bands × 8
    // bits ⇒ ≤6.3% of pairs ever rescored; the 0.4 threshold sits
    // below the fixtures' max pairwise cosine so the gated output is
    // non-empty (the synthetic embeddings contain no true near-dups).
    "q73_cosine_neardup" -> ((s, dir) => {
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir),
          "vec_id", "embedding", dims = 64, bands = 16, bitsPerBand = 8,
          threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dup candidate pairs (Dedup.simhashPairs): row-local
    // 64-bit signatures via the native graft_simhash expression, banded
    // 4×16 bits, exact-Hamming rescore. maxHamming = 3 = bands-1 keeps
    // the result EXACT (pigeonhole: <4 flipped bits leave some band
    // intact), so the only non-determinism is the signature function
    // itself — rows-only by contract like q70/q73; DedupSpec pins the
    // recall guarantee and near/far separation. 16-bit band keys give
    // 65k buckets — the bucket space, not the corpus, bounds the
    // candidate blowup (8-bit keys = 256 buckets turn the self-join
    // quadratic long before 100 TB).
    "q74_simhash_neardup" -> ((s, dir) => {
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, bands = 4)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // deterministic content-hash train/eval split (ops.Sampling):
    // membership is a pure function of the text — row-local, no
    // shuffle, stable under reordering/repartitioning/appends. md5 +
    // string compare exist in every engine, so DuckDB oracles the
    // exact per-split counts.
    "q76_hash_split" -> ((s, dir) => {
      Sampling.hashSplit(Tables.documents(s, dir), "text", "cc")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    }),

    // seeded stratified sample by language (ops.Sampling): content-
    // addressed per-stratum Bernoulli (md5-prefix threshold on the doc
    // id — no UDF, no rand(), kept-set invariant under
    // repartitioning). md5 + string compare exist in every engine, so
    // — unlike the earlier xxhash64 uniform — the exact kept-set is
    // engine-portable and the per-stratum counts hash-match the
    // DuckDB oracle; SamplingSpec additionally pins determinism,
    // partition invariance, subset, and fraction tolerance.
    "q77_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(Tables.documents(s, dir), "lang", "doc_id",
          Map("en" -> 0.5, "es" -> 0.2, "fr" -> 0.2, "de" -> 0.1, "zh" -> 0.1),
          seed = 7L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    }),

    // CURRICULUM BINNING: quality deciles WITHIN each language —
    // ntile over (quality desc, doc_id) per lang partition, so a
    // training scheduler can phase batches from decile 1 outward
    // without a global sort (partitionBy keeps the window shuffle
    // per-language — the engine's no-global-Window.orderBy rule).
    // Ties break on doc_id, making the decile assignment fully
    // deterministic and engine-portable.
    "q105_quality_deciles" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"),
          round(TextAnalysis.qualityScoreOf(col("toks")), 4).as("quality"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))
      docs.withColumn("decile", ntile(10).over(w).cast("long"))
        .orderBy("doc_id")
    }),

    // DATA-MIXING UPSAMPLER (Sampling.upsampleByWeight): fractional
    // per-source epochs — src0 at 2.5×, src1 at 1.25×, src2 DOWN to
    // 0.4×, everything else 1.0×. The fractional copy rides the same
    // content-addressed md5 coin as the samplers (distinct seed so the
    // coins don't correlate with q77's keep-set); the full expanded
    // (doc_id, copy) list is under the hash gate, not just counts.
    "q103_upsample_mixture" -> ((s, dir) => {
      Sampling.upsampleByWeight(Tables.documents(s, dir), "source", "doc_id",
          Map("src0" -> 2.5, "src1" -> 1.25, "src2" -> 0.4),
          defaultWeight = 1.0, seed = 11L)
        .select(col("doc_id"), col("source"), col("copy").cast("long").as("copy"))
        .orderBy("doc_id", "copy")
    }),

    // SEGMENT-level exact dedup (Dedup.segmentDedup) — the CCNet
    // paragraph-dedup analog at fixed 8-token granularity: only the
    // global first occurrence of each distinct segment survives, and
    // the retained text is reconstructed per document. Catches
    // cross-document boilerplate that whole-document hashing (q50)
    // never pairs; exact duplicates of an earlier doc reconstruct to
    // ''. Winner selection groups on the 32-byte segment hash; the
    // full reconstructed text is under the hash gate.
    "q106_segment_dedup" -> ((s, dir) => {
      Dedup.segmentDedup(Tables.documents(s, dir), "doc_id", "text", 8)
        .orderBy("doc_id")
    }),

    // BALANCED training-shard assignment (Sampling.balancedShards):
    // round-robin over 8 shards within (lang, 32-token size bucket)
    // windows — shard token totals balance to within one bucket-width
    // per window without a global sort or sequential bin-packing, and
    // the assignment is a pure function of (lang, bucket, doc_id
    // order): deterministic, partition-invariant, engine-portable.
    "q107_shard_balance" -> ((s, dir) => {
      Sampling.balancedShards(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"),
              TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", numShards = 8, bucketWidth = 32,
          col("lang"))
        .select("doc_id", "lang", "n_tokens", "shard")
        .orderBy("doc_id")
    }),

    // EVAL-side contamination report — q100's complement: for each
    // held-out eval document (doc_id % 50 == 0), the fraction of its
    // distinct trigrams that appear anywhere in the train split. This
    // is the benchmark-integrity number a release report quotes
    // ("eval task X is N% contaminated"), where q100 flags the train
    // docs to drop. Scale: both joins broadcast the benchmark-sized
    // eval gram set; the corpus-sized train side is scanned once,
    // reduced to its matching grams (bounded by the eval set) before
    // the per-doc left join; raw text never shuffles.
    "q108_eval_contamination" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), Dedup.shingles(col("toks"), 3).as("sh"))
      val evalGrams = sh.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), explode_outer(col("sh")).as("gram"))
        .filter(col("gram").isNotNull)
      val trainHits = sh.filter(col("doc_id") % 50 =!= 0)
        .select(explode_outer(col("sh")).as("gram"))
        .join(broadcast(evalGrams.select("gram").distinct()), Seq("gram"))
        .distinct()
        .withColumn("__hit", lit(1L))
      evalGrams.join(broadcast(trainHits), Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_contaminated"))
        .withColumn("contamination_rate",
          round(col("n_contaminated").cast("double") / col("n_grams"), 4))
        .orderBy("doc_id")
    }),

    // SEMANTIC dedup (Similarity.semanticDedupKeep — SemDeDup-style):
    // nearest-centroid clustering (q80's centroid convention: vec_id
    // < 8 seed the cells) bounds the pairwise cosine comparison to
    // within-cluster, then greedy keep-lowest-id drops members with a
    // lower-id neighbor at cosine ≥ 0.4 (below the fixture's max
    // pairwise cosine, so drops actually occur). Fully deterministic —
    // unlike the seeded-LSH candidate paths, the complete
    // cluster-assign → pair → drop pipeline hash-matches a DuckDB
    // oracle replaying the identical arithmetic.
    "q109_semantic_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      Similarity.semanticDedupKeep(e, "vec_id", "embedding",
          centroids, threshold = 0.4)
        .orderBy("vec_id")
    }),

    // INCREMENTAL dedup (Dedup.dedupAgainst) — each new ingest batch
    // dedupes against the accumulated corpus on content hash, never
    // re-deduping the world. The fixture corpus has no natural
    // cross-half duplicates, so the batch plants deterministic ones
    // (shifted-id copies of every 5th seen doc — the q93 planting
    // pattern): the anti-join must drop exactly the planted copies
    // and keep every genuinely-new doc.
    "q110_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val seen = docs.filter(col("doc_id") < 250)
      val fresh = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("text"))
        .unionByName(seen.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      Dedup.dedupAgainst(fresh, seen, "text")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // BLOOM-FILTER incremental dedup (Dedup.bloomDedupAgainst) — the
    // constant-memory scale successor to q110's anti-join, built on
    // Spark's own runtime-filter expressions. Same planted-duplicate
    // setup as q110: every planted copy MUST be dropped (bloom filters
    // have no false negatives); a ~fpp sliver of genuinely-new docs may
    // be falsely dropped, which is why this is rows-only by contract
    // (the filter's bit layout rides Spark-private xxhash64 seeding) —
    // DedupSpec pins keep ⊆ exact-keep, the planted-drop guarantee,
    // and the observed false-positive cost.
    "q116_bloom_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val seen = docs.filter(col("doc_id") < 250)
      val fresh = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("text"))
        .unionByName(seen.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      Dedup.bloomDedupAgainst(fresh, seen, "text",
          expectedItems = 100000L, fpp = 0.01)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // IVF RECALL EVALUATION — the measurement loop every ANN deployment
    // needs: recall@10 of the PARTIAL-probe IVF search (nProbe=2 of 8
    // cells, the sub-linear configuration q71 can't oracle-check
    // because its full probe degenerates to brute force) against the
    // brute-force ground truth, per query. Everything is deterministic
    // (q80's centroid convention, double-accumulated dots, id
    // tie-breaks), so the WHOLE eval — assignment, probe selection,
    // both top-k's, the overlap count — sits under the DuckDB hash
    // gate. Scale: ground truth is the one quadratic pass (that's what
    // "eval on a sampled query set" is for); the IVF side scans only
    // probed cells; all small sides broadcast.
    "q117_ivf_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      val corpus = e.filter(col("vec_id") >= 5)
      val centroids = e.filter(col("vec_id") >= 5 && col("vec_id") < 13)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"))
      val indexed = Similarity.assignCells(corpus, "vec_id", "embedding", centroids)
      val perQuery = Window.partitionBy("query_id")
        .orderBy(desc("sim"), col("vec_id"))
      val brute = corpus.crossJoin(broadcast(queries))
        .select(col("query_id"), col("vec_id"),
          Similarity.dot(col("embedding"), col("q_vec")).as("sim"))
        .withColumn("__rn", row_number().over(perQuery))
        .filter(col("__rn") <= 10).select("query_id", "vec_id")
      val probes = centroids.crossJoin(broadcast(queries))
        .select(col("query_id"), col("cell_id"),
          Similarity.dot(col("c_vec"), col("q_vec")).as("sim"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("sim"), col("cell_id"))))
        .filter(col("__rn") <= 2).select("query_id", "cell_id")
      val ivf = indexed.join(broadcast(probes), Seq("cell_id"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          Similarity.dot(col("embedding"), col("q_vec")).as("sim"))
        .withColumn("__rn", row_number().over(perQuery))
        .filter(col("__rn") <= 10).select("query_id", "vec_id")
      brute.join(ivf.withColumn("__hit", lit(1)),
          Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_true").cast("double"))
            .as("recall"))
        .orderBy("query_id")
    }),

    // DIMENSION-ABLATION RECALL CURVE (the Matryoshka/MRL trade-off
    // table: Kusupati et al. 2022 train embeddings whose PREFIXES are
    // usable — this measures what truncation actually costs on THIS
    // corpus): recall@10 of prefix-dim dot-product retrieval at
    // 64/32/16/8 dims against the full-dim ground truth, per query.
    // The 64-dim row is the harness sanity pin (recall ≡ 1 by
    // construction); the lower rows are the curve a deployment reads
    // before picking its stored dimensionality (a 64→16 cut is 4×
    // less scan bandwidth AND 4× smaller ANN index — the cheapest
    // scale lever there is IF recall holds). One scored pass computes
    // all levels (corpus × 5 queries × 4 levels, queries/levels
    // broadcast); per-(level, query) windows are 20-key partitioned;
    // everything deterministic (double dots, id tie-breaks) ⇒ the
    // WHOLE curve sits under the hash gate, q117's discipline.
    "q329_dim_ablation" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qLvl = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        .withColumn("dims", explode(array(lit(64), lit(32), lit(16), lit(8))))
      val scored = Tables.embeddings(s, dir).filter(col("vec_id") >= 5)
        .crossJoin(broadcast(qLvl))
        .select(col("dims"), col("query_id"), col("vec_id"),
          Similarity.dot(slice(col("embedding"), lit(1), col("dims")),
            slice(col("q_vec"), lit(1), col("dims"))).as("sim"))
      val top = scored
        .withColumn("__rn", row_number().over(
          Window.partitionBy("dims", "query_id")
            .orderBy(desc("sim"), col("vec_id"))))
        .filter(col("__rn") <= 10)
        .select("dims", "query_id", "vec_id")
      val truth = top.filter(col("dims") === 64)
        .select(col("query_id"), col("vec_id"), lit(1).as("__hit"))
      top.join(truth, Seq("query_id", "vec_id"), "left")
        .groupBy("dims", "query_id")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("dims"), col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / lit(10.0)).as("recall"))
        .orderBy("dims", "query_id")
    }),

    // weighted sampling without replacement (Efraimidis-Spirakis,
    // Sampling.weightedSample): 50 docs selected with probability
    // proportional to length — the token-budget-proportional subset.
    // Content-addressed coin ⇒ the whole sample (and its keys) is
    // under the hash gate; selection is TakeOrderedAndProject.
    "q132_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSample(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", col("n_chars").cast("double"), k = 50, seed = 11L)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("es_key") * 1000, 6).as("es_key_m"))
        .orderBy("doc_id")
    }),

    // deterministic training-order shuffle (Sampling.trainingShuffle):
    // shard + within-shard position from one md5 coin — row-local, no
    // window, no global sort; the physical layout is one
    // repartition-by-shard write. Content-addressed ⇒ the whole
    // permutation is engine-portable and under the hash gate.
    "q124_training_shuffle" -> ((s, dir) => {
      Sampling.trainingShuffle(
          Tables.documents(s, dir).select(col("doc_id")),
          "doc_id", seed = 7, numShards = 8)
        .orderBy("doc_id")
    }),

    // PRIORITY SAMPLING (Sampling.prioritySample — Duffield–Lund–
    // Thorup 2007): the fixed-k weighted sample that ESTIMATES, not
    // just selects (q132's ES sample picks documents; this one
    // replaces full scans for subset-sum queries): 100 lineitems by
    // revenue priority, τ = the 101st priority, ŵ = max(w, τ), and
    // the audit the theorem promises — Σ ŵ over the sample vs the
    // exact corpus total (rel_err is the query's POINT: a 100-row
    // sample reproduces the 60k-row total within ~τ·√k error; reads
    // 0.206 / 0.051 at sf0.001 / sf0.01). ŵ terms DECIMAL-quantized
    // before the sum (rule 8); the only window rides the (k+1)-row
    // TakeOrdered frame (declared bounded); the whole lifecycle —
    // coin, priorities, boundary τ, estimator — is content-addressed
    // and hash-gated. BRANCH NOTE (vacuous-branch audit): with k ≪ n
    // and the fixture's light-tailed weights, τ = total/k-ish exceeds
    // max(w) on EVERY table at EVERY SF (checked: 3.2M vs 105k on
    // lineitem), so the gated output rides greatest()'s τ-branch
    // exclusively — the production-typical regime. The w-branch
    // (dominant items carrying their own weight) is proven live by
    // SamplingSpec's dominant-weight test; a fixture weight cannot
    // reach it structurally.
    "q332_priority_sample" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val samp = Sampling.prioritySample(li, Seq("l_orderkey", "l_linenumber"),
        col("l_extendedprice"), k = 100, seed = 13L)
      val est = samp.agg(
        count(lit(1)).as("n_sample"),
        max(col("tau")).as("tau_raw"),
        sum(round(col("w_hat"), 6).cast("decimal(24,6)")).as("est"))
      val exact = li.agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("ex"))
      est.crossJoin(broadcast(exact))
        .select(col("n_sample"),
          round(col("tau_raw"), 4).as("tau"),
          col("est").cast("double").as("est_total"),
          col("ex").cast("double").as("exact_total"),
          round(abs(col("est").cast("double") - col("ex").cast("double")) /
            col("ex").cast("double"), 6).as("rel_err"))
    }),

    // temperature-scaled mixture (Sampling.temperatureMixture): weights
    // ∝ (token share)^0.3 — the multilingual-LM flattening rule that
    // upweights low-resource strata; rate/planned tokens as in q111.
    "q125_temperature_mixture" -> ((s, dir) => {
      Sampling.temperatureMixture(
          Tables.documents(s, dir)
            .select(col("source"),
              TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "source", "n_tokens", alpha = 0.3, tokenBudget = 10000.0)
        .orderBy("source")
    }),

    // MIXTURE PLANNING (Sampling.mixturePlan) — the sizing pass that
    // feeds q103's upsampler / q77's sampler: per-source sampling
    // rates to hit a token budget under target mixture weights, rates
    // capped at 1 (src0's high weight caps; default-weight sources
    // land well below 1 — both branches exercised). One partial-
    // aggregated groupBy over the corpus, then stratum-local math.
    "q111_mixture_plan" -> ((s, dir) => {
      Sampling.mixturePlan(
          Tables.documents(s, dir)
            .select(col("source"),
              TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "source", "n_tokens",
          Map("src0" -> 0.5, "src1" -> 0.2, "src2" -> 0.1),
          defaultWeight = 0.02, tokenBudget = 10000.0)
        .orderBy("source")
    }),

    // PII redaction pass (TextAnalysis.redactPii/piiCount): the
    // fixture corpus is clean, so deterministic synthetic PII is
    // planted first (emails on even doc_ids, phones on %3 == 0) —
    // the op then finds and redacts exactly those. Patterns live in
    // the Java ∩ RE2 regex subset, so DuckDB replays them verbatim.
    "q93_pii_redact" -> ((s, dir) => {
      val planted = Tables.documents(s, dir)
        .withColumn("__t", concat(col("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit(" call 555-123-4567"))
            .otherwise(lit(""))))
      planted.select(col("doc_id"),
          TextAnalysis.piiCount(col("__t")).as("n_pii"),
          md5(TextAnalysis.redactPii(col("__t"))).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // deterministic k-per-group sample (ops.Sampling.groupSample): the
    // reproducible stand-in for per-group reservoir sampling — rank by
    // md5(doc_id) inside each language, keep 5. Content-addressed like
    // q76, so the kept set is partition-invariant AND the ranking is
    // engine-portable: a real hash-matched oracle, not rows-only.
    "q88_group_sample" -> ((s, dir) => {
      Sampling.groupSample(Tables.documents(s, dir), "lang", "doc_id", 5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // sequence packing by token offset: each document's start offset in
    // its language's token stream (window cumsum) determines its
    // training-sequence bin (floor(offset / seqLen)). Partitioned BY
    // LANGUAGE deliberately — a single global cumsum is a one-task
    // scan; per-stream packing is how the 100 TB version parallelizes
    // (and how real pipelines pack per-source shards).
    "q78_pack_offsets" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      // sum over PRECEDING rows (not inclusive-sum minus own count):
      // the two forms agree on non-null counts but diverge for a
      // null-text row mid-partition, and the DuckDB oracle uses the
      // preceding-rows frame — mirror it exactly.
      val preceding = w.rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("start_offset",
          coalesce(sum(col("n_tokens")).over(preceding), lit(0L)))
        .withColumn("seq_id", floor(col("start_offset") / 4096).cast("long"))
        .select("doc_id", "lang", "n_tokens", "start_offset", "seq_id")
        .orderBy("doc_id")
    }),

    // overlapping context-window chunking (64-token windows, stride
    // 48): the long-document split that precedes packing in an LLM
    // data pipeline. Row-local array ops + posexplode; chunk text is
    // verified as md5 (bounded compare payload, same policy as q82).
    // __toks is materialized once and referenced thrice (size + the
    // two uses inside chunkSpansOf) so CollapseProject keeps it.
    "q85_chunking" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkSpansOf(col("__toks"), 64, 48)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          size(col("col")).cast("long").as("n_chunk_tokens"),
          md5(concat_ws(" ", col("col"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // symmetric int8 quantization of the embedding store (4× memory/IO
    // at 100 TB): per-vector scale + quantized vector, verified via
    // md5-of-ints checksum (raw arrays aren't pandas-comparable — q46
    // lesson) plus the scale/2 error bound surfaced as max_err. The
    // quantized ints are bit-reproducible across engines (double
    // arithmetic + half-away-from-zero rounding), so this hash-matches.
    "q87_quantize_int8" -> ((s, dir) => {
      import graft.ops.Quantize
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          Quantize.int8Scale(col("embedding")).as("scale"))
        .select(col("vec_id"), col("embedding"), col("scale"),
          Quantize.quantizeInt8(col("embedding"), col("scale")).as("__q"))
        .select(col("vec_id"), col("scale"),
          size(col("__q")).cast("long").as("n_dims"),
          aggregate(col("__q"), lit(0L), (a, v) => a + v).as("q_sum"),
          md5(concat_ws(",", transform(col("__q"), _.cast("string")))).as("q_md5"),
          Quantize.maxAbsError(col("embedding"), col("__q"), col("scale")).as("max_err"))
        .orderBy("vec_id")
    }),

    // vocabulary build + token-ID encoding: top-16 tokens by (freq
    // DESC, token ASC) get ids 1..16, everything else encodes as the
    // OOV id 0 (vocab 16 < the corpus' 31 distinct tokens, so the OOV
    // path is genuinely exercised). One row per token occurrence.
    "q86_vocab_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = TextAnalysis.buildVocab(docs, "text", 16)
      TextAnalysis.encodeTokens(docs, "doc_id", "text", vocab)
        .orderBy("doc_id", "pos")
    }),

    // sequence ASSEMBLY — the step q78's bin assignment feeds: each
    // (lang, seq_id) bin's documents concatenated in doc_id order into
    // one training sequence. The verified columns are the sequence's
    // doc count, token total, and the md5 of the assembled text (hash,
    // not raw text — bounded output; the driver compare never ships
    // megabyte strings). Assembly is the one dedup-family op that MUST
    // shuffle document text (the output IS concatenated text) — once,
    // keyed by (lang, seq_id). Order inside the concat is pinned by
    // array_sort over (doc_id, text) structs — collect_list alone is
    // assembly-order-nondeterministic.
    "q82_pack_sequences" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      val preceding = w.rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("start_offset",
          coalesce(sum(col("n_tokens")).over(preceding), lit(0L)))
        .withColumn("seq_id", floor(col("start_offset") / 4096).cast("long"))
        .groupBy(col("lang"), col("seq_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("seq_tokens"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text")),
            " ")).as("content_md5"))
        .orderBy("lang", "seq_id")
    }),

    // end-to-end corpus curation: quality-gate then exact-dedup, the
    // canonical pre-training data pass composed from the operators
    // this library ships (TextAnalysis.qualityScore + Dedup winner
    // semantics) — and still fully oracle-expressible in SQL.
    "q79_curation" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        // Predicate-pushdown barrier, PRUNE-PROOF edition: the filter
        // evaluates __qgate = quality + rand(7)·0 — EXACTLY equal to
        // quality (x + 0.0 is bit-identical, so the result is fully
        // deterministic and the DuckDB oracle unchanged) but
        // nondeterministic to Catalyst, so PushPredicateThroughNonJoin
        // refuses to push the filter below the projection that computes
        // it, and the predicate runs against the ONE materialized token
        // array instead of re-splitting text per reference (the
        // Filter-below-Project trap). An earlier UNREFERENCED
        // monotonically_increasing_id barrier column was silently
        // removed by ColumnPruning — restoring the pushdown — which is
        // why the barrier must live inside the filtered column itself;
        // PlanShapeSpec pins split-count == 1.
        .select(col("doc_id"), col("text"), col("lang"),
          TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"), col("text"), col("lang"),
          round(TextAnalysis.qualityScoreOf(col("__toks")), 4).as("quality"))
        .withColumn("__qgate", col("quality") + rand(7) * lit(0.0))
        .filter(col("__qgate") >= 0.7)
        .drop("__qgate")
      Dedup.exactDedup(docs, "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy("doc_id")
    }),

    // REAL image decode under the hash gate: deterministic synthetic
    // P6 payloads (Multimodal.syntheticPpm — every byte a pure
    // function of doc_id, one in 7 truncated-corrupt, one in 5 with a
    // header comment) decoded by the REAL parser (Multimodal.decodePpm:
    // header scan, comment skip, separator rule, channel means). The
    // DuckDB oracle recomputes width/height/means from the same doc_id
    // arithmetic, so a drift in EITHER generator or decoder mismatches.
    // Both stages are narrow mapPartitions — binary never shuffles.
    "q94_ppm_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticPpm(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodePpm(payloads)
        .select(col("doc_id"), col("valid"), col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("doc_id")
    }),

    // REAL BMP decode under the hash gate (r15 — the second real
    // image format, closing the codec-seam carry): synthetic 24bpp
    // DIBs (Multimodal.syntheticBmp — little-endian header fields,
    // BGR order, 4-byte row padding, bottom-up rows with a planted
    // top-down variant every 6th id; 1-in-7 truncated and 1-in-9
    // 32bpp-declared payloads quarantine) decoded by the REAL parser.
    // top_row_gray is deliberately ROW-ORDER SENSITIVE: the channel
    // means alone would hash-match even if the bottom-up/top-down
    // flip were ignored (the vacuous-branch audit at design time).
    "q342_bmp_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticBmp(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeBmp(payloads)
        .select(col("doc_id"), col("valid"), col("width"), col("height"),
          col("top_down"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"),
          col("top_row_gray"))
        .orderBy("doc_id")
    }),

    // REAL audio decode under the hash gate — the WAV analog of q94:
    // synthetic RIFF/PCM16 payloads (every byte a pure function of
    // doc_id, one in seven truncated ⇒ quarantined valid=false), real
    // chunk-walk decoder, mean/RMS from exact integer sums. The
    // DuckDB oracle recomputes everything from the same arithmetic,
    // so drift in EITHER generator or decoder mismatches. Both stages
    // narrow mapPartitions — binary never shuffles.
    "q129_wav_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeWav(payloads)
        .select(col("doc_id"), col("valid"), col("sample_rate"),
          col("n_samples"),
          (round(col("mean"), 4) + lit(0.0)).as("mean"),
          (round(col("rms"), 4) + lit(0.0)).as("rms"))
        .orderBy("doc_id")
    }),

    // document fingerprints, both kinds — order-invariant (md5 of the
    // sorted distinct token bag; a near-dup blocking key) and
    // order-SENSITIVE (polynomial rolling hash over the characters,
    // mod 1e9+7 each step so the fold is engine-portable). Row-local.
    "q58_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bagFingerprint(col("text")).as("fingerprint"),
          TextAnalysis.rollingHash(col("text")).as("rolling_fp"))
        .orderBy("doc_id")
    }),

    // UNIGRAM ENTROPY per document (TextAnalysis.tokenEntropyOf) —
    // the information-density quality signal: low H flags templated/
    // repetitive text that length and stopword filters miss (the
    // Gopher-repetition family's info-theoretic sibling, q101). The
    // Spark side is the ROW-LOCAL positional run fold (zero shuffle);
    // the oracle recomputes relationally (unnest → group → sum) — an
    // independent formulation, so the hash match proves the fold
    // enumerates exactly the token multiset. Terms quantize to
    // DECIMAL(28,10) before either engine's sum; H = ln(n) − Σ/n is
    // one fixed IEEE recombination (q169 discipline).
    "q189_token_entropy" -> ((s, dir) => {
      val st = TextAnalysis.tokenEntropyOf(TextAnalysis.tokens(col("text")))
      Tables.documents(s, dir)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
          col("st.n_distinct").as("n_distinct"),
          when(col("st.n_tokens") > 0,
            round(log(col("st.n_tokens").cast("double")) -
              col("st.sum_clnc").cast("double") /
                col("st.n_tokens").cast("double"), 6)).as("entropy"))
        .orderBy("doc_id")
    }),

    // RECIPROCAL-RANK FUSION (Cormack et al. 2009, k = 60) of two
    // retrieval rankers over the same query — the standard hybrid-
    // search combiner (lexical + second signal) every RAG stack runs:
    // ranker 1 = q140's BM25; ranker 2 = length-normalized query-term
    // frequency. Both rankers share ONE term scan; each ranks its
    // top-50 under a (score desc, doc_id) TOTAL order — the rank
    // window is a single-partition pass over the MATCHING docs only
    // (query-term selectivity bounds it; q148's documented O(domain)
    // seam). Each 1/(k+rank) term quantizes to DECIMAL(18,10) before
    // the fusion add, so the fused score is engine-exact; docs ranked
    // by only one ranker contribute that ranker's term alone.
    "q186_rrf_fusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("spark", "join", "window")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("dl"))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val bm25 = tf
        .join(broadcast(tf.groupBy(col("term"))
          .agg(countDistinct(col("doc_id")).as("df"))), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          log((col("n_docs") - col("df") + lit(0.5))
              / (col("df") + lit(0.5)) + lit(1.0))
            * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
                + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib").cast("decimal(18,6)")).as("bm25"))
      val tfn = tf.groupBy(col("doc_id"), col("dl"))
        .agg(sum(col("tf")).as("qtf"))
        .select(col("doc_id"),
          (col("qtf").cast("double") / col("dl").cast("double")).as("tfnorm"))
      val r1 = bm25.withColumn("rank1", row_number().over(
          Window.orderBy(desc("bm25"), col("doc_id"))))
        .filter(col("rank1") <= 50).select("doc_id", "rank1")
      val r2 = tfn.withColumn("rank2", row_number().over(
          Window.orderBy(desc("tfnorm"), col("doc_id"))))
        .filter(col("rank2") <= 50).select("doc_id", "rank2")
      def share(rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column = coalesce(
        round(lit(1.0) / (lit(60) + rank), 10).cast("decimal(18,10)"),
        lit(0).cast("decimal(18,10)"))
      r1.join(r2, Seq("doc_id"), "full")
        .select(col("doc_id"), col("rank1"), col("rank2"),
          (share(col("rank1")) + share(col("rank2")))
            .cast("double").as("rrf"))
        .orderBy(desc("rrf"), col("doc_id"))
        .limit(20)
    }),

    // IMAGE DOWNSAMPLING on the REAL PPM decode (Multimodal.
    // downsamplePpm): nearest-neighbor 2× thumbnail — decode and
    // resample fused in one raster pass, per-channel means from exact
    // integer sums over the SAMPLED grid only; planted-corrupt
    // payloads (id % 7 == 0, truncated raster) quarantine as
    // valid = false. The DuckDB oracle recomputes the sampled grid
    // from the q94 synthetic-payload arithmetic — if the resampler's
    // indexing drifts (row stride, ceil dims, channel offset), the
    // hash mismatches. Narrow mapPartitions; binary never shuffles.
    "q192_image_downsample" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticPpm(id))))
        .toDF("doc_id", "payload")
      Multimodal.downsamplePpm(payloads, 2)
        .select(col("doc_id"), col("valid"), col("out_w"), col("out_h"),
          (round(col("mean_r"), 4) + lit(0.0)).as("mean_r"),
          (round(col("mean_g"), 4) + lit(0.0)).as("mean_g"),
          (round(col("mean_b"), 4) + lit(0.0)).as("mean_b"))
        .orderBy("doc_id")
    }),

    // IMAGE NEAR-DUP CLUSTERS BY PERCEPTUAL HASH (Multimodal.ppmAHash
    // — aHash on the REAL PPM decode): the image-side analog of the
    // text MinHash family — cluster key = (dims, above-mean brightness
    // pattern), all-integer, so the ENTIRE multimodal dedup path sits
    // under the hash gate (the oracle replays the synthetic raster
    // arithmetic per pixel, q192's technique). Emits every cluster
    // with its size; n_images ≥ 2 rows are the dedup candidates (the
    // ≥2 branch FIRES on the fixture: the raster generator repeats
    // exactly every lcm(20,256)=1280 ids, and pattern-level collisions
    // occur below that).
    "q298_image_phash_dedup" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticPpm(id))))
        .toDF("doc_id", "payload")
      Multimodal.ppmAHash(payloads)
        .filter(col("valid"))
        .groupBy(col("width"), col("height"), col("phash"))
        .agg(count(lit(1)).as("n_images"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("width", "height", "phash")
    }),

    // VIDEO KEYFRAME SAMPLING (the frame-sample stage of a multimodal
    // training pipeline — temporal dedup: consecutive frames are
    // nearly free copies, and a curated corpus keeps ~1 frame per
    // SCENE, not 30/sec): REAL container walk over the planted GV1
    // format (Multimodal.syntheticVideo — header + back-to-back P6
    // frames, every byte a pure function of (id, frame), truncated
    // id%11 containers quarantine WHOLE), per-frame aHash (q298's
    // kernel), then the scene-cut rule — keyframe ⇔ first frame OR
    // hamming(phash, prev) > 4 (intra-scene brightness drift flips
    // only mod-256 wrap pixels, ham ≤ 3; cuts average ~15; cuts that
    // land ≤ 4 are MISSED — the honest detector, both branches live).
    // The lag window is per-video (≤ 8 frames, partitioned); hash
    // rows, never frames, reach the shuffle.
    "q335_video_keyframes" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticVideo(id))))
        .toDF("doc_id", "payload")
      val frames = Multimodal.videoFrameHashes(payloads)
        .filter(col("valid"))
      val w = Window.partitionBy("doc_id").orderBy("frame")
      val scored = frames
        .withColumn("prev", lag(col("phash"), 1).over(w))
        .withColumn("ham",
          when(col("prev").isNotNull,
            bit_count(col("phash").bitwiseXOR(col("prev")))))
        .withColumn("is_key", col("prev").isNull || col("ham") > 4)
      scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("is_key"), 1L).otherwise(0L)).as("n_keyframes"),
          sum(when(col("ham") > 4, 1L).otherwise(0L)).as("n_cuts"),
          coalesce(max(when(!col("is_key"), col("ham"))), lit(0))
            .cast("long").as("max_drift"))
        .orderBy("doc_id")
    }),

    // IMAGE NEAR-DUP BY HAMMING DISTANCE (the SimHash pigeonhole trick
    // applied to q298's perceptual hashes — tonal/structural
    // near-misses that exact phash equality cannot see): pairs of
    // DISTINCT hash patterns at hamming ≤ 2 within the same dims.
    // Two scale decisions: (1) the join runs over exact-dedup
    // REPRESENTATIVES (q298's cluster table, min-id keep policy), so a
    // pattern duplicated m times contributes ONE node, never m² pairs
    // — near-dup stacks on top of exact dedup exactly like the text
    // side (q72 on q50's survivors); (2) candidates come from a
    // 3-band pigeonhole equi-join (22/21/21 bits: ≤2 differing bits
    // touch ≤2 bands, so every qualifying pair agrees exactly on ≥1
    // band — candidates ∝ band collisions, never all pairs), then the
    // exact bit_count(xor) verifies. hamming ∈ {1, 2} both fire on
    // the fixture (9 + 61 pairs); hamming 0 is excluded BY
    // CONSTRUCTION (distinct patterns), it lives in q298. The oracle
    // is the INDEPENDENT quadratic join — the hash match proves the
    // banding is lossless (q130/q147 adjudication pattern).
    "q323_image_hamming_neardup" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticPpm(id))))
        .toDF("doc_id", "payload")
      val reps = Multimodal.ppmAHash(payloads)
        .filter(col("valid"))
        .groupBy(col("width"), col("height"), col("phash"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
      val bands = reps.select(col("width"), col("height"), col("phash"),
        col("rep"), col("n"),
        explode(array(
          struct(lit(0).as("b"),
            col("phash").bitwiseAND(lit(0x3FFFFFL)).as("bv")),
          struct(lit(1).as("b"),
            shiftrightunsigned(col("phash"), 22)
              .bitwiseAND(lit(0x1FFFFFL)).as("bv")),
          struct(lit(2).as("b"),
            shiftrightunsigned(col("phash"), 43).as("bv")))).as("e"))
        .select(col("width"), col("height"), col("phash"), col("rep"),
          col("n"), col("e.b").as("b"), col("e.bv").as("bv"))
      bands.as("x").join(bands.as("y"),
          col("x.width") === col("y.width") &&
          col("x.height") === col("y.height") &&
          col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.rep") < col("y.rep"))
        .select(col("x.width").as("width"), col("x.height").as("height"),
          col("x.rep").as("doc_a"), col("y.rep").as("doc_b"),
          col("x.phash").as("pa"), col("y.phash").as("pb"),
          col("x.n").as("n_a"), col("y.n").as("n_b"))
        .distinct() // a pair can collide on more than one band
        .withColumn("hamming",
          bit_count(col("pa").bitwiseXOR(col("pb"))))
        .filter(col("hamming") >= 1 && col("hamming") <= 2)
        .select(col("width"), col("height"), col("doc_a"), col("doc_b"),
          col("hamming"), col("n_a"), col("n_b"))
        .orderBy("width", "height", "doc_a", "doc_b")
    }),

    // MULTIMODAL CURATION FUNNEL (q312's text capstone for the
    // image+audio side — the end-to-end composition a multimodal
    // training-data pipeline actually runs, with per-stage survivor
    // counts so every drop is visible):
    //   s0 corpus → s1 decodable (codec quarantine) → s2 audio
    //   non-silent (q322's gate) → s3 image exact-dedup (q298's
    //   min-id-per-pattern keep) → s4 image near-dup drop (q323's
    //   hamming ≤ 2 pairs among s3 representatives; the b-side of
    //   each pair drops — the min-id keep policy edge-wise).
    // Every stage drops rows on the fixture (500 → 428 → 311 → 112
    // → 104 at sf0.01 — inspected, not assumed). The funnel re-uses the
    // EXACT arithmetic of its gated stages, so the whole composition
    // sits under one hash oracle (the big-CTE replay, q312's
    // discipline).
    "q325_multimodal_funnel" -> ((s, dir) => {
      import s.implicits._
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val wav = ids.as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
        .toDF("doc_id", "payload")
      val ppm = ids.as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticPpm(id))))
        .toDF("doc_id", "payload")
      // s1: decodable in BOTH modalities (the planted corruption hits
      // the same ids here — one honest "decodable" stage, not two)
      val s1 = Multimodal.decodePpm(ppm).filter(col("valid"))
        .select(col("doc_id"))
      // s2: audio carries any active frame (q322's RMS ≥ 550 gate)
      val s2 = Multimodal.audioFrameGrid(wav, 10)
        .filter(col("rms") >= 550.0)
        .select(col("doc_id")).distinct()
        .join(s1, Seq("doc_id"), "left_semi")
      // s3: image exact-dedup — min id per (w, h, phash) pattern
      val hashed = Multimodal.ppmAHash(ppm).filter(col("valid"))
        .join(s2, Seq("doc_id"), "left_semi")
      val s3 = hashed.groupBy(col("width"), col("height"), col("phash"))
        .agg(min(col("doc_id")).as("doc_id"))
      // s4: drop the b-side of every hamming ≤ 2 pair among the
      // surviving patterns (3-band pigeonhole + exact verify, q323)
      val bands = s3.select(col("width"), col("height"), col("phash"),
        col("doc_id"),
        explode(array(
          struct(lit(0).as("b"),
            col("phash").bitwiseAND(lit(0x3FFFFFL)).as("bv")),
          struct(lit(1).as("b"),
            shiftrightunsigned(col("phash"), 22)
              .bitwiseAND(lit(0x1FFFFFL)).as("bv")),
          struct(lit(2).as("b"),
            shiftrightunsigned(col("phash"), 43).as("bv")))).as("e"))
        .select(col("width"), col("height"), col("phash"), col("doc_id"),
          col("e.b").as("b"), col("e.bv").as("bv"))
      val drops = bands.as("x").join(bands.as("y"),
          col("x.width") === col("y.width") &&
          col("x.height") === col("y.height") &&
          col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
        .filter(bit_count(col("x.phash").bitwiseXOR(col("y.phash")))
          .between(1, 2))
        .select(col("y.doc_id").as("doc_id")).distinct()
      val s4 = s3.select(col("doc_id"))
        .join(drops, Seq("doc_id"), "left_anti")
      val stages = Seq(
        ("s0_corpus", ids.select(col("doc_id"))),
        ("s1_decodable", s1),
        ("s2_audio_active", s2),
        ("s3_image_exact_dedup", s3.select(col("doc_id"))),
        ("s4_image_near_dedup", s4))
      stages.map { case (name, df) =>
        df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"),
          col("n_docs"))
      }.reduce(_.unionByName(_)).orderBy("stage")
    }),

    // AUDIO SILENCE TRIM (the pre-ASR/pre-training speech-trim pass —
    // cut leading/trailing silence, drop all-silence clips — over
    // Multimodal.audioFrameGrid's per-frame RMS rows on the REAL WAV
    // decode): per clip, the first/last frame at RMS ≥ 550 over
    // 10-sample frames, the active count, and how many frames a
    // [first, last] trim discards. All four outcomes are data-live on
    // the fixture at sf0.01: 117/428 clips are FULLY silent (trim
    // drops the clip — first/last NULL), 151 carry leading silence,
    // 125 trailing; both-ended trim is structurally impossible here
    // (the synthetic PCM is a mod-2001 linear sweep, so each clip's
    // RMS profile is unimodal — documented, not assumed; a
    // multi-segment VAD was rejected for exactly this reason, its
    // interesting branch could never fire). One map-side-combined
    // aggregate over row-local frames — no window, no join; binary
    // never shuffles.
    "q322_audio_silence_trim" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
        .toDF("doc_id", "payload")
      Multimodal.audioFrameGrid(payloads, 10)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("rms") >= 550.0, 1L).otherwise(0L)).as("n_active"),
          min(when(col("rms") >= 550.0, col("frame_idx"))).as("first_active"),
          max(when(col("rms") >= 550.0, col("frame_idx"))).as("last_active"))
        .withColumn("trimmed_frames",
          when(col("n_active") === 0L, col("n_frames"))
            .otherwise(col("n_frames") -
              (col("last_active") - col("first_active") + 1L)))
        .orderBy("doc_id")
    }),

    // AUDIO FRAME ENERGY on the REAL WAV decode (Multimodal.
    // audioFrameEnergy): 25-sample frames, per-frame RMS from exact
    // integer Σs² quantized at 6dp BEFORE the per-clip count/max
    // aggregates (order-free), silence threshold 300 — the pre-ASR
    // voice-activity segmentation pass. Incomplete tail frames drop;
    // corrupt payloads (id % 7 == 0) quarantine. Oracle replays the
    // same frame grid from q129's synthetic-sample arithmetic.
    "q193_audio_frames" -> ((s, dir) => {
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
        .toDF("doc_id", "payload")
      Multimodal.audioFrameEnergy(payloads, 25, 300.0)
        .select(col("doc_id"), col("valid"), col("n_frames"), col("n_silent"),
          (col("max_rms") + lit(0.0)).as("max_rms"))
        .orderBy("doc_id")
    }),

    // BIGRAM LM QUALITY SCORING — q102's unigram proxy upgraded one
    // order (the CCNet-style fluency signal a unigram model can't
    // see: scrambled text keeps its unigram score but collapses
    // here): per-doc mean log-probability under the corpus's own
    // add-one-smoothed bigram model, p(y|x) = (c_xy + 1)/(c_x + V).
    // Integer counts inside the ln (q168 discipline), each bigram's
    // term quantized to DECIMAL(24,10) before the per-doc sum, one
    // final division. Scale shape: the count joins ride the bigram/
    // unigram tables (vocabulary-sized after map-side combine, q102's
    // unhinted-join reasoning); text never shuffles — (x, y, doc)
    // triples do.
    "q209_bigram_logprob" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
      val pairs = toks.select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS x, t[i+1] AS y))")).as("p"))
        .select(col("doc_id"), col("p.x").as("x"), col("p.y").as("y"))
      val big = pairs.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val uni = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c_w"))
      val vsize = uni.agg(count(lit(1)).as("v_size"))
      pairs.join(big, Seq("x", "y"))
        .join(uni.select(col("w").as("x"), col("c_w")), Seq("x"))
        .crossJoin(broadcast(vsize))
        .withColumn("lnp",
          round(log((col("c_xy") + 1).cast("double") /
            (col("c_w") + col("v_size")).cast("double")), 10)
            .cast("decimal(24,10)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("lnp")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_lnp"))
        .orderBy("doc_id")
    }),

    // PMI COLLOCATIONS (Church & Hanks 1990 — the classic phrase/
    // multiword-expression miner): pointwise mutual information of
    // adjacent token pairs, pmi = ln(c_xy·T² / (B·n_x·n_y)) with
    // unigram counts n over T total tokens and bigram counts c over B
    // total bigrams. Both products stay in exact longs (q168's
    // integers-inside-ln discipline: one double division, one libm
    // ln), so the score replays bit-identically. Scale shape: bigram
    // and unigram tables are vocabulary-sized after their map-side-
    // combined shuffles (q145's reason-to-exist); the min-count ≥ 5
    // filter bounds the join fan-in; totals broadcast as one-row
    // cross joins; top-50 via TakeOrderedAndProject.
    "q196_pmi" -> ((s, dir) => {
      val toks = Tables.documents(s, dir).select(split(col("text"), " ").as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val bi = toks.filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS x, t[i+1] AS y))")).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val totals = uni.agg(sum(col("n")).cast("long").as("t_tokens"))
        .crossJoin(bi.agg(sum(col("c_xy")).cast("long").as("b_total")))
      bi.filter(col("c_xy") >= 5)
        .join(uni.select(col("w").as("x"), col("n").as("n_x")), Seq("x"))
        .join(uni.select(col("w").as("y"), col("n").as("n_y")), Seq("y"))
        .crossJoin(broadcast(totals))
        .select(col("x"), col("y"), col("c_xy"),
          round(log((col("c_xy") * col("t_tokens") * col("t_tokens"))
              .cast("double") /
            (col("b_total") * col("n_x") * col("n_y")).cast("double")), 6)
            .as("pmi"))
        .orderBy(desc("pmi"), col("x"), col("y"))
        .limit(50)
    }),

    // MAXSIM LATE-INTERACTION RETRIEVAL (Khattab & Zaharia 2020,
    // ColBERT): documents are MULTI-VECTOR (a bag of token
    // embeddings), the query is a small bag of token vectors, and
    // score(doc) = Σ_{q∈Q} max_{v∈doc} dot(q, v) — each query token
    // matches its best document token. The fixture has one vector
    // per vec_id, so docs are the 8-vector groups vec_id div 8 and
    // the query is group 0's bag (excluded from the corpus) — the
    // grouping is arithmetic, both engines replay it. Execution
    // shape: the 8 query vectors broadcast against the corpus scan
    // (one dot per (vector, query-token) — corpus × |Q| row-local
    // work), then ONE partial-aggregated max per (doc, q-token) and
    // one doc-sized sum — no shuffle ever carries a vector, only
    // (doc, token, scalar) triples. The per-token max runs on RAW
    // doubles (max is order-free); each max quantizes to
    // DECIMAL(18,4) BEFORE the cross-token sum (q185's term
    // discipline), so the gate covers the full two-level reduce.
    "q215_maxsim" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val docs = e.filter(col("vec_id") >= 8)
        .select(expr("vec_id div 8").as("doc_id"), col("embedding"))
      val qtoks = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      docs.crossJoin(broadcast(qtoks))
        .select(col("doc_id"), col("q_id"),
          Similarity.dot(col("embedding"), col("q_emb")).as("d"))
        .groupBy(col("doc_id"), col("q_id"))
        .agg(max(col("d")).as("mx"))
        .groupBy(col("doc_id"))
        .agg(sum(round(col("mx"), 4).cast("decimal(18,4)")).as("score"))
        .select(col("doc_id"), col("score").cast("double").as("maxsim"))
        .orderBy(desc("maxsim"), col("doc_id"))
        .limit(20)
    }),

    // N-GRAM NOVELTY SCORE vs a reference corpus (the memorization/
    // overlap risk signal — q100/q108 decontaminate against EVAL
    // sets; this scores every candidate doc by how much of it is
    // ALREADY in the reference partition, the Lee et al. 2022
    // near-memorization diagnostic at the document grain): reference
    // = sources src0–src4, candidates = the rest; per candidate,
    // distinct word 3-grams, the fraction ABSENT from the
    // reference's gram set as integer ppm. Wire discipline: only
    // (doc_id, gram) pairs shuffle — the left-anti probe against the
    // reference gram set is the q110 incremental-dedup shape with
    // the verdict inverted (count the misses instead of dropping
    // hits). Docs under 3 tokens have no grams and drop (documented;
    // the quality gate owns them).
    "q232_novelty" -> ((s, dir) => {
      val refSources = (0 to 4).map(i => s"src$i")
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"),
          explode(Dedup.shingles(col("toks"), 3)).as("g"))
      val refGrams = grams.filter(col("source").isin(refSources: _*))
        .select(col("g")).distinct()
      val cand = grams.filter(!col("source").isin(refSources: _*))
      val novel = cand.join(refGrams, Seq("g"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      cand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
        .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("(n_novel * 1000000) div n_grams").as("novelty_ppm"))
        .orderBy("doc_id")
    }),
  )

  /** q293's oracle: q121's unrolled-Lloyd SQL replayed PER SUBSPACE —
    * four mechanically-identical CTE blocks (GENERATED; ~40 lines each
    * hand-maintained would be the q241/q242 drift trap), then the
    * encode pass against each final codebook, the DECIMAL-quantized
    * LUT, the shortlist rank, and the exact rescore. Every float
    * decision point (assignment argmax, shortlist boundary, final
    * rank) tie-breaks on ids exactly as the Spark side does. */
  private def pqAnnOracle: String = {
    val subs = (0 until 4).map { j =>
      val lo = j * 16 + 1; val hi = (j + 1) * 16
      s"""sub_$j AS (
         |  SELECT vec_id, embedding[$lo:$hi] AS sv
         |  FROM embeddings WHERE vec_id <> 0),
         |cb0_$j AS (
         |  SELECT vec_id AS cell_id, embedding[$lo:$hi] AS c_vec
         |  FROM embeddings WHERE vec_id < 8),
         |sc1_$j AS (
         |  SELECT c.vec_id, c.sv, ct.cell_id,
         |         list_dot_product(CAST(c.sv AS DOUBLE[]),
         |                          CAST(ct.c_vec AS DOUBLE[])) AS s
         |  FROM sub_$j c CROSS JOIN cb0_$j ct),
         |as1_$j AS (
         |  SELECT vec_id, sv, cell_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                 ORDER BY s DESC, cell_id) AS rn
         |    FROM sc1_$j) WHERE rn = 1),
         |cb1_$j AS (
         |  SELECT cell_id, list(mn ORDER BY i) AS c_vec FROM (
         |    SELECT cell_id, i, CAST(avg(CAST(sv[i] AS DOUBLE)) AS FLOAT) AS mn
         |    FROM as1_$j, range(1, 17) t(i) GROUP BY cell_id, i)
         |  GROUP BY cell_id),
         |sc2_$j AS (
         |  SELECT c.vec_id, c.sv, ct.cell_id,
         |         list_dot_product(CAST(c.sv AS DOUBLE[]),
         |                          CAST(ct.c_vec AS DOUBLE[])) AS s
         |  FROM sub_$j c CROSS JOIN cb1_$j ct),
         |as2_$j AS (
         |  SELECT vec_id, sv, cell_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                 ORDER BY s DESC, cell_id) AS rn
         |    FROM sc2_$j) WHERE rn = 1),
         |cb2_$j AS (
         |  SELECT cell_id, list(mn ORDER BY i) AS c_vec FROM (
         |    SELECT cell_id, i, CAST(avg(CAST(sv[i] AS DOUBLE)) AS FLOAT) AS mn
         |    FROM as2_$j, range(1, 17) t(i) GROUP BY cell_id, i)
         |  GROUP BY cell_id),
         |sc3_$j AS (
         |  SELECT c.vec_id, ct.cell_id,
         |         list_dot_product(CAST(c.sv AS DOUBLE[]),
         |                          CAST(ct.c_vec AS DOUBLE[])) AS s
         |  FROM sub_$j c CROSS JOIN cb2_$j ct),
         |enc_$j AS (
         |  SELECT vec_id, cell_id AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                 ORDER BY s DESC, cell_id) AS rn
         |    FROM sc3_$j) WHERE rn = 1),
         |lut_$j AS (
         |  SELECT cell_id AS code,
         |         CAST(list_dot_product(CAST(c_vec AS DOUBLE[]),
         |           CAST((SELECT embedding[$lo:$hi] FROM embeddings
         |                 WHERE vec_id = 0) AS DOUBLE[])) AS DECIMAL(18,12)) AS lscore
         |  FROM cb2_$j),
         |pa_$j AS (
         |  SELECT e.vec_id, l.lscore FROM enc_$j e JOIN lut_$j l USING (code))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $subs,
       |approx AS (
       |  SELECT vec_id, sum(lscore) AS a FROM (
       |    SELECT * FROM pa_0 UNION ALL SELECT * FROM pa_1
       |    UNION ALL SELECT * FROM pa_2 UNION ALL SELECT * FROM pa_3)
       |  GROUP BY vec_id),
       |short AS (SELECT vec_id FROM approx ORDER BY a DESC, vec_id LIMIT 40),
       |resc AS (
       |  SELECT e.vec_id,
       |         list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |           CAST(q.embedding AS DOUBLE[])) AS raw
       |  FROM embeddings e JOIN short USING (vec_id),
       |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
       |SELECT vec_id, round(raw, 4) AS dot_sim FROM (
       |  SELECT * FROM resc ORDER BY raw DESC, vec_id LIMIT 10) t
       |ORDER BY vec_id""".stripMargin
  }

  /** q301's oracle: the q293 generator's discipline extended with the
    * coarse-assign + residual CTEs and the nProbe cell filter. One
    * Lloyd update per residual subspace (seeds = vec 8..15 residual
    * sub-slices), every ADC term DECIMAL-quantized. */
  private def ivfPqOracle: String = {
    val subs = (0 until 4).map { j =>
      val lo = j * 16 + 1; val hi = (j + 1) * 16
      s"""sub_$j AS (
         |  SELECT vec_id, cell_id, rv[$lo:$hi] AS sv FROM res),
         |seed_$j AS (
         |  SELECT vec_id - 8 AS cell_id, rv[$lo:$hi] AS c_vec
         |  FROM res WHERE vec_id BETWEEN 8 AND 15),
         |sc1_$j AS (
         |  SELECT c.vec_id, c.sv, ct.cell_id,
         |         list_dot_product(CAST(c.sv AS DOUBLE[]),
         |                          CAST(ct.c_vec AS DOUBLE[])) AS s
         |  FROM sub_$j c CROSS JOIN seed_$j ct),
         |as1_$j AS (
         |  SELECT vec_id, sv, cell_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                 ORDER BY s DESC, cell_id) AS rn
         |    FROM sc1_$j) WHERE rn = 1),
         |cb1_$j AS (
         |  SELECT cell_id, list(mn ORDER BY i) AS c_vec FROM (
         |    SELECT cell_id, i, CAST(avg(CAST(sv[i] AS DOUBLE)) AS FLOAT) AS mn
         |    FROM as1_$j, range(1, 17) t(i) GROUP BY cell_id, i)
         |  GROUP BY cell_id),
         |scp_$j AS (
         |  SELECT c.vec_id, ct.cell_id,
         |         list_dot_product(CAST(c.sv AS DOUBLE[]),
         |                          CAST(ct.c_vec AS DOUBLE[])) AS s
         |  FROM sub_$j c CROSS JOIN cb1_$j ct
         |  WHERE c.cell_id IN (SELECT cell_id FROM probe)),
         |enc_$j AS (
         |  SELECT vec_id, cell_id AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                 ORDER BY s DESC, cell_id) AS rn
         |    FROM scp_$j) WHERE rn = 1),
         |lut_$j AS (
         |  SELECT cell_id AS code,
         |         CAST(list_dot_product(CAST(c_vec AS DOUBLE[]),
         |           CAST((SELECT q[$lo:$hi] FROM qv) AS DOUBLE[]))
         |              AS DECIMAL(18,12)) AS lscore
         |  FROM cb1_$j),
         |pa_$j AS (
         |  SELECT e.vec_id, l.lscore FROM enc_$j e JOIN lut_$j l USING (code))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH cc AS (
       |  SELECT vec_id AS cell_id, embedding AS c_vec
       |  FROM embeddings WHERE vec_id < 8),
       |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
       |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
       |sca AS (
       |  SELECT c.vec_id, c.embedding, ct.cell_id,
       |         list_dot_product(CAST(c.embedding AS DOUBLE[]),
       |                          CAST(ct.c_vec AS DOUBLE[])) AS s
       |  FROM corpus c CROSS JOIN cc ct),
       |asg AS (
       |  SELECT vec_id, embedding, cell_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY s DESC, cell_id) AS rn
       |    FROM sca) WHERE rn = 1),
       |res AS (
       |  SELECT a.vec_id, a.cell_id,
       |         list_transform(range(1, 65),
       |           i -> CAST(a.embedding[i] AS DOUBLE)
       |              - CAST(ct.c_vec[i] AS DOUBLE)) AS rv
       |  FROM asg a JOIN cc ct ON a.cell_id = ct.cell_id),
       |probe AS (
       |  SELECT cell_id FROM (
       |    SELECT ct.cell_id,
       |           row_number() OVER (ORDER BY
       |             list_dot_product(CAST(ct.c_vec AS DOUBLE[]),
       |                              CAST(q.q AS DOUBLE[])) DESC,
       |             ct.cell_id) AS rn
       |    FROM cc ct, qv q) WHERE rn <= 4),
       |qc AS (
       |  SELECT ct.cell_id,
       |         CAST(list_dot_product(CAST(ct.c_vec AS DOUBLE[]),
       |                               CAST(q.q AS DOUBLE[]))
       |              AS DECIMAL(18,12)) AS qc
       |  FROM cc ct, qv q),
       |$subs,
       |approx AS (
       |  SELECT vec_id, sum(lscore) AS rsum FROM (
       |    SELECT * FROM pa_0 UNION ALL SELECT * FROM pa_1
       |    UNION ALL SELECT * FROM pa_2 UNION ALL SELECT * FROM pa_3)
       |  GROUP BY vec_id),
       |app2 AS (
       |  SELECT a.vec_id, a.rsum + qc.qc AS ap
       |  FROM approx a JOIN res r ON a.vec_id = r.vec_id
       |  JOIN qc ON r.cell_id = qc.cell_id),
       |short AS (SELECT vec_id FROM app2 ORDER BY ap DESC, vec_id LIMIT 40),
       |resc AS (
       |  SELECT e.vec_id,
       |         list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                          CAST(q.q AS DOUBLE[])) AS raw
       |  FROM embeddings e JOIN short USING (vec_id), qv q)
       |SELECT vec_id, round(raw, 4) AS dot_sim FROM (
       |  SELECT * FROM resc ORDER BY raw DESC, vec_id LIMIT 10) t
       |ORDER BY vec_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q293_pq_ann" -> pqAnnOracle,
    "q301_ivfpq_ann" -> ivfPqOracle,
    "q312_curation_funnel" ->
      """WITH d AS (
        |  SELECT doc_id, text, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |           AS n_dist
        |  FROM documents),
        |s1 AS (SELECT * FROM d
        |       WHERE n_chars BETWEEN 100 AND 500 AND n_dist * 10 >= n_toks * 3),
        |s2 AS (SELECT *, md5(array_to_string(
        |         list_slice(string_split(lower(text), ' '), 1, 5), ' ')) AS h5
        |       FROM s1),
        |s2d AS (SELECT s2.* FROM s2
        |        JOIN (SELECT h5, min(doc_id) AS doc_id FROM s2 GROUP BY h5) m
        |        USING (h5, doc_id)),
        |s3 AS (SELECT s2d.*, md5(array_to_string(
        |         list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |       FROM s2d),
        |s3d AS (SELECT s3.* FROM s3
        |        JOIN (SELECT fp, min(doc_id) AS doc_id FROM s3 GROUP BY fp) m
        |        USING (fp, doc_id)),
        |lab AS (SELECT *, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |                           < 'cc' THEN 'train' ELSE 'eval' END AS split
        |        FROM s3d),
        |s4 AS (SELECT * FROM lab WHERE split = 'train'
        |       AND fp NOT IN (SELECT fp FROM lab WHERE split = 'eval'))
        |SELECT 0 AS stage, 'raw' AS label, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens FROM d
        |UNION ALL
        |SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s1
        |UNION ALL
        |SELECT 2, 'head_dedup', CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s2d
        |UNION ALL
        |SELECT 3, 'bag_neardup', CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s3d
        |UNION ALL
        |SELECT 4, 'decontaminated_train', CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s4
        |ORDER BY stage""".stripMargin,
    // same two half-calendar top-15s, same exact-rational p-powers,
    // same quantized term sum
    "q362_rbo_rank_stability" ->
      """WITH li AS (
        |  SELECT p_brand AS brand,
        |         CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS rev,
        |         CAST(o_orderdate AS DATE) < DATE '1998-06-01' AS fh
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |                 JOIN part ON l_partkey = p_partkey),
        |ta AS (
        |  SELECT brand,
        |         CAST(row_number() OVER (ORDER BY rev DESC, brand)
        |           AS BIGINT) AS ra
        |  FROM (SELECT brand, sum(rev) AS rev FROM li WHERE fh
        |        GROUP BY 1)
        |  ORDER BY rev DESC, brand LIMIT 15),
        |tb AS (
        |  SELECT brand,
        |         CAST(row_number() OVER (ORDER BY rev DESC, brand)
        |           AS BIGINT) AS rb
        |  FROM (SELECT brand, sum(rev) AS rev FROM li WHERE NOT fh
        |        GROUP BY 1)
        |  ORDER BY rev DESC, brand LIMIT 15),
        |common AS (
        |  SELECT greatest(ta.ra, tb.rb) AS dmin
        |  FROM ta JOIN tb USING (brand)),
        |pw(d, pnum, pden) AS (VALUES
        |  (1, 1, 1),
        |  (2, 9, 10),
        |  (3, 81, 100),
        |  (4, 729, 1000),
        |  (5, 6561, 10000),
        |  (6, 59049, 100000),
        |  (7, 531441, 1000000),
        |  (8, 4782969, 10000000),
        |  (9, 43046721, 100000000),
        |  (10, 387420489, 1000000000),
        |  (11, 3486784401, 10000000000),
        |  (12, 31381059609, 100000000000),
        |  (13, 282429536481, 1000000000000),
        |  (14, 2541865828329, 10000000000000),
        |  (15, 22876792454961, 100000000000000)),
        |ov AS (
        |  SELECT d, pnum, pden,
        |         CAST(sum(CASE WHEN dmin IS NOT NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS overlap_d
        |  FROM pw LEFT JOIN common ON dmin <= d
        |  GROUP BY d, pnum, pden),
        |t AS (
        |  SELECT CAST(d AS BIGINT) AS d, overlap_d,
        |         round(CAST(pnum AS DOUBLE) / pden * overlap_d / d * 0.1, 6)
        |           AS term
        |  FROM ov),
        |r AS (SELECT CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE)
        |        AS rbo FROM t)
        |SELECT t.d, t.overlap_d, t.term, r.rbo FROM t, r
        |ORDER BY t.d""".stripMargin,
    "q309_ndcg_eval" ->
      """WITH dl AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN ('spark', 'join', 'window')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |bm AS (
        |  SELECT doc_id,
        |         CAST(sum(CAST(
        |           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |             * (tf * 2.2)
        |             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |           AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        |  FROM tf JOIN df USING (term) CROSS JOIN stats
        |  GROUP BY doc_id),
        |rel AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END
        |            * (CASE WHEN list_contains(string_split(text, ' '), 'spark')
        |                    THEN 1 ELSE 0 END
        |             + CASE WHEN list_contains(string_split(text, ' '), 'join')
        |                    THEN 1 ELSE 0 END
        |             + CASE WHEN list_contains(string_split(text, ' '), 'window')
        |                    THEN 1 ELSE 0 END) AS BIGINT) AS rel
        |  FROM documents),
        |cand AS (SELECT bm.doc_id, bm.bm25, rel.rel FROM bm JOIN rel USING (doc_id)),
        |top AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
        |    FROM cand) WHERE rn <= 10),
        |d AS (
        |  SELECT sum(CAST(rel / log2(rn + 1.0) AS DECIMAL(18,12))) AS dcg,
        |         min(CASE WHEN rel >= 2 THEN rn END) AS first_hi FROM top),
        |itop AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (ORDER BY rel DESC, doc_id) AS rn
        |    FROM cand) WHERE rn <= 10),
        |i AS (SELECT sum(CAST(rel / log2(rn + 1.0) AS DECIMAL(18,12))) AS idcg
        |      FROM itop),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand)
        |SELECT n.n_candidates,
        |       round(CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE), 6) AS ndcg10,
        |       CAST(coalesce(d.first_hi, 0) AS BIGINT) AS first_hi_rank,
        |       round(coalesce(1.0 / d.first_hi, 0.0), 6) AS mrr
        |FROM d, i, n""".stripMargin,
    "q307_split_leakage" ->
      """WITH lab AS (
        |  SELECT user_id, ts,
        |         CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < 'cc'
        |              THEN 'train' ELSE 'eval' END AS split
        |  FROM events),
        |u AS (
        |  SELECT user_id,
        |         max(CASE WHEN split = 'train' THEN ts END) AS train_max,
        |         min(CASE WHEN split = 'eval' THEN ts END) AS eval_min
        |  FROM lab GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(CASE WHEN train_max IS NOT NULL AND eval_min IS NOT NULL
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |       CAST(sum(CASE WHEN eval_min < train_max
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky,
        |       round(CAST(sum(CASE WHEN eval_min < train_max
        |                      THEN 1 ELSE 0 END) AS DOUBLE)
        |             / sum(CASE WHEN train_max IS NOT NULL AND eval_min IS NOT NULL
        |                   THEN 1 ELSE 0 END), 6) AS leak_rate
        |FROM u""".stripMargin,
    "q308_dataset_card" ->
      """WITH n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents),
        |l AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
        |      FROM documents GROUP BY lang),
        |t AS (SELECT l.lang, l.c,
        |             CAST(-(CAST(l.c AS DOUBLE) / n.n_docs)
        |                  * ln(CAST(l.c AS DOUBLE) / n.n_docs)
        |                  AS DECIMAL(18,12)) AS term
        |      FROM l, n),
        |la AS (SELECT CAST(count(*) AS BIGINT) AS n_langs, sum(term) AS ent
        |       FROM t),
        |tl AS (SELECT lang, c FROM l ORDER BY c DESC, lang DESC LIMIT 1)
        |SELECT n.n_docs, n.n_tokens, la.n_langs, tl.lang AS top_lang,
        |       round(CAST(tl.c AS DOUBLE) / n.n_docs, 6) AS top_lang_share,
        |       round(CAST(la.ent AS DOUBLE), 6) AS lang_entropy
        |FROM n, la, tl""".stripMargin,
    "q306_k_anonymity" ->
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
        |  FROM customer),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band,
        |         CAST(count(*) AS BIGINT) AS k
        |  FROM c GROUP BY c_nationkey, c_mktsegment, bal_band)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(k) AS BIGINT) AS n_rows,
        |       k < 5 AS violates_k5
        |FROM cls GROUP BY k ORDER BY k""".stripMargin,
    "q304_target_encoding" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority AS cat,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS y
        |  FROM orders),
        |a AS (SELECT cat, sum(y) AS sy, CAST(count(*) AS BIGINT) AS n
        |      FROM o GROUP BY cat)
        |SELECT o.o_orderkey, o.cat,
        |       CASE WHEN a.n > 1
        |            THEN round(CAST(a.sy - o.y AS DOUBLE) / (a.n - 1), 4)
        |            ELSE NULL END AS te
        |FROM o JOIN a USING (cat)
        |ORDER BY o_orderkey""".stripMargin,
    "q305_feature_hashing" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % 64 AS bucket,
        |         CASE WHEN CAST(('0x' || substr(md5(tok), 5, 1)) AS BIGINT) % 2 = 0
        |              THEN 1 ELSE -1 END AS sign
        |  FROM toks WHERE len(tok) > 0),
        |v AS (SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS v
        |      FROM h GROUP BY doc_id, bucket)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
        |       CAST(sum(abs(v)) AS BIGINT) AS l1,
        |       CAST(sum(v * v) AS BIGINT) AS l2sq
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q140's bm25 CTE verbatim + the tf ranker, both ranked under the
    // same total orders, fused with the same quantized 1/(60+rank).
    "q186_rrf_fusion" ->
      """WITH dl AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN ('spark', 'join', 'window')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |bm25 AS (
        |  SELECT doc_id,
        |         sum(CAST(
        |           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |             * (tf * 2.2)
        |             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |           AS DECIMAL(18,6))) AS bm25
        |  FROM tf JOIN df USING (term) CROSS JOIN stats
        |  GROUP BY doc_id),
        |tfn AS (
        |  SELECT doc_id, CAST(sum(tf) AS DOUBLE) / CAST(dl AS DOUBLE) AS tfnorm
        |  FROM tf GROUP BY doc_id, dl),
        |r1 AS (
        |  SELECT doc_id, rank1 FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |                        AS INT) AS rank1
        |    FROM bm25) WHERE rank1 <= 50),
        |r2 AS (
        |  SELECT doc_id, rank2 FROM (
        |    SELECT doc_id, CAST(row_number() OVER (ORDER BY tfnorm DESC, doc_id)
        |                        AS INT) AS rank2
        |    FROM tfn) WHERE rank2 <= 50)
        |SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id, rank1, rank2,
        |       CAST(coalesce(CAST(round(1::DOUBLE / (60 + rank1), 10)
        |                          AS DECIMAL(18,10)), 0)
        |            + coalesce(CAST(round(1::DOUBLE / (60 + rank2), 10)
        |                            AS DECIMAL(18,10)), 0) AS DOUBLE) AS rrf
        |FROM r1 FULL JOIN r2 ON r1.doc_id = r2.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    // the q94 synthetic-raster arithmetic sampled on the factor-2
    // grid: out dims ceil(w/2) × ceil(h/2), in-pixel index
    // (2·(i div ow))·w + 2·(i mod ow).
    "q298_image_phash_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 7 <> 0),
        |px AS (
        |  SELECT doc_id, w, h, i,
        |         ( (doc_id * 31 + 3 * i) % 256
        |         + (doc_id * 31 + 3 * i + 1) % 256
        |         + (doc_id * 31 + 3 * i + 2) % 256) AS g
        |  FROM d, unnest(range(0, w * h)) AS u(i)),
        |t AS (SELECT doc_id, sum(g) AS tg FROM px GROUP BY doc_id),
        |b AS (
        |  SELECT px.doc_id, px.w, px.h,
        |         CAST(sum(CASE WHEN CAST(px.w * px.h AS BIGINT) * px.g > t.tg
        |                  THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
        |              AS BIGINT) AS phash
        |  FROM px JOIN t USING (doc_id)
        |  GROUP BY px.doc_id, px.w, px.h)
        |SELECT w AS width, h AS height, phash,
        |       CAST(count(*) AS BIGINT) AS n_images,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM b GROUP BY w, h, phash
        |ORDER BY width, height, phash""".stripMargin,
    // the INDEPENDENT formulation: quadratic pair join over the
    // representative patterns with a direct bit_count(xor) — no
    // banding anywhere, so the hash match proves the Spark side's
    // 3-band pigeonhole candidate generation is lossless at t <= 2
    "q323_image_hamming_neardup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 7 <> 0),
        |px AS (
        |  SELECT doc_id, w, h, i,
        |         ( (doc_id * 31 + 3 * i) % 256
        |         + (doc_id * 31 + 3 * i + 1) % 256
        |         + (doc_id * 31 + 3 * i + 2) % 256) AS g
        |  FROM d, unnest(range(0, w * h)) AS u(i)),
        |t AS (SELECT doc_id, sum(g) AS tg FROM px GROUP BY doc_id),
        |b AS (
        |  SELECT px.doc_id, px.w, px.h,
        |         CAST(sum(CASE WHEN CAST(px.w * px.h AS BIGINT) * px.g > t.tg
        |                  THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
        |              AS BIGINT) AS phash
        |  FROM px JOIN t USING (doc_id)
        |  GROUP BY px.doc_id, px.w, px.h),
        |reps AS (
        |  SELECT w, h, phash, min(doc_id) AS rep,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY w, h, phash)
        |SELECT a.w AS width, a.h AS height,
        |       a.rep AS doc_a, c.rep AS doc_b,
        |       CAST(bit_count(CAST(xor(a.phash, c.phash) AS BIGINT))
        |            AS INTEGER) AS hamming,
        |       a.n AS n_a, c.n AS n_b
        |FROM reps a JOIN reps c
        |  ON a.w = c.w AND a.h = c.h AND a.rep < c.rep
        |WHERE bit_count(CAST(xor(a.phash, c.phash) AS BIGINT)) BETWEEN 1 AND 2
        |ORDER BY width, height, doc_a, doc_b""".stripMargin,
    "q192_image_downsample" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS h,
        |         CAST((4 + doc_id % 5 + 1) // 2 AS INTEGER) AS ow,
        |         CAST((3 + doc_id % 4 + 1) // 2 AS INTEGER) AS oh
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, ow, oh,
        |         (doc_id * 31 + 3 * ((2 * (i // ow)) * w + 2 * (i % ow))) % 256 AS r,
        |         (doc_id * 31 + 3 * ((2 * (i // ow)) * w + 2 * (i % ow)) + 1) % 256 AS g,
        |         (doc_id * 31 + 3 * ((2 * (i // ow)) * w + 2 * (i % ow)) + 2) % 256 AS b
        |  FROM d, unnest(range(0, ow * oh)) AS u(i)),
        |m AS (
        |  SELECT doc_id, ow, oh,
        |         avg(CAST(r AS DOUBLE)) AS mr,
        |         avg(CAST(g AS DOUBLE)) AS mg,
        |         avg(CAST(b AS DOUBLE)) AS mb
        |  FROM px GROUP BY doc_id, ow, oh)
        |SELECT doc_id,
        |       doc_id % 7 <> 0 AS valid,
        |       CASE WHEN doc_id % 7 <> 0 THEN ow ELSE 0 END AS out_w,
        |       CASE WHEN doc_id % 7 <> 0 THEN oh ELSE 0 END AS out_h,
        |       CASE WHEN doc_id % 7 <> 0 THEN round(mr, 4) ELSE 0.0 END AS mean_r,
        |       CASE WHEN doc_id % 7 <> 0 THEN round(mg, 4) ELSE 0.0 END AS mean_g,
        |       CASE WHEN doc_id % 7 <> 0 THEN round(mb, 4) ELSE 0.0 END AS mean_b
        |FROM m ORDER BY doc_id""".stripMargin,
    // q129's synthetic-sample arithmetic on the 25-sample frame grid,
    // per-frame RMS quantized at 6dp before count/max.
    // the full-funnel CTE composition: each stage is its gated
    // sibling's replay verbatim (q322 frames, q298 phash, q323
    // hamming pairs), so the hash match proves the COMPOSITION
    "q325_multimodal_funnel" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |s1 AS (SELECT doc_id FROM ids WHERE doc_id % 7 <> 0),
        |d AS (SELECT doc_id, CAST(50 + doc_id % 32 AS BIGINT) AS n FROM s1),
        |sam AS (
        |  SELECT doc_id, k // 10 AS f,
        |         (doc_id * 7 + k * 13) % 2001 - 1000 AS v
        |  FROM d, unnest(range(0, n)) AS u(k)
        |  WHERE k < (n // 10) * 10),
        |fr AS (
        |  SELECT doc_id, f,
        |         round(sqrt(CAST(sum(v * v) AS DOUBLE) / 10), 6) AS rms
        |  FROM sam GROUP BY doc_id, f),
        |s2 AS (SELECT DISTINCT doc_id FROM fr WHERE rms >= 550),
        |dd AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS h
        |  FROM s2),
        |px AS (
        |  SELECT doc_id, w, h, i,
        |         ( (doc_id * 31 + 3 * i) % 256
        |         + (doc_id * 31 + 3 * i + 1) % 256
        |         + (doc_id * 31 + 3 * i + 2) % 256) AS g
        |  FROM dd, unnest(range(0, w * h)) AS u(i)),
        |t AS (SELECT doc_id, sum(g) AS tg FROM px GROUP BY doc_id),
        |b AS (
        |  SELECT px.doc_id, px.w, px.h,
        |         CAST(sum(CASE WHEN CAST(px.w * px.h AS BIGINT) * px.g > t.tg
        |                  THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
        |              AS BIGINT) AS phash
        |  FROM px JOIN t USING (doc_id)
        |  GROUP BY px.doc_id, px.w, px.h),
        |s3 AS (SELECT w, h, phash, min(doc_id) AS doc_id
        |       FROM b GROUP BY w, h, phash),
        |drops AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM s3 a JOIN s3 c ON a.w = c.w AND a.h = c.h
        |                     AND a.doc_id < c.doc_id
        |  WHERE bit_count(CAST(xor(a.phash, c.phash) AS BIGINT))
        |        BETWEEN 1 AND 2),
        |s4 AS (SELECT doc_id FROM s3
        |       WHERE doc_id NOT IN (SELECT doc_id FROM drops))
        |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
        |  SELECT 's0_corpus' AS stage, count(*) AS n_docs FROM ids
        |  UNION ALL SELECT 's1_decodable', count(*) FROM s1
        |  UNION ALL SELECT 's2_audio_active', count(*) FROM s2
        |  UNION ALL SELECT 's3_image_exact_dedup', count(*) FROM s3
        |  UNION ALL SELECT 's4_image_near_dedup', count(*) FROM s4)
        |ORDER BY stage""".stripMargin,
    // q193's frame replay on the 10-sample grid + the trim aggregate;
    // valid clips only (corrupt payloads emit no frames)
    "q322_audio_silence_trim" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(50 + doc_id % 32 AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 7 <> 0),
        |s AS (
        |  SELECT doc_id, k // 10 AS f,
        |         (doc_id * 7 + k * 13) % 2001 - 1000 AS v
        |  FROM d, unnest(range(0, n)) AS u(k)
        |  WHERE k < (n // 10) * 10),
        |fr AS (
        |  SELECT doc_id, f,
        |         round(sqrt(CAST(sum(v * v) AS DOUBLE) / 10), 6) AS rms
        |  FROM s GROUP BY doc_id, f),
        |m AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |         CAST(sum(CASE WHEN rms >= 550 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_active,
        |         min(CASE WHEN rms >= 550 THEN f END) AS first_active,
        |         max(CASE WHEN rms >= 550 THEN f END) AS last_active
        |  FROM fr GROUP BY doc_id)
        |SELECT doc_id, n_frames, n_active, first_active, last_active,
        |       CASE WHEN n_active = 0 THEN n_frames
        |            ELSE n_frames - (last_active - first_active + 1)
        |       END AS trimmed_frames
        |FROM m ORDER BY doc_id""".stripMargin,
    "q193_audio_frames" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(50 + doc_id % 32 AS BIGINT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, k // 25 AS f,
        |         (doc_id * 7 + k * 13) % 2001 - 1000 AS v
        |  FROM d, unnest(range(0, n)) AS u(k)
        |  WHERE k < (n // 25) * 25),
        |fr AS (
        |  SELECT doc_id, f,
        |         round(sqrt(CAST(sum(v * v) AS DOUBLE) / 25), 6) AS rms
        |  FROM s GROUP BY doc_id, f),
        |m AS (
        |  SELECT doc_id, count(*) AS n_frames,
        |         CAST(sum(CASE WHEN rms < 300 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_silent,
        |         max(rms) AS max_rms
        |  FROM fr GROUP BY doc_id)
        |SELECT d.doc_id,
        |       d.doc_id % 7 <> 0 AS valid,
        |       CASE WHEN d.doc_id % 7 <> 0 THEN m.n_frames ELSE 0 END AS n_frames,
        |       CASE WHEN d.doc_id % 7 <> 0 THEN m.n_silent ELSE 0 END AS n_silent,
        |       CASE WHEN d.doc_id % 7 <> 0 THEN m.max_rms ELSE 0.0 END AS max_rms
        |FROM d JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,
    // same smoothed model, same quantized per-bigram terms; pairs
    // enumerated by the independent zipped-unnest construction.
    "q209_bigram_logprob" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pairs AS (
        |  SELECT doc_id, unnest(t[1:len(t) - 1]) AS x,
        |         unnest(t[2:len(t)]) AS y
        |  FROM d WHERE len(t) >= 2),
        |big AS (SELECT x, y, count(*) AS c_xy FROM pairs GROUP BY x, y),
        |uni AS (
        |  SELECT w, count(*) AS c_w
        |  FROM (SELECT unnest(t) AS w FROM d) GROUP BY w),
        |vs AS (SELECT count(*) AS v_size FROM uni)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(CAST(sum(CAST(round(
        |                 ln((c_xy + 1)::DOUBLE / (c_w + v_size)::DOUBLE), 10)
        |               AS DECIMAL(24,10))) AS DOUBLE)
        |             / count(*)::DOUBLE, 6) AS mean_lnp
        |FROM pairs
        |JOIN big USING (x, y)
        |JOIN uni ON uni.w = pairs.x
        |CROSS JOIN vs
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same counts, same exact integer products inside the ln; the
    // bigram explode zips two parallel unnests instead of Spark's
    // index transform — an independent enumeration of the same pairs.
    "q196_pmi" ->
      """WITH d AS (
        |  SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS n
        |  FROM (SELECT unnest(t) AS w FROM d) GROUP BY w),
        |bi AS (
        |  SELECT x, y, count(*) AS c_xy
        |  FROM (SELECT unnest(t[1:len(t) - 1]) AS x,
        |               unnest(t[2:len(t)]) AS y
        |        FROM d WHERE len(t) >= 2)
        |  GROUP BY x, y),
        |tot AS (
        |  SELECT (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS t_tokens,
        |         (SELECT CAST(sum(c_xy) AS BIGINT) FROM bi) AS b_total)
        |SELECT bi.x, bi.y, bi.c_xy,
        |       round(ln((bi.c_xy * t_tokens * t_tokens)::DOUBLE
        |                / (b_total * ux.n * uy.n)::DOUBLE), 6) AS pmi
        |FROM bi
        |JOIN uni ux ON ux.w = bi.x
        |JOIN uni uy ON uy.w = bi.y
        |CROSS JOIN tot
        |WHERE bi.c_xy >= 5
        |ORDER BY pmi DESC, x, y LIMIT 50""".stripMargin,
    // the INDEPENDENT relational formulation of the row-local fold:
    // unnest → per-(doc, token) counts → quantized-term sum.
    "q189_token_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, token, count(*) AS c
        |  FROM tok GROUP BY doc_id, token),
        |m AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         count(*) AS n_distinct,
        |         sum(CAST(round(c::DOUBLE * ln(c::DOUBLE), 10)
        |                  AS DECIMAL(28,10))) AS sum_clnc
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |       CASE WHEN n_tokens > 0
        |            THEN round(ln(n_tokens::DOUBLE)
        |                       - sum_clnc::DOUBLE / n_tokens::DOUBLE, 6)
        |            END AS entropy
        |FROM m ORDER BY doc_id""".stripMargin,
    "q48_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                    CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 80 AND b.vec_id < 80
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,
    // same marker-argmax heuristic, same tie-break (struct compare in
    // Spark orders ties to the alphabetically-LAST language code, so
    // the CASE chain tests fr, then es, then en, then de).
    "q49_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','los','una','es','por'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les','des','est','une','dans'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
        |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS detected
        |FROM s ORDER BY doc_id""".stripMargin,
    // word-frequency table first, then pairs weighted by count — the
    // same two-stage shape; list comprehension = the transform lambda.
    "q145_bpe_pair_step" ->
      """WITH wf AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE length(w) >= 2 GROUP BY w),
        |p AS (
        |  SELECT unnest([substr(w, i, 2) FOR i IN range(1, length(w))]) AS pair, c
        |  FROM wf)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
        |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    // same cluster chains, same shard-local ring, same canonical ids.
    "q183_contrastive_pairs" ->
      """WITH d AS (SELECT doc_id,
        |                  md5(array_to_string(list_sort(list_distinct(
        |                    string_split(text, ' '))), ' ')) AS ch
        |           FROM documents),
        |pos AS (
        |  SELECT doc_id AS id_a,
        |         lead(doc_id) OVER (PARTITION BY ch ORDER BY doc_id) AS id_b,
        |         1 AS label
        |  FROM d),
        |k AS (SELECT doc_id, ch,
        |             md5(CAST(doc_id AS VARCHAR) || ':29') AS rk
        |      FROM d),
        |r AS (
        |  SELECT doc_id, ch,
        |         lead(doc_id) OVER w AS nxt, lead(ch) OVER w AS nxt_ch
        |  FROM k
        |  WINDOW w AS (PARTITION BY substr(rk, 1, 2) ORDER BY rk, doc_id)),
        |neg AS (
        |  SELECT least(doc_id, nxt) AS id_a, greatest(doc_id, nxt) AS id_b,
        |         0 AS label
        |  FROM r WHERE nxt IS NOT NULL AND ch <> nxt_ch)
        |SELECT id_a, id_b, label FROM pos WHERE id_b IS NOT NULL
        |UNION ALL
        |SELECT id_a, id_b, label FROM neg
        |ORDER BY label, id_a, id_b""".stripMargin,
    // the same boundary rule replayed with list comprehensions.
    "q182_cdc_dedup" ->
      """WITH d AS (SELECT doc_id, text,
        |                  CAST(length(text) AS BIGINT) AS len
        |           FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, text, len,
        |        CASE WHEN len >= 16 THEN
        |          [CAST(i AS BIGINT) FOR i IN range(16, len + 1)
        |           IF substr(md5(substr(text, CAST(i - 15 AS INT), 16)), 1, 2)
        |              = '00']
        |        ELSE CAST([] AS BIGINT[]) END AS bounds
        |      FROM d),
        |c AS (SELECT doc_id, text,
        |        list_concat(list_concat(CAST([0] AS BIGINT[]), bounds),
        |                    [len]) AS cuts
        |      FROM b),
        |ch AS (SELECT doc_id,
        |         unnest([substr(text, CAST(cuts[j] + 1 AS INT),
        |                        CAST(cuts[j+1] - cuts[j] AS INT))
        |                 FOR j IN range(1, len(cuts))]) AS chunk
        |       FROM c),
        |agg AS (SELECT md5(chunk) AS h, count(*) AS n_copies,
        |               count(DISTINCT doc_id) AS n_docs,
        |               min(doc_id) AS first_doc,
        |               CAST(min(length(chunk)) AS INT) AS chunk_len
        |        FROM ch WHERE length(chunk) > 0 GROUP BY 1)
        |SELECT h, n_copies, n_docs, first_doc, chunk_len
        |FROM agg WHERE n_copies >= 2
        |ORDER BY first_doc, h""".stripMargin,
    // row-local position scan — independent of the posting-list join.
    "q172_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |h AS (SELECT doc_id,
        |             len([i FOR i IN range(1, len(toks))
        |                  IF toks[i] = 'part' AND toks[i+1] = 'filter'])
        |               AS n_hits
        |      FROM t)
        |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits
        |FROM h WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,
    // the NAIVE all-pairs formulation — independent of the prefix
    // filter, so a candidate lost to a wrong prefix length or a
    // non-canonical order hash-mismatches here.
    "q147_prefix_simjoin" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_distinct([array_to_string(toks[i:i+2], ' ')
        |                        FOR i IN range(1, len(toks)-1)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
        |  WHERE len(toks) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // same three RE2-safe counts, same IEEE expression trees: W from
    // string_split, S = max(1, [.!?]+ runs), Syl = vowel-group runs
    // + vowelless tokens (W − whole-token vowel-bearing matches)
    "q378_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |         greatest(CAST(1 AS BIGINT),
        |           CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |           AS s,
        |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |           AS BIGINT) AS vruns,
        |         CAST(len(regexp_extract_all(lower(text),
        |           '[^ ]*[aeiouy][^ ]*')) AS BIGINT) AS vtoks
        |  FROM documents),
        |k AS (SELECT doc_id, w, s, vruns + (w - vtoks) AS syl FROM c)
        |SELECT doc_id, w AS n_words, s AS n_sentences, syl AS n_syllables,
        |       round(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |             - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 4)
        |         AS ease,
        |       round(0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |             + 11.8 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))
        |             - 15.59, 4) AS grade
        |FROM k ORDER BY doc_id""".stripMargin,
    // same per-position hex slices (select / branch / random index),
    // the same in-doc random draw, string_agg reassembly
    "q390_mlm_mask" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' ') AS p FROM documents),
        |idx AS (
        |  SELECT doc_id, p, unnest(range(len(p))) AS i FROM parts),
        |dec AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, p[i + 1] AS orig,
        |         CAST(len(p) AS BIGINT) AS n,
        |         CAST(('0x' || substr(md5('mlm:' || doc_id || ':' || i), 1, 4))
        |              AS BIGINT) % 100 < 15 AS sel,
        |         CAST(('0x' || substr(md5('mlm:' || doc_id || ':' || i), 5, 4))
        |              AS BIGINT) % 10 AS br,
        |         p[CAST(CAST(('0x' || substr(md5('mlm:' || doc_id || ':' || i), 9, 6))
        |                     AS BIGINT) % len(p) + 1 AS BIGINT)] AS rnd
        |  FROM idx),
        |pieces AS (
        |  SELECT doc_id, pos, orig, sel, n,
        |         CASE WHEN sel THEN br END AS brs,
        |         CASE WHEN NOT sel THEN orig
        |              WHEN br < 8 THEN '[MASK]'
        |              WHEN br = 8 THEN rnd
        |              ELSE orig END AS outp
        |  FROM dec)
        |SELECT doc_id, max(n) AS n_tokens,
        |       CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_masked,
        |       CAST(sum(CASE WHEN brs < 8 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_sentinel,
        |       CAST(sum(CASE WHEN brs = 8 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_random,
        |       CAST(sum(CASE WHEN brs = 9 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept,
        |       string_agg(outp, ' ' ORDER BY pos) AS masked_text,
        |       coalesce(string_agg(CASE WHEN sel
        |           THEN pos || ':' || orig END, ' ' ORDER BY pos), '')
        |         AS labels
        |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same two coins, same sorted cuts, explicit || concat (NOT
    // concat_ws — DuckDB's drops empty strings, Spark's keeps them)
    "q391_fim" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' ') AS p,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |cuts AS (
        |  SELECT doc_id, p, n,
        |         CAST(('0x' || substr(md5('fim:' || doc_id || ':1'), 1, 8))
        |              AS BIGINT) % (n + 1) AS a,
        |         CAST(('0x' || substr(md5('fim:' || doc_id || ':2'), 1, 8))
        |              AS BIGINT) % (n + 1) AS b
        |  FROM parts)
        |SELECT doc_id, n AS n_tokens,
        |       least(a, b) AS cut1, greatest(a, b) AS cut2,
        |       '<PRE> ' ||
        |         coalesce(array_to_string(p[1 : CAST(least(a, b) AS INT)],
        |                                  ' '), '') ||
        |       ' <SUF> ' ||
        |         coalesce(array_to_string(p[CAST(greatest(a, b) + 1 AS INT) :
        |                                     CAST(n AS INT)], ' '), '') ||
        |       ' <MID> ' ||
        |         coalesce(array_to_string(p[CAST(least(a, b) + 1 AS INT) :
        |                                     CAST(greatest(a, b) AS INT)],
        |                                  ' '), '')
        |         AS fim_text
        |FROM cuts ORDER BY doc_id""".stripMargin,

    // same bigram graph, q163's 3-superstep integer-pageRank unroll,
    // same (pr_fp DESC, node) total-order cut
    "q383_textrank" ->
      """WITH parts AS (
        |  SELECT string_split(text, ' ') AS p FROM documents),
        |idx AS (
        |  SELECT p, unnest(range(len(p) - 1)) AS i FROM parts
        |  WHERE len(p) >= 2),
        |pr0 AS (
        |  SELECT DISTINCT p[i + 1] AS w1, p[i + 2] AS w2 FROM idx
        |  WHERE p[i + 1] <> p[i + 2]),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT w1 AS src, w2 AS dst FROM pr0
        |    UNION ALL SELECT w2, w1 FROM pr0)),
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
        |FROM r3 ORDER BY pr_fp DESC, node LIMIT 20""".stripMargin,

    // same md5 coin (16-bit hex-parse % 20), same 3-token mask
    // extension / run-start lag / running sentinel number over one
    // (doc, pos) window stack, ordered reassembly via string_agg
    "q380_span_corruption" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' ') AS p FROM documents),
        |idx AS (
        |  SELECT doc_id, p, unnest(range(len(p))) AS i FROM parts),
        |toks AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, p[i + 1] AS tok
        |  FROM idx),
        |flags AS (
        |  SELECT doc_id, pos, tok,
        |         CASE WHEN CAST(('0x' || substr(md5('sc:' || doc_id || ':' || pos), 1, 4))
        |                    AS BIGINT) % 20 = 0 THEN 1 ELSE 0 END AS start
        |  FROM toks),
        |m AS (
        |  SELECT doc_id, pos, tok,
        |         max(start) OVER (PARTITION BY doc_id ORDER BY pos
        |                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |           AS masked
        |  FROM flags),
        |rs AS (
        |  SELECT doc_id, pos, tok, masked,
        |         CASE WHEN masked = 1 AND
        |                   coalesce(lag(masked) OVER (PARTITION BY doc_id
        |                     ORDER BY pos), 0) = 0
        |              THEN 1 ELSE 0 END AS run_start
        |  FROM m),
        |sids AS (
        |  SELECT doc_id, pos, tok, masked, run_start,
        |         sum(run_start) OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS sid
        |  FROM rs),
        |pieces AS (
        |  SELECT doc_id, pos, masked, run_start,
        |         CASE WHEN masked = 0 THEN tok
        |              WHEN run_start = 1
        |                THEN '<extra_id_' || (sid - 1) || '>' END AS in_piece,
        |         CASE WHEN run_start = 1
        |                THEN '<extra_id_' || (sid - 1) || '> ' || tok
        |              WHEN masked = 1 THEN tok END AS tgt_piece
        |  FROM sids)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(masked) AS BIGINT) AS n_masked,
        |       CAST(sum(run_start) AS BIGINT) AS n_spans,
        |       coalesce(string_agg(in_piece, ' ' ORDER BY pos), '')
        |         AS input_text,
        |       coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '')
        |         AS target_text
        |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same template coin, same 4-template bank; the longest-word
    // argmax replays as ORDER BY (length DESC, tok DESC) LIMIT 1 —
    // the documented tie-break (Spark struct-max ≡ this order)
    "q392_instruction_pairs" ->
      """WITH parts AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS p
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, p,
        |         CAST(('0x' || substr(md5('sft:' || doc_id), 1, 4))
        |           AS BIGINT) % 4 AS coin
        |  FROM parts),
        |lw AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, tok,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY length(tok) DESC, tok DESC) AS rn
        |    FROM (SELECT doc_id, unnest(p) AS tok FROM parts))
        |  WHERE rn = 1)
        |SELECT c.doc_id,
        |       CASE coin WHEN 0 THEN 'head12' WHEN 1 THEN 'word_count'
        |            WHEN 2 THEN 'longest_word'
        |            ELSE 'first_last' END AS template,
        |       (CASE coin
        |          WHEN 0 THEN 'Repeat the first 12 words of the passage below.'
        |          WHEN 1 THEN 'How many words does the passage below contain?'
        |          WHEN 2 THEN 'What is the longest word in the passage below? Break length ties toward the alphabetically last word.'
        |          ELSE 'Give the first and the last word of the passage below.'
        |        END || chr(10) || text) AS instruction,
        |       CASE coin
        |         WHEN 0 THEN array_to_string(p[1:12], ' ')
        |         WHEN 1 THEN CAST(len(p) AS VARCHAR)
        |         WHEN 2 THEN lw.tok
        |         ELSE p[1] || ' ' || p[-1] END AS response
        |FROM c JOIN lw USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the q380 pipeline twice (R: denom 20 / 2-PRECEDING window, X:
    // denom 8 / 3-PRECEDING) on coin-disjoint doc subsets + the
    // row-local S PrefixLM cut; empty list slices coalesce (the
    // q391 lesson: DuckDB renders them NULL, Spark '')
    "q393_denoiser_mix" ->
      """WITH routed AS (
        |  SELECT doc_id, text,
        |         CAST(('0x' || substr(md5('ul2:' || doc_id), 1, 4))
        |           AS BIGINT) % 100 AS coin
        |  FROM documents),
        |rtoks AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, p[i + 1] AS tok
        |  FROM (SELECT doc_id, p, unnest(range(len(p))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS p
        |              FROM routed WHERE coin < 50))),
        |rflags AS (
        |  SELECT doc_id, pos, tok,
        |         CASE WHEN CAST(('0x' || substr(md5('ul2:r:' || doc_id
        |                    || ':' || pos), 1, 4)) AS BIGINT) % 20 = 0
        |              THEN 1 ELSE 0 END AS start
        |  FROM rtoks),
        |rm AS (
        |  SELECT doc_id, pos, tok,
        |         max(start) OVER (PARTITION BY doc_id ORDER BY pos
        |                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |           AS masked
        |  FROM rflags),
        |rrs AS (
        |  SELECT doc_id, pos, tok, masked,
        |         CASE WHEN masked = 1 AND
        |                   coalesce(lag(masked) OVER (PARTITION BY doc_id
        |                     ORDER BY pos), 0) = 0
        |              THEN 1 ELSE 0 END AS run_start
        |  FROM rm),
        |rsids AS (
        |  SELECT doc_id, pos, tok, masked, run_start,
        |         sum(run_start) OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS sid
        |  FROM rrs),
        |rpieces AS (
        |  SELECT doc_id, pos, masked, run_start,
        |         CASE WHEN masked = 0 THEN tok
        |              WHEN run_start = 1
        |                THEN '<extra_id_' || (sid - 1) || '>' END AS in_piece,
        |         CASE WHEN run_start = 1
        |                THEN '<extra_id_' || (sid - 1) || '> ' || tok
        |              WHEN masked = 1 THEN tok END AS tgt_piece
        |  FROM rsids),
        |rbranch AS (
        |  SELECT doc_id, 'R' AS objective,
        |         CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(masked) AS BIGINT) AS n_masked,
        |         CAST(sum(run_start) AS BIGINT) AS n_spans,
        |         coalesce(string_agg(in_piece, ' ' ORDER BY pos), '')
        |           AS input_text,
        |         coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '')
        |           AS target_text
        |  FROM rpieces GROUP BY doc_id),
        |xtoks AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, p[i + 1] AS tok
        |  FROM (SELECT doc_id, p, unnest(range(len(p))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS p
        |              FROM routed WHERE coin >= 75))),
        |xflags AS (
        |  SELECT doc_id, pos, tok,
        |         CASE WHEN CAST(('0x' || substr(md5('ul2:x:' || doc_id
        |                    || ':' || pos), 1, 4)) AS BIGINT) % 8 = 0
        |              THEN 1 ELSE 0 END AS start
        |  FROM xtoks),
        |xm AS (
        |  SELECT doc_id, pos, tok,
        |         max(start) OVER (PARTITION BY doc_id ORDER BY pos
        |                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |           AS masked
        |  FROM xflags),
        |xrs AS (
        |  SELECT doc_id, pos, tok, masked,
        |         CASE WHEN masked = 1 AND
        |                   coalesce(lag(masked) OVER (PARTITION BY doc_id
        |                     ORDER BY pos), 0) = 0
        |              THEN 1 ELSE 0 END AS run_start
        |  FROM xm),
        |xsids AS (
        |  SELECT doc_id, pos, tok, masked, run_start,
        |         sum(run_start) OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS sid
        |  FROM xrs),
        |xpieces AS (
        |  SELECT doc_id, pos, masked, run_start,
        |         CASE WHEN masked = 0 THEN tok
        |              WHEN run_start = 1
        |                THEN '<extra_id_' || (sid - 1) || '>' END AS in_piece,
        |         CASE WHEN run_start = 1
        |                THEN '<extra_id_' || (sid - 1) || '> ' || tok
        |              WHEN masked = 1 THEN tok END AS tgt_piece
        |  FROM xsids),
        |xbranch AS (
        |  SELECT doc_id, 'X' AS objective,
        |         CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(masked) AS BIGINT) AS n_masked,
        |         CAST(sum(run_start) AS BIGINT) AS n_spans,
        |         coalesce(string_agg(in_piece, ' ' ORDER BY pos), '')
        |           AS input_text,
        |         coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '')
        |           AS target_text
        |  FROM xpieces GROUP BY doc_id),
        |scut AS (
        |  SELECT doc_id, p, len(p) AS nn,
        |         CASE WHEN len(p) >= 2
        |              THEN CAST(('0x' || substr(md5('ul2:s:' || doc_id),
        |                     1, 6)) AS BIGINT) % (len(p) - 1) + 1
        |              ELSE 1 END AS cut
        |  FROM (SELECT doc_id, string_split(text, ' ') AS p
        |        FROM routed WHERE coin >= 50 AND coin < 75)),
        |sbranch AS (
        |  SELECT doc_id, 'S' AS objective,
        |         CAST(nn AS BIGINT) AS n_tokens,
        |         CAST(nn - cut AS BIGINT) AS n_masked,
        |         CAST(CASE WHEN nn > cut THEN 1 ELSE 0 END AS BIGINT)
        |           AS n_spans,
        |         coalesce(array_to_string(list_slice(p, 1, cut), ' '), '')
        |           AS input_text,
        |         coalesce(array_to_string(list_slice(p, cut + 1, nn), ' '), '')
        |           AS target_text
        |  FROM scut)
        |SELECT * FROM rbranch
        |UNION ALL SELECT * FROM xbranch
        |UNION ALL SELECT * FROM sbranch
        |ORDER BY doc_id""".stripMargin,
    // q392's oracle CTEs verbatim (chosen = its response), then the
    // corruption coin + the applied-corruption CASE; ⌈n/2⌉ is
    // (len+1)//2 both engines (Spark truncates the positive double)
    "q394_dpo_pairs" ->
      """WITH parts AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS p
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, p,
        |         CAST(('0x' || substr(md5('sft:' || doc_id), 1, 4))
        |           AS BIGINT) % 4 AS coin
        |  FROM parts),
        |lw AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, tok,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY length(tok) DESC, tok DESC) AS rn
        |    FROM (SELECT doc_id, unnest(p) AS tok FROM parts))
        |  WHERE rn = 1),
        |base AS (
        |  SELECT c.doc_id,
        |       CASE coin WHEN 0 THEN 'head12' WHEN 1 THEN 'word_count'
        |            WHEN 2 THEN 'longest_word'
        |            ELSE 'first_last' END AS template,
        |       (CASE coin
        |          WHEN 0 THEN 'Repeat the first 12 words of the passage below.'
        |          WHEN 1 THEN 'How many words does the passage below contain?'
        |          WHEN 2 THEN 'What is the longest word in the passage below? Break length ties toward the alphabetically last word.'
        |          ELSE 'Give the first and the last word of the passage below.'
        |        END || chr(10) || text) AS instruction,
        |       CASE coin
        |         WHEN 0 THEN array_to_string(p[1:12], ' ')
        |         WHEN 1 THEN CAST(len(p) AS VARCHAR)
        |         WHEN 2 THEN lw.tok
        |         ELSE p[1] || ' ' || p[-1] END AS chosen
        |  FROM c JOIN lw USING (doc_id)),
        |x AS (
        |  SELECT doc_id, template, instruction, chosen,
        |         string_split(chosen, ' ') AS ct,
        |         CAST(('0x' || substr(md5('dpo:' || doc_id), 1, 4))
        |           AS BIGINT) % 3 AS k
        |  FROM base),
        |y AS (
        |  SELECT doc_id, template, instruction, chosen, ct,
        |         CASE WHEN k = 1 AND upper(chosen) <> chosen
        |                THEN 'uppercase'
        |              WHEN k = 2 AND len(ct) >= 2 THEN 'head_half'
        |              ELSE 'repeat_first' END AS corruption
        |  FROM x)
        |SELECT doc_id, template, instruction, chosen,
        |       CASE corruption WHEN 'uppercase' THEN upper(chosen)
        |            WHEN 'head_half'
        |              THEN array_to_string(ct[1:(len(ct) + 1) // 2], ' ')
        |            ELSE chosen || ' ' || ct[1] END AS rejected,
        |       corruption
        |FROM y ORDER BY doc_id""".stripMargin,
    // q80's assignment CTE (row_number ≡ max_by's (score, -cell)
    // tie-break), the cell self-join, the sub-threshold filter on the
    // RAW dot, per-anchor row_number, rounding once on output
    "q395_hard_negatives" ->
      """WITH cents AS (
        |  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |assigned AS (
        |  SELECT vec_id, v, cell_id FROM (
        |    SELECT c.vec_id, c.v, ct.cell_id,
        |           row_number() OVER (PARTITION BY c.vec_id
        |             ORDER BY list_dot_product(c.v, ct.cv) DESC,
        |                      ct.cell_id) AS rn
        |    FROM corpus c CROSS JOIN cents ct) WHERE rn = 1),
        |pairs AS (
        |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
        |         list_dot_product(a.v, b.v) AS s
        |  FROM assigned a JOIN assigned b USING (cell_id)
        |  WHERE a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT anchor_id, neg_id, s,
        |         row_number() OVER (PARTITION BY anchor_id
        |           ORDER BY s DESC, neg_id) AS rk
        |  FROM pairs WHERE s < 0.4)
        |SELECT anchor_id, neg_id, CAST(rk AS INT) AS "rank",
        |       round(s, 4) AS sim
        |FROM ranked WHERE rk <= 2
        |ORDER BY anchor_id, "rank"""".stripMargin,
    // independent formulation on RAW gram strings (no hashing) — a
    // hash-match additionally proves md5 collision-freedom on the
    // fixture gram population
    "q396_dup_ngram_rate" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' ') AS p FROM documents),
        |base AS (
        |  SELECT doc_id, p,
        |         CAST(greatest(len(p) - 7, 0) AS BIGINT) AS n_grams
        |  FROM parts),
        |grams AS (
        |  SELECT doc_id, array_to_string(p[i + 1:i + 8], ' ') AS g
        |  FROM (SELECT doc_id, p, unnest(range(len(p) - 7)) AS i
        |        FROM base WHERE n_grams >= 1)),
        |pg AS (
        |  SELECT g, doc_id, count(*) AS c FROM grams
        |  GROUP BY g, doc_id),
        |tg AS (
        |  SELECT g, doc_id, c, sum(c) OVER (PARTITION BY g) AS tot
        |  FROM pg),
        |dd AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN tot >= 2 THEN c ELSE 0 END)
        |           AS BIGINT) AS n_dup
        |  FROM tg GROUP BY doc_id)
        |SELECT b.doc_id, b.n_grams,
        |       CAST(coalesce(dd.n_dup, 0) AS BIGINT) AS n_dup,
        |       CASE WHEN b.n_grams >= 1
        |            THEN round(coalesce(dd.n_dup, 0) / b.n_grams, 4)
        |       END AS dup_frac
        |FROM base b LEFT JOIN dd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q50_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, sha256(text) AS content_hash, count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY doc_id""".stripMargin,
    "q83_normalized_dedup" ->
      """SELECT min(doc_id) AS doc_id,
        |       sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
        |       count(*) AS n_copies
        |FROM documents
        |GROUP BY 2 ORDER BY doc_id""".stripMargin,
    // same planted copies, same group hash, same split coin, same
    // membership checksum
    "q366_cluster_split" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, lang, '  ' || text || ' '
        |  FROM documents
        |  WHERE CAST(('0x' || substr(md5('dup:' || doc_id), 1, 4))
        |          AS BIGINT) % 7 = 0),
        |d AS (
        |  SELECT doc_id, lang,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS ghash
        |  FROM base),
        |sp AS (
        |  SELECT doc_id, lang, ghash,
        |         CASE WHEN coin <= 7 THEN 'train'
        |              WHEN coin = 8 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM (SELECT *,
        |          CAST(('0x' || substr(md5('split:' || ghash), 1, 4))
        |            AS BIGINT) % 10 AS coin
        |        FROM d))
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT ghash) AS BIGINT) AS n_groups,
        |       CAST(sum(CAST(('0x' || substr(md5('m:' || doc_id), 1, 8))
        |         AS BIGINT)) AS BIGINT) AS member_checksum
        |FROM sp GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q51_similarity_topk" ->
      """SELECT vec_id, round(raw_sim, 4) AS sim FROM (
        |  SELECT e.vec_id,
        |         list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                          CAST(q.embedding AS DOUBLE[])) AS raw_sim
        |  FROM embeddings e,
        |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY raw_sim DESC, e.vec_id LIMIT 20) t
        |ORDER BY sim DESC, vec_id""".stripMargin,
    "q71_ivf_topk" ->
      """SELECT vec_id, round(raw_sim, 4) AS sim FROM (
        |  SELECT e.vec_id,
        |         list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                          CAST(q.embedding AS DOUBLE[])) AS raw_sim
        |  FROM embeddings e,
        |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY raw_sim DESC, e.vec_id LIMIT 10) t
        |ORDER BY sim DESC, vec_id""".stripMargin,
    "q123_ivf_index_topk" ->
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |cents AS (
        |  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id <> 0),
        |assigned AS (
        |  SELECT vec_id, v, cell_id FROM (
        |    SELECT c.vec_id, c.v, ct.cell_id,
        |           row_number() OVER (PARTITION BY c.vec_id
        |             ORDER BY list_dot_product(c.v, ct.cv) DESC, ct.cell_id) AS rn
        |    FROM corpus c CROSS JOIN cents ct) WHERE rn = 1),
        |probes AS (
        |  SELECT cell_id FROM (
        |    SELECT ct.cell_id,
        |           row_number() OVER (
        |             ORDER BY list_dot_product(ct.cv, q.qv) DESC, ct.cell_id) AS rn
        |    FROM cents ct CROSS JOIN q) WHERE rn <= 2)
        |SELECT vec_id, round(raw_sim, 4) AS sim FROM (
        |  SELECT a.vec_id,
        |         list_dot_product(a.v, q.qv) AS raw_sim
        |  FROM assigned a
        |  JOIN probes p ON a.cell_id = p.cell_id
        |  CROSS JOIN q
        |  ORDER BY raw_sim DESC, a.vec_id LIMIT 10) t
        |ORDER BY sim DESC, vec_id""".stripMargin,
    "q80_kmeans_step" ->
      """WITH centroids AS (
        |  SELECT vec_id AS cell_id, embedding AS c_vec
        |  FROM embeddings WHERE vec_id < 8),
        |corpus AS (SELECT * FROM embeddings WHERE vec_id <> 0),
        |scored AS (
        |  SELECT c.vec_id, c.embedding, ct.cell_id,
        |         list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |                          CAST(ct.c_vec AS DOUBLE[])) AS s
        |  FROM corpus c CROSS JOIN centroids ct),
        |assigned AS (
        |  SELECT vec_id, embedding, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY s DESC, cell_id) AS rn
        |    FROM scored) WHERE rn = 1)
        |SELECT cell_id, CAST(i - 1 AS INT) AS pos,
        |       round(CAST(CAST(avg(CAST(embedding[i] AS DOUBLE)) AS FLOAT)
        |             AS DOUBLE), 4) + 0.0 AS mean_x
        |FROM assigned, range(1, 65) t(i)
        |GROUP BY cell_id, i
        |ORDER BY cell_id, pos""".stripMargin,
    // q121: q80's one step unrolled THREE times. Each iteration's
    // refined centroid elements are cast to FLOAT (exactly as the
    // Spark side does) before feeding the next round's dot products —
    // the quantization that keeps both engines' centroids bit-equal.
    // the same quantize → Gram → 3 max-norm power iterations, exact
    // integer arithmetic throughout (sums land in HUGEINT but stay
    // < 2^53, so the one double division per iteration is exact-input
    // IEEE and replays bit-identically)
    "q351_pca_power" ->
      """WITH x AS (
        |  SELECT vec_id, i - 1 AS i,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |           AS xi
        |  FROM embeddings, range(1, 65) t(i)),
        |m AS (SELECT a.i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS m
        |      FROM x a JOIN x b ON a.vec_id = b.vec_id
        |      GROUP BY a.i, b.i),
        |v0 AS (SELECT DISTINCT i AS j, CAST(1000 AS BIGINT) AS vj FROM m),
        |u1 AS (SELECT m.i, CAST(sum(m.m * v0.vj) AS BIGINT) AS u
        |       FROM m JOIN v0 ON m.j = v0.j GROUP BY m.i),
        |x1 AS (SELECT max(abs(u)) AS mx FROM u1),
        |v1 AS (SELECT i AS j, CAST(round(CAST(u AS DOUBLE) /
        |         CAST(mx AS DOUBLE) * 1000) AS BIGINT) AS vj
        |       FROM u1, x1),
        |u2 AS (SELECT m.i, CAST(sum(m.m * v1.vj) AS BIGINT) AS u
        |       FROM m JOIN v1 ON m.j = v1.j GROUP BY m.i),
        |x2 AS (SELECT max(abs(u)) AS mx FROM u2),
        |v2 AS (SELECT i AS j, CAST(round(CAST(u AS DOUBLE) /
        |         CAST(mx AS DOUBLE) * 1000) AS BIGINT) AS vj
        |       FROM u2, x2),
        |u3 AS (SELECT m.i, CAST(sum(m.m * v2.vj) AS BIGINT) AS u
        |       FROM m JOIN v2 ON m.j = v2.j GROUP BY m.i),
        |x3 AS (SELECT max(abs(u)) AS mx FROM u3),
        |v3 AS (SELECT i AS j, CAST(round(CAST(u AS DOUBLE) /
        |         CAST(mx AS DOUBLE) * 1000) AS BIGINT) AS vj
        |       FROM u3, x3)
        |SELECT CAST(v3.j AS BIGINT) AS pos, v3.vj AS loading_k,
        |       d.m AS second_moment
        |FROM v3 JOIN (SELECT i, m FROM m WHERE i = j) d ON d.i = v3.j
        |ORDER BY pos""".stripMargin,
    "q121_kmeans_build" ->
      """WITH c0 AS (
        |  SELECT vec_id AS cell_id, embedding AS c_vec
        |  FROM embeddings WHERE vec_id < 8),
        |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        |s1 AS (
        |  SELECT c.vec_id, c.embedding, ct.cell_id,
        |         list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |                          CAST(ct.c_vec AS DOUBLE[])) AS s
        |  FROM corpus c CROSS JOIN c0 ct),
        |a1 AS (
        |  SELECT vec_id, embedding, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY s DESC, cell_id) AS rn
        |    FROM s1) WHERE rn = 1),
        |c1 AS (
        |  SELECT cell_id, list(m ORDER BY i) AS c_vec FROM (
        |    SELECT cell_id, i, CAST(avg(CAST(embedding[i] AS DOUBLE)) AS FLOAT) AS m
        |    FROM a1, range(1, 65) t(i) GROUP BY cell_id, i)
        |  GROUP BY cell_id),
        |s2 AS (
        |  SELECT c.vec_id, c.embedding, ct.cell_id,
        |         list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |                          CAST(ct.c_vec AS DOUBLE[])) AS s
        |  FROM corpus c CROSS JOIN c1 ct),
        |a2 AS (
        |  SELECT vec_id, embedding, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY s DESC, cell_id) AS rn
        |    FROM s2) WHERE rn = 1),
        |c2 AS (
        |  SELECT cell_id, list(m ORDER BY i) AS c_vec FROM (
        |    SELECT cell_id, i, CAST(avg(CAST(embedding[i] AS DOUBLE)) AS FLOAT) AS m
        |    FROM a2, range(1, 65) t(i) GROUP BY cell_id, i)
        |  GROUP BY cell_id),
        |s3 AS (
        |  SELECT c.vec_id, c.embedding, ct.cell_id,
        |         list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |                          CAST(ct.c_vec AS DOUBLE[])) AS s
        |  FROM corpus c CROSS JOIN c2 ct),
        |a3 AS (
        |  SELECT vec_id, embedding, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY s DESC, cell_id) AS rn
        |    FROM s3) WHERE rn = 1)
        |SELECT cell_id, CAST(i - 1 AS INT) AS pos,
        |       round(CAST(CAST(avg(CAST(embedding[i] AS DOUBLE)) AS FLOAT)
        |             AS DOUBLE), 4) + 0.0 AS mean_x
        |FROM a3, range(1, 65) t(i)
        |GROUP BY cell_id, i
        |ORDER BY cell_id, pos""".stripMargin,
    "q52_multimodal" ->
      """SELECT doc_id, lang, source, n_chars, label,
        |       CAST(len(embedding) AS BIGINT) AS n_dims
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
    "q53_token_counts" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |       round(list_sum(list_transform(string_split(text, ' '),
        |               t -> CAST(len(t) AS DOUBLE)))
        |             / len(string_split(text, ' ')), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q54_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks
        |  WHERE doc_id < 30 GROUP BY doc_id, token),
        |dfreq AS (
        |  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.token,
        |       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf
        |FROM tf JOIN dfreq USING (token), n
        |ORDER BY doc_id, token""".stripMargin,
    "q55_text_quality" ->
      """SELECT doc_id,
        |       round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |             / len(string_split(text, ' ')), 4) AS type_token_ratio,
        |       round(CAST(len(list_filter(string_split(text, ' '),
        |               t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        |             / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |       round(
        |         (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
        |               THEN 0.5 ELSE 0.0 END)
        |         + least(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |                 / len(string_split(text, ' ')), 1.0) * 0.5, 4) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q56_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       round(avg(n_chars), 2) AS avg_chars,
        |       count(DISTINCT source) AS n_sources,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // same md5 gram keys, same min≠max cross-doc test, same
    // gaps-and-islands merge — replayed in DuckDB's window dialect.
    "q144_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 16),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         md5(array_to_string(t[i:i+15], ' ')) AS g
        |  FROM toks, unnest(range(1, len(t) - 14)) AS r(i)),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |           min(doc_id) OVER (PARTITION BY g) AS mn,
        |           max(doc_id) OVER (PARTITION BY g) AS mx
        |    FROM grams) WHERE mn <> mx),
        |flag AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER w IS NULL
        |                OR pos > lag(pos) OVER w + 16 THEN 1 ELSE 0 END AS f
        |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |isl AS (
        |  SELECT doc_id, pos, sum(f) OVER (PARTITION BY doc_id ORDER BY pos
        |                                   ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flag),
        |spans AS (
        |  SELECT doc_id, island, max(pos) - min(pos) + 16 AS span_tokens
        |  FROM isl GROUP BY doc_id, island)
        |SELECT doc_id, count(*) AS n_spans,
        |       CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q142_inverted_index" ->
      """WITH tf AS (
        |  SELECT term, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY term, doc_id)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
        |       array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM tf GROUP BY term ORDER BY term""".stripMargin,
    // the oracle mirrors the exact double expression tree (libm ln
    // parity, decimal-before-sum) — see the q140 scaladoc.
    "q140_bm25" ->
      """WITH dl AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN ('spark', 'join', 'window')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
        |SELECT doc_id,
        |       CAST(sum(CAST(
        |         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |           * (tf * 2.2)
        |           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |         AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        |FROM tf JOIN df USING (term) CROSS JOIN stats
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q265_hybrid_fusion" ->
      """WITH dl AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN ('spark', 'join', 'window')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |b AS (
        |  SELECT doc_id,
        |         CAST(sum(CAST(
        |           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |             * (tf * 2.2)
        |             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |           AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        |  FROM tf JOIN df USING (term) CROSS JOIN stats
        |  GROUP BY doc_id),
        |cand AS (
        |  SELECT b.doc_id, b.bm25,
        |         round(ln(d.n_chars::DOUBLE), 6) AS qual
        |  FROM b JOIN documents d ON b.doc_id = d.doc_id),
        |ext AS (
        |  SELECT min(bm25) AS bmin, max(bm25) AS bmax,
        |         min(qual) AS qmin, max(qual) AS qmax FROM cand)
        |SELECT doc_id, round(bm25, 6) AS bm25, qual,
        |       round(0.6 * (CASE WHEN bmax = bmin THEN 0.0
        |                    ELSE (bm25 - bmin) / (bmax - bmin) END)
        |           + 0.4 * (CASE WHEN qmax = qmin THEN 0.0
        |                    ELSE (qual - qmin) / (qmax - qmin) END), 6)
        |         AS hybrid
        |FROM cand CROSS JOIN ext
        |ORDER BY hybrid DESC, doc_id LIMIT 10""".stripMargin,
    "q266_dup_cluster_hist" ->
      """WITH sizes AS (
        |  SELECT md5(array_to_string(
        |           string_split(trim(regexp_replace(lower(text), '\s+', ' ',
        |                                            'g')), ' ')[1:5], ' '))
        |           AS h,
        |         count(*) AS cluster_size
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS n_total
        |        FROM sizes)
        |SELECT cluster_size, count(*) AS n_clusters,
        |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        |       round((cluster_size * count(*))::DOUBLE / n_total::DOUBLE, 6)
        |         AS frac_corpus
        |FROM sizes CROSS JOIN tot
        |GROUP BY cluster_size, n_total
        |ORDER BY cluster_size""".stripMargin,
    "q339_align_offset" ->
      """WITH k AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT k.doc_id, CAST(u.p AS BIGINT) AS pos,
        |         array_to_string(
        |           k.toks[CAST(u.p AS INTEGER) + 1:CAST(u.p AS INTEGER) + 5],
        |           ' ') AS gram
        |  FROM k, unnest(range(0, greatest(len(k.toks) - 4, 0))) AS u(p)),
        |rare AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 4),
        |votes AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.pos - b.pos AS delta, CAST(count(*) AS BIGINT) AS v
        |  FROM g a JOIN rare USING (gram) JOIN g b USING (gram)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3),
        |agg AS (SELECT doc_a, doc_b, max(v) AS mv,
        |               CAST(sum(v) AS BIGINT) AS n_match
        |        FROM votes GROUP BY 1, 2)
        |SELECT v.doc_a, v.doc_b, min(v.delta) AS best_shift,
        |       max(agg.mv) AS votes, max(agg.n_match) AS n_match
        |FROM votes v JOIN agg ON v.doc_a = agg.doc_a
        |  AND v.doc_b = agg.doc_b AND v.v = agg.mv
        |GROUP BY v.doc_a, v.doc_b
        |ORDER BY v.doc_a, v.doc_b""".stripMargin,
    "q274_containment_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         md5(array_to_string(
        |           string_split(trim(regexp_replace(lower(text), '\s+', ' ',
        |                                            'g')), ' ')[1:5], ' '))
        |           AS h,
        |         list_distinct(list_transform(
        |           range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2])) AS s
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |             / CAST(len(a.s) AS DOUBLE), 4) AS cont_ab,
        |       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |             / CAST(len(b.s) AS DOUBLE), 4) AS cont_ba,
        |       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
        |                    AS DOUBLE), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q291_langid_eval" ->
      """WITH t AS (
        |  SELECT lang, string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT lang,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','los','una','es','por'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les','des','est','une','dans'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de
        |  FROM t),
        |pred AS (
        |  SELECT lang,
        |    CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
        |         WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de
        |           THEN 'fr'
        |         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS detected
        |  FROM s),
        |pt AS (
        |  SELECT lang, count(*) AS n_actual,
        |         CAST(sum(CASE WHEN detected = lang THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_correct
        |  FROM pred GROUP BY lang),
        |pp AS (SELECT detected AS lang, count(*) AS n_predicted
        |       FROM pred GROUP BY detected)
        |SELECT pt.lang, pt.n_actual,
        |       CAST(coalesce(pp.n_predicted, 0) AS BIGINT) AS n_predicted,
        |       pt.n_correct,
        |       round(CASE WHEN pp.n_predicted IS NULL THEN 0.0
        |             ELSE n_correct::DOUBLE / pp.n_predicted::DOUBLE END, 6)
        |         AS prec,
        |       round(n_correct::DOUBLE / pt.n_actual::DOUBLE, 6) AS recall,
        |       round(CASE WHEN pp.n_predicted IS NULL
        |                    OR (n_correct::DOUBLE / pp.n_predicted::DOUBLE
        |                        + n_correct::DOUBLE / pt.n_actual::DOUBLE)
        |                       = 0.0 THEN 0.0
        |             ELSE 2.0 * (n_correct::DOUBLE / pp.n_predicted::DOUBLE)
        |                  * (n_correct::DOUBLE / pt.n_actual::DOUBLE)
        |                  / (n_correct::DOUBLE / pp.n_predicted::DOUBLE
        |                     + n_correct::DOUBLE / pt.n_actual::DOUBLE) END,
        |             6) AS f1
        |FROM pt LEFT JOIN pp USING (lang) ORDER BY lang""".stripMargin,
    "q288_centroid_classifier" ->
      """WITH pe AS (
        |  SELECT vec_id, label,
        |         generate_subscripts(embedding, 1) AS pos,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
        |              AS DECIMAL(12,6)) AS v
        |  FROM embeddings),
        |centroid AS (
        |  SELECT label AS clabel, pos,
        |         CAST(round(CAST(sum(v) AS DOUBLE)
        |                    / CAST(count(*) AS DOUBLE), 8)
        |              AS DECIMAL(18,8)) AS c
        |  FROM pe GROUP BY label, pos),
        |cn AS (
        |  SELECT clabel, sqrt(CAST(sum(c * c) AS DOUBLE)) AS cnorm
        |  FROM centroid GROUP BY clabel),
        |scores AS (
        |  SELECT s.vec_id, s.label, s.clabel,
        |         CAST(round(CAST(s.dot AS DOUBLE)
        |             / (sqrt(CAST(s.ss AS DOUBLE)) * cn.cnorm), 8)
        |           AS DECIMAL(18,8)) AS cos
        |  FROM (SELECT pe.vec_id, pe.label, ce.clabel,
        |               sum(pe.v * ce.c) AS dot, sum(pe.v * pe.v) AS ss
        |        FROM pe JOIN centroid ce ON pe.pos = ce.pos
        |        GROUP BY pe.vec_id, pe.label, ce.clabel) s
        |  JOIN cn ON s.clabel = cn.clabel),
        |pred AS (
        |  SELECT label,
        |         CAST(-((max(struct_pack(cos := cos, nl := -clabel))).nl)
        |              AS BIGINT) AS pred
        |  FROM scores GROUP BY vec_id, label),
        |pt AS (
        |  SELECT label, count(*) AS n_actual,
        |         CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_correct
        |  FROM pred GROUP BY label),
        |pp AS (SELECT pred AS label, count(*) AS n_predicted
        |       FROM pred GROUP BY pred)
        |SELECT CAST(pt.label AS BIGINT) AS label, pt.n_actual,
        |       CAST(coalesce(pp.n_predicted, 0) AS BIGINT) AS n_predicted,
        |       pt.n_correct,
        |       round(CASE WHEN pp.n_predicted IS NULL THEN 0.0
        |             ELSE n_correct::DOUBLE / pp.n_predicted::DOUBLE END, 6)
        |         AS prec,
        |       round(n_correct::DOUBLE / pt.n_actual::DOUBLE, 6) AS recall,
        |       round(CASE WHEN pp.n_predicted IS NULL
        |                    OR (n_correct::DOUBLE / pp.n_predicted::DOUBLE
        |                        + n_correct::DOUBLE / pt.n_actual::DOUBLE)
        |                       = 0.0 THEN 0.0
        |             ELSE 2.0 * (n_correct::DOUBLE / pp.n_predicted::DOUBLE)
        |                  * (n_correct::DOUBLE / pt.n_actual::DOUBLE)
        |                  / (n_correct::DOUBLE / pp.n_predicted::DOUBLE
        |                     + n_correct::DOUBLE / pt.n_actual::DOUBLE) END,
        |             6) AS f1
        |FROM pt LEFT JOIN pp USING (label) ORDER BY label""".stripMargin,
    "q284_threshold_curve" ->
      """WITH pairs AS (
        |  SELECT a.label,
        |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                      CAST(b.embedding AS DOUBLE[])),
        |               4) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id),
        |x AS (
        |  SELECT label, cos, unnest([0.99, 0.95, 0.9, 0.8]) AS threshold
        |  FROM pairs)
        |SELECT label, threshold, count(*) AS n_pairs,
        |       CAST(sum(CASE WHEN cos >= threshold THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_over,
        |       round(CAST(sum(CASE WHEN cos >= threshold THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |         AS frac_over
        |FROM x GROUP BY label, threshold
        |ORDER BY label, threshold""".stripMargin,
    "q285_embedding_drift" ->
      """WITH pe AS (
        |  SELECT vec_id, label,
        |         generate_subscripts(embedding, 1) AS pos,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
        |              AS DECIMAL(12,6)) AS v
        |  FROM embeddings),
        |centroid AS (
        |  SELECT label, pos,
        |         CAST(round(CAST(sum(v) AS DOUBLE)
        |                    / CAST(count(*) AS DOUBLE), 8)
        |              AS DECIMAL(18,8)) AS c
        |  FROM pe GROUP BY label, pos),
        |cn AS (
        |  SELECT label, sqrt(CAST(sum(c * c) AS DOUBLE)) AS cnorm
        |  FROM centroid GROUP BY label),
        |pv AS (
        |  SELECT pe.label, pe.vec_id,
        |         sqrt(CAST(sum(pe.v * pe.v) AS DOUBLE)) AS vnorm,
        |         CAST(sum(pe.v * c.c) AS DOUBLE) AS dot
        |  FROM pe JOIN centroid c ON pe.label = c.label AND pe.pos = c.pos
        |  GROUP BY pe.label, pe.vec_id),
        |q AS (
        |  SELECT pv.label,
        |         CAST(round(vnorm, 8) AS DECIMAL(18,8)) AS vnorm_q,
        |         CAST(round(dot / (vnorm * cn.cnorm), 8) AS DECIMAL(18,8))
        |           AS cos_q,
        |         cn.cnorm
        |  FROM pv JOIN cn ON pv.label = cn.label)
        |SELECT label, count(*) AS n_vecs,
        |       round(CAST(sum(vnorm_q) AS DOUBLE) / CAST(count(*) AS DOUBLE),
        |             6) AS mean_norm,
        |       round(any_value(cnorm), 6) AS centroid_norm,
        |       round(CAST(sum(cos_q) AS DOUBLE) / CAST(count(*) AS DOUBLE),
        |             6) AS cohesion
        |FROM q GROUP BY label ORDER BY label""".stripMargin,
    "q279_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS freq FROM toks GROUP BY tok)
        |  ORDER BY freq DESC, tok LIMIT 20)
        |SELECT lang, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_covered,
        |       round(CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |         AS coverage,
        |       round(CAST(count(*) - sum(CASE WHEN v.tok IS NOT NULL
        |                                      THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |         AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q275_template_fingerprint" ->
      """WITH sk AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(lower(text), '[0-9]+', '#',
        |                                       'g'), '[a-z]+', 'w', 'g')
        |           AS skel
        |  FROM documents)
        |SELECT md5(skel) AS fp, count(*) AS n_docs,
        |       CAST(min(doc_id) AS BIGINT) AS exemplar_doc,
        |       CAST(min(length(skel)) AS BIGINT) AS skel_len
        |FROM sk GROUP BY md5(skel)
        |ORDER BY n_docs DESC, fp LIMIT 10""".stripMargin,
    "q276_rake_keyphrases" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
        |         generate_subscripts(string_split(lower(text), ' '), 1)
        |           AS pos
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, tok, pos,
        |         CASE WHEN tok IN ('the','a','and','of','in','to')
        |              THEN 1 ELSE 0 END AS stop
        |  FROM toks),
        |seg AS (
        |  SELECT doc_id, tok, pos, stop,
        |         CAST(sum(stop) OVER (PARTITION BY doc_id ORDER BY pos)
        |              AS BIGINT) AS sid
        |  FROM f),
        |sw AS (SELECT doc_id, tok, pos, sid FROM seg WHERE stop = 0),
        |phrases AS (
        |  SELECT doc_id, sid, string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |         count(*) AS plen
        |  FROM sw GROUP BY doc_id, sid HAVING count(*) <= 8),
        |members AS (
        |  SELECT sw.doc_id, sw.sid, sw.tok, p.plen
        |  FROM sw JOIN phrases p USING (doc_id, sid)),
        |ws AS (
        |  SELECT tok,
        |         CAST(round(CAST(sum(plen) AS DOUBLE)
        |                    / CAST(count(*) AS DOUBLE), 6)
        |              AS DECIMAL(18,6)) AS wscore
        |  FROM members GROUP BY tok),
        |ps AS (
        |  SELECT m.doc_id, m.sid, sum(ws.wscore) AS pscore
        |  FROM members m JOIN ws USING (tok)
        |  GROUP BY m.doc_id, m.sid)
        |SELECT p.phrase, round(CAST(ps.pscore AS DOUBLE), 6) AS score,
        |       p.doc_id, CAST(p.plen AS BIGINT) AS plen
        |FROM ps JOIN phrases p USING (doc_id, sid)
        |ORDER BY score DESC, doc_id, phrase LIMIT 10""".stripMargin,
    "q267_length_buckets" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |  FROM documents),
        |b AS (
        |  SELECT CASE WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
        |              WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128
        |              WHEN len <= 256 THEN 256 ELSE 512 END AS bucket_cap,
        |         len
        |  FROM d)
        |SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
        |       count(*) AS n_docs,
        |       CAST(sum(len) AS BIGINT) AS n_tokens,
        |       CAST(bucket_cap * count(*) - sum(len) AS BIGINT) AS pad_tokens,
        |       round((bucket_cap * count(*) - sum(len))::DOUBLE
        |             / (bucket_cap * count(*))::DOUBLE, 6) AS waste_frac
        |FROM b GROUP BY bucket_cap ORDER BY bucket_cap""".stripMargin,
    "q57_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(len(string_split(text, ' ')), 1)),
        |           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS s
        |  FROM documents)
        |SELECT a.doc_id AS pair_id,
        |       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY pair_id""".stripMargin,
    // quality formula mirrors q55's oracle: 0.5 length-band bonus +
    // capped type-token ratio × 0.5.
    "q105_quality_deciles" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |         round(
        |           (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
        |                 THEN 0.5 ELSE 0.0 END)
        |           + least(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |                   / len(string_split(text, ' ')), 1.0) * 0.5, 4) AS quality
        |  FROM documents)
        |SELECT doc_id, lang, quality,
        |       ntile(10) OVER (PARTITION BY lang
        |                       ORDER BY quality DESC, doc_id) AS decile
        |FROM q ORDER BY doc_id""".stripMargin,
    // thresholds are fractionHex of the fractional weight parts:
    // 0.5 → 800000, 0.25 → 400000, 0.4 → 666666, 0.0 → 000000 (never
    // clears — md5 prefixes are ≥ '000000').
    "q103_upsample_mixture" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
        |                WHEN 'src2' THEN 0 ELSE 1 END
        |    + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 6) <
        |                CASE source WHEN 'src0' THEN '800000'
        |                            WHEN 'src1' THEN '400000'
        |                            WHEN 'src2' THEN '666666'
        |                            ELSE '000000' END
        |           THEN 1 ELSE 0 END AS n
        |  FROM documents)
        |SELECT doc_id, source, unnest(range(1, n + 1)) AS copy
        |FROM w WHERE n >= 1 ORDER BY doc_id, copy""".stripMargin,
    "q102_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
        |total AS (SELECT sum(c) AS t FROM counts)
        |SELECT doc_id,
        |       round(avg(ln(CAST(c AS DOUBLE) / t)), 4) AS avg_logprob,
        |       count(*) AS n_tokens
        |FROM toks JOIN counts USING (token), total
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // mirrors Multimodal.syntheticVideo's arithmetic exactly: the
    // scene term (f div 3)·97, the +f drift, the three channel bytes
    // per pixel, and the id % 11 truncation (quarantined whole on the
    // Spark side, filtered by the generation rule here — the q98
    // pattern: the parser DETECTS what the oracle replays)
    "q338_importance_weights" ->
      """WITH t AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sc AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |sn AS (SELECT source, sum(c) AS n FROM sc GROUP BY 1),
        |g AS (SELECT tok, sum(c) AS gc FROM sc GROUP BY 1),
        |gn AS (SELECT sum(gc) AS tn FROM g),
        |lr AS (
        |  SELECT sc.source, sc.tok,
        |         ln(CAST(g.gc AS DOUBLE) / gn.tn)
        |         - ln(CAST(sc.c AS DOUBLE) / sn.n) AS lr
        |  FROM sc JOIN sn USING (source) CROSS JOIN gn
        |  JOIN g USING (tok)),
        |d AS (
        |  SELECT t.doc_id, t.source,
        |         CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(CAST(round(lr.lr, 12) AS DECIMAL(20,12)))
        |              AS DOUBLE) / count(*) AS mlr
        |  FROM t JOIN lr ON t.source = lr.source AND t.tok = lr.tok
        |  GROUP BY 1, 2)
        |SELECT doc_id, source, n_tokens,
        |       round(mlr, 6) AS mean_log_ratio,
        |       round(exp(mlr), 6) AS weight
        |FROM d ORDER BY doc_id""".stripMargin,
    "q335_video_keyframes" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS h,
        |         4 + doc_id % 5 AS nf
        |  FROM documents WHERE doc_id % 11 <> 0),
        |fr AS (SELECT doc_id, w, h, CAST(f AS INTEGER) AS f
        |       FROM d, unnest(range(0, nf)) AS u(f)),
        |px AS (
        |  SELECT doc_id, w, h, f, p,
        |         ( (doc_id * 31 + (f // 3) * 97 + f + 3 * p) % 256
        |         + (doc_id * 31 + (f // 3) * 97 + f + 3 * p + 1) % 256
        |         + (doc_id * 31 + (f // 3) * 97 + f + 3 * p + 2) % 256) AS g
        |  FROM fr, unnest(range(0, w * h)) AS u(p)),
        |t AS (SELECT doc_id, f, sum(g) AS tg FROM px GROUP BY 1, 2),
        |b AS (
        |  SELECT px.doc_id, px.f,
        |         CAST(sum(CASE WHEN CAST(px.w * px.h AS BIGINT) * px.g > t.tg
        |                  THEN (CAST(1 AS BIGINT) << px.p) ELSE 0 END)
        |              AS BIGINT) AS ph
        |  FROM px JOIN t ON px.doc_id = t.doc_id AND px.f = t.f
        |  GROUP BY 1, 2),
        |hm AS (
        |  SELECT a.doc_id, a.f,
        |         CASE WHEN p.ph IS NULL THEN NULL
        |              ELSE bit_count(CAST(xor(a.ph, p.ph) AS BIGINT)) END AS ham
        |  FROM b a LEFT JOIN b p ON a.doc_id = p.doc_id AND a.f = p.f + 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(sum(CASE WHEN ham IS NULL OR ham > 4 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_keyframes,
        |       CAST(sum(CASE WHEN ham > 4 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_cuts,
        |       CAST(coalesce(max(CASE WHEN ham <= 4 THEN ham END), 0)
        |            AS BIGINT) AS max_drift
        |FROM hm GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q334_source_drift" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sc AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |g AS (SELECT tok, sum(c) AS gc FROM sc GROUP BY 1),
        |sn AS (SELECT source, sum(c) AS n FROM sc GROUP BY 1),
        |gn AS (SELECT sum(n) AS tn FROM sn),
        |grid AS (
        |  SELECT sn.source, g.tok, sn.n, coalesce(sc.c, 0) AS c,
        |         g.gc - coalesce(sc.c, 0) AS rc, gn.tn - sn.n AS rn
        |  FROM sn CROSS JOIN g CROSS JOIN gn
        |  LEFT JOIN sc ON sc.source = sn.source AND sc.tok = g.tok),
        |terms AS (
        |  SELECT source, tok, n, c,
        |         CAST(c AS DOUBLE) / n AS p, CAST(rc AS DOUBLE) / rn AS q
        |  FROM grid),
        |tq AS (
        |  SELECT source, tok, n, c,
        |         CAST(round(CASE WHEN p > 0
        |                         THEN p * ln(2 * p / (p + q)) ELSE 0 END +
        |                    CASE WHEN q > 0
        |                         THEN q * ln(2 * q / (p + q)) ELSE 0 END, 15)
        |              AS DECIMAL(18,15)) AS termq,
        |         round(abs(p - q), 12) AS shift
        |  FROM terms),
        |j AS (SELECT source, CAST(max(n) AS BIGINT) AS n_tokens,
        |             CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |               AS vocab,
        |             CAST(sum(termq) AS DOUBLE) / 2 AS jsd_raw,
        |             max(shift) AS ms
        |      FROM tq GROUP BY 1),
        |tt AS (SELECT tq.source, min(tq.tok) AS top_shift_token
        |       FROM tq JOIN j ON tq.source = j.source AND tq.shift = j.ms
        |       GROUP BY 1)
        |SELECT j.source, j.n_tokens, j.vocab, round(j.jsd_raw, 6) AS jsd,
        |       round(j.ms, 6) AS max_shift, tt.top_shift_token
        |FROM j JOIN tt ON j.source = tt.source ORDER BY j.source""".stripMargin,
    "q326_bigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(toks)),
        |                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        |  FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT bigram, count(*) AS cb FROM g GROUP BY bigram),
        |ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, count(*) AS cw
        |        FROM g GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT token) AS v
        |          FROM (SELECT unnest(string_split(text, ' ')) AS token
        |                FROM documents)),
        |sc AS (
        |  SELECT doc_id,
        |         round(avg(ln(CAST(cb + 1 AS DOUBLE) / (cw + v))), 4)
        |           AS avg_logprob,
        |         count(*) AS n_bigrams
        |  FROM g JOIN bc USING (bigram)
        |  JOIN ctx ON string_split(g.bigram, ' ')[1] = ctx.w1, vocab
        |  GROUP BY doc_id)
        |SELECT doc_id, avg_logprob, n_bigrams,
        |       round(exp(-avg_logprob), 4) AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q101_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |         list_transform(range(1, greatest(len(toks), 1)),
        |                        i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(list_max(list_transform(list_distinct(toks),
        |          u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
        |        / len(toks), 4) AS top_token_frac,
        |  round(CASE WHEN len(bigrams) > 0
        |        THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
        |                   / len(bigrams)
        |        ELSE 0.0 END, 4) AS dup_bigram_frac,
        |  round(CAST(list_max(list_transform(list_distinct(bigrams),
        |          u -> len(list_filter(bigrams, x -> x = u)))) AS DOUBLE)
        |        / len(bigrams), 4) AS top_bigram_frac
        |FROM b ORDER BY doc_id""".stripMargin,
    // trigram construction mirrors q57's bigram oracle pattern; the
    // range upper bound is len-1 so i+2 never indexes past the list.
    "q100_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i + 1] || ' ' ||
        |         string_split(text, ' ')[i + 2])) AS s
        |  FROM documents),
        |ev AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id, count(*) AS n_shared
        |FROM tr JOIN ev USING (gram)
        |GROUP BY tr.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q110_incremental_dedup" ->
      """WITH seen AS (SELECT * FROM documents WHERE doc_id < 250),
        |fresh AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000 AS doc_id, text FROM seen WHERE doc_id % 5 = 0)
        |SELECT f.doc_id FROM fresh f
        |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.text = f.text)
        |ORDER BY doc_id""".stripMargin,
    // recall eval: assignment/probe/top-k tie-breaks all mirror the
    // Spark side (score DESC, then lowest id/cell — q80's convention);
    // dots are double-accumulated in both engines, proven order-
    // compatible by q51/q71.
    "q117_ivf_recall" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 5),
        |cents AS (
        |  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id >= 5 AND vec_id < 13),
        |assigned AS (
        |  SELECT vec_id, v, cell_id FROM (
        |    SELECT c.vec_id, c.v, ct.cell_id,
        |           row_number() OVER (PARTITION BY c.vec_id
        |             ORDER BY list_dot_product(c.v, ct.cv) DESC, ct.cell_id) AS rn
        |    FROM corpus c CROSS JOIN cents ct) WHERE rn = 1),
        |brute AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, c.vec_id,
        |           row_number() OVER (PARTITION BY q.query_id
        |             ORDER BY list_dot_product(c.v, q.qv) DESC, c.vec_id) AS rn
        |    FROM corpus c CROSS JOIN q) WHERE rn <= 10),
        |probes AS (
        |  SELECT query_id, cell_id FROM (
        |    SELECT q.query_id, ct.cell_id,
        |           row_number() OVER (PARTITION BY q.query_id
        |             ORDER BY list_dot_product(ct.cv, q.qv) DESC, ct.cell_id) AS rn
        |    FROM cents ct CROSS JOIN q) WHERE rn <= 2),
        |ivf AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT p.query_id, a.vec_id,
        |           row_number() OVER (PARTITION BY p.query_id
        |             ORDER BY list_dot_product(a.v, q.qv) DESC, a.vec_id) AS rn
        |    FROM assigned a
        |    JOIN probes p ON a.cell_id = p.cell_id
        |    JOIN q ON q.query_id = p.query_id) WHERE rn <= 10)
        |SELECT b.query_id,
        |       CAST(count(i.vec_id) AS BIGINT) AS n_hits,
        |       CAST(count(i.vec_id) AS DOUBLE) / count(*) AS recall
        |FROM brute b
        |LEFT JOIN ivf i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
        |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
    "q329_dim_ablation" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 5),
        |lv AS (SELECT unnest([64, 32, 16, 8]) AS dims),
        |scored AS (
        |  SELECT lv.dims, q.query_id, c.vec_id,
        |         list_dot_product(c.v[1:lv.dims], q.qv[1:lv.dims]) AS sim
        |  FROM corpus c CROSS JOIN q CROSS JOIN lv),
        |top AS (
        |  SELECT dims, query_id, vec_id FROM (
        |    SELECT dims, query_id, vec_id,
        |           row_number() OVER (PARTITION BY dims, query_id
        |             ORDER BY sim DESC, vec_id) AS rn
        |    FROM scored) WHERE rn <= 10),
        |truth AS (SELECT query_id, vec_id FROM top WHERE dims = 64)
        |SELECT t.dims, t.query_id,
        |       CAST(count(tr.vec_id) AS BIGINT) AS n_hits,
        |       CAST(count(tr.vec_id) AS DOUBLE) / 10 AS recall
        |FROM top t LEFT JOIN truth tr
        |  ON t.query_id = tr.query_id AND t.vec_id = tr.vec_id
        |GROUP BY t.dims, t.query_id
        |ORDER BY t.dims, t.query_id""".stripMargin,
    // rate is rounded to 4 decimals BEFORE planned_tokens, mirroring
    // Sampling.mixturePlan exactly.
    // 16^13 = 2^52 = 4503599627370496: the 13-hex-char draw is exact
    // in doubles; key scaled x1000 before the round so the milli-key
    // keeps ~6 significant digits through the compare.
    "q132_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars,
        |         -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 13))
        |              AS BIGINT) + 0.5) / 4503599627370496.0)
        |         / CAST(n_chars AS DOUBLE) AS es_key
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, round(es_key * 1000, 6) AS es_key_m
        |FROM (SELECT * FROM k ORDER BY es_key, doc_id LIMIT 50) t
        |ORDER BY doc_id""".stripMargin,
    "q332_priority_sample" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice AS w,
        |         (CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |              CAST(l_linenumber AS VARCHAR) || ':13'), 1, 13))
        |              AS BIGINT) + 0.5) / 4503599627370496.0 AS u
        |  FROM lineitem),
        |p AS (SELECT *, w / u AS priority FROM li),
        |tail AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (ORDER BY priority DESC,
        |                l_orderkey, l_linenumber) AS rn
        |    FROM p) WHERE rn <= 101),
        |tau AS (SELECT coalesce(max(CASE WHEN rn = 101 THEN priority END),
        |                        0.0) AS tau FROM tail),
        |est AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sample,
        |         sum(CAST(round(greatest(w, tau), 6) AS DECIMAL(24,6))) AS est
        |  FROM tail, tau WHERE rn <= 100),
        |ex AS (SELECT sum(CAST(w AS DECIMAL(18,2))) AS ex FROM li)
        |SELECT n_sample, round(tau.tau, 4) AS tau,
        |       CAST(est AS DOUBLE) AS est_total,
        |       CAST(ex AS DOUBLE) AS exact_total,
        |       round(abs(CAST(est AS DOUBLE) - CAST(ex AS DOUBLE)) /
        |             CAST(ex AS DOUBLE), 6) AS rel_err
        |FROM est, tau, ex""".stripMargin,
    "q124_training_shuffle" ->
      """SELECT doc_id,
        |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 6))
        |            AS BIGINT) % 8 AS shard,
        |       substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 7, 26) AS shuffle_key
        |FROM documents ORDER BY doc_id""".stripMargin,
    // weight rounded to 6 BEFORE the rate, exactly as the Spark side
    // does — pow()'s last-ulp wiggle must not reach the rate math.
    "q125_temperature_mixture" ->
      """WITH agg AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM agg),
        |pa AS (
        |  SELECT a.*, a.n_tokens / t.total AS p_raw,
        |         pow(a.n_tokens / t.total, 0.3) AS pav
        |  FROM agg a, tot t),
        |z AS (SELECT sum(pav) AS zv FROM pa),
        |w AS (
        |  SELECT pa.*, round(pa.pav / z.zv, 6) AS weight FROM pa, z),
        |r AS (
        |  SELECT *, round(least(CAST(1.0 AS DOUBLE),
        |                        CAST(10000.0 AS DOUBLE) * weight / n_tokens),
        |                  4) AS rate
        |  FROM w)
        |SELECT source, n_docs, n_tokens, round(p_raw, 6) AS p, weight, rate,
        |       CAST(round(rate * n_tokens) AS BIGINT) AS planned_tokens
        |FROM r ORDER BY source""".stripMargin,
    "q111_mixture_plan" ->
      """WITH agg AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT *, CAST(CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.2
        |                             WHEN 'src2' THEN 0.1 ELSE 0.02 END
        |            AS DOUBLE) AS weight
        |  FROM agg),
        |r AS (
        |  SELECT *, round(least(CAST(1.0 AS DOUBLE),
        |                        CAST(10000.0 AS DOUBLE) * weight / n_tokens),
        |                  4) AS rate
        |  FROM w)
        |SELECT source, n_docs, n_tokens, weight, rate,
        |       CAST(round(rate * n_tokens) AS BIGINT) AS planned_tokens
        |FROM r ORDER BY source""".stripMargin,
    // segment construction mirrors Dedup.segmentDedup: 8-token slices,
    // winner = min (doc_id, seg_idx) per distinct segment via
    // row_number; docs whose every segment was seen earlier reconstruct
    // to '' (coalesce — string_agg over zero rows is NULL, Spark's
    // array_join over an empty array is '').
    "q106_segment_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |idx AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i
        |  FROM t),
        |segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |         array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') AS seg
        |  FROM idx),
        |rn AS (
        |  SELECT doc_id, seg_idx, seg,
        |         row_number() OVER (PARTITION BY seg
        |                            ORDER BY doc_id, seg_idx) AS r
        |  FROM segs)
        |SELECT doc_id, count(*) AS n_segments,
        |       CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
        |                  FILTER (WHERE r = 1), '') AS kept_text
        |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q107_shard_balance" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |       CAST((row_number() OVER (
        |               PARTITION BY lang, CAST(floor(n_tokens / 32.0) AS BIGINT)
        |               ORDER BY doc_id) - 1) % 8 AS BIGINT) AS shard
        |FROM d ORDER BY doc_id""".stripMargin,
    // trigram CTE shared with q100's oracle; grams are distinct per
    // doc, so count(*) per eval doc IS its distinct-gram count.
    "q108_eval_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i + 1] || ' ' ||
        |         string_split(text, ' ')[i + 2])) AS s
        |  FROM documents),
        |ev AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 50 = 0),
        |hits AS (
        |  SELECT DISTINCT tr.gram
        |  FROM (SELECT unnest(s) AS gram FROM sh WHERE doc_id % 50 <> 0) tr
        |  JOIN (SELECT DISTINCT gram FROM ev) e USING (gram))
        |SELECT ev.doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN hits.gram IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_contaminated,
        |       round(CAST(sum(CASE WHEN hits.gram IS NOT NULL THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 4) AS contamination_rate
        |FROM ev LEFT JOIN hits USING (gram)
        |GROUP BY ev.doc_id ORDER BY doc_id""".stripMargin,
    // centroid/assignment CTEs mirror q80's oracle (vec_id < 8 seed
    // the cells; ties to the lowest cell_id); the drop rule replays
    // semanticDedupKeep's greedy keep-lowest-id within each cell.
    "q109_semantic_dedup" ->
      """WITH centroids AS (
        |  SELECT vec_id AS cell_id, embedding AS c_vec
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, ct.cell_id,
        |         list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                          CAST(ct.c_vec AS DOUBLE[])) AS s
        |  FROM embeddings e CROSS JOIN centroids ct),
        |assigned AS (
        |  SELECT vec_id, embedding, cell_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY s DESC, cell_id) AS rn
        |    FROM scored) WHERE rn = 1),
        |drops AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assigned a JOIN assigned b
        |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.4)
        |SELECT a.vec_id, a.cell_id
        |FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id
        |WHERE d.vec_id IS NULL
        |ORDER BY a.vec_id""".stripMargin,
    "q59_regex_tokens" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_regex_tokens,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q78_pack_offsets" ->
      """SELECT doc_id, lang,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(sum(len(string_split(text, ' ')))
        |              OVER (PARTITION BY lang ORDER BY doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS BIGINT) AS start_offset,
        |       CAST(floor(coalesce(sum(len(string_split(text, ' ')))
        |              OVER (PARTITION BY lang ORDER BY doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) / 4096) AS BIGINT) AS seq_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q93_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567' ELSE '' END AS tt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(tt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(tt, '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS BIGINT) AS n_pii,
        |  md5(regexp_replace(regexp_replace(tt,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '[PHONE]', 'g')) AS redacted_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "q92_quantized_ann" ->
      """WITH t AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM t),
        |q AS (
        |  SELECT vec_id, e, scale,
        |         CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS DOUBLE))
        |              ELSE list_transform(e, x -> CAST(CAST(round(x / scale) AS INTEGER) AS DOUBLE)) END AS qv
        |  FROM s),
        |qq AS (SELECT scale AS q_scale, qv AS q_qv, e AS q_e FROM q WHERE vec_id = 0),
        |scored AS (
        |  SELECT q.vec_id, q.e,
        |         list_dot_product(q.qv, qq.q_qv) * q.scale * qq.q_scale AS approx
        |  FROM q, qq WHERE q.vec_id <> 0),
        |shortlist AS (
        |  SELECT vec_id, e FROM scored ORDER BY approx DESC, vec_id LIMIT 40),
        |rescored AS (
        |  SELECT sl.vec_id, list_dot_product(sl.e, qq.q_e) AS exact_dot
        |  FROM shortlist sl, qq),
        |topk AS (
        |  SELECT vec_id, round(exact_dot, 4) AS dot_sim
        |  FROM rescored ORDER BY exact_dot DESC, vec_id LIMIT 10)
        |SELECT vec_id, dot_sim FROM topk ORDER BY vec_id""".stripMargin,
    "q88_group_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    "q87_quantize_int8" ->
      """WITH t AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM t),
        |q AS (
        |  SELECT vec_id, e, scale,
        |         CASE WHEN scale = 0 THEN list_transform(e, x -> 0)
        |              ELSE list_transform(e, x -> CAST(round(x / scale) AS INTEGER)) END AS qv
        |  FROM s)
        |SELECT vec_id, scale,
        |       CAST(len(qv) AS BIGINT) AS n_dims,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       md5(array_to_string(qv, ',')) AS q_md5,
        |       list_max(list_transform(range(1, len(e) + 1), i -> abs(e[i] - qv[i] * scale))) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "q86_vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id, i AS pos, string_split(text, ' ')[i] AS token
        |  FROM documents, unnest(range(1, len(string_split(text, ' ')) + 1)) AS u(i)),
        |vocab AS (
        |  SELECT token, row_number() OVER (ORDER BY count(*) DESC, token ASC) AS token_id
        |  FROM tok GROUP BY token ORDER BY token_id LIMIT 16)
        |SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS token_id
        |FROM tok t LEFT JOIN vocab v ON t.token = v.token
        |ORDER BY doc_id, pos""".stripMargin,
    "q85_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n FROM documents),
        |c AS (
        |  SELECT doc_id, i AS chunk_id,
        |         least(64, n - i * 48) AS n_chunk_tokens,
        |         md5(array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ')) AS chunk_md5
        |  FROM t, unnest(range(0, CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT) + 1)) AS u(i))
        |SELECT doc_id, chunk_id, n_chunk_tokens, chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q82_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(coalesce(sum(len(string_split(text, ' ')))
        |                OVER (PARTITION BY lang ORDER BY doc_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |              0) AS BIGINT) AS start_offset
        |  FROM documents)
        |SELECT lang, CAST(floor(start_offset / 4096) AS BIGINT) AS seq_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |       md5(string_agg(text, ' ' ORDER BY doc_id)) AS content_md5
        |FROM t GROUP BY lang, CAST(floor(start_offset / 4096) AS BIGINT)
        |ORDER BY lang, seq_id""".stripMargin,
    "q79_curation" ->
      """WITH scored AS (
        |  SELECT doc_id, text, lang,
        |         round(
        |           (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
        |                 THEN 0.5 ELSE 0.0 END)
        |           + least(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |                   / len(string_split(text, ' ')), 1.0) * 0.5, 4) AS quality
        |  FROM documents),
        |gated AS (SELECT * FROM scored WHERE quality >= 0.7),
        |ranked AS (
        |  SELECT doc_id, lang, quality,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM gated)
        |SELECT doc_id, lang, quality FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "q76_hash_split" ->
      """SELECT CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
        |            ELSE 'eval' END AS split,
        |       count(*) AS n_docs, count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,
    // thresholds are floor(fraction * 16^6) as 6 lowercase hex digits,
    // mirroring Sampling.fractionHex: 0.5→800000, 0.2→333333,
    // 0.1→199999; the md5 input is key ":" seed with seed = 7.
    "q77_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 6) <
        |      CASE lang WHEN 'en' THEN '800000'
        |                WHEN 'es' THEN '333333' WHEN 'fr' THEN '333333'
        |                WHEN 'de' THEN '199999' WHEN 'zh' THEN '199999'
        |      END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // mirrors Multimodal.syntheticPpm's arithmetic exactly: w = 4+id%5,
    // h = 3+id%4, raster byte j = (id*31 + j) % 256 with channel c at
    // j = 3*pixel + c; id % 7 == 0 is planted-corrupt (truncated) ⇒
    // valid false with zeroed features. Integer sums are exact in both
    // engines, so the one double division (the mean) is bit-identical.
    "q94_ppm_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h,
        |         (doc_id * 31 + 3 * i) % 256 AS r,
        |         (doc_id * 31 + 3 * i + 1) % 256 AS g,
        |         (doc_id * 31 + 3 * i + 2) % 256 AS b
        |  FROM d, unnest(range(0, w * h)) AS u(i)),
        |m AS (
        |  SELECT doc_id, w, h,
        |         avg(CAST(r AS DOUBLE)) AS mr,
        |         avg(CAST(g AS DOUBLE)) AS mg,
        |         avg(CAST(b AS DOUBLE)) AS mb
        |  FROM px GROUP BY doc_id, w, h)
        |SELECT doc_id,
        |       doc_id % 7 <> 0 AS valid,
        |       CASE WHEN doc_id % 7 <> 0 THEN w ELSE 0 END AS width,
        |       CASE WHEN doc_id % 7 <> 0 THEN h ELSE 0 END AS height,
        |       CASE WHEN doc_id % 7 <> 0 THEN round(mr, 4) ELSE 0.0 END AS mean_r,
        |       CASE WHEN doc_id % 7 <> 0 THEN round(mg, 4) ELSE 0.0 END AS mean_g,
        |       CASE WHEN doc_id % 7 <> 0 THEN round(mb, 4) ELSE 0.0 END AS mean_b
        |FROM m ORDER BY doc_id""".stripMargin,
    // mirrors Multimodal.syntheticBmp's arithmetic: image-coordinate
    // pixel (x, y) channels (id·31 + 5x + 7y + c) mod 256 for c =
    // 0/1/2 = B/G/R; valid ⇔ id not divisible by 7 (truncated) nor 9
    // (32bpp-declared); top_down ⇔ id % 6 = 0 among the valid. The
    // oracle works in IMAGE coordinates — storage order (bottom-up vs
    // top-down, row padding) is the decoder's problem, which is
    // exactly what the row-order-sensitive top_row_gray gates.
    "q342_bmp_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, y,
        |         (doc_id * 31 + 5 * x + 7 * y) % 256 AS b,
        |         (doc_id * 31 + 5 * x + 7 * y + 1) % 256 AS g,
        |         (doc_id * 31 + 5 * x + 7 * y + 2) % 256 AS r
        |  FROM d, unnest(range(0, w)) AS u(x), unnest(range(0, h)) AS v(y)),
        |m AS (
        |  SELECT doc_id, w, h,
        |         avg(CAST(r AS DOUBLE)) AS mr,
        |         avg(CAST(g AS DOUBLE)) AS mg,
        |         avg(CAST(b AS DOUBLE)) AS mb,
        |         CAST(sum(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |              AS BIGINT) AS trg
        |  FROM px GROUP BY doc_id, w, h)
        |SELECT doc_id,
        |       (doc_id % 7 <> 0 AND doc_id % 9 <> 0) AS valid,
        |       CASE WHEN doc_id % 7 <> 0 AND doc_id % 9 <> 0
        |            THEN w ELSE 0 END AS width,
        |       CASE WHEN doc_id % 7 <> 0 AND doc_id % 9 <> 0
        |            THEN h ELSE 0 END AS height,
        |       (doc_id % 7 <> 0 AND doc_id % 9 <> 0 AND doc_id % 6 = 0)
        |         AS top_down,
        |       CASE WHEN doc_id % 7 <> 0 AND doc_id % 9 <> 0
        |            THEN round(mr, 4) ELSE 0.0 END AS mean_r,
        |       CASE WHEN doc_id % 7 <> 0 AND doc_id % 9 <> 0
        |            THEN round(mg, 4) ELSE 0.0 END AS mean_g,
        |       CASE WHEN doc_id % 7 <> 0 AND doc_id % 9 <> 0
        |            THEN round(mb, 4) ELSE 0.0 END AS mean_b,
        |       CASE WHEN doc_id % 7 <> 0 AND doc_id % 9 <> 0
        |            THEN trg ELSE 0 END AS top_row_gray
        |FROM m ORDER BY doc_id""".stripMargin,
    // mirrors Multimodal.syntheticWav's arithmetic: sample k =
    // (id·7 + k·13) % 2001 − 1000 over n = 50 + id%32 samples at
    // 8000 + (id%4)·4000 Hz; id % 7 == 0 is planted-corrupt
    // (truncated data chunk) ⇒ valid false with zeroed features.
    // Integer sums are exact and sqrt is IEEE-correctly-rounded, so
    // the doubles are bit-identical across engines.
    "q129_wav_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sr,
        |         CAST(50 + doc_id % 32 AS BIGINT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, sr, n,
        |         (doc_id * 7 + k * 13) % 2001 - 1000 AS v
        |  FROM d, unnest(range(0, n)) AS u(k)),
        |m AS (
        |  SELECT doc_id, sr, n,
        |         sum(v) AS sv, sum(v * v) AS svv
        |  FROM s GROUP BY doc_id, sr, n)
        |SELECT doc_id,
        |       doc_id % 7 <> 0 AS valid,
        |       CASE WHEN doc_id % 7 <> 0 THEN sr ELSE 0 END AS sample_rate,
        |       CASE WHEN doc_id % 7 <> 0 THEN n ELSE 0 END AS n_samples,
        |       CASE WHEN doc_id % 7 <> 0
        |            THEN round(CAST(sv AS DOUBLE) / n, 4) + 0.0
        |            ELSE 0.0 END AS mean,
        |       CASE WHEN doc_id % 7 <> 0
        |            THEN round(sqrt(CAST(svv AS DOUBLE) / n), 4) + 0.0
        |            ELSE 0.0 END AS rms
        |FROM m ORDER BY doc_id""".stripMargin,
    "q58_fingerprint" ->
      """SELECT doc_id,
        |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the same two-level reduce over DuckDB's list_dot_product —
    // raw-double max, decimal-quantized cross-token sum (q51's dot
    // parity precedent applied per query token).
    "q215_maxsim" ->
      """WITH d AS (
        |  SELECT vec_id // 8 AS doc_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 8),
        |q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |m AS (
        |  SELECT d.doc_id, q.q_id, max(list_dot_product(d.v, q.qv)) AS mx
        |  FROM d CROSS JOIN q GROUP BY d.doc_id, q.q_id)
        |SELECT doc_id,
        |       CAST(sum(CAST(round(mx, 4) AS DECIMAL(18,4))) AS DOUBLE)
        |         AS maxsim
        |FROM m GROUP BY doc_id
        |ORDER BY maxsim DESC, doc_id LIMIT 20""".stripMargin,
    // q57's trigram list idiom, anti-probe as NOT EXISTS.
    "q232_novelty" ->
      """WITH g AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(
        |           range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
        |           i -> string_split(text, ' ')[i] || ' '
        |                || string_split(text, ' ')[i + 1] || ' '
        |                || string_split(text, ' ')[i + 2]))) AS g
        |  FROM documents),
        |ref AS (
        |  SELECT DISTINCT g FROM g
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
        |cand AS (
        |  SELECT doc_id, g FROM g
        |  WHERE source NOT IN ('src0', 'src1', 'src2', 'src3', 'src4')),
        |nov AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |  FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.g = c.g)
        |  GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM cand GROUP BY doc_id)
        |SELECT t.doc_id, t.n_grams,
        |       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
        |       CAST((coalesce(n.n_novel, 0) * 1000000) // t.n_grams
        |            AS BIGINT) AS novelty_ppm
        |FROM tot t LEFT JOIN nov n USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
  )
}
