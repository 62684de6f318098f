package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for LLM training-data pipelines (SURVEY.md §2B):
  * tokenization, per-document counts, quality scoring, tf-idf,
  * language heuristics, fingerprinting.
  *
  * Scale design: per-document metrics (counts, ratios, fingerprints)
  * are computed ROW-LOCAL with array higher-order functions — zero
  * shuffles, full codegen. Only corpus-level statistics (document
  * frequency for tf-idf, language distribution) aggregate, and those
  * shuffle (token, count) pairs, never document text.
  */
object TextAnalysis {

  /** Whitespace tokenizer (the fixture corpus is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword-aware tokenizer: splits on word boundaries,
    * punctuation runs, and digit runs (a regex approximation of the
    * pre-tokenization step real BPE tokenizers apply). */
  def regexTokens(text: Column): Column = {
    val t = regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0))
    t
  }

  /** Token-ARRAY variants (`...Of`): every metric here is also exposed
    * over a pre-tokenized column so a query computing several metrics
    * tokenizes ONCE in its own projection. The text-column forms below
    * inline `tokens(text)` per reference, and higher-order-function
    * lambdas get no cross-expression CSE — q55 computes 5 metrics, so
    * the inlined form re-splits every document ~8×. A multi-referenced
    * non-cheap alias is not collapsed into its consumer (see
    * Dedup.shingles' scaladoc and q57), so the materialized projection
    * is safe. */
  def tokenCountOf(toks: Column): Column = size(toks).cast("long")

  def distinctTokenCountOf(toks: Column): Column =
    size(array_distinct(toks)).cast("long")

  /** Mean token length — row-local aggregate over the token array,
    * accumulated in Double. */
  def avgTokenLenOf(toks: Column): Column =
    aggregate(toks, lit(0.0), (acc, t) => acc + length(t)) / size(toks)

  /** Fraction of tokens that appear in `stopwords` (quality signal:
    * natural text has a stable stopword ratio; keyboard mash has ~0). */
  def stopwordRatioOf(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(stopwords)))
      .cast("double") / size(toks)

  /** Type-token ratio (lexical diversity; near-0 = highly repetitive). */
  def typeTokenRatioOf(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Composite quality score in [0,1]: length band + lexical diversity.
    * Deliberately simple and fully deterministic — the point is a
    * row-local, codegen'd scoring pipeline, not linguistic accuracy. */
  def qualityScoreOf(toks: Column): Column = {
    val lenOk = when(tokenCountOf(toks).between(20, 1000), lit(0.5)).otherwise(lit(0.0))
    val diversity = least(typeTokenRatioOf(toks), lit(1.0)) * 0.5
    lenOk + diversity
  }

  def tokenCount(text: Column): Column = tokenCountOf(tokens(text))

  def distinctTokenCount(text: Column): Column =
    distinctTokenCountOf(tokens(text))

  def avgTokenLen(text: Column): Column = avgTokenLenOf(tokens(text))

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordRatioOf(tokens(text), stopwords)

  def typeTokenRatio(text: Column): Column = typeTokenRatioOf(tokens(text))

  def qualityScore(text: Column): Column = qualityScoreOf(tokens(text))

  /** RAW (non-distinct) adjacent bigrams — repetition signals need the
    * multiplicity `Dedup.shingles` deliberately removes. Empty array
    * below 2 tokens. Row-local. */
  def rawBigramsOf(toks: Column): Column = {
    val grams = transform(sequence(lit(0), size(toks) - 2), i =>
      concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2)))
    when(size(toks) >= 2, grams).otherwise(array().cast("array<string>"))
  }

  /** Mode frequency as a fraction: count of the most frequent element
    * over the element count (null on empty input). The classic
    * repetition-filter signal — boilerplate and degenerate generations
    * have one token/bigram dominating the document. Row-local sort +
    * single fold: the mode count IS the longest equal-adjacent run of
    * the sorted array, so this is O(n log n) per row instead of the
    * naive O(distinct · n) nested-lambda scan (which measured 3×
    * slower at sf0.1 — interpreted HOF lambdas pay per invocation).
    * Documents are bounded-length (chunking upstream enforces it), so
    * row-local beats shuffling (doc, token, count) triples for a
    * corpus-wide pass; for unbounded docs the explode + window form
    * is the fallback. */
  def topElementFractionOf(arr: Column): Column = {
    val best = aggregate(
      array_sort(arr),
      struct(lit(null).cast("string").as("prev"),
        lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(arr) > 0, best.cast("double") / size(arr))
  }

  /** Row-local UNIGRAM-ENTROPY moments via the q101 run fold: ONE
    * aggregate() pass over the sorted token array carries (previous
    * token, current run length, distinct count, Shannon sum) and
    * closes each run's term c·ln(c) as the next run starts — O(n log n)
    * per row, every element touched once. (A first cut derived run
    * boundaries POSITIONALLY — filter(sequence(1, n)) with
    * element_at on the sorted array — and measured 89 s at sf0.1:
    * each lambda invocation re-evaluated its operand tree, so the
    * sort ran per ELEMENT; the same trap q147's postmortem records.
    * Single-fold forms are the only safe shape for interpreted HOFs.)
    *
    * Each term quantizes to DECIMAL(28,10) BEFORE the fold add — the
    * fold visits runs in sorted-token order while a relational replay
    * (the q189 oracle) sums them in arbitrary order, and only exact
    * decimal terms make those agree. Entropy itself is
    * H = ln(n) − Σ/n, left to the caller as one fixed IEEE
    * recombination of the exact moments (q169 discipline).
    *
    * Returns struct(n_tokens, n_distinct, sum_clnc); zeros on an
    * empty array. Zero shuffle — the text-quality companion of
    * topElementFractionOf: low entropy flags templated/repetitive
    * documents that length filters miss. */
  def tokenEntropyOf(arr: Column): Column = {
    val dec = "decimal(28,10)"
    def closeTerm(run: Column): Column =
      when(run > 0L,
        round(run.cast("double") * log(run.cast("double")), 10).cast(dec))
        .otherwise(lit(0).cast(dec))
    val folded = aggregate(
      array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("nd"), lit(0).cast(dec).as("sumq")),
      (acc, x) => {
        val same = x <=> acc.getField("prev")
        struct(
          x.as("prev"),
          when(same, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("nd"))
            .otherwise(acc.getField("nd") + 1L).as("nd"),
          when(same, acc.getField("sumq"))
            .otherwise((acc.getField("sumq") + closeTerm(acc.getField("run")))
              .cast(dec)).as("sumq"))
      },
      acc => struct(
        acc.getField("nd").as("n_distinct"),
        (acc.getField("sumq") + closeTerm(acc.getField("run")))
          .cast(dec).as("sum_clnc")))
    struct(size(arr).cast("long").as("n_tokens"),
      folded.getField("n_distinct").as("n_distinct"),
      folded.getField("sum_clnc").as("sum_clnc"))
  }

  /** Duplicate fraction: 1 − distinct/total (0.0 on empty input) —
    * the "fraction of n-grams that are repeats" repetition rule. */
  def dupFractionOf(arr: Column): Column =
    when(size(arr) > 0,
      lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr))
      .otherwise(lit(0.0))

  /** Marker-word profiles for the n-gram/stopword language-ID
    * heuristic. Public knowledge (common function words per language). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "es", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
  )

  /** Heuristic language ID over a pre-tokenized LOWERCASE token array:
    * score = marker-hit count per language, argmax wins (struct-ordered,
    * so ties break to the alphabetically-last language code —
    * deterministic); "und" (undetermined) when nothing matches.
    * Row-local, no shuffle, no UDF. */
  def langIdOf(lowerToks: Column): Column = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(size(filter(lowerToks, t => t.isInCollection(markers))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*) // struct compare: hits first, then lang
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  def langId(text: Column): Column = langIdOf(tokens(lower(text)))

  /** Canonical text normalization for dedup hashing: lowercase,
    * collapse whitespace runs to a single space, trim. The standard
    * pre-hash pass — documents differing only in case or spacing
    * dedup together instead of surviving as spurious "distinct"
    * copies. Row-local, codegen'd built-ins. */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Order-invariant content fingerprint: md5 of the sorted distinct
    * token bag — robust to token reordering, good as a cheap near-dup
    * blocking key. Row-local. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Polynomial rolling hash over the code points, mod 1e9+7 at each
    * step so the accumulator never overflows (DuckDB-portable
    * semantics; Long wrap-around is JVM-specific). Row-local.
    *
    * Dispatches to the fused native expression (graft_rolling_hash,
    * registered by GraftSession and GraftExtensions): the HOF form
    * below materializes one single-char string PER CHARACTER per
    * document. TextAnalysisSpec pins native ≡ HOF. */
  def rollingHash(text: Column): Column =
    call_function("graft_rolling_hash", text)

  /** The declarative reference form of [[rollingHash]] — kept as the
    * equivalence-test witness (and for sessions without the graft
    * function surface registered). */
  def rollingHashHof(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, c) => pmod(acc * 31L + ascii(c).cast("long"), lit(1000000007L)))

  /** Overlapping token-window chunks — the context-window split every
    * LLM data pipeline applies to long documents before tokenizer
    * packing: chunk i covers tokens [i·stride, i·stride + window);
    * the last chunk is the first one reaching the document's end, so
    * nChunks = 1 + ceil(max(n − window, 0) / stride) and no chunk is
    * ever empty or fully contained in its predecessor.
    *
    * Returns array<array<string>> (chunk i at index i) — pair with
    * posexplode for (chunk_id, chunk) rows; NULL input ⇒ NULL (so the
    * explode emits nothing — without the guard, legacy size(null) = -1
    * would yield a single [null] chunk). Row-local: the ~window/
    * stride× token amplification happens inside the row, nothing
    * shuffles. Pass a PRE-TOKENIZED column (see the `...Of` note
    * above) so multi-metric queries split once. */
  def chunkSpansOf(toks: Column, window: Int, stride: Int): Column = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window (stride > window would drop tokens)")
    val n = size(toks).cast("long")
    val nChunks =
      ceil(greatest(n - window, lit(0L)).cast("double") / stride).cast("long") + 1L
    when(toks.isNotNull,
      transform(sequence(lit(0L), nChunks - 1),
        i => slice(toks, (i * stride + 1).cast("int"), lit(window))))
  }

  /** Frequency-ranked vocabulary: the top `vocabSize` tokens by
    * (count DESC, token ASC — the tie-break makes ranking
    * deterministic), token_id = 1-based rank. Returns (token,
    * token_id: long).
    *
    * Scale shape: the corpus-wide token counts shuffle (token, count)
    * pairs with map-side partial aggregation; the top-V selection
    * plans as TakeOrderedAndProject (no global sort of the distinct-
    * token set); only the final rank assignment is a single-partition
    * window over the V surviving rows — bounded by the vocab size, not
    * the corpus. */
  def buildVocab(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("freq").desc, col("token").asc)
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(order: _*).limit(vocabSize)
      .select(col("token"),
        row_number().over(Window.orderBy(order: _*)).cast("long").as("token_id"))
  }

  /** Token-ID encoding against a `buildVocab` vocabulary: one output
    * row per token occurrence — (id, pos (1-based), token_id), with 0
    * as the out-of-vocabulary id. The vocab is broadcast (it is
    * vocab-sized by construction), so encoding is a narrow map over
    * the exploded corpus: no shuffle of document text or token rows. */
  def encodeTokens(docs: DataFrame, idCol: String, textCol: String,
                   vocab: DataFrame): DataFrame =
    docs.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos0", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))

  /** PII patterns, deliberately restricted to the regex subset Java
    * (Spark) and RE2 (DuckDB, Go scanners) interpret identically —
    * char classes, bounded counts, \b, \d — so redaction is
    * engine-portable and oracle-checkable. No lookbehind/backrefs
    * (RE2 has neither). Pattern → replacement tag. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b" -> "[PHONE]")

  /** PII scrubbing — the redaction pass an LLM training corpus gets
    * before anything else sees it: every `piiPatterns` match replaced
    * by its tag, applied in declaration order. Row-local, codegen'd
    * regexp_replace chain, zero shuffle. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, tag)) =>
      regexp_replace(c, p, tag)
    }

  /** Count of PII matches in the ORIGINAL text, summed across
    * patterns (each pattern counted independently — a match consumed
    * by an earlier pattern's redaction still counts once here). The
    * corpus-level audit metric that decides whether a source is
    * droppable vs redactable. */
  def piiCount(text: Column): Column =
    piiPatterns.map { case (p, _) =>
      size(regexp_extract_all(text, lit(p), lit(0))).cast("long")
    }.reduce(_ + _)

  /** tf-idf over a corpus: tf = in-document term count, idf =
    * ln(N / df). Two aggregations + one join on token; the shuffled
    * payloads are (doc, token, count) triples — text never moves after
    * the initial explode. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("token"))
      .agg(countDistinct(col(idCol)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n)) // single fixed-size row at any scale
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .select(col(idCol), col("token"), col("tfidf"))
  }

  /** BPE MERGE TRAINING, `numMerges` iterations (Sennrich et al.
    * 2016 — the q145 pair-count step iterated to an actual merge
    * table): start from character symbols per distinct word, and per
    * round (1) count adjacent symbol pairs weighted by word frequency,
    * (2) take the most frequent pair (count desc, ties by pair string
    * — deterministic), (3) merge its occurrences in every word
    * LEFT-TO-RIGHT, NON-OVERLAPPING, the standard convention.
    *
    * The merge application is a row-local `aggregate` fold over the
    * symbol array: append each symbol unless the accumulator's last
    * element is `left` and the symbol is `right`, in which case the
    * two collapse into the merged symbol. A fold that just merged
    * cannot immediately re-merge (the collapsed symbol is the
    * concatenation, not `left` — "a a a" under (a,a) correctly gives
    * ["aa","a"]), which is exactly the non-overlapping scan.
    *
    * Scale shape (the q145 analysis carried through the loop): the
    * corpus is read ONCE into the word-frequency table (one map-side-
    * combined shuffle); every round after that is VOCABULARY-sized —
    * pair explode over distinct words, one pair shuffle, a 1-row
    * argmax driver hop (the q121/q123 per-iteration pattern), and a
    * row-local rewrite of the word table, re-persisted per round so
    * round k+1 does not replay round k's fold.
    *
    * No SQL oracle: the left-to-right fold needs either lookahead
    * regex or a list fold, neither replayable in the oracle dialect —
    * rows-only by contract; TextAnalysisSpec pins the whole loop
    * against an independent sequential reference implementation.
    *
    * Returns (step, left, right, merged, cnt). */
  def bpeTrain(docs: DataFrame, textCol: String,
               numMerges: Int): DataFrame = {
    require(numMerges >= 1, "numMerges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    var words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(expr("split(w, '')").as("syms"), col("wc"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (step <- 1 to numMerges) {
      val best = words
        .select(explode(expr(
          """transform(slice(syms, 1, size(syms) - 1),
            |  (x, i) -> struct(x AS l, element_at(syms, i + 2) AS r))"""
            .stripMargin)).as("p"), col("wc"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(desc("cnt"), col("l"), col("r"))
        .limit(1)
        .as[(String, String, Long)].collect()
      if (best.nonEmpty) {
        val (l, r, cnt) = best.head
        merges += ((step, l, r, l + r, cnt))
        val (le, re, me) = (esc(l), esc(r), esc(l + r))
        val next = words.select(expr(
          s"""aggregate(syms, cast(array() as array<string>),
             |  (acc, x) -> case
             |    when size(acc) > 0 and element_at(acc, -1) = '$le'
             |         and x = '$re'
             |    then concat(slice(acc, 1, size(acc) - 1), array('$me'))
             |    else concat(acc, array(x)) end)""".stripMargin).as("syms"),
          col("wc")).persist()
        next.count() // materialize before dropping the previous round
        words.unpersist()
        words = next
      }
    }
    words.unpersist()
    merges.toSeq.toDF("step", "left", "right", "merged", "cnt")
  }

  /** One word through min-rank iterative BPE — the canonical tokenizer
    * INFERENCE kernel (subword-nmt's encode / GPT-2's bpe(): repeatedly
    * find the lowest-rank adjacent pair present and merge all its
    * left-to-right non-overlapping occurrences, until no ranked pair
    * remains). Symbols start as CODE POINTS, matching bpeTrain's
    * split(w, '') convention. Note the subtlety pinned in
    * TextAnalysisSpec: min-rank iteration and "apply each merge
    * in learned order" (the training-replay convention) coincide
    * unless a later rule's OUTPUT string equals an earlier rule's
    * operand — a corpus-dependent collision ((a,bc) and (ab,c) both
    * produce "abc"); the spec's lifecycle test asserts they agree on
    * the fixture corpus, so a silent divergence would go red instead
    * of shipping. */
  def bpeEncodeWord(w: String, rank: Map[(String, String), Int]): Seq[String] = {
    var syms = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        buf += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      buf
    }
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0 || bestRank == Int.MaxValue) done = true
      else {
        val (pl, pr) = (syms(bestIdx), syms(bestIdx + 1))
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == pl && syms(j + 1) == pr) {
            out += pl + pr; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out
        done = syms.length < 2
      }
    }
    syms.toSeq
  }

  /** BPE APPLY/ENCODE over a corpus with a trained merge table — the
    * inference path that completes the q170 lifecycle (train emits the
    * merge list; THIS consumes it). The corpus is reduced to the
    * distinct-word frequency table first (one map-side-combined
    * shuffle — the q145/q170 discipline: encode work is
    * VOCABULARY-sized, never corpus-sized; a 100 TB corpus with a 10M
    * word vocabulary encodes 10M words once and joins counts back by
    * weight), then each distinct word runs the row-local min-rank
    * kernel with the BROADCAST rank map (merge tables are
    * vocab-bounded — thousands of rows — never a shuffle side).
    *
    * Output: one row per emitted token: (token, n_instances =
    * occurrences across distinct word FORMS, occurrences =
    * corpus-weighted count). Rows-only by contract (the iterative
    * min-rank loop has no SQL replay — same contract as q170);
    * TextAnalysisSpec pins the kernel against hand-worked merges, the
    * non-overlap rule, and the full train→encode lifecycle against an
    * independent sequential-replay reference. */
  def bpeEncode(docs: DataFrame, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rank = merges.zipWithIndex.toMap
    val rankB = spark.sparkContext.broadcast(rank)
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .as[(String, Long)]
      .flatMap { case (w, wc) =>
        bpeEncodeWord(w, rankB.value).map(t => (t, wc)) }
      .toDF("token", "wc")
      .groupBy("token")
      .agg(count(lit(1)).as("n_instances"), sum(col("wc")).as("occurrences"))
  }

  /** SPAN CORRUPTION — the T5 denoising objective's example builder
    * (Raffel et al. 2020, "Exploring the Limits of Transfer Learning
    * …", §3.1.4): mask contiguous token spans, replace each masked
    * RUN in the input with one sentinel, and emit the dropped spans
    * (each introduced by its sentinel) as the target —
    *
    *   tokens:  the cat [sat on] the mat [today]
    *   input:   the cat <extra_id_0> the mat <extra_id_1>
    *   target:  <extra_id_0> sat on <extra_id_1> today
    *
    * DETERMINISTIC noise (the q124 content-addressed-coin idiom):
    * position i of doc d is a span START iff the first 16 bits of
    * md5(salt‖d‖':'‖i) ≡ 0 (mod startDenom); a start masks positions
    * i … i+spanLen−1. Overlapping/adjacent spans MERGE into one run
    * (exactly T5's behavior — sentinels count runs, not starts), so
    * expected corruption ≈ spanLen/startDenom. Any engine with md5
    * replays the same examples — no RNG state, no seed tables.
    * Deviation from the paper, documented: T5 appends a terminal
    * sentinel after the last target span; this builder stops at the
    * last dropped token (the pair is self-delimiting either way).
    *
    * Plan shape: posexplode, ONE hash-partition shuffle on the doc id
    * for the three stacked windows (mask-extend over spanLen−1
    * preceding starts, run-start lag, running sentinel number — all
    * share (doc, pos) partitioning/order so Spark plans one Window
    * over one Exchange), then one groupBy(doc) whose ordered
    * reassembly is array_sort(collect_list(struct)) — pos-sorted,
    * collect order irrelevant. Per-doc state is sequence-bounded; at
    * 100 TB this is the standard sequence-labeling shuffle (text
    * moves ONCE, as (doc, pos, token) triples).
    *
    * Output: (doc_id, n_tokens, n_masked, n_spans, input_text,
    * target_text). A doc whose coins produce no span keeps
    * input_text = the original text, target_text = '' (kept, not
    * dropped — the training set preserves corpus membership). */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
                  startDenom: Int = 20, spanLen: Int = 3,
                  salt: String = "sc:"): DataFrame = {
    require(startDenom >= 1, "startDenom must be positive")
    require(spanLen >= 1, "spanLen must be positive")
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
    val coin = conv(substring(md5(concat(lit(salt),
      col(idCol).cast("string"), lit(":"), col("pos").cast("string"))),
      1, 4), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val flagged = toks
      .withColumn("start", (coin % startDenom === 0).cast("int"))
      .withColumn("masked",
        max(col("start")).over(w.rowsBetween(-(spanLen - 1), 0)))
      .withColumn("run_start",
        (col("masked") === 1 &&
          coalesce(lag(col("masked"), 1).over(w), lit(0)) === 0)
          .cast("int"))
      .withColumn("sid", sum(col("run_start")).over(w))
    val sentinel = concat(lit("<extra_id_"), (col("sid") - 1), lit(">"))
    val pieces = flagged
      .withColumn("in_piece",
        when(col("masked") === 0, col("token"))
          .when(col("run_start") === 1, sentinel))
      .withColumn("tgt_piece",
        when(col("run_start") === 1,
          concat(sentinel, lit(" "), col("token")))
          .when(col("masked") === 1, col("token")))
    def joinPieces(c: String) = array_join(
      transform(
        filter(array_sort(collect_list(struct(col("pos"), col(c)))),
          s => s.getField(c).isNotNull),
        s => s.getField(c)), " ")
    pieces.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("masked")).cast("long").as("n_masked"),
        sum(col("run_start")).cast("long").as("n_spans"),
        joinPieces("in_piece").as("input_text"),
        joinPieces("tgt_piece").as("target_text"))
  }

  /** MLM MASKING — BERT's masked-language-model example builder
    * (Devlin et al. 2019 §3.1): select ~15% of token positions as
    * prediction targets and rewrite each selected position by the
    * 80/10/10 rule — 80% become the [MASK] sentinel, 10% a random
    * token, 10% stay verbatim (the model must still predict them).
    *
    * Deterministic noise (the q124/q380 coin discipline): position i
    * of doc d hashes once — h = md5(salt‖d‖':'‖i) — and each
    * decision reads its OWN hex slice (no arithmetic coupling, no
    * integer division anywhere): hex[1..4] mod 100 < 15 selects,
    * hex[5..8] mod 10 picks the 80/10/10 branch, hex[9..14] mod n
    * indexes the random replacement — the doc's OWN token, a
    * DOCUMENTED DEVIATION from BERT's
    * corpus-vocab draw: the in-doc draw keeps the op row-local
    * (zero shuffle); the corpus-vocab draw needs a vocab-indexed
    * join at scale and buys little for a demonstrably unbiased
    * sentinel pipeline. Replay: any engine with md5 rebuilds the
    * exact example set.
    *
    * Plan shape: TWO stacked projections — the token array
    * materializes in the first (so the per-position lambda reads a
    * BoundReference, never re-splits), the three array HOFs
    * (transform over the position sequence, filter, join) run in the
    * second — fully codegen'd, text never shuffles at all.
    *
    * Output: (doc_id, n_tokens, n_masked, n_sentinel, n_random,
    * n_kept, masked_text, labels) — labels = 'pos:original' pairs
    * for every selected position, space-joined. */
  def mlmMask(docs: DataFrame, idCol: String, textCol: String,
              salt: String = "mlm:"): DataFrame = {
    // Materialize the token array ONCE before the per-position lambda
    // (the q57/q100 CSE trap, which this op used to pay quadratically:
    // `tokens(text)` inlined into the transform body re-evaluates the
    // split per ELEMENT — two element_at references plus the `% n`
    // bound made each doc split O(n) times, O(n²) token work per doc.
    // A materialized column is a BoundReference inside the lambda; the
    // ≥5 references below keep CollapseProject from re-inlining it.
    // Measured at sf0.1 isolated, with the hash-array split below:
    // 7.9 s → 2.4 s (OPTIMIZATION_r21.md).)
    val base = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val toks = col("__toks")
    val n = size(toks)
    // The position hash ALSO materializes once per position (HOF
    // lambdas are interpreted — no subexpression elimination, and the
    // old single-lambda form evaluated the same md5 up to 6× per
    // element for sel/branch/out/br). The hash array is built by one
    // transform; the decision lambda then reads its element as a
    // cheap bound reference via transform's (elem, index) form.
    // rawBigramsOf convention: the position sequence is only built
    // when n >= 1 — null text (size ⇒ null) and empty token arrays
    // (sequence(0, -1) would DESCEND) both fall to the empty array,
    // keeping the op total over arbitrary doc frames.
    val hsRaw = transform(sequence(lit(0), n - 1), i =>
      md5(concat(lit(salt), col(idCol).cast("string"),
        lit(":"), i.cast("string"))))
    val hs = when(n >= 1, hsRaw).otherwise(array().cast("array<string>"))
    val marked = transform(hs, (h, i) => {
      def bits(start: Int, len: Int) =
        conv(substring(h, start, len), 16, 10).cast("long")
      val sel = bits(1, 4) % 100 < 15
      val branch = bits(5, 4) % 10
      val rnd = element_at(toks, (bits(9, 6) % n + 1).cast("int"))
      val tok = element_at(toks, (i + 1).cast("int"))
      struct(
        i.as("pos"), tok.as("orig"), sel.as("sel"),
        when(!sel, tok)
          .when(branch < 8, lit("[MASK]"))
          .when(branch === 8, rnd)
          .otherwise(tok).as("out"),
        when(sel, branch).as("br"))
    })
    base.select(col(idCol), marked.as("m"), n.as("n_tokens"))
      .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
        size(filter(col("m"), s => s.getField("sel")))
          .cast("long").as("n_masked"),
        size(filter(col("m"), s => s.getField("br") < 8))
          .cast("long").as("n_sentinel"),
        size(filter(col("m"), s => s.getField("br") === 8))
          .cast("long").as("n_random"),
        size(filter(col("m"), s => s.getField("br") === 9))
          .cast("long").as("n_kept"),
        array_join(transform(col("m"), s => s.getField("out")), " ")
          .as("masked_text"),
        array_join(transform(filter(col("m"), s => s.getField("sel")),
          s => concat(s.getField("pos").cast("string"), lit(":"),
            s.getField("orig"))), " ").as("labels"))
  }

  /** FILL-IN-THE-MIDDLE transform — the code-LLM pretraining
    * objective (Bavarian et al. 2022, "Efficient Training of
    * Language Models to Fill in the Middle"): split each document at
    * two deterministic cut points into (prefix, middle, suffix) and
    * emit the PSM rearrangement
    *
    *   <PRE> prefix <SUF> suffix <MID> middle
    *
    * — the model learns infilling from an autoregressive corpus by
    * moving the middle to the end. Cuts are content-addressed
    * (md5‖doc‖cut-index mod n+1, sorted), so cut1 ≤ cut2 and every
    * segment — including EMPTY prefixes/middles/suffixes when coins
    * collide or hit the ends — is well-defined; any engine replays
    * the corpus exactly. Entirely row-local (tokens + two slices +
    * concat), zero shuffle; the q380/q390 objective-builder family's
    * third member.
    *
    * Output: (doc_id, n_tokens, cut1, cut2, fim_text). */
  def fim(docs: DataFrame, idCol: String, textCol: String,
          salt: String = "fim:"): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks)
    def cut(k: Int) = conv(substring(md5(concat(lit(salt),
      col(idCol).cast("string"), lit(s":$k"))), 1, 8), 16, 10)
      .cast("long") % (n + 1).cast("long")
    val a = cut(1)
    val b = cut(2)
    val c1 = least(a, b)
    val c2 = greatest(a, b)
    docs.select(col(idCol), toks.as("t"), n.as("nn"),
        c1.as("cut1"), c2.as("cut2"))
      .select(col(idCol), col("nn").cast("long").as("n_tokens"),
        col("cut1"), col("cut2"),
        // explicit concat, NOT concat_ws: DuckDB's concat_ws drops
        // empty strings while Spark's keeps them — an empty segment
        // must render the same (two spaces) on both engines
        concat(lit("<PRE> "),
          array_join(slice(col("t"), lit(1), col("cut1").cast("int")), " "),
          lit(" <SUF> "),
          array_join(slice(col("t"), (col("cut2") + 1).cast("int"),
            (col("nn") - col("cut2")).cast("int")), " "),
          lit(" <MID> "),
          array_join(slice(col("t"), (col("cut1") + 1).cast("int"),
            (col("cut2") - col("cut1")).cast("int")), " "))
          .as("fim_text"))
  }

  /** INSTRUCTION-PAIR SYNTHESIS — the supervised-fine-tuning example
    * builder (the self-instruct/templated-SFT data-prep step — Wei
    * et al. 2022 "Finetuned Language Models are Zero-Shot Learners"
    * build instruction corpora exactly this way: a template bank
    * applied over existing documents): each document becomes ONE
    * (instruction, response) training pair, the template drawn by a
    * content-addressed coin (the q124/q380 md5 idiom — one md5 of
    * salt‖doc_id, first 16 bits mod 4; any engine replays the same
    * corpus, no RNG state).
    *
    * The four templates ground the RESPONSE in the document itself,
    * so every pair is machine-checkable (no free-text generation):
    *   0 head12       — repeat the first 12 words
    *   1 word_count   — the whitespace token count, as a string
    *   2 longest_word — argmax by (length, token): ties break toward
    *                    the alphabetically LAST word, pinned so both
    *                    engines agree (Spark array_max over
    *                    struct(len, tok) ≡ ORDER BY len DESC, tok
    *                    DESC LIMIT 1)
    *   3 first_last   — first and last word, space-joined
    *
    * Plan shape: ONE row-local projection — the coin, a CASE over
    * four array expressions — fully codegen'd, zero shuffle; text
    * never leaves its scan partition. At 100 TB this is a map-only
    * pass, the same class as q380/q390/q391.
    *
    * Output: (doc_id, template, instruction, response); instruction
    * = template prompt + '\n' + the document text. */
  def instructionPairs(docs: DataFrame, idCol: String, textCol: String,
                       salt: String = "sft:"): DataFrame = {
    val toks = tokens(col(textCol))
    val coin = conv(substring(md5(concat(lit(salt),
      col(idCol).cast("string"))), 1, 4), 16, 10).cast("long") % 4
    val longest = array_max(transform(toks,
      t => struct(length(t).as("l"), t.as("t")))).getField("t")
    val template = when(coin === 0, lit("head12"))
      .when(coin === 1, lit("word_count"))
      .when(coin === 2, lit("longest_word"))
      .otherwise(lit("first_last"))
    val prompt = when(coin === 0,
        lit("Repeat the first 12 words of the passage below."))
      .when(coin === 1,
        lit("How many words does the passage below contain?"))
      .when(coin === 2,
        lit("What is the longest word in the passage below? " +
          "Break length ties toward the alphabetically last word."))
      .otherwise(
        lit("Give the first and the last word of the passage below."))
    val response = when(coin === 0, array_join(slice(toks, 1, 12), " "))
      .when(coin === 1, size(toks).cast("string"))
      .when(coin === 2, longest)
      .otherwise(concat(element_at(toks, 1), lit(" "),
        element_at(toks, -1)))
    docs.select(col(idCol), template.as("template"),
      concat(prompt, lit("\n"), col(textCol)).as("instruction"),
      response.as("response"))
  }

  /** UL2 MIXTURE-OF-DENOISERS selector (Tay et al. 2022, "UL2:
    * Unifying Language Learning Paradigms" §3.1): ONE per-doc
    * content-addressed coin routes each document to a denoising
    * objective, and the three builders this family already ships
    * compose into a single objective-tagged example stream —
    *
    *   R (regular, rRegular%):     spanCorrupt denom 20 / span 3
    *                               (~15% corruption — the T5 default)
    *   S (sequential, rSequential%): PrefixLM — one md5 cut in
    *                               [1, n−1]; input = prefix, target =
    *                               suffix (Tay §3.1's S-denoiser)
    *   X (extreme, remainder):     spanCorrupt denom 8 / span 4
    *                               (~50% corruption, long spans —
    *                               the X-denoiser regime)
    *
    * This is the operator that turns the three builders into a
    * PIPELINE: the routing coin (md5(salt‖doc_id) mod 100) is
    * independent of every per-position coin (different salts), the
    * three subsets are disjoint filters over ONE scan, and each
    * branch re-salts its own noise (salt‖r:/s:/x:) so R and X
    * examples of the same corpus never share span starts.
    *
    * Plan shape: the S branch is row-local; R and X each pay
    * spanCorrupt's one (doc, pos) window shuffle on their ~rR%/~rX%
    * subset — the filter sits under the exchange, so at 100 TB the
    * shuffled volume is exactly the routed fraction, never the whole
    * corpus twice. Union is a no-shuffle concat.
    *
    * S-denoiser edges: a 1-token doc (no interior cut) keeps cut = 1
    * — input = the whole doc, target = '', n_spans = 0 (membership
    * preserved, the q380 kept-clean contract).
    *
    * Output: (doc_id, objective, n_tokens, n_masked, n_spans,
    * input_text, target_text) — one row per input doc. */
  def denoiserMix(docs: DataFrame, idCol: String, textCol: String,
                  salt: String = "ul2:",
                  rRegular: Int = 50, rSequential: Int = 25): DataFrame = {
    require(rRegular >= 1 && rSequential >= 1 &&
      rRegular + rSequential <= 99,
      "rates must be positive with rRegular + rSequential <= 99 " +
        "(the remainder is the X-denoiser share)")
    val coin = conv(substring(md5(concat(lit(salt),
      col(idCol).cast("string"))), 1, 4), 16, 10).cast("long") % 100
    val rDocs = docs.filter(coin < rRegular)
    val sDocs = docs.filter(coin >= rRegular &&
      coin < rRegular + rSequential)
    val xDocs = docs.filter(coin >= rRegular + rSequential)
    val r = spanCorrupt(rDocs, idCol, textCol, 20, 3, salt + "r:")
      .withColumn("objective", lit("R"))
    val x = spanCorrupt(xDocs, idCol, textCol, 8, 4, salt + "x:")
      .withColumn("objective", lit("X"))
    val toks = tokens(col(textCol))
    val n = size(toks)
    val cut = when(n >= 2,
      conv(substring(md5(concat(lit(salt + "s:"),
        col(idCol).cast("string"))), 1, 6), 16, 10).cast("long")
        % (n - 1).cast("long") + 1L)
      .otherwise(lit(1L))
    val s = sDocs
      .select(col(idCol), toks.as("tk"), n.as("nn"), cut.as("cut"))
      .select(col(idCol),
        col("nn").cast("long").as("n_tokens"),
        (col("nn") - col("cut")).cast("long").as("n_masked"),
        when(col("nn") > col("cut"), 1L).otherwise(0L).as("n_spans"),
        array_join(slice(col("tk"), lit(1), col("cut").cast("int")), " ")
          .as("input_text"),
        array_join(slice(col("tk"), (col("cut") + 1).cast("int"),
          (col("nn") - col("cut")).cast("int")), " ").as("target_text"))
      .withColumn("objective", lit("S"))
    r.unionByName(x).unionByName(s)
      .select(col(idCol), col("objective"), col("n_tokens"),
        col("n_masked"), col("n_spans"),
        col("input_text"), col("target_text"))
  }

  /** DPO PREFERENCE-PAIR builder (Rafailov et al. 2023, "Direct
    * Preference Optimization" — the (prompt, chosen, rejected) triple
    * every preference-tuning recipe consumes; also the RLHF
    * comparison-data shape of Ouyang et al. 2022 §3.2). Builds on
    * [[instructionPairs]]: the template bank supplies the prompt and
    * the GROUND-TRUTH response (= `chosen` — machine-checkable, no
    * generation), and a content-addressed corruption of that response
    * supplies `rejected`, so chosen ≻ rejected holds by construction.
    *
    * Corruption bank (coin = md5(salt‖doc_id) mod 3), each branch
    * TOTAL and provably ≠ chosen:
    *   0 repeat_first — chosen ⧺ " " ⧺ first word of chosen
    *                    (strictly longer, always valid);
    *   1 uppercase    — upper(chosen), valid iff it differs (a
    *                    digit-only word_count answer is unchanged by
    *                    upper — falls back);
    *   2 head_half    — first ⌈n/2⌉ words, valid iff chosen has ≥ 2
    *                    words (then strictly shorter — falls back
    *                    otherwise).
    * Invalid draws fall back to repeat_first and the emitted
    * `corruption` column records the APPLIED corruption, so
    * rejected ≠ chosen on every row — no degenerate ties reach the
    * trainer. (Fixture text is ASCII; `upper` agrees across engines
    * there — the validity test is `upper(chosen) ≠ chosen`, engine-
    * local either way.)
    *
    * Relationship to the registry's other preference/pair ops —
    * DISTINCT concepts, documented as siblings: q258 Bradley–Terry
    * FITS a rating model FROM observed preference pairs (this op
    * CONSTRUCTS the pairs); q183 builds contrastive pairs for
    * EMBEDDING training (doc↔doc, label ∈ {0,1}); this builds policy-
    * training triples (prompt, chosen ≻ rejected) — the DPO dataset.
    *
    * Plan shape: one row-local projection over [[instructionPairs]]'
    * projection — zero shuffle, full codegen; at 100 TB this is a
    * map-only pass like q380/q390/q391.
    *
    * Output: (doc_id, template, instruction, chosen, rejected,
    * corruption) — one triple per document. */
  def preferencePairs(docs: DataFrame, idCol: String, textCol: String,
                      salt: String = "dpo:"): DataFrame = {
    val base = instructionPairs(docs, idCol, textCol)
      .select(col(idCol), col("template"), col("instruction"),
        col("response").as("chosen"))
      // materialize the chosen-token array ONCE (the ...Of
      // discipline: element_at/size/slice reference it 4×)
      .select(col(idCol), col("template"), col("instruction"),
        col("chosen"), split(col("chosen"), " ").as("__ct"))
    val coin = conv(substring(md5(concat(lit(salt),
      col(idCol).cast("string"))), 1, 4), 16, 10).cast("long") % 3
    val nc = size(col("__ct"))
    val upperC = upper(col("chosen"))
    val corruption = when(coin === 1 && upperC =!= col("chosen"),
        lit("uppercase"))
      .when(coin === 2 && nc >= 2, lit("head_half"))
      .otherwise(lit("repeat_first"))
    // ⌈n/2⌉ via truncation of a positive double — exact for any
    // realistic n, mirrors DuckDB's (len+1)//2
    val halfLen = ((nc + lit(1)) / lit(2)).cast("int")
    val rejected = when(corruption === "uppercase", upperC)
      .when(corruption === "head_half",
        array_join(slice(col("__ct"), lit(1), halfLen), " "))
      .otherwise(concat(col("chosen"), lit(" "),
        element_at(col("__ct"), 1)))
    base.select(col(idCol), col("template"), col("instruction"),
      col("chosen"), rejected.as("rejected"),
      corruption.as("corruption"))
  }

  /** READABILITY SCORING — Flesch reading ease and Flesch–Kincaid
    * grade level (Flesch 1948; Kincaid et al. 1975), the classic
    * surface-form readability pair every text-quality pipeline
    * reports beside length/punctuation heuristics:
    *
    *   ease  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
    *   grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59
    *
    * Counting rules (all row-local, all exact integers):
    * W = whitespace tokens; S = max(1, runs of [.!?]); Syl = per
    * token max(1, lowercase [aeiouy]+ vowel-group runs) summed — the
    * standard regex syllable heuristic (a vowel run approximates a
    * nucleus; vowelless tokens count one syllable, per the FK
    * convention that every word has ≥ 1).
    *
    * Cross-engine determinism: the three counts are exact BIGINTs;
    * each score is ONE fixed IEEE double expression over them
    * (literal constants, two divisions, rounded once at 4dp) — both
    * engines replay the identical op tree. The per-token max(1, ·)
    * needs no explode: Syl = (vowel-group runs in the whole text)
    * + (W − tokens containing a vowel), three regexp/split counts —
    * codegen'd, zero shuffle until the caller aggregates. The
    * vowel-bearing-token pattern `[^ ]*[aeiouy][^ ]*` consumes a
    * whole space-delimited token per match (greedy, cannot span the
    * space), so its match count IS the token count — and it is
    * lookaround-free on purpose: DuckDB's RE2 oracle has no
    * lookbehind.
    *
    * Input: a text Column; returns a struct (n_words, n_sentences,
    * n_syllables, ease, grade). */
  def readability(text: Column): Column = {
    val w = size(split(text, " ")).cast("long")
    val s = greatest(lit(1L),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"))
    val low = lower(text)
    val vowelTokens = size(regexp_extract_all(low,
      lit("[^ ]*[aeiouy][^ ]*"), lit(0))).cast("long")
    val syl = size(regexp_extract_all(low, lit("[aeiouy]+"), lit(0)))
      .cast("long") + (w - vowelTokens)
    val wps = w.cast("double") / s.cast("double")
    val spw = syl.cast("double") / w.cast("double")
    struct(
      w.as("n_words"), s.as("n_sentences"), syl.as("n_syllables"),
      round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4)
        .as("ease"),
      round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4)
        .as("grade"))
  }

}
