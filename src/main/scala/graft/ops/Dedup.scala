package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2B "LLM-data-pipeline extensions"): exact content-hash
  * dedup, MinHash-LSH and SimHash near-dup detection.
  *
  * Scale design (the 100 TB rationale for each choice):
  *  - exact dedup shuffles a 32-byte content hash as the key, never raw
  *    document text — the shuffle payload is the row, but the hash
  *    partitioner key is fixed-size regardless of document length.
  *  - near-dup candidate generation is BANDED LSH: a self-join within
  *    band-hash buckets only. All-pairs comparison is O(n²) and dead at
  *    any scale; banding keeps it O(n·bands + candidate pairs).
  *  - signatures (MinHash and SimHash) are ROW-LOCAL fused native
  *    expressions (MinHashSig / SimHash64 — no UDF, one JIT-compiled
  *    loop per doc, no shuffle); only band keys and id pairs ever
  *    shuffle.
  */
object Dedup {

  /** 256-bit content hash (hex string). Dedup on this instead of raw
    * text so group keys are fixed-size at any document length. */
  def contentHash(text: Column): Column = sha2(text, 256)

  /** Exact dedup, canonical-winner semantics: for each distinct text
    * keep the row with the minimal `keyCol`. One shuffle, keyed on the
    * fixed-size content hash; deterministic under ties by construction
    * (row_number over a total order). */
  def exactDedup(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col("__content_hash")).orderBy(col(keyCol))
    df.withColumn("__content_hash", contentHash(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__content_hash", "__rn")
  }

  /** Dedup group stats: one row per distinct content with the winning
    * key and the duplicate count. Partial+final hash agg — the shuffle
    * carries (hash, min-key, count) not documents. */
  def dedupGroups(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(keyCol)).as(keyCol), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles of a token array. Documents shorter
    * than n shingle to the empty set (guarded: `sequence` would flip to
    * a negative step otherwise).
    *
    * PASS A MATERIALIZED COLUMN, not an inline `split(...)`: `tokens`
    * is referenced once per n-gram slot INSIDE the transform lambda,
    * where no common-subexpression elimination applies — an inlined
    * split would re-tokenize the document per reference,
    * O(shingles × text_len) per row. Project the token array first
    * (see q57 in LlmQueries for the exemplar; minhashSignatures now
    * shingles inside the fused native expression instead). */
  def shingles(tokens: Column, n: Int): Column = {
    val starts = sequence(lit(0), size(tokens) - n)
    val grams = transform(starts, i =>
      concat_ws(" ", (1 to n).map(j => element_at(tokens, i + lit(j))): _*))
    when(size(tokens) >= n, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** Declarative (built-ins-only) MinHash signature: k pseudo-
    * independent hashes from ONE strong hash per shingle, h_i(x) =
    * xxhash64(xxhash64(x), i). ONLY for tiny inputs/tests — the
    * corpus-scale path is `minhashSignatures` below (fused native
    * expression, row-local): here `shingleCol`'s whole expression tree
    * is re-evaluated inside every one of the k outer-lambda iterations
    * (no cross-iteration CSE in higher-order functions), so a
    * non-trivial shingle expression costs k× per row. NOTE the two
    * paths use different hash families (xxhash64 here, FNV+SplitMix64
    * in MinHashSig) — signatures are comparable only within one path. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(shingleCol, sh => xxhash64(xxhash64(sh), i))))

  /** Corpus-scale MinHash: ROW-LOCAL signature via the fused native
    * MinHashSig expression (expressions/VectorExpressions.scala) — one
    * FNV base hash per shingle + k SplitMix64-derived mins, all inside
    * one loop per document. Zero shuffle (the previous explode +
    * k-column min-aggregation form shuffled k longs per doc and paid a
    * row per shingle; this pays nothing but the scan).
    *
    * Documents with no shingles (fewer than n tokens) signature to
    * NULL — the degenerate all-equal-signature bucket that would pair
    * every short document with every other cannot form. Null rows are
    * NOT filtered here: a Filter(isNotNull(sig)) would be pushed below
    * the projection with the alias substituted, re-evaluating the
    * whole signature (with split() re-inlined per shingle reference)
    * as a predicate — measured 4× on q70. Consumers drop nulls for
    * free at the band-key explode (explode(null) emits no rows);
    * anyone else filters AFTER a materialization barrier. Requires
    * graft_minhash registered (VectorExpressions.register /
    * GraftExtensions). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, numHashes: Int): DataFrame =
    // Shingling happens INSIDE the fused expression (incremental
    // n-gram hashing over the token windows — byte-identical to
    // hashing the concat'd gram strings, which are therefore never
    // materialized); the single split() is consumed natively once.
    df.select(col(idCol).as("id"),
      call_function("graft_minhash", split(col(textCol), " "),
        lit(numHashes), lit(42L), lit(shingleN)).as("sig"))

  /** LSH band keys: the signature split into `bands` slices of
    * `rowsPerBand`, each hashed; a pair of documents lands in the same
    * bucket iff a full band matches. Band index is part of the key so
    * buckets never mix across bands. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket")))

  /** Estimated Jaccard from two minhash signatures: fraction of equal
    * positions. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), m => m))
      .cast("double") / k

  /** Exact Jaccard over two DISTINCT element arrays (test oracle for
    * the minhash estimate; O(|a|·|b|) per pair — never run all-pairs at
    * scale, only on LSH candidates). */
  def exactJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Banded MinHash-LSH near-duplicate candidate pairs.
    *
    * shingle → signature → explode band keys → self-join per bucket →
    * estimate Jaccard from signatures. The join key is (band, bucket),
    * so comparisons happen only inside buckets (sub-quadratic); the
    * same pair colliding in several bands is collapsed by
    * dropDuplicates on the pair key.
    *
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * Skew note for 100 TB: a degenerate bucket (e.g. the empty-shingle
    * signature) would quadratic-blow a single task; AQE skew-join
    * splitting handles moderate skew, and boilerplate-document buckets
    * should be filtered by a bucket-size cap upstream in a real corpus. */
  /** End-to-end near-dedup: keep only documents that are not the
    * HIGHER-id member of any candidate pair at or above `threshold`.
    * Greedy keep-lowest-id semantics: for a chain a~b, b~c the kept set
    * is {a} even if a≁c — the standard one-pass approximation (exact
    * canonical-per-component dedup needs iterative connected
    * components; at 100 TB the greedy pass is what production corpus
    * dedup ships). */
  def nearDedup(df: DataFrame, idCol: String, textCol: String,
                threshold: Double, shingleN: Int = 3, numHashes: Int = 64,
                bands: Int = 16): DataFrame =
    nearDedupFromPairs(df, idCol,
      lshCandidatePairs(df, idCol, textCol, shingleN, numHashes, bands),
      threshold)

  /** `nearDedup` from PRECOMPUTED candidate pairs (id_a, id_b,
    * est_jaccard). Lets one LSH candidate pass feed the greedy AND the
    * connected-components dedup in the same session (q72 + q81 share a
    * lazily checkpointed pass instead of shingling the corpus twice). */
  def nearDedupFromPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                         threshold: Double): DataFrame = {
    val losers = pairs
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash signature of a token array — the fused native
    * SimHash64 expression (expressions/VectorExpressions.scala):
    * row-local, zero shuffle, one loop per document. Null/empty token
    * arrays signature to null (no degenerate all-empty bucket).
    * Requires graft_simhash registered (VectorExpressions.register /
    * GraftExtensions). */
  def simhash(tokens: Column): Column = call_function("graft_simhash", tokens)

  /** SimHash near-duplicate pairs: signature → `bands` key slices →
    * self-join per (band, key) bucket → EXACT Hamming rescore
    * (bit_count of xor) thresholded at `maxHamming`.
    *
    * Recall is DETERMINISTIC for close pairs, unlike MinHash banding:
    * two signatures within Hamming distance bands-1 differ in fewer
    * bits than there are bands, so by pigeonhole some full band is
    * identical and the pair is ALWAYS a candidate. maxHamming <=
    * bands-1 therefore gives exact results; above it, recall decays
    * while precision stays exact (rescore is exact Hamming).
    *
    * Same shuffle discipline as lshCandidatePairs: the self-join
    * carries (band, key, id, sig) — 4 fixed-size values, never text.
    *
    * Band-width trade (bands × r = 64 is FIXED for a 64-bit sketch):
    * more bands widen the deterministic-recall radius (bands-1) but
    * shrink the per-band key space to 2^r buckets, and the self-join
    * generates ~n²/2^r pairs per band on an uncorrelated corpus —
    * r = 8 (256 buckets) goes quadratic long before 100 TB. Default
    * 4 × 16: 65k buckets, exact to Hamming 3 (the classic SimHash
    * operating point). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, bands: Int = 4): DataFrame = {
    require(bands >= 2 && 64 % bands == 0, "bands must divide 64")
    val r = 64 / bands
    val mask = (1L << r) - 1
    val sigs = df
      .select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
      .select(col("id"), simhash(col("toks")).as("sig"))
    // Null signatures (empty token arrays) drop via posexplode(null) —
    // NOT via Filter(isNotNull(sig)), which Catalyst would push below
    // the projection with the alias substituted, evaluating the whole
    // tokenize+signature a second time as a predicate (the
    // minhashSignatures pushdown trap; sig's 3 references here also
    // keep CollapseProject from inlining it).
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(when(col("sig").isNotNull, array((0 until bands).map(b =>
        shiftright(col("sig"), b * r).bitwiseAND(lit(mask))): _*)))
        .as(Seq("band", "key")))
    val a = banded.select(col("band"), col("key"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("key"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Connected components of an undirected pair graph (id_a, id_b):
    * the near-dedup adapter over `Graph.ccStar` (Kiveris et al. 2014's
    * large-star/small-star alternation), so graft has one CC
    * implementation. Every vertex is labeled with its component's
    * minimum id; ids may be any orderable type (Long doc ids, String
    * names for q303/q328).
    *
    * O(log n) alternation rounds, each one checkpointed job over the
    * PAIR graph (never the corpus); `maxIter` caps the rounds, and
    * hitting it THROWS rather than returning a silently under-merged
    * labeling (the whole point of this function over the greedy pass
    * is exactness). ccStar releases each superseded round's
    * checkpoint as it goes, so one checkpoint — the one the result
    * reads from — outlives the call.
    *
    * Returns (id, comp) for every vertex of a pair with id_a ≠ id_b. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    Graph.ccStar(pairs.select(col("id_a").as("u"), col("id_b").as("v")),
        maxRounds = maxIter)
      .select(col("node").as("id"), col("comp"))

  /** EXACT near-dedup: keep one representative (the minimum id) per
    * connected component of the thresholded candidate-pair graph —
    * the canonical-per-component semantics `nearDedup`'s one-pass
    * greedy approximates. For a chain a~b, b~c the greedy pass keeps
    * {a} while dropping c without ever comparing it to a; this keeps
    * exactly one doc per transitive cluster. Costs O(log n) ccStar
    * rounds over the (small) pair graph — the corpus itself is
    * touched once for candidates and once for the final anti-join. */
  def nearDedupExact(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double, shingleN: Int = 3, numHashes: Int = 64,
                     bands: Int = 16, maxIter: Int = 20): DataFrame =
    nearDedupExactFromPairs(df, idCol,
      lshCandidatePairs(df, idCol, textCol, shingleN, numHashes, bands),
      threshold, maxIter)

  /** Thresholded candidate pairs → component labels — the shared
    * intermediate both canonical-selection policies (min-id q81,
    * best-quality q104) consume, so one CC run can feed both. */
  def componentsFromPairs(pairs: DataFrame, threshold: Double,
                          maxIter: Int = 20): DataFrame =
    connectedComponents(
      pairs.filter(col("est_jaccard") >= threshold).select("id_a", "id_b"),
      maxIter)

  /** `nearDedupExact` from PRECOMPUTED candidate pairs — see
    * nearDedupFromPairs for why the pair pass is a parameter. */
  def nearDedupExactFromPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                              threshold: Double, maxIter: Int = 20): DataFrame =
    nearDedupExactFromComponents(df, idCol,
      componentsFromPairs(pairs, threshold, maxIter))

  /** Min-id keep-set from precomputed component labels. */
  def nearDedupExactFromComponents(df: DataFrame, idCol: String,
                                   comps: DataFrame): DataFrame = {
    val losers = comps
      .filter(col("id") =!= col("comp")) // keep each component's min id
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** QUALITY-AWARE canonical selection: keep the BEST-scoring member
    * of each near-dup cluster instead of the lowest id — when
    * duplicates differ (truncation, OCR noise, boilerplate wrappers),
    * min-id keeps an arbitrary copy; this keeps the one worth
    * training on. Same connected components as `nearDedupExactFromPairs`;
    * the winner per component is `max_by(id, (score, -id))` — highest
    * score, ties to the lowest id, deterministic. Docs in no candidate
    * pair keep themselves (they never enter the component join).
    * Scale shape is unchanged from the min-id variant: CC over the
    * candidate pair graph only, then one (id, score, comp) aggregation
    * shuffling scalars — document text never moves. */
  def nearDedupBestFromPairs(df: DataFrame, idCol: String, score: Column,
                             pairs: DataFrame, threshold: Double,
                             maxIter: Int = 20): DataFrame =
    nearDedupBestFromComponents(df, idCol, score,
      componentsFromPairs(pairs, threshold, maxIter))

  /** Best-score keep-set from precomputed component labels. */
  def nearDedupBestFromComponents(df: DataFrame, idCol: String,
                                  score: Column,
                                  comps: DataFrame): DataFrame = {
    val members = df
      .select(col(idCol), score.as("__score"))
      .join(comps.select(col("id").as(idCol), col("comp")), Seq(idCol))
    val winners = members.groupBy("comp")
      .agg(max_by(col(idCol), struct(col("__score"), -col(idCol))).as(idCol))
    val losers = members.select(col(idCol))
      .join(winners.select(col(idCol)), Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** INCREMENTAL (cross-corpus) exact dedup: drop rows of `fresh`
    * whose content already exists in `seen` — the dedup shape of a
    * continuously-ingesting pipeline, where each new crawl batch
    * dedupes against the accumulated corpus rather than re-deduping
    * the world. Within-batch duplicates are NOT touched here (compose
    * with `exactDedup` on the batch for that); membership is decided
    * on the 32-byte content hash, so at scale `seen` can be a stored
    * HASH INDEX (one column, 32 bytes/doc) instead of the corpus
    * itself — the anti-join shuffles fresh hashes against index
    * hashes, never document text, and AQE broadcasts the smaller
    * side when one fits. */
  def dedupAgainst(fresh: DataFrame, seen: DataFrame,
                   textCol: String): DataFrame = {
    val seenHashes = seen
      .select(contentHash(col(textCol)).as("__h")).distinct()
    fresh.withColumn("__h", contentHash(col(textCol)))
      .join(seenHashes, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** BLOOM-FILTER incremental dedup — the constant-memory successor to
    * `dedupAgainst` when the accumulated corpus no longer fits a join
    * side: fold `seen`'s content hashes into a Bloom filter once, then
    * drop every `fresh` row the filter claims to have seen. Built on
    * Spark's OWN runtime-filter machinery (`BloomFilterAggregate` /
    * `BloomFilterMightContain` — the codegen'd expressions behind
    * spark.sql.optimizer.runtimeFilter.bloomFilter), not a UDF.
    *
    * Semantics: NO false negatives — every true cross-corpus duplicate
    * is dropped, guaranteed; a ~`fpp` fraction of genuinely-new rows is
    * falsely dropped (the filter trades a bounded sliver of recall for
    * never shipping the seen-set). Use `dedupAgainst` when exactness
    * is required; `DedupSpec` pins keep-set ⊆ exact-keep-set and the
    * planted-duplicate drop guarantee.
    *
    * Scale shape: the build is one partial-combined aggregation over
    * the seen hashes (each task folds locally; merge is bitwise OR) —
    * the corpus never shuffles at all, unlike the anti-join, and the
    * probe side is a row-local filter pushed into fresh's scan stage.
    * The single `head()` materializes only the finished sketch
    * (numBits/8 bytes, ~1.2 MB at fpp 1% per 10⁶ items) — the same
    * bounded driver hop Spark's InjectRuntimeFilter pays for its
    * bloom subquery, and the reason this stays honest at 100 TB: the
    * filter size is set by `expectedItems`, not the corpus byte size
    * (the session's bloom-filter caps are raised below to honor the
    * requested sizing — BloomFilterAggregate otherwise Math.min-clamps
    * to spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits,
    * 4M items / 64 Mbit by default, silently saturating past ~4M seen).
    * Probed values are xxhash64 of the 32-byte content hash, so the
    * filter cost is independent of document length too.
    *
    * Null handling: rows with a null `textCol` in `fresh` are KEPT,
    * matching `dedupAgainst` (whose anti-join never matches a null
    * key); null-text rows in `seen` contribute nothing to the sketch.
    * An empty `seen` keeps all of `fresh` (the aggregate yields a null
    * sketch at zero input rows; guarded explicitly). */
  def bloomDedupAgainst(fresh: DataFrame, seen: DataFrame, textCol: String,
                        expectedItems: Long, fpp: Double): DataFrame =
    bloomFilterFresh(fresh, textCol,
      buildBloomSketch(seen, textCol, expectedItems, fpp))

  /** Fold `df`'s content-hash keys into a serialized Bloom sketch — the
    * build half of `bloomDedupAgainst`, exposed so the streaming sink
    * (stream.Events.bloomDedupSink) can persist and merge sketches
    * across micro-batches. Returns null when `df` has no non-null-text
    * rows (BloomFilterAggregate yields null at zero input). Raises the
    * session bloom caps to the requested sizing first:
    * BloomFilterAggregate clamps both arguments to
    * spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits, so
    * a request above the defaults would otherwise silently build a
    * saturating filter whose false-drop rate blows past `fpp`. */
  def buildBloomSketch(df: DataFrame, textCol: String,
                       expectedItems: Long, fpp: Double): Array[Byte] = {
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    // standard sizing: m = -n·ln(p)/ln²2 bits
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // Raise the caps ONLY for the duration of the build (restore in
    // finally): BloomFilterAggregate clamps its arguments to these
    // confs at evaluation time, but the same confs also size Spark's
    // own InjectRuntimeFilter blooms — leaving a multi-GB cap behind
    // would silently re-size runtime filters for every unrelated join
    // in the session. The raise-eval-restore window is synchronized so
    // concurrent builds with different sizes don't race the pair.
    // RESIDUAL ASSUMPTION (single-threaded session): an UNRELATED
    // query planned on another thread of this session during the
    // window still sees the raised caps and may size its own runtime
    // filter by them (bounded by expectedItems, so oversize not
    // unsound — a larger-than-default runtime bloom, never a
    // saturating one). Sessions that plan queries concurrently with
    // sketch builds should clone a session for the build
    // (spark.newSession() shares the catalog but not the conf).
    val conf = df.sparkSession.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    Dedup.synchronized {
      val (itemsSaved, bitsSaved) = (conf.get(itemsKey), conf.get(bitsKey))
      try {
        if (itemsSaved.toLong < expectedItems) conf.set(itemsKey, expectedItems)
        if (bitsSaved.toLong < numBits) conf.set(bitsKey, numBits)
        df.filter(col(textCol).isNotNull)
          .select(call_function("graft_bloom_agg",
            xxhash64(contentHash(col(textCol))),
            lit(expectedItems), lit(numBits)).as("__bf"))
          .head().getAs[Array[Byte]](0)
      } finally {
        conf.set(itemsKey, itemsSaved)
        conf.set(bitsKey, bitsSaved)
      }
    }
  }

  /** Bitwise-OR merge of two serialized Bloom sketches (either may be
    * null = empty). Both must come from the same (expectedItems, fpp)
    * sizing — spark-sketch's mergeInPlace rejects incompatible layouts.
    * Driver-side and bounded: two numBits/8-byte arrays, the same hop
    * `buildBloomSketch`'s head() pays. */
  def mergeBloomSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    (Option(a), Option(b)) match {
      case (None, y) => y.orNull
      case (x, None) => x.orNull
      case (Some(x), Some(y)) =>
        val fa = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(x))
        val fb = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(y))
        fa.mergeInPlace(fb)
        val out = new java.io.ByteArrayOutputStream()
        fa.writeTo(out)
        out.toByteArray
    }

  /** The probe half of `bloomDedupAgainst`: drop every `fresh` row the
    * sketch claims to have seen. Null sketch (empty seen corpus) and
    * null-text rows keep everything/the row, matching `dedupAgainst`. */
  def bloomFilterFresh(fresh: DataFrame, textCol: String,
                       sketch: Array[Byte]): DataFrame =
    if (sketch == null) fresh
    else fresh.filter(col(textCol).isNull ||
      !call_function("graft_bloom_contains", lit(sketch),
        xxhash64(contentHash(col(textCol)))))

  /** SEGMENT-level exact dedup — the fixed-granularity analog of
    * CCNet-style paragraph dedup (Wenzek et al. 2020 dedupe repeated
    * paragraphs across a web corpus; boilerplate headers/footers repeat
    * across documents that are NOT whole-document duplicates, so q50's
    * document-hash dedup never sees them): split each document's token
    * stream into consecutive `segTokens`-token segments, keep only the
    * GLOBAL first occurrence of each distinct segment (minimum
    * (id, seg_idx) over the whole corpus), and reconstruct the retained
    * text per document.
    *
    * Returns one row per input document:
    * (id, n_segments, n_kept, kept_text) — kept_text is the ordered
    * join of surviving segments ('' when every segment was seen
    * earlier, e.g. exact duplicates of an earlier document).
    *
    * Scale shape: winner selection is a min-over-window PARTITIONED BY
    * the 32-byte segment hash — one shuffle of the segment stream,
    * keyed fixed-size regardless of segment length, then one
    * reconstruction shuffle keyed by doc id (which any rebuild of the
    * documents must pay). Deliberately NOT a groupBy-winners + join
    * back: the winner table is corpus-sized (one row per DISTINCT
    * segment), so the join side cannot broadcast at scale and the
    * groupBy form pays a second full segment pass plus a sort-merge
    * join — the window form reuses the single hash-partitioned pass
    * for both selection and the keep test. A boilerplate segment
    * repeated across millions of docs is one window partition (a
    * bounded sort, not a quadratic blowup). */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segTokens: Int): DataFrame = {
    require(segTokens >= 1, "segTokens must be positive")
    // Token array materialized in its OWN projection (the q57/q100 CSE
    // discipline: the slice lambda references it per segment slot, and
    // higher-order lambdas get no cross-iteration CSE on an inlined
    // split). posexplode_OUTER, not posexplode: plain explode lets
    // InferFiltersFromGenerate push a size()>0 predicate below the
    // projection, re-evaluating the interpreted segment lambda per row
    // inside a Filter (the q100 trap).
    val segs = df
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol),
        when(size(col("__toks")) >= 1,
          transform(
            sequence(lit(0L), ceil(size(col("__toks")) / lit(segTokens.toDouble)) - 1),
            i => array_join(
              slice(col("__toks"), (i * segTokens + 1).cast("int"), lit(segTokens)),
              " ")))
          .otherwise(array().cast("array<string>")).as("__segs"))
      .select(col(idCol),
        posexplode_outer(col("__segs")).as(Seq("seg_idx", "seg")))
      .filter(col("seg").isNotNull)
      .withColumn("__h", contentHash(col("seg")))
    // Global first occurrence per distinct segment: min (id, seg_idx)
    // struct over the hash-partitioned window — lexicographic,
    // deterministic, whole-partition frame (no orderBy, so no
    // running-min semantics).
    val w = Window.partitionBy(col("__h"))
    segs
      .withColumn("__keep",
        struct(col(idCol), col("seg_idx")) ===
          min(struct(col(idCol), col("seg_idx"))).over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(col("__keep").cast("long")).as("n_kept"),
        // when() without otherwise is null on dropped segments and
        // collect_list skips nulls; array_sort on (seg_idx, seg)
        // structs restores document order deterministically.
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("seg_idx"), col("seg"))))),
            p => p.getField("seg")),
          " ").as("kept_text"))
  }

  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 64,
                        bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Null signatures (short docs) must NOT reach bandKeys: xxhash64 of
    // a null slice is the seed, not null — every short doc would share
    // one degenerate bucket. The when() guard turns a null signature
    // into a null band array, and explode(null) emits no rows — the
    // null-drop happens here, not via a pushdown-prone Filter (see
    // minhashSignatures). sig is referenced 3× in this projection, so
    // CollapseProject cannot inline the signature into the lambda.
    val sigs = minhashSignatures(df, idCol, textCol, shingleN, numHashes)
      .select(col("id"), col("sig"),
        explode(when(col("sig").isNotNull, bandKeys(col("sig"), bands, r))).as("bk"))
    val a = sigs.select(col("bk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("bk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      // estimate BEFORE the pair-dedup so its shuffle carries
      // (id, id, double) rows, not two k-long signatures per row; the
      // estimate is identical across a pair's band collisions.
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** PERSISTED LSH band index (VERDICT r9 #3) — the incremental
    * near-dedup layout at 100 TB. The in-session candidate pass
    * (lshCandidatePairs, memoized per session by LlmQueries) recomputes
    * shingle → signature → band keys every session; at corpus scale
    * that pass IS the dominant cost, and it is the same for every
    * consumer. This writes the exploded band rows ONCE as a bucketed +
    * sorted warehouse table keyed on (band, bucket) — after which every
    * candidate pass (including each day's incremental batch banded with
    * the same parameters and bucketed the same way) joins against the
    * index with ZERO Exchange: the band shuffle is paid at write time
    * and amortized over the index's lifetime, the q96 discipline
    * applied to near-dedup.
    *
    * Layout: one row per (band, bucket, id, sig). The signature rides
    * every band row (bands× duplication, ≈ bands·k·8 B per doc) so the
    * Jaccard rescore needs no second join back to a signature table —
    * the candidate join's probe side carries everything. The
    * alternative layout (separate sig table, join back per rescore
    * side) cuts storage ~bands× but adds two corpus-keyed joins per
    * candidate pass; for k=64/bands=16 the duplication is ~8 KB/doc,
    * cheap against document text.
    *
    * `repartition(buckets, band, bucket)` before the write uses the
    * same murmur3-pmod placement as the bucket spec, so each task holds
    * exactly one bucket → ONE file per bucket, which is what lets the
    * read side trust the sortBy metadata (no Sort before the merge
    * join). */
  /** Exploded band rows (band, bucket, id, sig) for a corpus — the
    * common projection behind the persisted index's write side AND the
    * probe side of an incremental batch (both must band with identical
    * parameters or buckets never collide). Null signatures (short
    * docs) drop at the explode, as in lshCandidatePairs. */
  private def bandRows(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    minhashSignatures(df, idCol, textCol, shingleN, numHashes)
      .select(col("id"), col("sig"),
        explode(when(col("sig").isNotNull, bandKeys(col("sig"), bands, r))).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("id"), col("sig"))
  }

  def writeLshIndex(df: DataFrame, idCol: String, textCol: String,
                    table: String, shingleN: Int = 3, numHashes: Int = 64,
                    bands: Int = 16, buckets: Int = 8): Unit = {
    val rows = bandRows(df, idCol, textCol, shingleN, numHashes, bands)
      .repartition(buckets, col("band"), col("bucket"))
    graft.pipeline.Warehouse.writeBucketed(rows, table, Seq("band", "bucket"), buckets)
    // record the banding parameters as table properties: a read or
    // append with different parameters would produce silently-wrong
    // est_jaccard values (or an incompatible banding) — the props turn
    // that into a fast require() failure instead.
    df.sparkSession.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
      s"'graft.lsh.shingleN'='$shingleN'," +
      s"'graft.lsh.numHashes'='$numHashes','graft.lsh.bands'='$bands')")
  }

  /** Validate a caller's banding parameters against the ones the index
    * was written with (absent properties = not a graft LSH index). */
  private def requireLshParams(spark: org.apache.spark.sql.SparkSession,
                               table: String, expected: (String, Int)*): Unit = {
    val props = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).properties
    expected.foreach { case (name, value) =>
      val stored = props.get(s"graft.lsh.$name")
      require(stored.contains(value.toString),
        s"$table was written with $name=${stored.getOrElse("<absent>")}, " +
          s"caller expects $value — re-band with matching parameters " +
          "or rebuild the index")
    }
  }

  /** Candidate pairs from a PERSISTED band index: the same band-bucket
    * self-join + signature rescore as lshCandidatePairs, but both sides
    * scan the bucketed table — no shingling, no signatures, and (plan-
    * asserted in PlanShapeSpec) no Exchange below the join. The only
    * shuffle left is the pair-key dropDuplicates, which carries
    * (id, id, double) rows. Output is identical to the in-memory pass
    * that built the index (DedupSpec pins the equivalence). */
  def lshCandidatePairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                                 table: String, numHashes: Int = 64): DataFrame = {
    requireLshParams(spark, table, "numHashes" -> numHashes)
    val idx = spark.table(table)
    val a = idx.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = idx.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Append a batch's band rows to the persisted index — the ACCEPT
    * half of the incremental loop (dedupe the batch with
    * `nearDedupAgainstIndex`, then append the SURVIVORS here so the
    * next batch sees them). Append-mode saveAsTable validates the
    * bucket spec against the existing table and buckets the new files
    * identically, so the candidate join stays Exchange-free. What
    * appends DO cost: each bucket now holds multiple files, so the
    * read side stops trusting the sortBy metadata and re-sorts before
    * the merge join (still no shuffle — sort is partition-local).
    *
    * NOT replay-idempotent: a crash between this append's job commit
    * and the caller's offset commit duplicates the batch's rows on
    * replay. Query RESULTS stay correct (every consumer collapses by
    * pair/id), but the index grows and the join fans out over the
    * duplicates — run `compactLshIndex` periodically, which drops
    * replayed rows AND restores the one-file-per-bucket sort-free
    * read; the standard LSM-ish trade. */
  def appendLshIndex(df: DataFrame, idCol: String, textCol: String,
                     table: String, shingleN: Int = 3, numHashes: Int = 64,
                     bands: Int = 16, buckets: Int = 8): Unit = {
    requireLshParams(df.sparkSession, table, "shingleN" -> shingleN,
      "numHashes" -> numHashes, "bands" -> bands)
    bandRows(df, idCol, textCol, shingleN, numHashes, bands)
      .repartition(buckets, col("band"), col("bucket"))
      .write.mode("append")
      .bucketBy(buckets, "band", "bucket")
      .sortBy("band", "bucket")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Compact the band index: drop duplicate (band, bucket, id) rows —
    * replayed appends; sig is a function of id, so the id key is the
    * whole identity — and rewrite one-file-per-bucket, restoring the
    * sort-free bucketed read `writeLshIndex` established. The
    * localCheckpoint materializes the survivors BEFORE the overwrite
    * (Spark refuses to overwrite a table its plan still reads);
    * overwrite recreates the table, so the banding properties are
    * re-applied from the pre-compact metadata. The bucket count comes
    * from the table's OWN catalog bucket spec — a caller-supplied
    * count that disagreed with the existing layout would silently
    * rewrite the index with a different file topology than its
    * consumers were told to expect. */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val props = meta.properties
    val buckets = meta.bucketSpec.getOrElse(sys.error(
      s"$table has no bucket spec — not a graft LSH index")).numBuckets
    val rows = spark.table(table)
      .dropDuplicates("band", "bucket", "id")
      .repartition(buckets, col("band"), col("bucket"))
      .localCheckpoint(true)
    graft.pipeline.Warehouse.writeBucketed(rows, table, Seq("band", "bucket"), buckets)
    val kept = Seq("shingleN", "numHashes", "bands")
      .flatMap(k => props.get(s"graft.lsh.$k").map(v => s"'graft.lsh.$k'='$v'"))
    if (kept.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(${kept.mkString(",")})")
  }

  /** INCREMENTAL near-dedup against the persisted index — the daily-
    * batch flow at 100 TB: band the fresh batch with the index's own
    * parameters, join its band rows against the bucketed index, and
    * drop every fresh doc whose estimated Jaccard against ANY indexed
    * doc reaches `threshold`. The accumulated corpus never re-shingles
    * and never shuffles: the only Exchange in the candidate join is
    * the FRESH side hashing into the index's bucket layout
    * (PlanShapeSpec pins exactly one band-key exchange), so per-batch
    * cost tracks the batch, not the corpus — the LSH analog of
    * `dedupAgainst`'s hash-index anti-join, with `bloomDedupAgainst`
    * beyond it when even band rows outgrow a join side.
    *
    * Fresh docs with a null signature (shorter than the shingle width)
    * are kept, like every other consumer of the null-signature rule.
    * After accepting a batch, append its band rows to the index (same
    * write path) so the next batch dedupes against it too. */
  def nearDedupAgainstIndex(fresh: DataFrame, idCol: String, textCol: String,
                            table: String, threshold: Double,
                            shingleN: Int = 3, numHashes: Int = 64,
                            bands: Int = 16): DataFrame = {
    requireLshParams(fresh.sparkSession, table, "shingleN" -> shingleN,
      "numHashes" -> numHashes, "bands" -> bands)
    val idx = fresh.sparkSession.table(table)
      .select(col("band"), col("bucket"), col("sig").as("sig_seen"))
    val losers = bandRows(fresh, idCol, textCol, shingleN, numHashes, bands)
      .join(idx, Seq("band", "bucket"))
      .filter(estJaccard(col("sig"), col("sig_seen"), numHashes) >= threshold)
      .select(col("id").as(idCol)).distinct()
    fresh.join(losers, Seq(idCol), "left_anti")
  }

  /** EXACT set-similarity self-join via prefix filtering (Chaudhuri,
    * Ganti & Kaushik, "A Primitive Operator for Similarity Joins",
    * ICDE 2006; Bayardo, Ma & Srikant, "Scaling Up All Pairs
    * Similarity Search", WWW 2007): every UNordered pair (a, b) with
    * Jaccard(set_a, set_b) >= t — no false negatives AND no false
    * positives, unlike the probabilistic MinHash-LSH path above.
    *
    * The filter: order every token by a GLOBAL canonical order
    * (ascending document frequency, ties by token — rarest first, the
    * All-Pairs fan-out minimizer); a set of size s keeps only its
    * first  s - ceil(t·s) + 1  tokens as its PREFIX. If J(a,b) >= t,
    * the prefixes of a and b must intersect (take the globally
    * smallest common token w: were it past either prefix, that set
    * would have at most ceil(t·s) - 1 tokens at-or-after w, too few to
    * hold the >= ceil(t·s) common tokens that all sort at-or-after w).
    * So the prefix-prefix equi join generates a candidate superset,
    * and the exact-Jaccard verify keeps truth only.
    *
    * Scale shape: three bounded shuffles — token df (map-side combined
    * counts), the per-set rank/prefix groupBy on the id key, and the
    * candidate equi join keyed on PREFIX tokens only (wire carries
    * (token, id), never sets); the full arrays re-join only the
    * candidate PAIRS (LSH-candidate-sized, not corpus-sized) for the
    * verify. The df lookup join is vocab-keyed — Spark broadcasts it
    * under the threshold and shuffle-joins above, both fine; the
    * rarest-first order keeps stopword-grade tokens out of prefixes,
    * which is what bounds candidate fan-out on skewed vocabularies;
    * the row-local LENGTH and POSITIONAL prunes on the candidate join
    * (Bayardo 2007 / PPJoin — see the inline notes) then drop most
    * false candidates before the verify joins pay for them.
    *
    * `setCol` must hold DISTINCT elements per row (shingles() output
    * qualifies) — duplicates would inflate sizes and df counts, and
    * the prefix-length lemma is a SET statement; empty sets drop (they
    * overlap nothing at any t > 0). */
  def prefixSimilarityJoin(df: DataFrame, idCol: String, setCol: String,
                           threshold: Double): DataFrame = {
    val sets = df.select(col(idCol).as("id"), col(setCol).as("toks"))
    // Two measured traps, operator-side (q147 at sf0.1: 33 s → ~5 s
    // warm / ~12 s single-shot-with-JIT, combined):
    //  1. The q57/q100 CSE trap: a size(toks) > 0 filter — or the one
    //     plain explode() lets the optimizer infer — is pushed below
    //     the projection with the set expression INLINED, re-evaluating
    //     the caller's shingle lambda per reference. explode_outer
    //     infers nothing, and the null-tok filter sits on the GENERATOR
    //     OUTPUT, which nothing can push below. Empty sets vanish here
    //     and cannot reach candidates — correct at any t > 0.
    //  2. The token table feeds SIX plan branches (df, ranks, sizes,
    //     both candidate sides, both verify sides); without a barrier
    //     each branch re-runs the caller's set expression over the
    //     corpus (narrow lineage — no exchange to reuse). persist()
    //     materializes the id+token table once (never the documents).
    //     At fixture scale this measures neutral (stage-JIT dominates
    //     a single run); at corpus scale six scans vs one
    //     materialization is the difference that matters — same
    //     shared-pass reasoning as the q104 LSH checkpoint, but
    //     persist keeps lineage + stats so join-strategy estimation
    //     still sees real sizes.
    val toks = sets.select(col("id"), explode_outer(col("toks")).as("tok"))
      .filter(col("tok").isNotNull)
      .persist()
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // Rank tokens per set with a WINDOW over the token table (fully
    // codegen'd sort) rather than collect_list + sort_array + explode
    // (ObjectHashAggregate + Generate — measured slower both cold and
    // warm). sz rides the same partitioning as an unordered count —
    // never a size(toks) expression that could be pushed around.
    import org.apache.spark.sql.expressions.Window
    val wId = Window.partitionBy("id")
    // prefix rows carry (rn, sz) — the position and set size the
    // LENGTH and POSITIONAL candidate filters below read; both columns
    // fall out of the windows already computed here, so the wire cost
    // is two extra Longs per prefix row.
    val prefix = toks.join(dfreq, Seq("tok"))
      .withColumn("rn", row_number().over(wId.orderBy("df", "tok")))
      .withColumn("sz", count(lit(1)).over(wId))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id"), col("tok"), col("rn"), col("sz"))
    // Candidate join with the All-Pairs/PPJoin row-local prunes (r22 —
    // measured: candidates 409k → 125k at sf0.1, identical output; the
    // verify fan-out below is candidates × avg set size, so candidate
    // count is THE scale lever the sf1 wall hangs on):
    //  - LENGTH filter (Bayardo et al. 2007): J(a,b) ≥ t ⇒
    //    min(sz) ≥ t·max(sz) (overlap ≤ min, union ≥ max).
    //  - POSITIONAL filter (Xiao et al. 2008's PPJoin bound, EXISTS
    //    form): for the GLOBALLY SMALLEST common token w, every common
    //    token sorts at-or-after w in BOTH sets, so
    //    |a ∩ b| ≤ 1 + min(sz_a − rn_a(w), sz_b − rn_b(w)); J ≥ t
    //    needs |a ∩ b|·(1+t) ≥ t·(sz_a+sz_b). A true pair always
    //    SURVIVES: its smallest-common-token match row satisfies the
    //    bound (later match rows may fail it — that only drops
    //    duplicate routes to the same pair, and distinct() follows).
    //    Multiplied-out form, no ceil: with t = 0.5 every product is
    //    an exact double (k·0.5, k·1.5), so the comparison is exact;
    //    the same double-threshold contract the prefix-length ceil
    //    above already sets for other t.
    // Both prunes only DROP candidate pairs whose exact Jaccard the
    // final filter would reject anyway — the verified result set is
    // unchanged (gated: same 256 pairs at sf0.1, oracle hash ×2 SFs).
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")).cast("double") >=
            greatest(col("a.sz"), col("b.sz")) * threshold &&
          (lit(1L) + least(col("a.sz") - col("a.rn"),
            col("b.sz") - col("b.rn"))).cast("double") * (1.0 + threshold) >=
            (col("a.sz") + col("b.sz")) * threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .distinct()
    // Verify WITHOUT carrying set arrays through joins: |a ∩ b| is a
    // count over the token table restricted to candidate pairs (three
    // codegen'd hash joins on narrow rows), and |a ∪ b| derives from
    // the sizes — the exactJaccard(array, array) form would re-join the
    // full arrays to every pair and pay the set expression again.
    // Sizes RIDE the candidate rows (functionally determined by the
    // ids, so the distinct and groupBy keys are unchanged sets) — the
    // former separate `sizes` aggregate and its two verify-side joins
    // are gone (r22: two joins + one groupBy fewer per run).
    val inter = cand
      .join(toks.select(col("id").as("id_a"), col("tok")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT edit-distance-1 similarity join (deletion-neighborhood
    * blocking — the FastSS scheme, Bocek et al. 2007): every unordered
    * pair (a, b) with levenshtein(s_a, s_b) <= 1, no false negatives.
    *
    * The filter: each string's candidate signature set is itself plus
    * every single-character deletion. If ed(u, v) <= 1 the sets
    * intersect — equal strings share u; an insertion v = u+c has
    * v-del-c = u; a substitution at position i has u-del-i = v-del-i.
    * The converse does NOT hold (u="ab", v="ba" share "b" at ed 2), so
    * a row-local `levenshtein` verify runs on the deduped candidate
    * pairs — filter-and-verify, same discipline as the Jaccard join
    * above.
    *
    * Scale shape: fan-out per string is len+1 signatures (length-
    * bounded, NOT corpus-bounded); the wire carries (md5(signature),
    * id) — 16-byte keys, never the strings — through ONE equi join;
    * the strings rejoin only the candidate PAIRS for the verify. The
    * naive formulation (the DuckDB oracle) is the quadratic
    * levenshtein cross join this blocking exists to kill: candidates
    * here are |pairs sharing a signature| ≈ true pairs + the bounded
    * ed-2 collisions, not n²/2.
    *
    * Generalizing to ed <= k needs k-deletion neighborhoods (fan-out
    * C(len, k)) — the k=1 case is the common fuzzy-key-join shape
    * (typo'd identifiers, OCR'd codes). Null/empty strings drop: a
    * null matches nothing in SQL join semantics, and "" still emits
    * its identity signature. */
  def editOneJoin(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val base = df
      .filter(col(idCol).isNotNull && col(strCol).isNotNull)
      .select(col(idCol).as("id"), col(strCol).as("s"))
    val sigs = base
      .select(col("id"), col("s"), explode(array_distinct(concat(
        array(col("s")),
        expr("""transform(sequence(1, length(s)),
               |  i -> concat(substring(s, 1, i - 1), substring(s, i + 1)))"""
          .stripMargin)))).as("sig"))
      .select(col("id"), md5(col("sig")).as("sh"))
    val cand = sigs.as("a")
      .join(sigs.as("b"), col("a.sh") === col("b.sh") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("bigint"))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** CONTENT-DEFINED CHUNKING dedup (the LBFS/rsync idea, Muthitacharoen
    * et al. 2001; fixed-window hash-boundary variant): cut each
    * document where the hash of the trailing `window` characters lands
    * in a 1-in-16^maskHex.length mask, hash the chunks, and count
    * copies — duplicate SPANS dedup even when the documents around
    * them differ, and an insertion only reshapes the chunks it touches
    * (boundaries are content-addressed, not offset-addressed — the
    * property fixed-size blocks lack). Complements q144's exact
    * positional n-gram spans: CDC finds shared spans at chunk
    * granularity with one row-local pass and ONE chunk-hash shuffle,
    * no positional gram join.
    *
    * Everything before the final groupBy is row-local higher-order
    * functions (boundary scan, cut, substring), and the shuffle
    * carries 32-char chunk hashes + ids — never text. Expected chunk
    * length is 16^len(maskHex); tune maskHex to the dedup granularity
    * wanted. Documents shorter than `window` form a single chunk.
    * Engine-replayable: boundaries are md5-prefix tests on exact
    * substrings, so any engine cuts identically (the DuckDB oracle
    * does). */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                window: Int = 16, maskHex: String = "00"): DataFrame = {
    require(window >= 2 && maskHex.nonEmpty, "window >= 2, non-empty mask")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        length(col(textCol)).cast("long").as("len"))
    val bounds = base.withColumn("bounds",
      when(col("len") >= window, expr(
        s"""filter(transform(sequence(${window}L, len),
           |  i -> IF(substring(md5(substring(t, cast(i - ${window - 1} as int), $window)),
           |          1, ${maskHex.length}) = '$maskHex', i, CAST(null AS BIGINT))),
           |  x -> x is not null)""".stripMargin))
      .otherwise(expr("cast(array() as array<bigint>)")))
    val chunks = bounds
      .withColumn("cuts",
        concat(array(lit(0L)), col("bounds"), array(col("len"))))
      .select(col("id"), explode(expr(
        """transform(sequence(1, size(cuts) - 1),
          |  j -> substring(t, cast(element_at(cuts, j) + 1 as int),
          |                 cast(element_at(cuts, j + 1) - element_at(cuts, j) as int)))"""
          .stripMargin)).as("chunk"))
      .filter(length(col("chunk")) > 0)
    chunks.withColumn("h", md5(col("chunk")))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("id")).as("n_docs"),
        min(col("id")).as("first_doc"),
        min(length(col("chunk"))).as("chunk_len"))
  }

  /** DUPLICATED-n-GRAM RATE per document (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * duplicated-substring fraction their ExactSubstr analysis reports
    * per example; the standard memorization-risk filter signal beside
    * doc-level dedup): for every document, the fraction of its
    * OVERLAPPING n-gram POSITIONS whose n-gram occurs ≥ 2 times in
    * the whole corpus (any position, any document — within-doc
    * repetition counts, matching the substring-duplication semantics,
    * not just cross-doc copies).
    *
    * Relationship to siblings (distinct concepts): q50/q83 dedup
    * whole documents, q106 dedups fixed segments, q182 dedups CDC
    * chunks — all RETURN dedup groups; q100 flags overlap against an
    * EVAL slice (decontamination); q101 measures WITHIN-doc
    * repetition only. This op returns a corpus-wide per-doc SCORE for
    * threshold filtering — the "how much of this doc is boilerplate
    * the corpus already has" signal.
    *
    * Plan shape (the 100 TB design): grams leave the scan as 32-hex
    * md5 payloads — document text NEVER shuffles (the q50
    * discipline). Pass 1 pre-aggregates (gram, doc) occurrence counts
    * — the map-side combine that caps a hot gram's fan-in at one row
    * per (doc, partition) before anything moves. Pass 2 is a window
    * SUM over the gram key on those pre-aggregated rows (corpus total
    * per gram WITHOUT a join-back over the wide frame — the q387
    * argmin lesson applied to counting), then a doc-keyed rollup.
    * Hot-gram skew at extreme scale salts the gram key in pass 1
    * (sub-aggregate, then combine) — documented lever, not needed at
    * fixture SFs.
    *
    * Short documents (< n tokens) have no gram positions: n_grams =
    * 0, dup_frac = NULL (the honest value — membership preserved).
    *
    * Output: (doc_id, n_grams, n_dup, dup_frac) — n_dup = duplicated
    * positions, dup_frac rounded once at 4dp. */
  def dupGramScore(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    require(n >= 2, "gram order must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(col(idCol), split(col(textCol), " ").as("__tk"))
      .select(col(idCol), col("__tk"),
        greatest(size(col("__tk")) - (n - 1), lit(0)).cast("long")
          .as("n_grams"))
    // positional (NON-distinct, unlike shingles) grams, hashed at
    // the scan — the shuffle payload is 32 hex chars per position
    val grams = base.filter(col("n_grams") >= 1)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("__tk")) - n),
          i => md5(concat_ws(" ",
            (1 to n).map(j => element_at(col("__tk"), i + lit(j))): _*))))
          .as("gh"))
    val perDocGram = grams.groupBy(col("gh"), col(idCol))
      .agg(count(lit(1)).as("c"))
    val dupPerDoc = perDocGram
      .withColumn("__tot", sum(col("c")).over(Window.partitionBy("gh")))
      .groupBy(col(idCol))
      .agg(sum(when(col("__tot") >= 2, col("c")).otherwise(0L))
        .as("n_dup"))
    base.select(col(idCol), col("n_grams"))
      .join(dupPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .select(col(idCol), col("n_grams"), col("n_dup"),
        when(col("n_grams") >= 1,
          round(col("n_dup").cast("double") /
            col("n_grams").cast("double"), 4))
          .otherwise(lit(null).cast("double")).as("dup_frac"))
  }
}
