package graft

import graft.expressions.RewriteRollingHash
import graft.ops.TextAnalysis
import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("token counts and average token length") {
    val df = Seq("aa bb ccc").toDF("text").select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.distinctTokenCount(col("text")).as("d"),
      TextAnalysis.avgTokenLen(col("text")).as("avg"))
    val (n, d, avg) = df.as[(Long, Long, Double)].head()
    assert(n === 3L && d === 3L)
    assert(math.abs(avg - 7.0 / 3) < 1e-12)
  }

  test("regexTokens splits words, digit runs, and punctuation runs") {
    val got = Seq("ab12,cd! x").toDF("text")
      .select(TextAnalysis.regexTokens(col("text")).as("t"))
      .as[Seq[String]].head()
    assert(got === Seq("ab", "12", ",", "cd", "!", "x"))
  }

  test("stopword and type-token ratios") {
    val df = Seq("the cat the dog").toDF("text").select(
      TextAnalysis.stopwordRatio(col("text"), Seq("the", "a")).as("sw"),
      TextAnalysis.typeTokenRatio(col("text")).as("ttr"))
    val (sw, ttr) = df.as[(Double, Double)].head()
    assert(sw === 0.5)  // 2 of 4
    assert(ttr === 0.75) // 3 distinct of 4
  }

  test("repetition signals: mode fraction via sorted-run fold, dup fraction, raw bigrams") {
    def top(toks: Seq[String]): Double =
      Seq(toks).toDF("toks")
        .select(TextAnalysis.topElementFractionOf(col("toks")).as("f"))
        .as[Double].head()
    assert(top(Seq("a", "b", "a", "c", "a")) === 3.0 / 5) // mode a ×3
    assert(top(Seq("x")) === 1.0)
    assert(top(Seq("a", "b", "c")) === 1.0 / 3)           // all-distinct tie
    // the sorted-run fold must not merge runs of DIFFERENT tokens
    assert(top(Seq("b", "a", "b", "a")) === 0.5)

    val (bigrams, dupF, topB) = Seq(Seq("a", "b", "a", "b"))
      .toDF("toks")
      .select(TextAnalysis.rawBigramsOf(col("toks")).as("b"),
        TextAnalysis.dupFractionOf(TextAnalysis.rawBigramsOf(col("toks"))).as("d"),
        TextAnalysis.topElementFractionOf(TextAnalysis.rawBigramsOf(col("toks"))).as("t"))
      .as[(Seq[String], Double, Double)].head()
    assert(bigrams === Seq("a b", "b a", "a b")) // raw, multiplicity kept
    assert(math.abs(dupF - 1.0 / 3) < 1e-12)     // 2 distinct of 3
    assert(math.abs(topB - 2.0 / 3) < 1e-12)     // "a b" ×2

    // edges: below 2 tokens there are no bigrams; dupFraction is 0 there
    val (emptyB, zeroDup) = Seq(Seq("solo")).toDF("toks")
      .select(TextAnalysis.rawBigramsOf(col("toks")).as("b"),
        TextAnalysis.dupFractionOf(TextAnalysis.rawBigramsOf(col("toks"))).as("d"))
      .as[(Seq[String], Double)].head()
    assert(emptyB.isEmpty && zeroDup === 0.0)
  }

  test("qualityScore stays in [0,1] and rewards length band + diversity") {
    val short = Seq("tiny text").toDF("text")
      .select(TextAnalysis.qualityScore(col("text"))).as[Double].head()
    val good = Seq(((1 to 50).map(i => s"w$i").mkString(" "))).toDF("text")
      .select(TextAnalysis.qualityScore(col("text"))).as[Double].head()
    assert(short >= 0.0 && short <= 1.0 && good >= 0.0 && good <= 1.0)
    assert(good > short) // in-band + fully diverse beats short text
    assert(good === 1.0)
  }

  test("langId picks the language whose markers dominate; und when none match") {
    val got = Seq(
      "the cat is in the house and it is warm",
      "el gato es de la casa que es una maravilla por los dios",
      "le chat est dans les maisons et la vie est une chose",
      "der hund ist nicht das problem und die katze ist ein freund",
      "zzz qqq xxx")
      .toDF("text").select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(got === Seq("en", "es", "fr", "de", "und"))
  }

  test("bagFingerprint is order-invariant and duplicate-insensitive") {
    val fp = Seq("b a c", "c b a", "a a b c c", "a b d")
      .toDF("text").select(TextAnalysis.bagFingerprint(col("text"))).as[String].collect()
    assert(fp(0) === fp(1))
    assert(fp(0) === fp(2))
    assert(fp(0) !== fp(3))
  }

  test("normalizeForDedup merges case/whitespace variants, preserves content") {
    val df = Seq(
      "The Quick  Brown fox", "the quick brown fox ", "  THE QUICK BROWN FOX",
      "the quick brown ox") // genuinely different
      .toDF("text")
      .select(TextAnalysis.normalizeForDedup(col("text")).as("n"))
    val got = df.as[String].collect().toSeq
    assert(got.take(3).toSet === Set("the quick brown fox"))
    assert(got(3) === "the quick brown ox")
  }

  test("rollingHash matches a hand-rolled polynomial mod 1e9+7") {
    val got = Seq("abc").toDF("text")
      .select(TextAnalysis.rollingHash(col("text"))).as[Long].head()
    val expect = "abc".foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    assert(got === expect)
  }

  test("native rollingHash ≡ the declarative HOF form, incl. multi-byte code points") {
    // ASCII, 2-byte (é), 3-byte CJK, mixed, empty — the HOF witness is
    // the SEMANTIC DEFINITION (split("") + ascii per element); the
    // fused expression must agree everywhere, incl. empty ⇒ 0. The
    // rewrite rule is off, so the witness runs as the HOF fold and not
    // as RollingHashMod (the native call does not need the rule). The
    // rows come from an RDD: a local Seq would be folded into a
    // LocalRelation at optimization, before any plan check could see it.
    val texts = Seq("abc", "héllo wörld", "中文 文档 内容", "a中é!", "")
    val rows = withoutRules(RewriteRollingHash) {
      val q = spark.sparkContext.parallelize(texts, 1).toDF("text").select(
        TextAnalysis.rollingHash(col("text")).as("native"),
        TextAnalysis.rollingHashHof(col("text")).as("hof"))
      assert(optimizedHas[ArrayAggregate](q),
        s"HOF witness does not run as a fold:\n${q.queryExecution.optimizedPlan}")
      q.as[(Long, Long)].collect()
    }
    rows.zip(texts).foreach { case ((n, h), t) =>
      assert(n === h, s"native != hof for '$t'")
    }
    assert(rows.last._1 === 0L)
  }

  test("chunkSpansOf covers every token, ends at the end, and never emits a contained chunk") {
    def chunks(n: Int, w: Int, s: Int): Seq[Seq[String]] =
      Seq((1 to n).map(i => s"t$i")).toDF("toks")
        .select(TextAnalysis.chunkSpansOf(col("toks"), w, s).as("c"))
        .as[Seq[Seq[String]]].head()
    // n < window → one whole-doc chunk; n == window → one full chunk
    assert(chunks(5, 8, 4) === Seq((1 to 5).map(i => s"t$i")))
    assert(chunks(8, 8, 4).map(_.size) === Seq(8))
    // n == window + 1 → second chunk picks up the tail (with overlap)
    assert(chunks(9, 8, 4).map(_.size) === Seq(8, 5))
    // null token array → NULL (posexplode then emits nothing), never
    // a spurious [null] chunk from legacy size(null) = -1
    val nullRow = Seq(Tuple1[Option[Seq[String]]](None)).toDF("toks")
      .select(TextAnalysis.chunkSpansOf(col("toks"), 8, 4).as("c"))
    assert(nullRow.filter(col("c").isNotNull).count() === 0L)
    // general: full coverage, last chunk reaches token n, every chunk
    // adds at least one new token (no fully-contained chunk)
    for ((n, w, s) <- Seq((20, 8, 4), (21, 8, 8), (100, 64, 48))) {
      val cs = chunks(n, w, s)
      assert(cs.flatten.toSet === (1 to n).map(i => s"t$i").toSet, s"coverage n=$n")
      assert(cs.last.last === s"t$n", s"tail n=$n")
      assert(cs.forall(_.nonEmpty) && cs.sliding(2).forall {
        case Seq(a, b) => b.last.drop(1).toInt > a.last.drop(1).toInt
        case _         => true
      }, s"contained chunk n=$n")
    }
  }

  test("buildVocab ranks by freq desc then token asc; encodeTokens maps OOV to 0") {
    val docs = Seq((1L, "b b a c z"), (2L, "b a a")).toDF("doc_id", "text")
    // freqs: a=3, b=3, c=1, z=1 → ids: a=1, b=2 (tie → token asc), c=3
    val vocab = TextAnalysis.buildVocab(docs, "text", 3)
    assert(vocab.orderBy("token_id").as[(String, Long)].collect().toSeq ===
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    val enc = TextAnalysis.encodeTokens(docs, "doc_id", "text", vocab)
      .orderBy("doc_id", "pos").as[(Long, Long, Long)].collect().toSeq
    assert(enc === Seq(
      (1L, 1L, 2L), (1L, 2L, 2L), (1L, 3L, 1L), (1L, 4L, 3L), (1L, 5L, 0L),
      (2L, 1L, 2L), (2L, 2L, 1L), (2L, 3L, 1L)))
  }

  test("redactPii replaces emails and phones with tags; piiCount counts matches") {
    val df = Seq(
      "mail bob.smith+x@ex-ample.co.uk or call 555-123-4567 ok",
      "two mails a@b.io c@d.org",
      "no pii here 12345").toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"),
        TextAnalysis.piiCount(col("text")).as("n"))
    val got = df.as[(String, Long)].collect().toSeq
    assert(got === Seq(
      ("mail [EMAIL] or call [PHONE] ok", 2L),
      ("two mails [EMAIL] [EMAIL]", 2L),
      ("no pii here 12345", 0L)))
  }

  test("tfIdf on a tiny corpus matches hand computation") {
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdf(docs, "doc_id", "text")
      .select("doc_id", "token", "tfidf").as[(Long, String, Double)]
      .collect().map { case (id, t, v) => (id, t) -> v }.toMap
    // df(a)=2, df(b)=df(c)=1, N=2 → idf(a)=ln(1)=0, idf(b)=idf(c)=ln 2
    assert(got((1L, "a")) === 0.0)
    assert(math.abs(got((1L, "b")) - math.log(2.0)) < 1e-12)
    assert(math.abs(got((2L, "c")) - math.log(2.0)) < 1e-12)
  }

  /** Independent sequential BPE reference: plain Scala collections,
    * written from the Sennrich et al. 2016 description, sharing no
    * code with the operator. */
  private def bpeReference(texts: Seq[String], numMerges: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var words: Map[Vector[String], Long] = texts
      .flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, c) => w.split("").toVector -> c }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (step <- 1 to numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.nonEmpty) {
        val ((l, r), cnt) = counts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }
        out += ((step, l, r, l + r, cnt))
        words = words.map { case (syms, c) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              acc += l + r; i += 2 // left-to-right, non-overlapping
            } else { acc += syms(i); i += 1 }
          }
          acc.toVector -> c
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  test("bpeTrain matches the sequential reference, including the a-a-a overlap rule") {
    // 'aaab' forces the (a,a) overlap decision; repeated words weight counts
    val texts = Seq("aaab aaab low lower", "low lowest aaab", "newer newer wider")
    val got = TextAnalysis.bpeTrain(
        texts.toDF("text"), "text", numMerges = 4)
      .select("step", "left", "right", "merged", "cnt")
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got === bpeReference(texts, 4))
    // the first merge must be (a,a) with LEFT-TO-RIGHT counting: 'aaab'
    // contributes 2 (a,a) pairs per occurrence (positions 0-1, 1-2)
    assert(got.head._2 == "a" && got.head._3 == "a")
  }

  test("bpeTrain on fixture documents matches the reference end-to-end") {
    val docs = Tables.documents(spark, sfDir).limit(40)
    val texts = docs.select("text").as[String].collect().toSeq
    val got = TextAnalysis.bpeTrain(docs, "text", numMerges = 3)
      .select("step", "left", "right", "merged", "cnt")
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got === bpeReference(texts, 3))
  }

  /** Independent sequential-replay encode reference: apply each merge
    * in learned order, left-to-right non-overlapping — the training
    * convention, written against the word table directly. */
  private def seqEncodeRef(word: String, merges: Seq[(String, String)]): Vector[String] = {
    var syms = word.split("").toVector
    for ((l, r) <- merges) {
      val acc = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          acc += l + r; i += 2
        } else { acc += syms(i); i += 1 }
      }
      syms = acc.toVector
    }
    syms
  }

  test("bpeEncodeWord: min-rank priority, non-overlap, and chained merges") {
    // chained: (a,b) then (ab,c) — both fire in rank order
    assert(TextAnalysis.bpeEncodeWord("abc",
      Map(("a", "b") -> 0, ("ab", "c") -> 1)) === Seq("abc"))
    // priority: (b,c) outranks (a,b), so 'abc' splits as a + bc
    assert(TextAnalysis.bpeEncodeWord("abc",
      Map(("b", "c") -> 0, ("a", "b") -> 1)) === Seq("a", "bc"))
    // non-overlap left-to-right: 'aaa' under (a,a) gives [aa, a]
    assert(TextAnalysis.bpeEncodeWord("aaa",
      Map(("a", "a") -> 0)) === Seq("aa", "a"))
    // no applicable merge: falls through to characters
    assert(TextAnalysis.bpeEncodeWord("xyz",
      Map(("a", "b") -> 0)) === Seq("x", "y", "z"))
  }

  test("bpeEncode lifecycle: trained merges encode the corpus, agreeing with the sequential replay") {
    val docs = Tables.documents(spark, sfDir).limit(40)
    val texts = docs.select("text").as[String].collect().toSeq
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 4)
      .orderBy("step").select("left", "right")
      .as[(String, String)].collect().toSeq
    assert(merges.nonEmpty)
    val rank = merges.zipWithIndex.toMap
    // kernel ≡ sequential replay on every distinct word of the corpus
    // (they can only diverge when a later rule's output collides with
    // an earlier rule's operand — this asserts the fixture corpus has
    // no silent divergence)
    val words = texts.flatMap(_.split(" ")).filter(_.length >= 2).distinct
    for (w <- words)
      assert(TextAnalysis.bpeEncodeWord(w, rank) === seqEncodeRef(w, merges),
        s"divergence on '$w'")
    // the full operator's weighted spectrum matches the reference
    val wordCounts = texts.flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = wordCounts.toSeq
      .flatMap { case (w, c) => seqEncodeRef(w, merges).map(t => (t, c)) }
      .groupBy(_._1).view
      .mapValues(ts => (ts.size.toLong, ts.map(_._2).sum)).toMap
    val got = TextAnalysis.bpeEncode(docs, "text", merges)
      .as[(String, Long, Long)].collect()
      .map { case (t, n, occ) => t -> (n, occ) }.toMap
    assert(got === expect)
  }

  test("tokenEntropyOf: moments match a direct computation on known shapes") {
    def stats(text: String): (Long, Long, Double) = {
      val r = Seq(text).toDF("text")
        .select(TextAnalysis.tokenEntropyOf(TextAnalysis.tokens(col("text"))).as("s"))
        .select(col("s.n_tokens"), col("s.n_distinct"),
          col("s.sum_clnc").cast("double"))
        .as[(Long, Long, Double)].head()
      r
    }
    def q10(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    // uniform repeats: one run of 4 → Σ c ln c = 4 ln 4 (entropy 0)
    assert(stats("a a a a") === ((4L, 1L, q10(4 * math.log(4)))))
    // all distinct: every run length 1 → Σ = 0 (entropy ln n)
    assert(stats("d c b a") === ((4L, 4L, 0.0)))
    // mixed multiset {a:2, b:1}, input unsorted
    assert(stats("a b a") === ((3L, 2L, q10(2 * math.log(2)))))
    // single token
    assert(stats("x") === ((1L, 1L, 0.0)))
  }

  test("tokenEntropyOf: empty array yields the zero struct, not a descending sequence") {
    val r = Seq(Seq.empty[String]).toDF("t")
      .select(TextAnalysis.tokenEntropyOf(col("t")).as("s"))
      .select(col("s.n_tokens"), col("s.n_distinct"),
        col("s.sum_clnc").cast("double"))
      .as[(Long, Long, Double)].head()
    assert(r === ((0L, 0L, 0.0)))
  }

  test("spanCorrupt: matches a sequential reference; partition invariance") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    // sequential replay of the documented algorithm
    def ref(docId: Long, text: String, denom: Int, spanLen: Int)
        : (Long, Long, Long, String, String) = {
      val toks = text.split(" ", -1)
      val start = toks.indices.map(i =>
        java.lang.Long.parseLong(
          md5hex(s"sc:$docId:$i").substring(0, 4), 16) % denom == 0)
      val masked = toks.indices.map(i =>
        (math.max(0, i - spanLen + 1) to i).exists(start))
      val runStart = toks.indices.map(i =>
        masked(i) && (i == 0 || !masked(i - 1)))
      val sid = runStart.scanLeft(0)((a, b) => a + (if (b) 1 else 0)).tail
      val in = toks.indices.flatMap { i =>
        if (!masked(i)) Some(toks(i))
        else if (runStart(i)) Some(s"<extra_id_${sid(i) - 1}>")
        else None
      }.mkString(" ")
      val tgt = toks.indices.flatMap { i =>
        if (runStart(i)) Some(s"<extra_id_${sid(i) - 1}> ${toks(i)}")
        else if (masked(i)) Some(toks(i))
        else None
      }.mkString(" ")
      (toks.length.toLong, masked.count(identity).toLong,
        runStart.count(identity).toLong, in, tgt)
    }
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (2L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen"))
    // denom 4 makes spans dense enough that merges occur on 20 tokens
    val got = TextAnalysis.spanCorrupt(docs.toDF("doc_id", "text"),
        "doc_id", "text", startDenom = 4, spanLen = 3)
      .select(col("doc_id"), col("n_tokens"), col("n_masked"),
        col("n_spans"), col("input_text"), col("target_text"))
      .as[(Long, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    docs.foreach { case (id, text) =>
      val (w, m, sp, in, tgt) = ref(id, text, 4, 3)
      assert(got(id) === ((w, m, sp, in, tgt)), s"doc $id")
      // the reference must itself be non-vacuous on this fixture
      assert(m > 0L && sp > 0L, s"doc $id drew no span at denom 4")
    }
    val rep = TextAnalysis.spanCorrupt(
        docs.toDF("doc_id", "text").repartition(7),
        "doc_id", "text", startDenom = 4, spanLen = 3)
      .select(col("doc_id"), col("n_tokens"), col("n_masked"),
        col("n_spans"), col("input_text"), col("target_text"))
      .as[(Long, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(rep === got)
  }

  test("spanCorrupt: denom 1 masks everything into ONE merged span") {
    val got = TextAnalysis.spanCorrupt(
        Seq((5L, "a b c d")).toDF("doc_id", "text"),
        "doc_id", "text", startDenom = 1, spanLen = 3)
      .select(col("n_tokens"), col("n_masked"), col("n_spans"),
        col("input_text"), col("target_text"))
      .as[(Long, Long, Long, String, String)].head()
    assert(got === ((4L, 4L, 1L, "<extra_id_0>", "<extra_id_0> a b c d")))
  }

  test("mlmMask: matches a sequential hex-slice reference; branches and rates behave") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def ref(docId: Long, text: String)
        : (Long, Long, Long, Long, Long, String, String) = {
      val toks = text.split(" ", -1)
      val n = toks.length
      case class P(pos: Int, orig: String, sel: Boolean, out: String,
                   br: Long)
      val ps = toks.indices.map { i =>
        val h = md5hex(s"mlm:$docId:$i")
        def bits(start: Int, len: Int) =
          java.lang.Long.parseLong(h.substring(start - 1, start - 1 + len), 16)
        val sel = bits(1, 4) % 100 < 15
        val br = bits(5, 4) % 10
        val out =
          if (!sel) toks(i)
          else if (br < 8) "[MASK]"
          else if (br == 8) toks((bits(9, 6) % n).toInt)
          else toks(i)
        P(i, toks(i), sel, out, br)
      }
      val s2 = ps.filter(_.sel)
      (n.toLong, s2.size.toLong, s2.count(_.br < 8).toLong,
        s2.count(_.br == 8).toLong, s2.count(_.br == 9).toLong,
        ps.map(_.out).mkString(" "),
        s2.map(p => s"${p.pos}:${p.orig}").mkString(" "))
    }
    // 120 tokens so every 80/10/10 branch realizes deterministically
    val text1 = (1 to 120).map(i => s"w$i").mkString(" ")
    val text2 = (1 to 60).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, text1), (2L, text2))
    val got = TextAnalysis.mlmMask(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("n_masked"),
        col("n_sentinel"), col("n_random"), col("n_kept"),
        col("masked_text"), col("labels"))
      .as[(Long, Long, Long, Long, Long, Long, String, String)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8)))
      .toMap
    var sent = 0L; var rnd = 0L; var kept = 0L
    docs.foreach { case (id, text) =>
      val (n, m, s2, r2, k, out, lab) = ref(id, text)
      assert(got(id) === ((n, m, s2, r2, k, out, lab)), s"doc $id")
      sent += s2; rnd += r2; kept += k
    }
    // the deterministic fixture must exercise every branch
    assert(sent > 0 && rnd > 0 && kept > 0,
      s"branch starvation: $sent/$rnd/$kept")
  }

  test("fim: matches a sequential reference; empty segments render with their separators") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def ref(docId: Long, text: String): (Long, Long, Long, String) = {
      val toks = text.split(" ", -1)
      val n = toks.length
      def cut(k: Int) = java.lang.Long.parseLong(
        md5hex(s"fim:$docId:$k").substring(0, 8), 16) % (n + 1)
      val (c1, c2) = (math.min(cut(1), cut(2)), math.max(cut(1), cut(2)))
      val pre = toks.slice(0, c1.toInt).mkString(" ")
      val suf = toks.slice(c2.toInt, n).mkString(" ")
      val mid = toks.slice(c1.toInt, c2.toInt).mkString(" ")
      (c1, c2, n.toLong, s"<PRE> $pre <SUF> $suf <MID> $mid")
    }
    val docs = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")),
      (2L, "solo"),
      (3L, "a b"))
    val got = TextAnalysis.fim(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("cut1"), col("cut2"),
        col("fim_text"))
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    docs.foreach { case (id, text) =>
      val (c1, c2, n, s) = ref(id, text)
      assert(got(id) === ((n, c1, c2, s)), s"doc $id")
    }
  }

  test("readability: hand-worked counts and both formulas") {
    // W = 7; S = 2 ('.' and '!'); every token has one vowel run ->
    // Syl = 7. ease = 206.835 - 1.015*(7/2) - 84.6*(7/7) = 118.6825;
    // grade = 0.39*3.5 + 11.8*1 - 15.59 = -2.425.
    val got = Seq("the cat sat. it is a hat!").toDF("text")
      .select(TextAnalysis.readability(col("text")).as("rd"))
      .select(col("rd.n_words"), col("rd.n_sentences"),
        col("rd.n_syllables"), col("rd.ease"), col("rd.grade"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(got === ((7L, 2L, 7L, 118.6825, -2.425)))
  }

  test("readability: vowelless tokens count one syllable; y is a vowel; sentence floor") {
    // '7 xz grr': zero vowel runs, all three tokens vowelless ->
    // Syl = 3; no sentence punctuation -> S floors at 1.
    val a = Seq("7 xz grr").toDF("text")
      .select(TextAnalysis.readability(col("text")).as("rd"))
      .select(col("rd.n_words"), col("rd.n_sentences"),
        col("rd.n_syllables")).as[(Long, Long, Long)].head()
    assert(a === ((3L, 1L, 3L)))
    // 'my rhythm': y-runs make both tokens vowel-bearing -> Syl = 2
    val b = Seq("my rhythm").toDF("text")
      .select(TextAnalysis.readability(col("text")).as("rd"))
      .select(col("rd.n_words"), col("rd.n_sentences"),
        col("rd.n_syllables")).as[(Long, Long, Long)].head()
    assert(b === ((2L, 1L, 2L)))
    // mixed: one vowelless token among vowel-bearing ones
    val c = Seq("see the 99 geese...").toDF("text")
      .select(TextAnalysis.readability(col("text")).as("rd"))
      .select(col("rd.n_words"), col("rd.n_sentences"),
        col("rd.n_syllables")).as[(Long, Long, Long)].head()
    // vowel runs: see(ee), the(e), geese(ee, e) = 4; '99' vowelless
    // adds 1 -> Syl = 5; one '...' run -> S = 1
    assert(c === ((4L, 1L, 5L)))
  }

  test("instructionPairs: matches a sequential template-bank reference; longest-word tie pinned") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def coin(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"sft:$id").substring(0, 4), 16) % 4
    // one doc per template: search ids until each coin value realizes
    val ids = (0L to 3L).map(t => (1L to 400L).find(coin(_) == t).get)
    val texts = Map(
      0L -> (1 to 20).map(i => s"h$i").mkString(" "), // > 12 words
      1L -> "one two three four five",
      2L -> "bb aa zz c", // three-way length tie -> 'zz' (alpha-last)
      3L -> "alpha mid omega")
    val docs = ids.zipWithIndex.map { case (id, t) => (id, texts(t.toLong)) }
    val prompts = Map(
      0L -> "Repeat the first 12 words of the passage below.",
      1L -> "How many words does the passage below contain?",
      2L -> ("What is the longest word in the passage below? " +
        "Break length ties toward the alphabetically last word."),
      3L -> "Give the first and the last word of the passage below.")
    val names = Map(0L -> "head12", 1L -> "word_count",
      2L -> "longest_word", 3L -> "first_last")
    def ref(id: Long, text: String): (String, String, String) = {
      val toks = text.split(" ", -1)
      val t = coin(id)
      val resp = t match {
        case 0L => toks.take(12).mkString(" ")
        case 1L => toks.length.toString
        case 2L => toks.maxBy(w => (w.length, w)) // len, then alpha-LAST
        case _ => s"${toks.head} ${toks.last}"
      }
      (names(t), s"${prompts(t)}\n$text", resp)
    }
    val got = TextAnalysis.instructionPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .select(col("doc_id"), col("template"), col("instruction"),
        col("response"))
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size === 4)
    docs.foreach { case (id, text) =>
      val (tn, instr, resp) = ref(id, text)
      assert(got(id) === ((tn, instr, resp)), s"doc $id")
    }
    // each fixture doc landed on a distinct template (no starvation)
    assert(got.values.map(_._1).toSet === names.values.toSet)
  }

  test("denoiserMix: coin routing, S prefix/suffix reference, R/X ≡ spanCorrupt on routed subsets") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def rcoin(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"ul2:$id").substring(0, 4), 16) % 100
    // a 1-token doc routed to S pins the no-interior-cut edge
    val soloId = (1L to 400L)
      .find(id => rcoin(id) >= 50 && rcoin(id) < 75).get
    val docs = (1L to 60L).filter(_ != soloId).map(id =>
        (id, (1 to 30).map(i => s"w${id}_$i").mkString(" "))) :+
      (soloId, "solo")
    val df = docs.toDF("doc_id", "text")
    val got = TextAnalysis.denoiserMix(df, "doc_id", "text")
      .select(col("doc_id"), col("objective"), col("n_tokens"),
        col("n_masked"), col("n_spans"), col("input_text"),
        col("target_text"))
      .as[(Long, String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got.size === docs.size) // one row per doc, none dropped
    // 1. routing replays the JVM coin; all three objectives live
    docs.foreach { case (id, _) =>
      val c = rcoin(id)
      val exp = if (c < 50) "R" else if (c < 75) "S" else "X"
      assert(got(id)._1 === exp, s"doc $id coin $c")
    }
    assert(got.values.map(_._1).toSet === Set("R", "S", "X"))
    // 2. S rows match the sequential prefix/suffix reference
    docs.filter { case (id, _) => got(id)._1 == "S" }.foreach {
      case (id, text) =>
        val toks = text.split(" ", -1)
        val n = toks.length
        val cut = if (n >= 2)
          java.lang.Long.parseLong(
            md5hex(s"ul2:s:$id").substring(0, 6), 16) % (n - 1) + 1
        else 1L
        val exp = ("S", n.toLong, n - cut, if (n > cut) 1L else 0L,
          toks.take(cut.toInt).mkString(" "),
          toks.drop(cut.toInt).mkString(" "))
        assert(got(id) === exp, s"S doc $id")
    }
    // the solo doc realizes the empty-target edge: kept, 0 spans
    assert(got(soloId) === (("S", 1L, 0L, 0L, "solo", "")))
    // 3. R and X rows ≡ spanCorrupt driven directly on the routed
    //    subset with the branch salt/params
    def direct(objective: String, denom: Int, span: Int) = {
      val ids = docs.collect {
        case (id, _) if got(id)._1 == objective => id }
      val sub = df.filter(col("doc_id").isin(ids: _*))
      TextAnalysis.spanCorrupt(sub, "doc_id", "text", denom, span,
          s"ul2:${objective.toLowerCase}:")
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          col("n_spans"), col("input_text"), col("target_text"))
        .as[(Long, Long, Long, Long, String, String)].collect()
        .map(r => r._1 -> ((objective, r._2, r._3, r._4, r._5, r._6)))
        .toMap
    }
    (direct("R", 20, 3) ++ direct("X", 8, 4)).foreach {
      case (id, exp) => assert(got(id) === exp, s"direct doc $id")
    }
    // 4. X corrupts strictly more than R on this fixture (the
    //    extreme-denoiser regime is real, not a relabeled R)
    def frac(obj: String) = {
      val rs = got.values.filter(_._1 == obj)
      rs.map(_._3).sum.toDouble / rs.map(_._2).sum
    }
    assert(frac("X") > 2 * frac("R"),
      s"X ${frac("X")} vs R ${frac("R")}")
  }

  test("preferencePairs: corruption bank matches a sequential reference; rejected always differs from chosen") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def sftCoin(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"sft:$id").substring(0, 4), 16) % 4
    def dpoCoin(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"dpo:$id").substring(0, 4), 16) % 3
    def findId(t: Long, k: Long): Long =
      (1L to 4000L).find(id => sftCoin(id) == t && dpoCoin(id) == k).get
    // one doc per corruption path, including BOTH fallback edges
    val cases = Seq(
      (findId(3, 0), "alpha beta gamma"),    // repeat_first direct
      (findId(0, 1), "one two three"),       // uppercase applies
      (findId(1, 1), "one two three four"),  // digit chosen -> fallback
      (findId(0, 2), "aa bb cc dd ee"),      // head_half applies (5 -> 3)
      (findId(2, 2), "tiny mightiest word")) // 1-word chosen -> fallback
    val docs = cases.toDF("doc_id", "text")
    // sequential reference over the full template + corruption bank
    def ref(id: Long, text: String): (String, String, String, String) = {
      val toks = text.split(" ", -1)
      val chosen = sftCoin(id) match {
        case 0L => toks.take(12).mkString(" ")
        case 1L => toks.length.toString
        case 2L => toks.maxBy(w => (w.length, w))
        case _ => s"${toks.head} ${toks.last}"
      }
      val ct = chosen.split(" ", -1)
      val corruption = dpoCoin(id) match {
        case 1L if chosen.toUpperCase != chosen => "uppercase"
        case 2L if ct.length >= 2 => "head_half"
        case _ => "repeat_first"
      }
      val rejected = corruption match {
        case "uppercase" => chosen.toUpperCase
        case "head_half" => ct.take((ct.length + 1) / 2).mkString(" ")
        case _ => s"$chosen ${ct.head}"
      }
      (chosen, rejected, corruption, text)
    }
    val got = TextAnalysis.preferencePairs(docs, "doc_id", "text")
      .select(col("doc_id"), col("chosen"), col("rejected"),
        col("corruption"))
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size === cases.size)
    cases.foreach { case (id, text) =>
      val (chosen, rejected, corruption, _) = ref(id, text)
      assert(got(id) === ((chosen, rejected, corruption)), s"doc $id")
      assert(got(id)._2 != got(id)._1, s"doc $id rejected == chosen")
    }
    // all three corruption branches fired, and both fallbacks landed
    // on repeat_first (no dead branch, no degenerate tie)
    assert(got.values.map(_._3).toSet ===
      Set("repeat_first", "uppercase", "head_half"))
    assert(got(cases(2)._1)._3 === "repeat_first") // digit fallback
    assert(got(cases(4)._1)._3 === "repeat_first") // 1-word fallback
  }
}
