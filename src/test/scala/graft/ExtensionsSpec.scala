package graft

import graft.expressions.{DotProductF32, RewriteDotProduct, VectorExpressions}
import graft.ops.Similarity
import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Catalyst extension seam: native expression (with codegen),
  * optimizer rule, and function registration — each proved against the
  * declarative Similarity.dot baseline it accelerates. */
class ExtensionsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("graft_dot registers and equals the declarative zip_with/aggregate dot") {
    VectorExpressions.register(spark)
    // The rewrite rule is off, so the "hof" side runs as the
    // zip_with/aggregate fold and not as DotProductF32.
    withoutRules(RewriteDotProduct) {
      val bad = Tables.embeddings(spark, sfDir).limit(200)
        .select(
          Similarity.dot(col("embedding"), col("embedding")).as("hof"),
          call_function("graft_dot", col("embedding"), col("embedding")).as("native"))
        .filter(abs(col("hof") - col("native")) > 1e-9)
      assert(optimizedHas[ArrayAggregate](bad),
        s"HOF witness does not run as a fold:\n${bad.queryExecution.optimizedPlan}")
      assert(bad.isEmpty)
    }
  }

  test("graft_dot null semantics: null array yields null; empty arrays yield 0") {
    VectorExpressions.register(spark)
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),
      (None, Some(Seq(1.0f))),
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])))
      .toDF("a", "b")
      .select(call_function("graft_dot", col("a"), col("b")).as("d"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq === Seq(Some(11.0), None, Some(0.0)))
  }

  /** Hostile inputs where the HOF form goes null: length mismatch
    * (zip_with null-pads → acc + null poisons the fold) and null
    * elements (null * y → null element, same poisoning). The native
    * expression must agree exactly, or RewriteDotProduct silently
    * changes user results (VERDICT r3 "what's wrong" #3). The rows come
    * from an RDD: a local Seq would be folded into a LocalRelation at
    * optimization, before RewriteDotProduct runs. */
  private def hostileVectors = {
    spark.sparkContext.parallelize(Seq(
      (Seq[Option[Float]](Some(1.0f), Some(2.0f)),
       Seq[Option[Float]](Some(3.0f), Some(4.0f))),   // clean → 11.0
      (Seq[Option[Float]](Some(1.0f), Some(2.0f), Some(3.0f)),
       Seq[Option[Float]](Some(1.0f), Some(1.0f))),   // length mismatch → null
      (Seq[Option[Float]](Some(1.0f), None),
       Seq[Option[Float]](Some(2.0f), Some(5.0f))),   // null element → null
      (Seq[Option[Float]](None),
       Seq[Option[Float]](None))), 1)                 // all-null elements → null
      .toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
  }

  test("graft_dot matches HOF dot on length mismatch and null elements") {
    VectorExpressions.register(spark)
    val rows = withoutRules(RewriteDotProduct) {
      val q = hostileVectors
        .select(
          Similarity.dot(col("a"), col("b")).as("hof"),
          call_function("graft_dot", col("a"), col("b")).as("native"))
      assert(optimizedHas[ArrayAggregate](q),
        s"HOF witness does not run as a fold:\n${q.queryExecution.optimizedPlan}")
      q.collect()
    }
    def cell(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val hof = rows.map(cell(_, 0)).toSeq
    val native = rows.map(cell(_, 1)).toSeq
    assert(hof === Seq(Some(11.0), None, None, None))
    assert(native === hof)
  }

  test("rewritten plan equals unrewritten on hostile inputs (nulls preserved)") {
    def run(): Seq[Option[Double]] =
      hostileVectors
        .select(Similarity.dot(col("a"), col("b")).as("d"))
        .collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(optimizedHas[DotProductF32](
      hostileVectors.select(Similarity.dot(col("a"), col("b")))), "rule did not fire")
    val withRule = run()
    val withoutRule = withoutRules(RewriteDotProduct)(run())
    assert(withRule === withoutRule)
    assert(withRule === Seq(Some(11.0), None, None, None))
  }

  test("rule conservatism: degenerate merge lambda (acc, v) -> acc + acc is left untouched") {
    val q = Tables.embeddings(spark, sfDir).limit(10)
      .select(aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, _) => acc + acc).as("s"))
    val touched = q.queryExecution.optimizedPlan
      .collect { case n => n.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[DotProductF32]))
    assert(!touched, "degenerate merge lambda must not be rewritten as a dot product")
  }

  test("graft_dot survives codegen and interpreted paths identically") {
    VectorExpressions.register(spark)
    def run(): Seq[Double] =
      Tables.embeddings(spark, sfDir).limit(50)
        .select(call_function("graft_dot", col("embedding"), col("embedding")))
        .as[Double].collect().toSeq
    val withCodegen = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run())
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(withCodegen === interpreted)
  }

  test("RewriteDotProduct swaps the HOF dot product for the fused native expression") {
    val q = Tables.embeddings(spark, sfDir).limit(100)
      .select(col("vec_id"),
        Similarity.dot(col("embedding"), col("embedding")).as("d"))
    val optimized = q.queryExecution.optimizedPlan
    val rewritten = optimized.collect { case n => n.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[DotProductF32]))
    assert(rewritten, s"rule did not fire:\n$optimized")

    // results are identical with and without the rewrite
    val withRule = q.as[(Long, Double)].collect().toSet
    val withoutRule = withoutRules(RewriteDotProduct)(q.as[(Long, Double)].collect().toSet)
    assert(withRule === withoutRule)
  }

  test("RewriteRollingHash swaps the HOF fold for RollingHashMod; equal results; conservative") {
    import graft.expressions.{RewriteRollingHash, RollingHashMod}
    import graft.ops.TextAnalysis
    val q = Tables.documents(spark, sfDir).limit(50)
      .select(col("doc_id"), TextAnalysis.rollingHashHof(col("text")).as("h"))
    val fired = q.queryExecution.optimizedPlan
      .collect { case n => n.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[RollingHashMod]))
    assert(fired, s"rule did not fire:\n${q.queryExecution.optimizedPlan}")
    val withRule = q.as[(Long, Long)].collect().toSet
    val withoutRule = withoutRules(RewriteRollingHash)(q.as[(Long, Long)].collect().toSet)
    assert(withRule === withoutRule)

    // conservatism: a different modulus is NOT our hash — untouched
    val other = Tables.documents(spark, sfDir).limit(5)
      .select(aggregate(split(col("text"), ""), lit(0L),
        (acc, c) => pmod(acc * 31L + ascii(c).cast("long"), lit(97L))).as("h"))
    val touched = other.queryExecution.optimizedPlan
      .collect { case n => n.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[RollingHashMod]))
    assert(!touched, "fold with a different modulus must not be rewritten")
  }

  test("graft_band_keys null semantics: null vec, dims mismatch, null element all yield null") {
    val planes = typedlit(Seq.fill(16)(Seq.fill(2)(0.5f)))
    val df = Seq(
      (1L, Some(Seq[Option[Float]](Some(1.0f), Some(2.0f)))), // clean → 2 keys
      (2L, None),                                             // null vec
      (3L, Some(Seq[Option[Float]](Some(1.0f)))),             // dims mismatch (1 vs 2)
      (4L, Some(Seq[Option[Float]](Some(1.0f), None))))       // null element
      .toDF("id", "v")
      .select(col("id"),
        call_function("graft_band_keys",
          col("v").cast("array<float>"), planes, lit(8)).as("keys"))
    val got = df.collect().map(r => r.getLong(0) -> !r.isNullAt(1)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
    val keys = df.filter(col("id") === 1).select(size(col("keys"))).as[Int].head()
    assert(keys === 2) // 16 planes / 8 bits per band
  }

  test("graft_minhash and graft_simhash survive codegen and interpreted paths identically") {
    def run(): Seq[(Option[Seq[Long]], Option[Long])] =
      Tables.documents(spark, sfDir).limit(50)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(
          call_function("graft_minhash", col("toks"), lit(16)).as("mh"),
          call_function("graft_simhash", col("toks")).as("sh"))
        .as[(Option[Seq[Long]], Option[Long])].collect().toSeq
    val withCodegen = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run())
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(withCodegen === interpreted)
    assert(withCodegen.nonEmpty && withCodegen.forall { case (m, s) => m.isDefined && s.isDefined })
  }

  test("all five native functions are registered and SQL-callable") {
    // (A true config-time session test needs its own JVM — one
    // SparkContext per JVM, and getOrCreate would return the shared
    // session with extensions unapplied. The fixture registers via
    // VectorExpressions.register, which is the same wiring
    // GraftExtensions injects; additionally the extension class must
    // apply cleanly to a fresh SparkSessionExtensions.)
    val names = Seq("graft_dot", "graft_band_keys", "graft_simhash",
      "graft_minhash", "graft_rolling_hash")
    for (n <- names)
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)),
        s"$n not registered")
    val d = spark.sql("SELECT graft_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
      .collect()(0).getDouble(0)
    assert(d === 11.0)
    // SQL callers pass plain constant trees, not pre-folded Literals
    // (constant folding runs after function resolution): array(...) for
    // planes, INT literals for band width / k / seed must all resolve.
    val planesSql = Seq.fill(8)("array(0.5f, 0.5f)").mkString("array(", ", ", ")")
    val keys = spark.sql(
        s"SELECT graft_band_keys(array(1.0f, 2.0f), $planesSql, 8) AS k")
      .collect()(0).getSeq[Long](0)
    assert(keys === Seq(255L)) // every projection positive → all 8 bits set
    val mh = spark.sql("SELECT graft_minhash(array('a', 'b'), 4, 7) AS m")
      .collect()(0).getSeq[Long](0)
    assert(mh.length === 4)
    assert(!spark.sql("SELECT graft_simhash(array('a', 'b')) AS s")
      .collect()(0).isNullAt(0))
    // "abc" → ((0·31+97)·31+98)·31+99 mod 1e9+7
    val rh = spark.sql("SELECT graft_rolling_hash('abc') AS h")
      .collect()(0).getLong(0)
    assert(rh === ((97L * 31 + 98) * 31 + 99) % 1000000007L)
    new graft.expressions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("the shared test session is the production GraftSession: rules, strategy, functions") {
    import graft.expressions.RewriteRollingHash
    import graft.plans.{GroupedTopKStrategy, RewriteAggOnRollup, RewriteGroupedTopK}
    val s = TestSpark.spark
    assert(s.experimental.extraOptimizations === Seq(RewriteDotProduct,
      RewriteRollingHash, RewriteGroupedTopK, RewriteAggOnRollup))
    assert(s.experimental.extraStrategies === Seq(GroupedTopKStrategy))
    // the 12 functions GraftExtensions injects at config time
    val names = Seq("graft_dot", "graft_band_keys", "graft_simhash",
      "graft_minhash", "graft_bloom_agg", "graft_bloom_contains",
      "graft_rolling_hash", "graft_jaro_winkler", "graft_kll_agg",
      "graft_kll_merge", "graft_kll_quantile", "graft_kll_n")
    val missing = names.filterNot(n => s.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"unresolved: $missing")
  }

  test("KLL functions are registered and SQL-callable end to end") {
    // fixture registers via KllExpressions.register (the same wiring
    // GraftExtensions injects — applied-cleanly check above); the SQL
    // path must resolve literal k and thread agg → merge → quantile/n
    val row = spark.sql(
        """SELECT graft_kll_n(m) AS n,
          |       graft_kll_quantile(m, 0.5d) AS p50
          |FROM (SELECT graft_kll_merge(s) AS m
          |      FROM (SELECT graft_kll_agg(CAST(v AS DOUBLE), 800) AS s
          |            FROM (VALUES (1), (2), (3), (4), (5)) AS t(v)
          |            GROUP BY v % 2))""".stripMargin)
      .collect()(0)
    assert(row.getLong(0) === 5L, "exact count through agg+merge")
    assert(row.getDouble(1) === 3.0, "inclusive median at capacity")
    // empty-sketch quantile is null, not a throw
    val empty = spark.sql(
      "SELECT graft_kll_quantile(graft_kll_agg(CAST(NULL AS DOUBLE)), 0.5d) AS q")
      .collect()(0)
    assert(empty.isNullAt(0))
  }

  test("rule conservatism: a non-dot aggregate(zip_with) is left untouched") {
    // sum of element-wise MAX — same shape, different lambda: must not rewrite
    val q = Tables.embeddings(spark, sfDir).limit(10)
      .select(aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => greatest(x.cast("double"), y.cast("double"))),
        lit(0.0), (acc, v) => acc + v).as("s"))
    val touched = q.queryExecution.optimizedPlan
      .collect { case n => n.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[DotProductF32]))
    assert(!touched)
  }

  /** Jaro–Winkler parity cases, each value adjudicated against DuckDB's
    * jaro_winkler_similarity (the q264 oracle function) to 12 decimal
    * places. The set covers the three semantic forks an implementation
    * can take: integer vs fractional half-transpositions
    * ('abcdwxyz'/'abdcxywz' = 0.933333… only under INTEGER k/2), the
    * 0.7 Winkler boost gate ('aXbYc'/'abc' = 0.688888… stays
    * UN-boosted despite the common prefix), and the empty-string
    * convention (DuckDB yields 0.0 even for ''≍''). */
  private val jwCases = Seq(
    ("martha", "marhta", 0.961111111111),
    ("DWAYNE", "DUANE", 0.840000000000),
    ("abcde", "abced", 0.953333333333),
    ("aXbYc", "abc", 0.688888888889),    // boost gated at jaro <= 0.7
    ("abcdwxyz", "abdcxywz", 0.933333333333), // integer half-transpositions
    ("prefixaa", "prefixbb", 0.900000000000),
    ("ab", "ba", 0.0),                   // window 0 → no matches
    ("aaaa", "aaa", 0.941666666667),
    ("CRATE", "TRACE", 0.733333333333),
    ("a", "ab", 0.850000000000),
    ("", "abc", 0.0),
    ("", "", 0.0),
    ("abc", "abc", 1.0))

  test("graft_jaro_winkler matches DuckDB-adjudicated values (codegen path)") {
    graft.expressions.TextExpressions.register(spark)
    val got = jwCases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(call_function("graft_jaro_winkler", col("a"), col("b")).as("s"))
      .collect().map(_.getDouble(0))
    got.zip(jwCases).foreach { case (g, (a, b, want)) =>
      assert(math.abs(g - want) < 1e-9, s"'$a' ~ '$b'")
    }
  }

  test("graft_jaro_winkler interpreted eval equals codegen and nulls propagate") {
    import graft.expressions.JaroWinklerSim
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    jwCases.foreach { case (a, b, want) =>
      val e = JaroWinklerSim(Literal(a), Literal(b))
      val v = e.nullSafeEval(UTF8String.fromString(a), UTF8String.fromString(b))
        .asInstanceOf[Double]
      assert(math.abs(v - want) < 1e-9, s"interpreted '$a' ~ '$b'")
    }
    val nulls = Seq((Some("x"), None), (None, Some("y")), (None, None))
      .toDF("a", "b")
      .select(call_function("graft_jaro_winkler", col("a"), col("b")).as("s"))
    assert(nulls.collect().forall(_.isNullAt(0)))
  }

  test("graft_jaro_winkler is symmetric and 1.0 iff equal non-empty") {
    graft.expressions.TextExpressions.register(spark)
    val words = Seq("widget", "gadget", "wídget", "bolt", "b", "anvil plate")
    val pairs = for (x <- words; y <- words) yield (x, y)
    val rows = pairs.toDF("a", "b").select(col("a"), col("b"),
      call_function("graft_jaro_winkler", col("a"), col("b")).as("ab"),
      call_function("graft_jaro_winkler", col("b"), col("a")).as("ba"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(2) === r.getDouble(3), "symmetry")
      if (r.getString(0) == r.getString(1)) assert(r.getDouble(2) === 1.0)
      else assert(r.getDouble(2) < 1.0)
    }
  }
}
