package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused polynomial rolling hash over a string's code points:
  * acc ← (acc·31 + codepoint) mod 1e9+7, left to right.
  *
  * Semantically identical to the declarative form
  * `aggregate(split(text, ""), 0L, (acc, c) → pmod(acc·31 + ascii(c),
  * 1e9+7))` — split("") yields one element per code point (Java's
  * zero-width regex split does not break surrogate pairs) and ascii()
  * is the first code point — but fused: the HOF form materializes one
  * single-char UTF8String PER CHARACTER of every document (a 2 KB doc
  * → ~2000 short-lived objects) and runs an interpreted lambda per
  * element; this is one loop over the raw UTF-8 bytes, no per-char
  * allocation, inside WholeStageCodegen via a reference-object call
  * (same pattern as MinHashSig/SimHash64).
  *
  * Modulo at every step keeps the accumulator < 2³⁵, so the arithmetic
  * is portable (DuckDB list_reduce oracle, q58) — never Long wrap.
  * Empty string ⇒ 0 (the HOF form hashes split("…") = [""] with
  * ascii("") = 0, which also yields 0). Null ⇒ null. */
case class RollingHashMod(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_rolling_hash expects string, got $t")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_rolling_hash"

  def compute(s: UTF8String): Long = {
    // Decode UTF-8 in place. Continuation-byte reads are CLAMPED to the
    // array (Utf8Decode.cont): Spark does not validate strings read from
    // external Parquet, and a truncated trailing sequence must degrade
    // to a deterministic value, not throw AIOOBE and fail the task.
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = 0
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if (b0 < 0xe0) { // 2-byte
        cp = ((b0 & 0x1f) << 6) | Utf8Decode.cont(bytes, i + 1); i += 2
      } else if (b0 < 0xf0) { // 3-byte
        cp = ((b0 & 0x0f) << 12) | (Utf8Decode.cont(bytes, i + 1) << 6) |
          Utf8Decode.cont(bytes, i + 2); i += 3
      } else { // 4-byte
        cp = ((b0 & 0x07) << 18) | (Utf8Decode.cont(bytes, i + 1) << 12) |
          (Utf8Decode.cont(bytes, i + 2) << 6) | Utf8Decode.cont(bytes, i + 3); i += 4
      }
      acc = (acc * 31L + cp) % 1000000007L
    }
    acc
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val inst = ctx.addReferenceObj("roller", this, classOf[RollingHashMod].getName)
    defineCodeGen(ctx, ev, v => s"$inst.compute($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): RollingHashMod =
    copy(child = newChild)
}

/** Optimizer rule (second instance of the Rule seam, alongside
  * RewriteDotProduct): rewrites the declarative rolling-hash fold that
  * TextAnalysis.rollingHashHof emits —
  *
  *   aggregate(split(text, ""), 0L,
  *             (acc, c) -> pmod(acc * 31 + bigint(ascii(c)), 1000000007))
  *
  * — into the fused RollingHashMod. Unlike the dot-product rewrite
  * (where zip_with's null-padding made equivalence subtle), this one
  * is total: both forms are null ⇔ input null and agree on every
  * string, including "" (spec-pinned). The match is still
  * deliberately conservative — split on the empty pattern, zero 0L,
  * exactly acc·31 + cast(ascii(elem)) under pmod by exactly 1e9+7,
  * identity finish — so any other fold is left untouched. */
object RewriteRollingHash
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            StringSplit(str, Literal(sep, StringType), Literal(-1, IntegerType)),
            Literal(0L, LongType),
            LambdaFunction(
              Pmod(
                Add(
                  Multiply(acc: NamedLambdaVariable, Literal(31L, LongType), _),
                  Cast(Ascii(elem: NamedLambdaVariable), LongType, _, _), _),
                Literal(1000000007L, LongType), _),
              mergeVars, _),
            LambdaFunction(finishBody, finishVars, _))
          if sep != null && sep.toString.isEmpty &&
            mergeVars.map(_.exprId) == Seq(acc.exprId, elem.exprId) &&
            (finishBody match {
              case v: NamedLambdaVariable =>
                finishVars.map(_.exprId).contains(v.exprId)
              case _ => false
            }) =>
        RollingHashMod(str)
    }
}

/** Bounds-clamped UTF-8 continuation-byte read, shared by the native
  * string expressions. A malformed sequence truncated at the buffer
  * edge decodes its missing continuation bytes as 0 — a deterministic
  * replacement-style value — instead of indexing past the array. */
private[expressions] object Utf8Decode {
  @inline def cont(bytes: Array[Byte], i: Int): Int =
    if (i < bytes.length) bytes(i) & 0x3f else 0
}

/** Jaro–Winkler similarity (Jaro 1989; Winkler 1990) as a native
  * codegen'd binary expression — the record-linkage scorer Spark has
  * no builtin for (only levenshtein/soundex). Semantics are pinned to
  * DuckDB's `jaro_winkler_similarity` (empirically adjudicated against
  * it, StringExprSpec): greedy row-major matching inside the
  * max(l1,l2)/2−1 window, INTEGER half-transpositions (k/2 truncated —
  * the variant 'abcdwxyz'/'abdcxywz' discriminates), Winkler prefix
  * boost (≤4 chars, scale 0.1) only when jaro > 0.7, and 0.0 when
  * either side is empty (DuckDB returns 0 even for ''≍''). Operates on
  * CODE POINTS (decoded in one pass, same as RollingHashMod), not
  * UTF-8 bytes. O(l1·window) time, two small boolean scratch arrays —
  * inside WholeStageCodegen via a reference-object call. Gated outputs
  * must compare ROUNDED values (round 6): the last-ULP of the double
  * tree is not contractual across engines. */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_jaro_winkler expects (string, string), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_jaro_winkler"

  private def codePoints(s: UTF8String): Array[Int] = {
    // Sized by bytes.length (a true upper bound: every code point is
    // ≥1 byte), NOT numChars(): on malformed UTF-8 — which Spark will
    // happily hand us from external Parquet — numChars()'s stride can
    // disagree with this loop's, and an undersized `out` would AIOOBE
    // the task. Continuation reads are clamped for the same reason.
    val bytes = s.getBytes
    val out = new Array[Int](bytes.length)
    var i = 0; var n = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = 0
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if (b0 < 0xe0) {
        cp = ((b0 & 0x1f) << 6) | Utf8Decode.cont(bytes, i + 1); i += 2
      } else if (b0 < 0xf0) {
        cp = ((b0 & 0x0f) << 12) | (Utf8Decode.cont(bytes, i + 1) << 6) |
          Utf8Decode.cont(bytes, i + 2); i += 3
      } else {
        cp = ((b0 & 0x07) << 18) | (Utf8Decode.cont(bytes, i + 1) << 12) |
          (Utf8Decode.cont(bytes, i + 2) << 6) | Utf8Decode.cont(bytes, i + 3); i += 4
      }
      out(n) = cp; n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  def compute(a: UTF8String, b: UTF8String): Double = {
    val s1 = codePoints(a); val s2 = codePoints(b)
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      var j = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var hit = false
      while (j < hi && !hit) {
        if (!m2(j) && s1(i) == s2(j)) { m1(i) = true; m2(j) = true; m += 1; hit = true }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0; var j = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j)) j += 1
        if (s1(i) != s2(j)) k += 1
        j += 1
      }
      i += 1
    }
    val t = k / 2 // integer half-transpositions — DuckDB parity
    val md = m.toDouble
    var sim = (md / l1 + md / l2 + (m - t).toDouble / md) / 3.0
    if (sim > 0.7) { // Winkler boost gated at the 0.7 threshold
      var p = 0
      val lim = math.min(4, math.min(l1, l2))
      var q = 0; var same = true
      while (q < lim && same) {
        if (s1(q) == s2(q)) p += 1 else same = false
        q += 1
      }
      sim += p * 0.1 * (1.0 - sim)
    }
    sim
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val inst = ctx.addReferenceObj("jw", this, classOf[JaroWinklerSim].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$inst.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSim =
    copy(left = newLeft, right = newRight)
}

object TextExpressions {
  val rollingHashInfo =
    new ExpressionInfo(classOf[RollingHashMod].getName, "graft_rolling_hash")

  val rollingHashBuilder: Seq[Expression] => Expression = {
    case Seq(s) => RollingHashMod(s)
    case other => throw new IllegalArgumentException(
      s"graft_rolling_hash expects 1 argument, got ${other.length}")
  }

  val jaroWinklerInfo =
    new ExpressionInfo(classOf[JaroWinklerSim].getName, "graft_jaro_winkler")

  val jaroWinklerBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => JaroWinklerSim(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_jaro_winkler expects 2 arguments, got ${other.length}")
  }

  /** The text functions, the one list that names them: `GraftExtensions`
    * injects it into every graft session. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    (FunctionIdentifier("graft_rolling_hash"), rollingHashInfo, rollingHashBuilder),
    (FunctionIdentifier("graft_jaro_winkler"), jaroWinklerInfo, jaroWinklerBuilder))

  /** `functions` registered on a session built without `GraftExtensions`.
    * Only perfbench's own session needs it; it goes once that session
    * comes from `GraftSession`. */
  def register(spark: SparkSession): Unit =
    functions.foreach(f => spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3))
}
