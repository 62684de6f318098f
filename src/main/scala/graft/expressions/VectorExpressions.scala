package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the float-embedding dot product —
  * the engine's documented extension seam one level below UDFs
  * (SURVEY.md §4.2: custom Expression with codegen, only where perf
  * demands). Semantically identical to graft.ops.Similarity.dot
  * (zip_with + aggregate accumulated in Double) but fused: one tight
  * primitive loop over both ArrayData, no intermediate zipped array,
  * no per-element lambda dispatch — and `doGenCode` keeps it inside
  * WholeStageCodegen.
  *
  * Null semantics — exactly the HOF form's, so the rewrite is
  * semantics-preserving on EVERY input, not just clean embeddings:
  * null input array ⇒ null (nullIntolerant); length mismatch ⇒ null
  * (zip_with null-pads the shorter side and `acc + null` poisons the
  * fold); any null element in either array ⇒ null (null * y ⇒ null
  * element, same poisoning). Equal-length null-free arrays ⇒ the sum
  * of products accumulated in Double, in index order (same fold order
  * as aggregate's left fold, so float rounding is bit-identical).
  */
case class DotProductF32(left: Expression, right: Expression)
    extends BinaryExpression {

  // checkInputDataTypes instead of ExpectsInputTypes: AbstractDataType
  // is private[sql], unnameable from a third-party package.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // Nullable even for non-nullable inputs: length mismatch / null
  // elements produce null (and ev.isNull must be assignable in codegen).
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF32 =
    copy(left = newLeft, right = newRight)
}

/** All hyperplane band keys of an LSH cosine sketch, fused into ONE
  * expression: key b packs the sign bits of vec · plane for that band's
  * `bitsPerBand` hyperplanes (plane p belongs to band p/bitsPerBand,
  * bit p%bitsPerBand). Returns array<long> of planes.length/bitsPerBand
  * keys, indexed by band — pair with posexplode for LSH bucketing.
  *
  * Why native and fused: the declarative form is bands × bitsPerBand
  * independent dot-product trees in one Project; at 128 planes the
  * generated consume method is so large HotSpot refuses to JIT it and
  * the stage runs as interpreted bytecode (measured 14× slowdown going
  * 32 → 128 planes on identical per-plane work). One expression = one
  * JIT-friendly loop nest over a constant float[][].
  *
  * Null semantics match DotProductF32: null vector ⇒ null; dims
  * mismatch with the planes ⇒ null; any null element ⇒ null. */
case class HyperplaneBandKeys(child: Expression, planes: Seq[Seq[Float]],
                              bitsPerBand: Int) extends UnaryExpression {
  require(planes.nonEmpty && planes.length % bitsPerBand == 0,
    "planes must be a non-empty multiple of bitsPerBand")
  require(bitsPerBand >= 1 && bitsPerBand <= 63, "band key packs into one Long")

  // planes is Seq-of-Seq (NOT Array) so case-class equality is
  // structural — array fields compare by reference and would defeat
  // semanticEquals/subexpression reuse for identically-seeded
  // sketches. The hot loop runs over this flattened copy.
  @transient private lazy val mat: Array[Array[Float]] =
    planes.iterator.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_band_keys expects array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "graft_band_keys"

  /** Shared by interpreted eval and codegen (codegen calls it through a
    * reference object — one real JVM method, JIT-compiled once). */
  def compute(input: ArrayData): ArrayData = {
    val dims = mat(0).length
    if (input.numElements() != dims) return null
    val vec = new Array[Double](dims)
    var i = 0
    while (i < dims) {
      if (input.isNullAt(i)) return null
      vec(i) = input.getFloat(i).toDouble
      i += 1
    }
    val bands = mat.length / bitsPerBand
    val keys = new Array[Long](bands)
    var p = 0
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < bitsPerBand) {
        val plane = mat(p); p += 1
        var acc = 0.0
        var d = 0
        while (d < dims) { acc += vec(d) * plane(d).toDouble; d += 1 }
        if (acc >= 0.0) key |= (1L << j)
        j += 1
      }
      keys(b) = key
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val inst = ctx.addReferenceObj("sketcher", this, classOf[HyperplaneBandKeys].getName)
    nullSafeCodeGen(ctx, ev, v => s"""
      |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $inst.compute($v);
      |${ev.isNull} = ${ev.value} == null;
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBandKeys =
    copy(child = newChild)
}

object HyperplaneBandKeys {
  /** Folds a constant array<array<float>> expression (a Literal from
    * typedlit, or any foldable tree like SQL `array(array(...))` —
    * constant folding runs AFTER function resolution, so the builder
    * must evaluate foldables itself). */
  def matrixFromConstant(e: Expression): Seq[Seq[Float]] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    Seq.tabulate(ad.numElements())(i => ad.getArray(i).toFloatArray().toSeq)
  }
}

/** k-hash MinHash signature of a token array's word n-grams (Broder
  * 1997, "On the resemblance and containment of documents"): one
  * FNV-1a 64 base hash per n-gram, k derived hashes via the SplitMix64
  * finalizer (Steele et al. 2014, public constants) over base +
  * seed_i, per-position running min. P[min_i(A) = min_i(B)] =
  * Jaccard(A, B), so the fraction of equal signature positions
  * estimates Jaccard.
  *
  * Fused native expression: signature generation is ROW-LOCAL — no
  * shingle explode, no k-column min aggregation, no shuffle at all
  * (the previous explode+groupBy form shuffled k longs per doc and
  * evaluated k derived hashes per exploded row). The n-gram hash is
  * computed INCREMENTALLY over the window's tokens with a 0x20
  * separator — byte-identical to hashing the space-joined gram
  * string, so no gram strings are ever materialized (with shingleN =
  * 1 this degenerates to hashing each element, i.e. a pre-shingled
  * array can be passed directly). Duplicate grams cannot affect
  * minima, so no distinct is needed either.
  *
  * Null array ⇒ null; FEWER THAN shingleN elements (incl. empty) ⇒
  * null (a min-of-nothing signature would bucket every short document
  * together); null element ⇒ null. */
case class MinHashSig(child: Expression, k: Int, seed: Long,
                      shingleN: Int = 1) extends UnaryExpression {
  require(k >= 1 && k <= 1024, "k out of range")
  require(shingleN >= 1, "shingleN must be >= 1")

  @transient private lazy val seeds: Array[Long] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(k)(rnd.nextLong())
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  def compute(input: ArrayData): Any = {
    val n = input.numElements()
    if (n < shingleN) return null
    // one UTF8String→bytes conversion per token, reused across the
    // shingleN windows that token participates in
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (input.isNullAt(i)) return null
      toks(i) = input.getUTF8String(i).getBytes
      i += 1
    }
    val mins = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s <= n - shingleN) {
      // FNV-1a 64 over the window's tokens joined by 0x20 — the exact
      // byte stream of the space-concatenated gram string
      var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
      var w = 0
      while (w < shingleN) {
        if (w > 0) h = (h ^ 0x20L) * 0x100000001b3L
        val bytes = toks(s + w)
        var b = 0
        while (b < bytes.length) {
          h = (h ^ (bytes(b) & 0xffL)) * 0x100000001b3L // FNV prime
          b += 1
        }
        w += 1
      }
      var j = 0
      while (j < k) {
        var z = h + seeds(j) // SplitMix64 finalizer
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^= (z >>> 31)
        if (z < mins(j)) mins(j) = z
        j += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val inst = ctx.addReferenceObj("minhasher", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, v => s"""
      |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $inst.compute($v);
      |${ev.isNull} = ${ev.value} == null;
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 64-bit SimHash of a token array (Charikar 2002, "Similarity
  * estimation techniques from rounding algorithms"): each token
  * occurrence votes ±1 on every bit of its 64-bit hash; bit j of the
  * result is the sign of vote j. Near-identical token bags differ in
  * few bits, so Hamming distance tracks bag overlap — band the result
  * for LSH bucketing exactly like a MinHash signature.
  *
  * Fused native expression for the same reason as HyperplaneBandKeys:
  * the declarative form is 64 conditional aggregations per token —
  * either a non-codegen HOF fold or a 64-column shuffle; this is one
  * row-local loop, zero shuffle.
  *
  * Token hash is FNV-1a 64 over the token's UTF-8 bytes (public
  * constants 0xcbf29ce484222325 / 0x100000001b3) — any well-mixed
  * 64-bit hash works; the signature is only compared to signatures
  * produced by the same function. Null array ⇒ null; null element ⇒
  * null; EMPTY array ⇒ null (an all-zero vote vector would give every
  * empty doc the same degenerate signature and pair them all). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash"

  def compute(input: ArrayData): Any = {
    val n = input.numElements()
    if (n == 0) return null
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (input.isNullAt(i)) return null
      val bytes = input.getUTF8String(i).getBytes
      var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
      var b = 0
      while (b < bytes.length) {
        h = (h ^ (bytes(b) & 0xffL)) * 0x100000001b3L // FNV prime
        b += 1
      }
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val inst = ctx.addReferenceObj("simhasher", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, v => s"""
      |Object r = $inst.compute($v);
      |if (r == null) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = ((Long) r).longValue();
      |}
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object VectorExpressions {
  val dotInfo = new ExpressionInfo(classOf[DotProductF32].getName, "graft_dot")

  val dotBuilder: Seq[Expression] => Expression = {
    case Seq(l, r) => DotProductF32(l, r)
    case other => throw new IllegalArgumentException(
      s"graft_dot expects 2 arguments, got ${other.length}")
  }

  val bandKeysInfo = new ExpressionInfo(classOf[HyperplaneBandKeys].getName, "graft_band_keys")

  /** graft_band_keys(vec, planesConstant, bitsPerBandConstant) — the
    * planes and band width must be CONSTANT (foldable) expressions:
    * they parameterize the fused loop. Similarity.cosineBandKeys
    * passes a typedlit; SQL callers can write array(array(...)). */
  val bandKeysBuilder: Seq[Expression] => Expression = {
    case Seq(vec, planes, bpb)
        if planes.foldable && constLong(bpb).isDefined =>
      HyperplaneBandKeys(vec, HyperplaneBandKeys.matrixFromConstant(planes),
        constLong(bpb).get.toInt)
    case other => throw new IllegalArgumentException(
      "graft_band_keys expects (vec, planes CONSTANT, bitsPerBand CONSTANT), got " +
        other.map(_.getClass.getSimpleName).mkString(", "))
  }

  val minhashInfo = new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash")

  /** Folds a constant integral expression to Long (int or bigint —
    * SQL integer literals parse as IntegerType). */
  private def constLong(e: Expression): Option[Long] =
    if (!e.foldable) None
    else e.eval() match {
      case i: java.lang.Integer => Some(i.longValue())
      case l: java.lang.Long => Some(l)
      case _ => None
    }

  /** graft_minhash(tokens, k CONSTANT [, seed CONSTANT [, shingleN
    * CONSTANT]]) — k, seed, and the n-gram width parameterize the
    * fused loop (shingleN defaults to 1: hash each element as-is). */
  val minhashBuilder: Seq[Expression] => Expression = {
    case Seq(toks, k) if constLong(k).isDefined =>
      MinHashSig(toks, constLong(k).get.toInt, 42L)
    case Seq(toks, k, s) if constLong(k).isDefined && constLong(s).isDefined =>
      MinHashSig(toks, constLong(k).get.toInt, constLong(s).get)
    case Seq(toks, k, s, n)
        if constLong(k).isDefined && constLong(s).isDefined &&
          constLong(n).isDefined =>
      MinHashSig(toks, constLong(k).get.toInt, constLong(s).get,
        constLong(n).get.toInt)
    case other => throw new IllegalArgumentException(
      "graft_minhash expects (tokens, k CONSTANT [, seed CONSTANT [, shingleN CONSTANT]]), got " +
        other.map(_.getClass.getSimpleName).mkString(", "))
  }

  val simhashInfo = new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash")

  val simhashBuilder: Seq[Expression] => Expression = {
    case Seq(toks) => SimHash64(toks)
    case other => throw new IllegalArgumentException(
      s"graft_simhash expects 1 argument, got ${other.length}")
  }

  /** graft_bloom_agg(keyLong, expectedItems CONSTANT, numBits CONSTANT)
    * — Spark's own runtime-filter build aggregate
    * (BloomFilterAggregate, the codegen'd machinery behind
    * spark.sql.optimizer.runtimeFilter.bloomFilter), surfaced as a
    * session function so operators can build persistent/broadcastable
    * Bloom sketches without private-API Column plumbing. The analyzer
    * wraps the returned AggregateFunction exactly as it does sum(). */
  val bloomAggInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
    "graft_bloom_agg")

  val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(key, items, bits) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        key, items, bits)
    case other => throw new IllegalArgumentException(
      s"graft_bloom_agg expects (key, expectedItems, numBits), got ${other.length} args")
  }

  /** graft_bloom_contains(sketch CONSTANT BINARY, keyLong) — probe side
    * (BloomFilterMightContain); the sketch must be foldable, which is
    * the broadcast-as-literal deployment shape. */
  val bloomContainsInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
    "graft_bloom_contains")

  val bloomContainsBuilder: Seq[Expression] => Expression = {
    case Seq(sketch, key) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(sketch, key)
    case other => throw new IllegalArgumentException(
      s"graft_bloom_contains expects (sketch, key), got ${other.length} args")
  }

  /** The vector functions, the one list that names them: `GraftExtensions`
    * injects it into every graft session. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    (FunctionIdentifier("graft_dot"), dotInfo, dotBuilder),
    (FunctionIdentifier("graft_band_keys"), bandKeysInfo, bandKeysBuilder),
    (FunctionIdentifier("graft_simhash"), simhashInfo, simhashBuilder),
    (FunctionIdentifier("graft_minhash"), minhashInfo, minhashBuilder),
    (FunctionIdentifier("graft_bloom_agg"), bloomAggInfo, bloomAggBuilder),
    (FunctionIdentifier("graft_bloom_contains"), bloomContainsInfo, bloomContainsBuilder))

  /** `functions` registered on a session built without `GraftExtensions`.
    * Only perfbench's own session needs it; it goes once that session
    * comes from `GraftSession`. */
  def register(spark: SparkSession): Unit =
    functions.foreach(f => spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3))
}
