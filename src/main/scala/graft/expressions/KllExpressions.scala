package graft.expressions

import org.apache.datasketches.kll.{KllDoublesSketch, KllSketch}
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** KLL quantile sketches (Karnin–Lang–Liberty 2016, "Optimal quantile
  * approximation in streams") as native Catalyst aggregates over the
  * Apache DataSketches implementation Spark already ships for its own
  * `hll_sketch_agg` family — the datasketches-java jar is on every
  * Spark 4 classpath, Spark just never exposed the KLL surface.
  *
  * This completes the persisted-sketch-table symmetry (SURVEY §2: HLL
  * distinct rollups q127/q134/q138, top-k rollups q143): quantiles are
  * the third aggregate family that does NOT roll up from plain
  * partials — a p95 of p95s is meaningless — so arbitrary-date-range
  * percentiles either rescan raw events or merge per-window sketches.
  * KLL merges losslessly within its rank-error envelope
  * (~1.65% normalized rank error at k=200, two-sided), so the q134
  * deployment shape carries over verbatim: one scan builds
  * per-(group, day) sketch rows, a day-partitioned table persists
  * them, and any range query prunes partitions + merges |days|×|groups|
  * fixed-size sketches instead of rescanning the corpus.
  *
  * Implementation notes, same discipline as Spark's HllSketchAgg:
  * TypedImperativeAggregate over the mutable heap sketch (partial
  * aggregation / map-side combine comes for free — the shuffle carries
  * one serialized sketch per group, never rows), BinaryType output in
  * the library's portable serialized layout. Estimates are
  * rows-only-gated in queries (the register layout and compaction coin
  * are sketch-internal — KLL compaction draws a random offset, so
  * byte-images are not replayable cross-engine); SketchSpec pins
  * exact-at-capacity (no compaction ⇒ quantiles ARE order statistics),
  * merge-consistency, and the published rank-error envelope. */
object KllExpressions {

  /** INCLUSIVE search criterion everywhere (the library default and
    * the SQL-standard CUME_DIST direction): quantile(r) = smallest
    * retained value whose inclusive rank ≥ r. */
  private[expressions] val Crit = QuantileSearchCriteria.INCLUSIVE

  private[expressions] def heapify(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  /** Published two-sided normalized rank-error bound for parameter k
    * (≈ 1.65% at the default k = 200) — exposed for SketchSpec's
    * envelope assertions. */
  def normalizedRankError(k: Int): Double =
    KllSketch.getNormalizedRankError(k, false)

  val DefaultK = 200

  val aggInfo = new ExpressionInfo(classOf[KllSketchAgg].getName, "graft_kll_agg")
  val aggBuilder: Seq[Expression] => Expression = {
    case Seq(c) => KllSketchAgg(c, DefaultK).toAggregateExpression()
    case Seq(c, Literal(k: Int, IntegerType)) =>
      KllSketchAgg(c, k).toAggregateExpression()
    case other => throw new IllegalArgumentException(
      s"graft_kll_agg expects (value[, k literal]), got ${other.length} args")
  }

  val mergeInfo = new ExpressionInfo(classOf[KllMergeAgg].getName, "graft_kll_merge")
  val mergeBuilder: Seq[Expression] => Expression = {
    case Seq(c) => KllMergeAgg(c).toAggregateExpression()
    case other => throw new IllegalArgumentException(
      s"graft_kll_merge expects 1 argument, got ${other.length}")
  }

  val quantileInfo = new ExpressionInfo(classOf[KllQuantile].getName, "graft_kll_quantile")
  val quantileBuilder: Seq[Expression] => Expression = {
    case Seq(s, r) => KllQuantile(s, r)
    case other => throw new IllegalArgumentException(
      s"graft_kll_quantile expects (sketch, rank), got ${other.length}")
  }

  val nInfo = new ExpressionInfo(classOf[KllN].getName, "graft_kll_n")
  val nBuilder: Seq[Expression] => Expression = {
    case Seq(s) => KllN(s)
    case other => throw new IllegalArgumentException(
      s"graft_kll_n expects 1 argument, got ${other.length}")
  }

  /** The KLL functions, the one list that names them: `GraftExtensions`
    * injects it into every graft session. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    (FunctionIdentifier("graft_kll_agg"), aggInfo, aggBuilder),
    (FunctionIdentifier("graft_kll_merge"), mergeInfo, mergeBuilder),
    (FunctionIdentifier("graft_kll_quantile"), quantileInfo, quantileBuilder),
    (FunctionIdentifier("graft_kll_n"), nInfo, nBuilder))

  /** `functions` registered on a session built without `GraftExtensions`.
    * Only perfbench's own session needs it; it goes once that session
    * comes from `GraftSession`. */
  def register(spark: SparkSession): Unit =
    functions.foreach(f => spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3))
}

/** `graft_kll_agg(value[, k])` — build a KllDoublesSketch over a
  * double column; nulls are skipped (SQL aggregate convention). The
  * empty-group sketch serializes fine (getN = 0), so the aggregate is
  * never null. */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_kll_agg expects a double value (cast first), got $t")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_agg"

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buffer: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KllDoublesSketch): Any = buffer.toByteArray
  override def serialize(buffer: KllDoublesSketch): Array[Byte] = buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllExpressions.heapify(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

/** `graft_kll_merge(sketch)` — union serialized KLL sketches (the
  * rollup-table read path: q134's hll_union_agg analog). Nulls are
  * skipped; the merged k is the smallest k among the INPUTS (library
  * min-k semantics — error never silently improves), which is why the
  * aggregation buffer starts at MAX_K: a fixed-k buffer would clamp
  * every merge down to ITS k and silently discard input precision
  * (caught by SketchSpec's merge-at-capacity law: k=800 inputs merged
  * through a k=200 buffer missed the exact order statistic). */
case class KllMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_kll_merge expects a serialized sketch (binary), got $t")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_merge"

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(KllSketch.MAX_K)

  override def update(buffer: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buffer.merge(KllExpressions.heapify(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def merge(buffer: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KllDoublesSketch): Any = buffer.toByteArray
  override def serialize(buffer: KllDoublesSketch): Array[Byte] = buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllExpressions.heapify(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllMergeAgg =
    copy(child = newChild)
}

/** `graft_kll_quantile(sketch, rank)` — the INCLUSIVE quantile at
  * normalized rank ∈ [0, 1]. Null on an empty sketch (a group with
  * only nulls) rather than the library's throw. */
case class KllQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_kll_quantile expects (binary, double), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_kll_quantile"

  override def nullSafeEval(sketch: Any, rank: Any): Any = {
    val sk = KllExpressions.heapify(sketch.asInstanceOf[Array[Byte]])
    if (sk.isEmpty) null
    else sk.getQuantile(rank.asInstanceOf[Double], KllExpressions.Crit)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantile =
    copy(left = newLeft, right = newRight)
}

/** `graft_kll_n(sketch)` — the EXACT item count the sketch has
  * absorbed (getN is exact by construction; only ranks approximate). */
case class KllN(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_kll_n expects a serialized sketch (binary), got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_kll_n"

  override def nullSafeEval(sketch: Any): Any =
    KllExpressions.heapify(sketch.asInstanceOf[Array[Byte]]).getN

  override protected def withNewChildInternal(newChild: Expression): KllN =
    copy(child = newChild)
}
