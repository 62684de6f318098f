package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparator

/** The WHOLE-OPERATOR extension seam (SURVEY.md §4.2's ladder, rung
  * (c)): a custom `LogicalPlan` node + optimizer `Rule` + planner
  * `SparkStrategy` + physical `SparkPlan`, registered through
  * `SparkSessionExtensions` (GraftExtensions) — the mechanism for
  * semantics the built-in operators can express only wastefully.
  *
  * The operator: GROUPED TOP-K. Spark's idiom —
  *
  *   row_number() OVER (PARTITION BY g ORDER BY s) <= k
  *
  * — plans (Spark ≥3.5, with InsertWindowGroupLimits) as
  * Sort → WindowGroupLimit(Partial) → Exchange → Sort →
  * WindowGroupLimit(Final) → WindowExec → Filter: the group-limit
  * prunes rows early but still pays TWO full sorts plus the window.
  * The physical operator here replaces all three with per-group
  * BOUNDED HEAPS (size k), the same O(n log k) kernel as
  * `TopK.viaAgg`'s Aggregator (q95) but planned AUTOMATICALLY for the
  * declarative window idiom: `RewriteGroupedTopK` pattern-matches
  * Filter(rn ≤ k, Window(row_number)) in the optimizer and swaps in
  * the logical node; `GroupedTopKStrategy` plans it; EnsureRequirements
  * still inserts the hash Exchange (the node declares
  * ClusteredDistribution), so only the SORT disappears.
  *
  * Semantics are EXACTLY the window form's: every child row carries
  * its rank, ranks are 1..k per group, and the emitted set equals the
  * filter's (PlanShapeSpec + GroupedTopKPlanSpec pin equivalence
  * against the un-rewritten plan on the fixture). Ties follow the
  * SortOrder; as with row_number, a non-total order key makes rank
  * assignment among equal keys partition-order dependent — gated
  * queries use total keys (the q34/q95 discipline).
  *
  * Memory contract: the heap phase holds (groups in partition) × k
  * rows on heap — a strict improvement on the window form's
  * full-partition sort buffer WHILE group cardinality is modest. It is
  * GUARDED: when a partition sees more than
  * `spark.graft.topk.maxGroups` distinct groups (default 131072), the
  * operator abandons the heaps for that partition and falls back to a
  * spillable external sort on (group, order) — the retained heap rows
  * plus every remaining input row go through Spark's own
  * UnsafeExternalRowSorter (the SortExec machinery, task-memory
  * accounted, spills to disk) and the top k per group are emitted in
  * one pass over the sorted run. The fallback is per-partition and
  * exact: a row evicted from a heap before the switch was already
  * beaten by k same-group rows whose ordering positions only improve
  * afterwards, so its absence cannot change any emitted rank
  * (GroupedTopKPlanSpec pins fallback ≡ window rows with the cutoff
  * forced to 2). Net: the rewrite is safe to leave on by default — a
  * high-cardinality key degrades to the window path's own memory
  * profile instead of OOMing the executor, and the `sortFallbackCount`
  * SQLMetric makes the degradation observable.
  */
case class GroupedTopKNode(
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankCol: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankCol
  // rankCol is GENERATED here, not consumed — without this the node
  // reports missingInput and prints with the `!` invalid marker
  override def producedAttributes: AttributeSet = AttributeSet(rankCol)
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopKNode =
    copy(child = newChild)
}

/** Optimizer rewrite: Filter(rn <= k | rn < k+1, Window(row_number()
  * OVER (PARTITION BY ... ORDER BY ...))) → GroupedTopKNode.
  * Deliberately conservative (the RewriteRollingHash discipline):
  * exactly ONE window expression, it must be row_number(), the filter
  * must be a literal integer bound on that attribute, and the
  * partition spec must be non-empty (the global case already plans as
  * TakeOrderedAndProject where it matters, and a single global heap
  * would serialize through one task anyway). */
object RewriteGroupedTopK extends Rule[LogicalPlan] {

  private def asTopK(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rn) => Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute) if a.semanticEquals(rn) => Some(k)
    case GreaterThan(Literal(k: Int, _), a: Attribute) if a.semanticEquals(rn) => Some(k - 1)
    case _ => None
  }

  /** A session that runs this rule after Spark's own
    * `InferWindowGroupLimit` (one that adds it to the "User Provided
    * Optimizers" batch, as perfbench's does) finds a logical
    * WindowGroupLimit (a sort-based per-group row pruner) wedged under
    * the Window. The heap operator subsumes it — keeping it would pay
    * its TWO sorts for nothing — so the rewrite strips a matching
    * layer. Injected through `GraftExtensions` the rule runs in the
    * Operator Optimization batches, before that inference. */
  private def stripGroupLimit(child: LogicalPlan,
      partitionSpec: Seq[Expression], k: Int): LogicalPlan = child match {
    case org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit(
        ps, _, RowNumber(), limit, grandchild)
        if limit >= k && ps == partitionSpec =>
      grandchild
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ org.apache.spark.sql.catalyst.plans.logical.Filter(cond,
        LogicalWindow(Seq(alias @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(partitionSpec, orderSpec,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
          _)), _, _, child, _))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty =>
      asTopK(cond, alias.toAttribute) match {
        case Some(k) if k > 0 =>
          GroupedTopKNode(partitionSpec, orderSpec, k, alias.toAttribute,
            stripGroupLimit(child, partitionSpec, k))
        case Some(_) => // k <= 0: the filter is empty; leave it alone
          f
        case None => f
      }
  }
}

/** Planner strategy for the logical node. */
object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopKNode(part, order, k, rankCol, child) =>
      GroupedTopKExec(part, order, k, rankCol, planLater(child)) :: Nil
    case _ => Nil
  }
}

object GroupedTopKExec {
  /** Per-partition distinct-group cutoff past which a partition
    * abandons its heaps for the spillable sort fallback. At the
    * default (2^17) with k ≤ 10 and ~200 B rows the heap state tops
    * out around 250 MB/partition before the switch — and with the
    * exchange spreading groups across shuffle partitions, a job only
    * falls back when TOTAL group cardinality passes cutoff×partitions
    * (≈4M groups at local[32]; ≈26M at 200 partitions). */
  val MaxGroupsKey = "spark.graft.topk.maxGroups"
  val DefaultMaxGroups = 131072

  /** Constant-prefix plumbing for UnsafeExternalRowSorter: the sort is
    * decided entirely by the row-level RecordComparator (the generated
    * (group, order) ordering); radix is off, prefixes always tie. */
  private object ZeroPrefixComparator extends PrefixComparator {
    override def compare(a: Long, b: Long): Int = 0
  }
  private final class ZeroPrefixComputer extends UnsafeExternalRowSorter.PrefixComputer {
    private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
    override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
      p.value = 0L; p.isNull = false; p
    }
  }
}

/** Physical grouped top-k: hash-clustered input (EnsureRequirements
  * inserts the Exchange), per-partition per-group bounded heaps of
  * size k, ranks materialized on emit. No sort of the full input —
  * each row costs O(log k) against its group's heap — unless the
  * partition's group count passes `spark.graft.topk.maxGroups`, at
  * which point it degrades to one spillable external sort on
  * (group, order) and a single-pass per-group emit (the window path's
  * memory profile, minus the rank machinery). */
case class GroupedTopKExec(
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankCol: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankCol
  override def producedAttributes: AttributeSet = AttributeSet(rankCol)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionExprs) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "sortFallbackCount" -> SQLMetrics.createMetric(sparkContext,
      "partitions past the group cutoff (sort fallback)"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val childOutput = child.output
    val partLocal = partitionExprs
    val orderLocal = order
    val rankLocal = rankCol
    val maxGroups = conf.getConfString(GroupedTopKExec.MaxGroupsKey,
      GroupedTopKExec.DefaultMaxGroups.toString).toLong
    val schema = StructType(childOutput.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    val numOutputRows = longMetric("numOutputRows")
    val sortFallbacks = longMetric("sortFallbackCount")
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(partLocal, childOutput)
      val ord = GenerateOrdering.generate(orderLocal, childOutput)
      // max-heap under ord: the WORST retained row at the head, so a
      // full heap admits a new row iff it beats the current worst
      val heaps = new java.util.HashMap[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]()
      var fellBack = false
      while (iter.hasNext && !fellBack) {
        val row = iter.next()
        val key = groupProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](
            kLocal, ord.reverse)
          heaps.put(key.copy(), heap)
          // guard checked only on new-group admission — the row is
          // already heaped, so the drain below loses nothing
          if (heaps.size() > maxGroups) fellBack = true
        }
        if (heap.size() < kLocal) heap.offer(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.offer(row.copy())
        }
      }
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(
        childOutput :+ rankLocal, childOutput :+ rankLocal)
      if (fellBack) {
        // Spill path: external-sort the retained heap rows plus every
        // remaining input row on (group, order) — task-memory
        // accounted, spills to disk, cleanup registered on task
        // completion by the sorter itself — then emit the first k of
        // each group run. Exact despite heap-phase evictions: an
        // evicted row was beaten by k same-group rows, and a heap's
        // worst element only ever improves, so all k of its final
        // retained betters outrank it at emit — it could never have
        // ranked ≤ k.
        sortFallbacks += 1
        val fullOrd = GenerateOrdering.generate(
          partLocal.map(e => SortOrder(e, Ascending)) ++ orderLocal, childOutput)
        // the memory manager's configured page size — what SortExec
        // itself passes; a hard-coded small page would mean many more
        // allocations and spill merge passes exactly where the
        // fallback fires (very large partitions)
        val sorter = UnsafeExternalRowSorter.create(
          schema, fullOrd, GroupedTopKExec.ZeroPrefixComparator,
          new GroupedTopKExec.ZeroPrefixComputer,
          org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes, false)
        val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        def insert(row: InternalRow): Unit = row match {
          case u: UnsafeRow => sorter.insertRow(u)
          case r => sorter.insertRow(toUnsafe(r))
        }
        val hIt = heaps.values().iterator()
        while (hIt.hasNext) {
          val h = hIt.next()
          var r = h.poll()
          while (r != null) { insert(r); r = h.poll() }
        }
        heaps.clear()
        while (iter.hasNext) insert(iter.next())
        var prevKey: UnsafeRow = null
        var rank = 0
        sorter.sort().flatMap { row =>
          val key = groupProj(row)
          if (prevKey == null || key != prevKey) {
            prevKey = key.copy(); rank = 0
          }
          rank += 1
          if (rank <= kLocal) {
            rankRow.update(0, rank)
            numOutputRows += 1
            Iterator.single(resultProj(joined(row, rankRow)))
          } else Iterator.empty
        }
      } else {
        import scala.jdk.CollectionConverters._
        heaps.values().iterator().asScala.flatMap { heap =>
          val arr = heap.toArray(new Array[InternalRow](heap.size()))
          java.util.Arrays.sort(arr, ord)
          Iterator.tabulate(arr.length) { i =>
            rankRow.update(0, i + 1)
            numOutputRows += 1
            resultProj(joined(arr(i), rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKExec =
    copy(child = newChild)
}
