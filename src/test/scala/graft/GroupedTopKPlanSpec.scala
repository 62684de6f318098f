package graft

import graft.plans.{GroupedTopKExec, GroupedTopKNode, RewriteGroupedTopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The whole-operator seam (LogicalPlan + Rule + Strategy + SparkPlan):
  * the Filter(row_number ≤ k, Window) idiom must re-plan as the
  * heap-based GroupedTopKExec with NO WindowExec and NO sort of the
  * full input, produce exactly the window form's rows, and leave
  * every non-matching shape untouched. */
class GroupedTopKPlanSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def topkFrame(k: Int): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  test("the idiom plans as GroupedTopKExec — no WindowExec, no full sort") {
    val q = topkFrame(3)
    assert(q.queryExecution.optimizedPlan.collect {
      case n: GroupedTopKNode => n }.nonEmpty, "rule did not fire")
    val p = q.queryExecution.executedPlan.toString
    // the physical node prints as "GroupedTopK" (nodeName strips
    // "Exec"); "!" would mark it invalid/unplanned
    assert(p.contains("GroupedTopK ") && !p.contains("!GroupedTopK"),
      s"strategy did not plan:\n$p")
    assert(!p.contains("Window"), s"window survived the rewrite:\n$p")
    assert(!p.contains("Sort "), s"a sort survived the rewrite:\n$p")
    // the hash Exchange stays — EnsureRequirements honors the node's
    // ClusteredDistribution; only the sort disappears
    assert(p.contains("Exchange hashpartitioning(l_suppkey"),
      s"clustering exchange missing:\n$p")
  }

  test("rows equal the un-rewritten window form exactly (incl. ranks)") {
    val got = topkFrame(3)
      .as[(Long, Double, Long, Int, Int)].collect().toSet
    withoutRules(RewriteGroupedTopK) {
      val want = topkFrame(3)
      assert(want.queryExecution.executedPlan.toString.contains("Window"),
        "control plan must be the window form")
      assert(got === want.as[(Long, Double, Long, Int, Int)].collect().toSet)
    }
  }

  test("strict bound (<) and reversed comparison forms rewrite with the right k") {
    val w = Window.partitionBy("l_suppkey").orderBy(desc("l_extendedprice"),
      col("l_orderkey"), col("l_linenumber"))
    val base = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("rn", row_number().over(w))
    val lt = base.filter(col("rn") < 3)
    assert(lt.queryExecution.optimizedPlan.collect {
      case n: GroupedTopKNode => n.k }.headOption === Some(2))
    assert(lt.groupBy("l_suppkey").count()
      .agg(max("count")).as[Long].head() === 2L)
    val rev = base.filter(lit(2) >= col("rn"))
    assert(rev.queryExecution.optimizedPlan.collect {
      case n: GroupedTopKNode => n.k }.headOption === Some(2))
  }

  test("conservatism: rank(), extra window exprs, and global top-k stay on the window path") {
    val w = Window.partitionBy("l_suppkey").orderBy(desc("l_extendedprice"))
    val rankQ = Tables.lineitem(spark, sfDir)
      .withColumn("r", rank().over(w)).filter(col("r") <= 2)
    assert(rankQ.queryExecution.optimizedPlan.collect {
      case n: GroupedTopKNode => n }.isEmpty, "rank() must not rewrite")
    val twoExprs = Tables.lineitem(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("mx", max("l_extendedprice").over(
        Window.partitionBy("l_suppkey")))
      .filter(col("rn") <= 2)
    assert(twoExprs.queryExecution.optimizedPlan.collect {
      case n: GroupedTopKNode => n }.isEmpty,
      "multi-expression windows must not rewrite")
    val global = Tables.lineitem(spark, sfDir)
      .withColumn("rn", row_number().over(
        Window.orderBy(desc("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"))))
      .filter(col("rn") <= 5)
    assert(global.queryExecution.optimizedPlan.collect {
      case n: GroupedTopKNode => n }.isEmpty,
      "empty partition spec must not rewrite")
  }

  test("past the group cutoff the partition sort-spills and still matches the window form") {
    // Force the guard: cutoff 2 with ~66 suppkeys over 4 shuffle
    // partitions makes EVERY partition abandon its heaps for the
    // external-sort fallback. Rows (incl. ranks) must still equal the
    // un-rewritten window form exactly, and the sortFallbackCount
    // SQLMetric must show the fallback actually fired.
    withConf(graft.plans.GroupedTopKExec.MaxGroupsKey -> "2") {
      val q = topkFrame(3).as[(Long, Double, Long, Int, Int)]
      val got = q.collect().toSet
      // AQE wraps executed subtrees in leaf QueryStageExec nodes
      // (incl. Spark 4's ResultQueryStage), so a plain collect can't
      // see through them — unwrap recursively.
      def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[GroupedTopKExec] =
        p.collect {
          case e: GroupedTopKExec => Seq(e)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            find(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            find(s.plan)
        }.flatten
      val exec = find(q.queryExecution.executedPlan).headOption
      assert(exec.nonEmpty, "GroupedTopKExec missing from the executed plan")
      assert(exec.get.metrics("sortFallbackCount").value > 0,
        "cutoff=2 must trigger the sort fallback")
      val want = withoutRules(RewriteGroupedTopK)(
        topkFrame(3).as[(Long, Double, Long, Int, Int)].collect().toSet)
      assert(got === want)
    }
  }

  test("fallback tie handling matches the heap path on a crafted frame") {
    val df = Seq(
      (1L, 5.0, 10L), (1L, 5.0, 11L), (1L, 4.0, 12L), (1L, 3.0, 13L),
      (2L, 9.0, 20L), (2L, 8.0, 21L),
      (3L, 1.0, 30L), (4L, 2.0, 40L), (5L, 2.5, 50L)).toDF("g", "s", "id")
    def run(d: DataFrame) = d
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(desc("s"), col("id"))))
      .filter(col("rn") <= 2)
      .as[(Long, Double, Long, Int)].collect().toSet
    val heapRows = run(df)
    val spillRows = withConf(graft.plans.GroupedTopKExec.MaxGroupsKey -> "1") {
      run(df)
    }
    assert(spillRows === heapRows)
    assert(spillRows === Set(
      (1L, 5.0, 10L, 1), (1L, 5.0, 11L, 2),
      (2L, 9.0, 20L, 1), (2L, 8.0, 21L, 2),
      (3L, 1.0, 30L, 1), (4L, 2.0, 40L, 1), (5L, 2.5, 50L, 1)))
  }

  test("null group keys rank as one group on both the heap and fallback paths") {
    val df = Seq(
      (Some(1L), 5.0, 10L), (Some(1L), 4.0, 11L),
      (None, 9.0, 20L), (None, 8.0, 21L), (None, 7.0, 22L))
      .toDF("g", "s", "id")
    def run(cutoff: Option[String]) = {
      val body = () => df
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(desc("s"), col("id"))))
        .filter(col("rn") <= 2)
        .as[(Option[Long], Double, Long, Int)].collect().toSet
      cutoff match {
        case Some(c) => withConf(graft.plans.GroupedTopKExec.MaxGroupsKey -> c)(body())
        case None => body()
      }
    }
    val want = Set(
      (Some(1L), 5.0, 10L, 1), (Some(1L), 4.0, 11L, 2),
      (None: Option[Long], 9.0, 20L, 1), (None: Option[Long], 8.0, 21L, 2))
    assert(run(None) === want, "heap path")
    assert(run(Some("1")) === want, "sort-fallback path")
  }

  test("partition invariance and tie handling on a crafted frame") {
    val df = Seq(
      (1L, 5.0, 10L), (1L, 5.0, 11L), (1L, 4.0, 12L), (1L, 3.0, 13L),
      (2L, 9.0, 20L), (2L, 8.0, 21L),
      (3L, 1.0, 30L)).toDF("g", "s", "id")
    def run(d: DataFrame) = d
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(desc("s"), col("id"))))
      .filter(col("rn") <= 2)
      .as[(Long, Double, Long, Int)].collect().toSet
    val a = run(df.repartition(1))
    val b = run(df.repartition(7))
    assert(a === b)
    assert(a === Set(
      (1L, 5.0, 10L, 1), (1L, 5.0, 11L, 2),
      (2L, 9.0, 20L, 1), (2L, 8.0, 21L, 2),
      (3L, 1.0, 30L, 1)))
  }
}
