package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.reflect.ClassTag

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** One shared local session for the whole ScalaTest run (suites execute
  * sequentially inside the single forked test JVM — build.sbt
  * `Test / fork := true`): the production `GraftSession` at 4 cores, so
  * plan-shape pins see the production plans. The core count is fixed,
  * not read from SPARK_GRAFT_CPUS: job- and partition-count pins assume
  * 4 shuffle partitions on any host.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Smallest fixture dir — correctness-only tests read it (read-only). */
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkFixture {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Run `body` with session confs temporarily overridden, restoring the
    * previous values afterwards (shared session — leaks would poison
    * later suites). */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Run `body` with `rules` taken out of the session's optimizer rules,
    * restoring the previous list afterwards — the "without rule" side of
    * a rewrite A/B on the shared production session. */
  def withoutRules[A](rules: Rule[LogicalPlan]*)(body: => A): A = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev.filterNot(rules.contains)
    try body finally spark.experimental.extraOptimizations = prev
  }

  /** Whether `df`'s optimized plan holds an expression of class `E` —
    * e.g. that a declarative witness still runs as its HOF form
    * (`ArrayAggregate`) rather than as the native expression a rule
    * swaps in. Call it inside the same `withoutRules` block as the
    * action: the optimized plan is computed once, on first use. */
  def optimizedHas[E <: Expression](df: DataFrame)(implicit e: ClassTag[E]): Boolean =
    df.queryExecution.optimizedPlan.collect { case n => n.expressions }.flatten
      .exists(_.exists(e.runtimeClass.isInstance))

  /** Spark jobs `body` starts, counted by a listener on a job group.
    * Listener delivery is asynchronous but ordered, so a marker job
    * run afterwards flushes every earlier job start to the listener. */
  def jobsIn[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-jobs-body", "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("graft-jobs-marker", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("graft-jobs-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("graft-jobs-marker"), "listener never saw the marker job")
      (out, groups.toArray.count(_ == "graft-jobs-body"))
    } finally sc.removeSparkListener(listener)
  }
}
