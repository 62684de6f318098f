package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (suites execute
  * sequentially inside the single forked test JVM — build.sbt
  * `Test / fork := true`). Mirrors Verify/Bench session config:
  * UTC, small shuffle partitions, Tables.sessionConf applied at BUILD
  * time (never mutated mid-session — VERDICT r1 #3).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // managed tables (WarehouseSpec bucketing) go to a self-cleaning
      // temp dir, not a spark-warehouse/ directory inside the repo
      .config("spark.sql.warehouse.dir", TempDirs.scratch("graft-warehouse-"))
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val s = builder.getOrCreate()
    // native function surface (graft_dot, graft_band_keys) — same
    // registration Verify/Bench/Show/Explain apply; ops.Similarity's
    // sketch path resolves graft_band_keys by name.
    graft.expressions.VectorExpressions.register(s)
    graft.expressions.TextExpressions.register(s)
    graft.expressions.KllExpressions.register(s)
    // the grouped top-k rule + strategy, as in Verify/Bench, so
    // plan-shape pins see the production plans. (RewriteDotProduct /
    // RewriteRollingHash are deliberately NOT session-global here —
    // ExtensionsSpec installs them per-test to compare the rewritten
    // and declarative forms against each other.)
    s.experimental.extraOptimizations ++= Seq(graft.plans.RewriteGroupedTopK, graft.plans.RewriteAggOnRollup)
    s.experimental.extraStrategies ++= Seq(graft.plans.GroupedTopKStrategy)
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
