package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Tables.parquet's per-session schema cache: a repeated load plans
  * without a Spark job, and a file rewritten in place is inferred
  * again. */
class TablesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** Spark jobs `body` starts, counted by a listener on a job group.
    * Listener delivery is asynchronous but ordered, so a marker job
    * run afterwards flushes every earlier job start to the listener. */
  private def jobsIn[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-spec-body", "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-spec-marker", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("tables-spec-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("tables-spec-marker"), "listener never saw the marker job")
      (out, groups.toArray.count(_ == "tables-spec-body"))
    } finally sc.removeSparkListener(listener)
  }

  test("a repeated load runs no Spark job; a file rewritten in place is re-inferred") {
    val dir = TempDirs.scratch("graft-tables-spec-")
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .write.parquet(path)

    val (first, firstJobs) = jobsIn(Tables.load(spark, dir, "t"))
    assert(firstJobs >= 1, "the first load infers the schema in a job")
    val (second, secondJobs) = jobsIn(Tables.load(spark, dir, "t"))
    assert(secondJobs === 0)
    assert(second.schema === first.schema)
    assert(second.as[(Long, String)].collect().sorted ===
      first.as[(Long, String)].collect().sorted)

    // same path, new files with an extra column: the fingerprint
    // (names, lengths, modification times) changes, so the next load
    // infers again and sees the column
    Seq((1L, "a", 10.0), (4L, "d", 40.0)).toDF("k", "s", "x")
      .write.mode("overwrite").parquet(path)
    val third = Tables.load(spark, dir, "t")
    assert(third.columns.toSeq === Seq("k", "s", "x"))
    assert(third.as[(Long, String, Double)].collect().sorted.toSeq ===
      Seq((1L, "a", 10.0), (4L, "d", 40.0)))
  }
}
