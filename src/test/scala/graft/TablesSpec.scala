package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tables.parquet's per-session schema cache: a repeated load plans
  * without a Spark job, and a file rewritten in place is inferred
  * again. */
class TablesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

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
