package graft

/** Quick smoke main: runs the flagship `SparkEntry.entry` and prints its
  * row count — mirrors the driver's rows>0 smoke check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.fromEnv()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n")
    spark.stop()
  }
}
