package graft

/** Single-query iteration main: runs one `SparkEntry.queries` entry and
  * prints its row count + head rows. Usage:
  * runMain graft.Show <queryName> [sfDir] [nRows]. */
object Show {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: Show <queryName> [sfDir] [nRows]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val n = args.lift(2).map(_.toInt).getOrElse(20)
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t0 = System.nanoTime()
    val rows = df.count()
    println(f"$name rows=$rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    df.show(n, truncate = false)
    spark.stop()
  }
}
