package graft

/** Plan-audit main: prints the formatted physical plan of one query (or
  * all) so shuffle/pushdown/broadcast shape can be reviewed without a
  * notebook. Usage: runMain graft.Explain <sfDir> [name1,name2,...]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
