package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. Bench, Verify, Smoke, Explain,
  * Show and the shared test session all take their session from here,
  * so the plans that are tested, explained and benched are the plans
  * that are verified:
  *  - `local[cores]`, shuffle partitions = `cores` unless overridden;
  *  - UTC session time zone (q40/q60-q62 depend on it), UI off;
  *  - managed tables (q96's bucketed setup) in a self-cleaning
  *    `TempDirs.scratch` warehouse, never a spark-warehouse/ in the cwd;
  *  - `Tables.sessionConf` applied at build time, never mid-session;
  *  - the graft functions, optimizer rules and planner strategy
  *    injected by `GraftExtensions`, the same seam
  *    `spark.sql.extensions` installs on a cluster.
  */
object GraftSession {
  /** `shufflePartitions` decouples the partition count from the thread
    * count (above-sf0.1 corpora: partitions ∝ data). When it is given,
    * AQE partition coalescing is off — advisory sizing would otherwise
    * fold the override back toward `cores` and the run would measure
    * nothing. */
  def apply(cores: Int, shufflePartitions: Option[Int] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores).toLong)
      .config("spark.sql.adaptive.coalescePartitions.enabled", shufflePartitions.isEmpty)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", TempDirs.scratch("graft-warehouse-"))
      .withExtensions(new graft.expressions.GraftExtensions)
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The mains' session: `SPARK_GRAFT_CPUS` cores (default 4) and the
    * optional `SPARK_GRAFT_SHUFFLE_PARTITIONS` override. */
  def fromEnv(): SparkSession = apply(
    sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt),
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt))
}
