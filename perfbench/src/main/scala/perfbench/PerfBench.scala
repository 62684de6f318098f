package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.ops.Sampling
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Runs one workload in this JVM: a cold pass, warm-up passes, measured
  * passes until the measuring time is spent, then (for registry workloads) an untimed
  * pass that writes every result for the output check. One client
  * issues one operation at a time. Writes raw timings, counts and spans
  * as JSON; `run.py` turns them into metrics.
  *
  * Usage: PerfBench --workload W --seed N --warmup S --seconds S
  *   --trace 0|1 --data DIR --work DIR --out FILE [--etl DIR
  *   --threshold X --empty-threshold Y] [--setup-only 1]
  */
object PerfBench {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out = Paths.get(args("out"))
    if (args.get("setup-only").contains("1")) {
      // a set-up sample only: skip the orderly shutdown, the caller
      // removes the work directory
      Files.writeString(out, json.writeValueAsString(Map("setup_s" -> setupS)) + "\n")
      Runtime.getRuntime.halt(0)
    }
    val workload = args("workload")
    val seed = args("seed").toLong
    val work = args("work")
    val reports = mutable.Map[String, Boolean]()
    val etl = workload == "etl_snapshot"
    val etlPaths = Workloads.EtlPaths(s"${args.getOrElse("etl", "")}/payloads.jsonl",
      s"${args.getOrElse("etl", "")}/updates.jsonl", s"$work/etl_out")
    val ops =
      if (etl) Workloads.etlOps(etlPaths, args("threshold").toDouble,
        args("empty-threshold").toDouble, reports)
      else Workloads.registryOps(workload, args("data"))

    val runner = new Runner(spark, args("trace") == "1")
    // registry workloads: the seed permutes operation order in each pass;
    // the pipeline's steps depend on each other and keep their order
    def order(pass: Int): Seq[Op] =
      if (etl) ops else new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
    def pass(i: Int, phase: String, traced: Boolean): Map[String, Any] = {
      if (etl) Seq(etlPaths.reportHit, etlPaths.reportEmpty)
        .foreach(p => Files.deleteIfExists(Paths.get(p)))
      reports.clear()
      runner.pass(i, order(i), traced) ++ Map("phase" -> phase) ++
        (if (etl) Map("reports" -> reports.toMap) else Map.empty)
    }
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    def runFor(seconds: Double, minPasses: Int)(next: Int => Map[String, Any]): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds || n < minPasses) {
        passes += next(n)
        n += 1
      }
    }

    // the cold pass, then warm-up passes that let the JIT settle, then
    // the measured passes
    passes += pass(0, "cold", runner.tracing)
    runFor(args("warmup").toDouble, 1)(_ => pass(passes.size, "warmup", traced = false))
    // a traced run orders its measured passes traced, untraced, untraced,
    // traced, ... so that it measures its own tracing overhead and a
    // remaining warming trend weighs on both sides alike
    runFor(args("seconds").toDouble, if (runner.tracing) 4 else 2)(n =>
      pass(passes.size, "measured", runner.tracing && (n % 4 == 0 || n % 4 == 3)))

    val check = if (etl) Map.empty[String, Any] else checkPass(spark, ops, args("data"), s"$work/check")
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "setup_s" -> setupS,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "confs" -> spark.conf.getAll,
      "passes" -> passes, "check" -> check,
      "groups" -> runner.layer.counts.map { case (g, c) => g -> c.toMap })
    val spansOut = Paths.get(args("out") + ".spans.jsonl")
    Files.writeString(spansOut, runner.tracer.all.map(s => json.writeValueAsString(Map(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_us" -> s.start, "end_us" -> s.end))).mkString("", "\n", "\n"))
    Files.writeString(out, json.writeValueAsString(result) + "\n")
    spark.stop()
  }

  /** The session Bench builds when no environment override is set:
    * local[cores], shuffle partitions = cores, AQE with partition
    * coalescing, UTC, the graft expressions and planner rules. */
  def session(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.TempDirs.scratch("graft-warehouse-"))
    graft.Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.expressions.VectorExpressions.register(spark)
    graft.expressions.TextExpressions.register(spark)
    graft.expressions.KllExpressions.register(spark)
    spark.experimental.extraOptimizations ++= Seq(
      graft.expressions.RewriteDotProduct, graft.expressions.RewriteRollingHash,
      graft.plans.RewriteGroupedTopK, graft.plans.RewriteAggOnRollup)
    spark.experimental.extraStrategies ++= Seq(graft.plans.GroupedTopKStrategy)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Writes each registry result as one parquet file, as Verify does,
    * and returns the oracle SQL of the workload's queries. Untimed. */
  def checkPass(spark: SparkSession, ops: Seq[Op], dataDir: String,
                dir: String): Map[String, Any] = {
    val all = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val failed = mutable.Map[String, String]()
    ops.foreach { op =>
      try all(op.name)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/${op.name}")
      catch { case e: Throwable => failed(op.name) = s"${e.getClass.getName}: ${e.getMessage}" }
      Sampling.releaseCheckpoints()
    }
    Map("dir" -> dir, "failed" -> failed,
      "oracle_sql" -> ops.flatMap(op => oracles.get(op.name).map(op.name -> _)).toMap)
  }
}
