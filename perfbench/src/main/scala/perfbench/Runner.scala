package perfbench

import graft.ops.Sampling
import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.SparkSession

/** Runs passes of operations and, in traced passes, records spans and
  * charges Spark work to one job group per operation phase. An
  * untraced pass reads only the clock and the retained storage. */
final class Runner(spark: SparkSession, val tracing: Boolean) {
  val tracer = new Tracer
  val layer = new LayerListener(tracer)
  private val catalyst = new CatalystListener
  private val sc = spark.sparkContext

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def pass(index: Int, ops: Seq[Op], traced: Boolean): Map[String, Any] = {
    if (traced) {
      sc.addSparkListener(layer)
      spark.listenerManager.register(catalyst)
    }
    val t0 = System.nanoTime()
    val rows =
      if (traced) tracer.span(0L, "pass", s"pass $index")(id => ops.zipWithIndex.map {
        case (op, i) => runOp(index, i, op, Some(id))
      })
      else ops.zipWithIndex.map { case (op, i) => runOp(index, i, op, None) }
    val wall = secondsSince(t0)
    if (traced) {
      PerfBenchBus.drain(sc)
      layer.chargeQueries(catalyst.drainQueries())
      spark.listenerManager.unregister(catalyst)
      sc.removeSparkListener(layer)
    }
    Map("index" -> index, "traced" -> traced, "wall_s" -> wall, "ops" -> rows)
  }

  /** One operation: build (the call into the layer under test), then its
    * final action. Checkpoints are released outside the timed span, as
    * Bench and Verify do; the block-manager storage still held after
    * that is the operation's retained storage. */
  private def runOp(pass: Int, i: Int, op: Op, passSpan: Option[Long]): Map[String, Any] = {
    def phase[A](opSpan: Option[Long], name: String)(body: => A): A = opSpan match {
      case None => body
      case Some(parent) =>
        val group = s"$pass/$i/$name"
        tracer.span(parent, name, s"$name ${op.name}") { id =>
          tracer.groupSpan.put(group, id)
          sc.setJobGroup(group, op.name)
          try body finally sc.clearJobGroup()
        }
    }
    def run(opSpan: Option[Long]): (Double, Double, Option[String]) = {
      val t0 = System.nanoTime()
      try {
        val action = phase(opSpan, "build")(op.build(spark))
        val built = secondsSince(t0)
        phase(opSpan, "action")(action())
        (built, secondsSince(t0), None)
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${op.name} failed: ${e.getClass.getName}: ${e.getMessage}")
          (secondsSince(t0), secondsSince(t0), Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    }
    val (buildS, latency, error) = passSpan match {
      case Some(p) => tracer.span(p, op.kind, op.name)(id => run(Some(id)))
      case None => run(None)
    }
    Sampling.releaseCheckpoints()
    val held = sc.getRDDStorageInfo.filter(_.isCached)
    Map("name" -> op.name, "ok" -> error.isEmpty, "error" -> error,
      "latency_s" -> latency, "build_s" -> buildS, "group" -> s"$pass/$i",
      "storage_held_mb" -> held.map(r => r.memSize + r.diskSize).sum / 1e6,
      "persisted_rdds" -> held.length)
  }
}
