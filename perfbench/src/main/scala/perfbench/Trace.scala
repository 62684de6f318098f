package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.PerfBenchSql
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A timed interval at a layer boundary, in epoch microseconds. The
  * parent of a job span is the phase span of its job group; the parent
  * of a stage span is the job that submitted it. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long)

/** Spark work charged to one job group. The benchmark runs each phase of
  * each operation under its own group, `<pass>/<op>/<phase>`, and the
  * listener maps every stage to its group when the job starts, so
  * counts never depend on when an event arrives. */
final class GroupCounts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spillDisk, spillMem = 0L
  var bytesWritten, recordsWritten = 0L
  var catalystMs, planChars, planRewrites, actionQueries = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_read_mb" -> shuffleRead / 1e6, "shuffle_write_mb" -> shuffleWrite / 1e6,
    "spill_disk_mb" -> spillDisk / 1e6, "spill_mem_mb" -> spillMem / 1e6,
    "bytes_written_mb" -> bytesWritten / 1e6, "records_written" -> recordsWritten,
    "catalyst_s" -> catalystMs / 1e3, "plan_chars" -> planChars,
    "plan_rewrites" -> planRewrites,
    "action_queries" -> actionQueries)
}

/** In-memory span store shared by the pass loop and the listeners. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(1)
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** phase span of each job group, so job spans can name their parent */
  val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def nowUs: Long = (System.nanoTime() + offsetNs) / 1000
  def newId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized(spans.toList)

  /** Runs `body` inside a span whose id it receives. */
  def span[A](parent: Long, kind: String, name: String)(body: Long => A): A = {
    val id = newId()
    val t0 = nowUs
    try body(id) finally add(Span(id, parent, kind, name, t0, nowUs))
  }
}

/** Task, stage and job counts plus job and stage spans, by job group. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val stageJobSpan = mutable.Map[Int, Long]()
  private val openJobs = mutable.Map[Int, (String, Long, Long)]()
  private val execGroup = mutable.Map[Long, String]()
  private val execOfQuery = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  val counts = mutable.Map[String, GroupCounts]()

  private def c(g: String) = counts.getOrElseUpdate(g, new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      c(g).jobs += 1
      val id = tracer.newId()
      e.stageInfos.foreach { s => stageGroup(s.stageId) = g; stageJobSpan(s.stageId) = id }
      openJobs(e.jobId) = (g, id, e.time * 1000)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (g, id, start) =>
      val parent = Option(tracer.groupSpan.get(g)).map(_.longValue).getOrElse(0L)
      tracer.add(Span(id, parent, "job", s"job ${e.jobId}", start, e.time * 1000))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      c(g).stages += 1
      for (s <- info.submissionTime; t <- info.completionTime)
        tracer.add(Span(tracer.newId(), stageJobSpan.getOrElse(info.stageId, 0L), "stage",
          s"stage ${info.stageId}.${info.attemptNumber()}", s * 1000, t * 1000))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val k = c(g)
      k.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        k.runMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.spillDisk += m.diskBytesSpilled
        k.spillMem += m.memoryBytesSpilled
        k.bytesWritten += m.outputMetrics.bytesWritten
        k.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => synchronized { execGroup(s.executionId) = g })
    case s: SparkListenerSQLExecutionEnd =>
      Option(PerfBenchSql.queryExecution(s)).foreach(qe =>
        synchronized { execOfQuery.put(qe, s.executionId) })
    case _ =>
  }

  /** Charges Catalyst time and plan size of each finished query to its
    * job group; call after the bus has drained. */
  def chargeQueries(qs: Seq[CatalystListener.Query]): Unit = synchronized {
    qs.foreach { q =>
      Option(execOfQuery.remove(q.qe)).flatMap(id => execGroup.get(id.longValue)).foreach { g =>
        val k = c(g)
        k.catalystMs += q.catalystMs
        k.planChars += q.planChars
        k.planRewrites += q.rewrites
        k.actionQueries += 1
      }
    }
  }
}

/** Analysis, optimization and planning time, optimized-plan size and
  * the number of plan nodes the graft `plans/` rules put in, for every
  * query execution that finishes. */
final class CatalystListener extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer[CatalystListener.Query]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    // attribute and plan ids grow through the session; without them the
    // plan size of one query repeats exactly from pass to pass
    val plan = qe.optimizedPlan.toString.replaceAll("#\\d+|plan_id=\\d+", "")
    val q = CatalystListener.Query(qe, ms, plan.length.toLong, rewrites(qe))
    synchronized { done += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Nodes of the graft plans/ rules in the optimized plan: a grouped
    * top-k node (RewriteGroupedTopK), or a scan of the daily rollup
    * that RewriteAggOnRollup answers an aggregate from. */
  private def rewrites(qe: QueryExecution): Long = {
    val rollup = qe.sparkSession.conf.getOption("spark.graft.rollup.daily.path")
      .filter(_.nonEmpty)
    qe.optimizedPlan.collect {
      case n if n.getClass.getName.startsWith("graft.plans.") => 1L
      case lr: LogicalRelation if (lr.relation match {
        case fs: HadoopFsRelation =>
          rollup.exists(p => fs.location.rootPaths.exists(_.toString.contains(p)))
        case _ => false
      }) => 1L
    }.sum
  }

  def drainQueries(): Seq[CatalystListener.Query] = synchronized {
    val out = done.toList
    done.clear()
    out
  }
}

object CatalystListener {
  final case class Query(qe: QueryExecution, catalystMs: Long, planChars: Long, rewrites: Long)
}
