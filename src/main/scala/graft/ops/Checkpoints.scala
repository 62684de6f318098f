package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable
import scala.util.control.NonFatal

/** The one owner of checkpoint storage. Every materialized intermediate
  * state in graft (an iterative op's round, a frame a query reads more
  * than once, a cross-query memo) is taken here, and it has one of two
  * lifetimes:
  *
  *  - per query, the default: the query loop (Bench, Verify,
  *    perfbench) calls `releaseQuery()` once the query's action has
  *    materialized its result, which frees every checkpoint taken since
  *    the previous call. An op may free one earlier with `release`, for
  *    example a fixpoint round the next round has superseded;
  *  - per session: `shared` memoizes a frame across queries, and every
  *    checkpoint taken while building it belongs to the memo entry.
  *    `releaseQuery()` frees only those the entry's frame no longer
  *    reads; evicting the entry frees the rest.
  *
  * A checkpoint truncates lineage, so a released one cannot be
  * recomputed: call `releaseQuery()` only after every frame returned
  * since the previous call has been fully materialized.
  *
  * The registry holds RDD ids, not RDDs: a session that never releases
  * (tests, Show, Explain) still leaves an unreferenced checkpoint to
  * the ContextCleaner. Executor-loss caveat: a local checkpoint's
  * blocks live on the executor that computed them, so losing that
  * executor fails the query instead of recomputing it. At 100 TB swap
  * `localCheckpoint` here for a reliable `checkpoint()` to durable
  * storage; every call site keeps its plan. */
object Checkpoints {
  private final case class Owned(sc: SparkContext, id: Int)

  private val query = new java.util.concurrent.ConcurrentLinkedQueue[Owned]()
  /** The memo entry being built, if any: its checkpoints are not the query's. */
  private val building = new DynamicVariable[ArrayBuffer[Owned]](null)

  /** `df` checkpointed, eagerly by default, and registered with the
    * current owner. An eager checkpoint is planned from its MEASURED
    * size: the bytes the block manager holds for its blocks replace
    * Spark's estimate of the producing plan, which without CBO
    * multiplies a join's input sizes, so a small state looked huge and
    * joins against it shuffled both sides (SCALE.md, optimizer traps).
    * Blocks are stored deserialized, so this over-counts: the broadcast
    * threshold still decides, and errs toward the shuffled join. A lazy
    * checkpoint materializes with the first action that reads it and
    * keeps the producing plan's estimate. */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame = {
    val ckpt = df.localCheckpoint(eager)
    ckpt.queryExecution.logical match {
      case lr: LogicalRDD =>
        val owned = Owned(df.sparkSession.sparkContext, lr.rdd.id)
        Option(building.value) match {
          case Some(memo) => memo += owned
          case None => query.add(owned)
        }
        GraftSql.storedBytes(lr.rdd.id).fold(ckpt)(bytes =>
          GraftSql.withStats(ckpt, lr, Statistics(sizeInBytes = bytes)))
      case _ => ckpt
    }
  }

  /** Free one checkpoint's storage now, before its query ends
    * (best-effort, non-blocking). `df` must be the frame `apply`
    * returned. */
  def release(df: DataFrame): Unit =
    try df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    } catch { case NonFatal(_) => () }

  /** Free every checkpoint taken since the previous call, outside memo
    * entries, and trim the memo entries (best-effort, non-blocking). */
  def releaseQuery(): Unit = {
    free(Iterator.continually(query.poll()).takeWhile(_ != null).toSeq)
    trimMemos()
  }

  private def free(owned: Seq[Owned]): Unit =
    owned.groupBy(_.sc).foreach { case (sc, os) =>
      if (!sc.isStopped) {
        val live = sc.getPersistentRDDs
        os.foreach(o => live.get(o.id).foreach(rdd =>
          try rdd.unpersist(blocking = false) catch { case NonFatal(_) => () }))
      }
    }

  private final case class Memo(df: DataFrame, owned: Seq[Owned])
  private val memos =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Memo]

  /** The session's one `kind` frame for fixture `dir`, built once per
    * application and reused by every later query that asks (the
    * shared-pass discipline: an expensive candidate pass or global
    * sort amortizes over every query that reads it). Every checkpoint
    * `build` takes belongs to the entry. Building an entry for a new
    * dir evicts this application's entries for other dirs and frees
    * their checkpoints, so a multi-dir run (the test JVM) holds one
    * dir's memos at a time; entries of a stopped application are
    * dropped, their blocks died with its context. */
  def shared(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    memos.synchronized {
      val app = s.sparkContext.applicationId
      memos.get((app, dir, kind)).map(_.df).getOrElse {
        memos.keys.toSeq.foreach {
          case k @ (`app`, d, _) if d != dir => memos.remove(k).foreach(m => free(m.owned))
          case k @ (a, _, _) if a != app => memos.remove(k)
          case _ => ()
        }
        val owned = ArrayBuffer.empty[Owned]
        val df = try building.withValue(owned)(build)
          catch { case e: Throwable => free(owned.toSeq); throw e }
        memos.put((app, dir, kind), Memo(df, owned.toSeq))
        df
      }
    }

  /** A memo whose frame is itself a checkpoint needs no other storage
    * once that checkpoint has materialized: its lineage is truncated, so
    * the checkpoints `build` took (the rounds of an iterative op, say)
    * are unreferenced. Free them now, so the storage a session holds
    * does not depend on when the ContextCleaner next runs. */
  private def trimMemos(): Unit = memos.synchronized {
    memos.foreach { case (key, m) =>
      m.df.queryExecution.logical match {
        case lr: LogicalRDD if lr.rdd.isCheckpointed && m.owned.exists(_.id != lr.rdd.id) =>
          val (frame, inner) = m.owned.partition(_.id == lr.rdd.id)
          free(inner)
          memos.put(key, m.copy(owned = frame))
        case _ => ()
      }
    }
  }

  /** Persisted RDD ids owned by each memo entry (dir, kind) of `s`'s
    * application. */
  private[graft] def memoIds(s: SparkSession): Map[(String, String), Set[Int]] = {
    val app = s.sparkContext.applicationId
    val live = s.sparkContext.getPersistentRDDs.keySet
    memos.collect { case ((`app`, dir, kind), m) =>
      (dir, kind) -> m.owned.map(_.id).filter(live.contains).toSet
    }.toMap
  }

  /** (persisted RDDs, MB their blocks hold) right now: read from the
    * context's persisted-RDD map, which `unpersist` updates
    * synchronously, and the block manager master, not the
    * listener-fed `getRDDStorageInfo`. */
  def held(sc: SparkContext): (Int, Double) = {
    val ids = sc.getPersistentRDDs.keys.toSeq
    (ids.size, ids.flatMap(GraftSql.storedBytes).sum.toDouble / 1e6)
  }
}
