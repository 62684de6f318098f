package graft

import graft.ops.{Checkpoints, Cluster, Linalg, Profile, Sampling}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint owner's two lifetimes: everything a query's ops
  * checkpoint is freed by `releaseQuery()`, and a session memo outlives
  * it until a new fixture dir evicts it. */
class CheckpointsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** `build`'s result collected, then the query's checkpoints released:
    * nothing the call persisted may still be held. RDD ids grow
    * monotonically, so a fresh RDD marks where the call's ids start.
    * `held`, if given, is the number of checkpoints the collected
    * result may still hold before the release. */
  private def releasedAfter(label: String, held: Option[Int] = None)(
      build: => DataFrame): Unit = {
    val mark = sc.emptyRDD[Int].id
    def fresh = sc.getPersistentRDDs.keySet.filter(_ > mark).toSet --
      memoIds
    build.collect()
    assert(fresh.nonEmpty, s"$label persisted nothing")
    held.foreach(n => assert(fresh.size === n, s"$label held $fresh"))
    Checkpoints.releaseQuery()
    assert(fresh.isEmpty, s"$label left RDDs $fresh persisted after releaseQuery")
  }

  private def memoIds: Set[Int] = Checkpoints.memoIds(spark).values.flatten.toSet

  test("every op family's checkpoints are freed by releaseQuery") {
    val keyed = (1L to 200L).map(i => (i % 7, i)).toDF("g", "k")
    releasedAfter("Sampling.rankedByRange")(
      Sampling.rankedByRange(keyed, Seq("g", "k"), 4))
    releasedAfter("Profile.runningTotalByRange")(
      Profile.runningTotalByRange(keyed, "k", "g", 4))
    val pts = (for (c <- 0L to 2L; i <- 0L until 6L)
      yield (c * 6 + i, c * 100 + i, c * 100 + i % 2)).toDF("id", "x", "y")
    releasedAfter("Cluster.dbscan")(Cluster.dbscan(pts, 3L, 3))
    val vecs = (1L to 20L).map(i => (i, Seq(i.toFloat, 1f, (i % 3).toFloat)))
      .toDF("id", "vec")
    releasedAfter("Linalg.topComponent")(
      Linalg.topComponent(vecs, "id", "vec", 3))
    releasedAfter("q147 prefix similarity join")(
      SparkEntry.queries("q147_prefix_simjoin")(spark, sfDir))
    // the peel frees each round it supersedes: only the last is held
    releasedAfter("q365 k-truss peel", held = Some(1))(
      SparkEntry.queries("q365_ktruss")(spark, sfDir))
  }

  test("a session memo outlives releaseQuery and answers the next query") {
    SparkEntry.queries("q249_trimmed_mean_ranged")(spark, sfDir).collect()
    def ranked = Checkpoints.memoIds(spark).getOrElse(sfDir -> "rankedPrices", Set.empty)
    val memo = ranked
    assert(memo.nonEmpty)
    Checkpoints.releaseQuery()
    assert(ranked === memo, "releaseQuery freed the memo entry")
    val got = SparkEntry.queries("q252_grouped_median")(spark, sfDir).collect()
    Checkpoints.releaseQuery()
    assert(ranked === memo, "q252 rebuilt the memo")
    // the oracle's own window formulation, run by Spark
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    val want = spark.sql(SparkEntry.oracleSql("q252_grouped_median")
      .replace("//", "div")).collect()
    assert(got.map(_.toString).sorted.toSeq === want.map(_.toString).sorted.toSeq)
  }

  test("building a memo for a new fixture dir evicts the old dir's entries") {
    val a = Checkpoints.shared(spark, "/fixture/a", "t")(
      Checkpoints(spark.range(50).toDF("id")))
    val aIds = memoIds
    assert(aIds.nonEmpty)
    Checkpoints.releaseQuery()
    assert(memoIds === aIds)
    // a hit returns the same frame and takes no new checkpoint
    assert(Checkpoints.shared(spark, "/fixture/a", "t")(
      fail("a memo hit must not rebuild")) eq a)
    val b = Checkpoints.shared(spark, "/fixture/b", "t")(
      Checkpoints(spark.range(5).toDF("id")))
    assert(b.count() === 5L)
    assert((aIds & sc.getPersistentRDDs.keySet.toSet).isEmpty,
      "the evicted dir's checkpoints are still persisted")
    assert((memoIds & aIds).isEmpty)
  }

  test("after q81 and releaseQuery each live memo entry holds exactly one checkpoint") {
    // q81 builds the "cc" memo over the "lsh" one; ccStar's rounds are
    // taken while building it. Once the memo's own lazy checkpoint has
    // materialized they are unreferenced, and releaseQuery frees them
    // rather than leaving them to whenever the ContextCleaner runs.
    SparkEntry.queries("q81_near_dedup_cc")(spark, sfDir).collect()
    Checkpoints.releaseQuery()
    val held = Checkpoints.memoIds(spark)
    assert(held.keySet.map(_._2).contains("cc"), s"no cc memo among $held")
    assert(held.values.forall(_.size == 1), s"memo entries hold $held")
  }

  test("src/main checkpoints and persists only through Checkpoints") {
    // Files allowed to keep their own storage calls, with the count of
    // each call and the reason. This list may only shrink.
    val allowed = Map(
      // bpeTrain persists each merge round's word table, materializes
      // the next round and unpersists the previous one inside the op
      ("ops/TextAnalysis.scala", ".persist(") -> 2)
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"no sources under $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val found = for {
      f <- files(root) if f.getName.endsWith(".scala")
      rel = root.toPath.relativize(f.toPath).toString
      if rel != "ops/Checkpoints.scala"
      text = scala.io.Source.fromFile(f, "UTF-8").mkString
      call <- Seq("localCheckpoint(", ".persist(", ".cache()")
      n = java.util.regex.Pattern.quote(call).r.findAllMatchIn(text).size
      if n > 0
    } yield (rel, call) -> n
    assert(found.toMap === allowed)
  }
}
