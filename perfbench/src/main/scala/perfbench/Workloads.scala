package perfbench

import graft.pipeline.{Ingest, Report}
import org.apache.spark.sql.SparkSession

/** One operation of a workload. `build` does everything up to the final
  * action (for registry queries this is the query function, which runs
  * the eager work of iterative operators) and returns the
  * action. `kind` names its span: a registry "op" or a "pipeline" call. */
final case class Op(name: String, build: SparkSession => (() => Unit), kind: String = "op")

object Workloads {

  /** Registry workloads: query-number prefixes of `SparkEntry.queries`.
    * Each is a subset of its family small enough that a run, cold pass
    * included, fits the benchmark's time budget. */
  val registry: Map[String, Seq[String]] = Map(
    // iterative operators of ops/Graph: q327's BFS runs three frontier
    // rounds, q363 three label-propagation supersteps and two Louvain
    // refinement rounds; each round is a checkpointed job on small state
    "graph_iter" -> Seq("q327", "q268"),
    // dedup, similarity and multimodal kernels over documents and
    // embeddings (q120 builds its LSH index once per session), and the
    // plans/ rewrites: q287 plans as GroupedTopK, q336 is answered from
    // the daily rollup by RewriteAggOnRollup (built once per session)
    "llm_text" -> Seq("q120", "q48", "q192", "q287", "q336"))

  /** Registry ops for a workload, resolved to their full registry names. */
  def registryOps(workload: String, dataDir: String): Seq[Op] = {
    val all = graft.SparkEntry.queries
    registry(workload).map { prefix =>
      val (name, fn) = all.find { case (k, _) => k.takeWhile(_ != '_') == prefix }
        .getOrElse(sys.error(s"no registry query $prefix"))
      Op(name, spark => {
        val df = fn(spark, dataDir)
        // the noop sink materializes every output column without sink
        // I/O, the action Bench times
        () => df.write.mode("overwrite").format("noop").save()
      })
    }
  }

  /** Where the reference pipeline reads and writes in one pass. */
  final case class EtlPaths(payloads: String, updates: String, out: String) {
    val products = s"$out/products"
    val quarantined = s"$out/quarantine"
    val merged = s"$out/products_merged"
    val reportHit = s"$out/report_hit.html"
    val reportEmpty = s"$out/report_empty.html"
  }

  /** The reference pipeline: ingest and snapshot-load, quarantine, the
    * report branch on a non-empty and a forced-empty threshold, then an
    * upsert of the update batch and a second snapshot load. `reports`
    * records whether each report call wrote an artifact. */
  def etlOps(p: EtlPaths, threshold: Double, emptyThreshold: Double,
             reports: collection.mutable.Map[String, Boolean]): Seq[Op] = {
    def report(name: String, t: Double, path: String) = Op(name, spark => {
      val result = Report.highVolumeSales(spark.read.parquet(p.products), t)
      () => reports(name) = Report.writeReport(result, "high volume sales", path)
    }, "pipeline")
    Seq(
      Op("normalize_load", spark => {
        val products = Ingest.normalize(spark.read.text(p.payloads), "value")
        () => Ingest.snapshotLoad(products, p.products)
      }, "pipeline"),
      Op("quarantine", spark => {
        val bad = Ingest.quarantine(spark.read.text(p.payloads), "value")
        () => Ingest.snapshotLoad(bad, p.quarantined)
      }, "pipeline"),
      report("report_hit", threshold, p.reportHit),
      report("report_empty", emptyThreshold, p.reportEmpty),
      Op("upsert_load", spark => {
        val updates = Ingest.normalize(spark.read.text(p.updates), "value")
        val merged = Ingest.upsert(spark.read.parquet(p.products), updates, "id")
        () => Ingest.snapshotLoad(merged, p.merged)
      }, "pipeline"))
  }
}
