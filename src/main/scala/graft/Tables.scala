package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders + declared schemas for the fixture tables (TESTDATA.md /
  * FIXTURES.md). Parquet is self-describing, so loads trust the file
  * schema — inferred ONCE per session and path (`parquet` below); the
  * declared StructTypes document the contract and are used where
  * schema must be explicit (ingest `from_json`, streaming reads —
  * SURVEY.md §1.3: explicit schemas, never inference, at 100 TB).
  *
  * Scale note: each table is a single parquet file in the fixtures, but
  * every loader goes through `parquet(spark, path)` so a production
  * deployment can point the same code at a partitioned directory tree
  * (e.g. events partitioned by date) and get partition pruning for free.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Inferred schemas by (application id, qualified path), each with
    * the file fingerprint it was inferred from. */
  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, String), (Seq[(String, Long, Long)], StructType)]

  /** `spark.read.parquet(path)` without the per-read inference job.
    * Schema inference reads the parquet footers in a Spark job — at
    * small scale that fixed cost outweighs the query it feeds, and
    * every registry query and the rollup rewrite load tables at build
    * time. The first read of a path in an application infers as
    * usual; later reads pass the cached schema to
    * `spark.read.schema(...)`, which plans without a job. The cache is
    * keyed on the application id and the qualified path, and an entry
    * is reused only while the fingerprint — name, length and
    * modification time of the path and of its direct children —
    * still matches, so a file or directory rewritten in place is
    * inferred again. Sessions of one application share entries (every
    * graft session reads parquet under the same `sessionConf`). A path
    * that cannot be listed reads uncached (and fails the way
    * `spark.read.parquet` fails). */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fingerprinted =
      try {
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val st = fs.getFileStatus(p)
        val children =
          if (st.isDirectory) fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
          else Nil
        Some((fs.makeQualified(p).toString,
          (st +: children).map(c =>
            (c.getPath.getName, c.getLen, c.getModificationTime))))
      } catch { case _: java.io.IOException => None }
    fingerprinted match {
      case None => spark.read.parquet(path)
      case Some((qualified, fp)) =>
        val appId = spark.sparkContext.applicationId
        schemas.get((appId, qualified)) match {
          case Some((`fp`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.keys.foreach { k => if (k._1 != appId) schemas.remove(k) }
            schemas.put((appId, qualified), (fp, df.schema))
            df
        }
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** Session conf every graft session needs at BUILD time (callers pass
    * these to SparkSession.builder — never mutated mid-session):
    *  - events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
    *    reader rejects; `nanosAsLong` reads it as a long instead.
    *  - AQE + skew-join pinned explicitly: the join/skew scale notes
    *    (JoinQueries, ops.Skew, SCALE.md) rely on runtime re-planning;
    *    default-on since Spark 3.2 but the reliance is config, not
    *    assumption. */
  val sessionConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
  )

  /** Normalizes `ts` to a micros TimestampType column whatever the
    * file encodes — the fixture generation has shipped BOTH shapes
    * across rounds (TIMESTAMP(NANOS), which the session reads as a
    * nanos long under `sessionConf`, through round 10; plain
    * TIMESTAMP(MICROS), which Spark reads as TIMESTAMP_NTZ, from
    * round 11), so the loader branches on the observed type instead
    * of assuming one. Nanos path: integer `div` — a double division
    * at 1e18-nanos magnitude would lose precision (53-bit mantissa).
    * NTZ path: cast under the session's pinned UTC zone, which maps
    * the naive wall-clock to the same UTC instant the nanos path
    * produced (and that the DuckDB oracle sees). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** events schema — needed explicitly for the Structured Streaming read
    * path (streaming file sources cannot infer schema). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** The reference's `products` table shape
    * (reference: mercadolibre_pipeline_dag.py:50-59). Used by the ingest
    * pipeline (graft.pipeline.Ingest). */
  val productSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("site_id", StringType),
    StructField("title", StringType),
    StructField("price", DoubleType),
    StructField("sold_quantity", LongType),
    StructField("thumbnail", StringType),
  ))
}
