package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builds the derived-sf1 corpus the scale protocol (README, SCALE.md)
  * benches at: every table of `baseDir` ×`factor`, written to
  * `derivedDir` with a `_DERIVED_V4` marker, and skipped when the marker
  * is already there. The corpus is derived from the sf0.1 fixtures, NOT
  * synthesized fresh, so the per-copy duplicate structure matches the
  * real fixture:
  *  - documents ×N: copy c keeps doc order but suffixes every token
  *    with "_c" (c>0), so copies share NO shingles — corpus-internal
  *    near-dup rate per copy is exactly the fixture's, cluster sizes
  *    unchanged, corpus 10×. (Un-suffixed copies would make every doc
  *    a 10-member near-dup cluster — a different, artificial workload.)
  *  - embeddings ×N: copy c rotates each vector by 6·c positions —
  *    norms preserved, copies decorrelated, cell populations grow 10×.
  *  - the relational and event tables ×N on disjoint key spaces (see
  *    the comments below).
  *
  * Usage: runMain graft.DeriveCorpus [baseDir] [derivedDir] [factor]
  * (defaults /root/testdata/sf0.1, /tmp/graft-sf1, 10).
  */
object DeriveCorpus {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val derived = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.fromEnv()
    try deriveIfAbsent(spark, base, derived, factor) finally spark.stop()
  }

  /** Build the derived corpus once; skip when already on disk. */
  private def deriveIfAbsent(spark: SparkSession, base: String,
                             derived: String, factor: Int): Unit = {
    val done = new org.apache.hadoop.fs.Path(s"$derived/_DERIVED_V4")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) return
    val docs = Tables.documents(spark, base)
    val nDocs = docs.count()
    val copies = spark.range(factor).select(col("id").cast("int").as("__c"))
    docs.crossJoin(copies)
      .withColumn("doc_id", col("doc_id") + col("__c") * nDocs)
      .withColumn("text",
        when(col("__c") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("_"), col("__c"))), " ")))
      .drop("__c")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$derived/documents.parquet")
    val emb = Tables.embeddings(spark, base)
    val nVec = emb.count()
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    emb.crossJoin(copies)
      .withColumn("vec_id", col("vec_id") + col("__c") * nVec)
      // modulo keeps the rotation meaningful at ANY factor (a raw
      // __c*6 shift beyond dims would slice to an unrotated copy)
      .withColumn("embedding", concat(
        slice(col("embedding"), pmod(col("__c") * 6, lit(dims)) + 1, lit(dims)),
        slice(col("embedding"), lit(1), pmod(col("__c") * 6, lit(dims)))))
      .drop("__c")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$derived/embeddings.parquet")
    // lineitem + orders ×N with DISJOINT key spaces per copy (every
    // key offset by c·(max+1)): the graph heavies (q171/q268 part
    // co-purchase, q297 customer–supplier HITS) then scale in the
    // CONSTANT-DENSITY regime — 10× nodes and 10× edges, per-copy
    // structure identical — which is what a 10×-bigger BUSINESS looks
    // like. (The sf0.01→sf0.1 fixture pair probes the OTHER regime:
    // same key space, 10× denser — the q297 25×-shuffle finding. Both
    // datapoints matter; SCALE.md reports them side by side.)
    val li = Tables.lineitem(spark, base)
    val ords = Tables.orders(spark, base)
    val Array(maxOrd, maxPart, maxSupp) = li
      .agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey"))
      .head().toSeq.map(_.asInstanceOf[Long] + 1L).toArray
    val maxCust = ords.agg(max("o_custkey")).head().getLong(0) + 1L
    li.crossJoin(copies)
      .withColumn("l_orderkey", col("l_orderkey") + col("__c") * maxOrd)
      .withColumn("l_partkey", col("l_partkey") + col("__c") * maxPart)
      .withColumn("l_suppkey", col("l_suppkey") + col("__c") * maxSupp)
      .drop("__c")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$derived/lineitem.parquet")
    ords.crossJoin(copies)
      .withColumn("o_orderkey", col("o_orderkey") + col("__c") * maxOrd)
      .withColumn("o_custkey", col("o_custkey") + col("__c") * maxCust)
      .drop("__c")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$derived/orders.parquet")
    // part ×N on the SAME l_partkey offset (fixture invariant
    // max(p_partkey) = max(l_partkey), so joins stay consistent per
    // copy) and events ×N with disjoint user/event id spaces, same
    // calendar — 10× users on the same month is what a 10×-bigger
    // business's event stream looks like (r15: lets the event-analytic
    // heavies q324/q318/q330 join the above-sf0.1 table).
    Tables.part(spark, base).crossJoin(copies)
      .withColumn("p_partkey", col("p_partkey") + col("__c") * maxPart)
      .drop("__c")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$derived/part.parquet")
    // supplier ×N on lineitem's l_suppkey offset (same invariant as
    // part); nation/region are fixed 25/5-row dims — copied verbatim
    // (the seed joins q333/q327 run against them)
    Tables.supplier(spark, base).crossJoin(copies)
      .withColumn("s_suppkey", col("s_suppkey") + col("__c") * maxSupp)
      .drop("__c")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$derived/supplier.parquet")
    Tables.nation(spark, base).write.mode("overwrite")
      .parquet(s"$derived/nation.parquet")
    Tables.region(spark, base).write.mode("overwrite")
      .parquet(s"$derived/region.parquet")
    // customer ×N on orders' o_custkey offset (same invariant as
    // part/supplier; r16 — the FULL registry now runs at this corpus,
    // and the customer-side queries q348/q349/q15/q119… need it)
    Tables.customer(spark, base).crossJoin(copies)
      .withColumn("c_custkey", col("c_custkey") + col("__c") * maxCust)
      .drop("__c")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$derived/customer.parquet")
    val ev = Tables.events(spark, base)
    val Array(maxUser, maxEid) = ev.agg(max("user_id"), max("event_id"))
      .head().toSeq.map(_.asInstanceOf[Long] + 1L).toArray
    ev.crossJoin(copies)
      .withColumn("user_id", col("user_id") + col("__c") * maxUser)
      .withColumn("event_id", col("event_id") + col("__c") * maxEid)
      .drop("__c")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$derived/events.parquet")
    fs.create(done, true).close()
  }
}
