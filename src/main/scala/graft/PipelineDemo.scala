package graft

import graft.sources.GraftSources
import graft.streaming.EventStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Sample end-to-end pipeline through the public API — the reference's
  * full ingest→store→load→transform flow (binary document dump →
  * schema'd rows → date-partitioned parquet → incremental warehouse
  * load → star-schema staging/dimension build → streaming
  * sessionization) in one runnable program. Doubles as the
  * verification surface for the sources/streaming modules:
  * [[run]] returns the per-stage row-count chain and a ScalaTest
  * drives it on the shared test session.
  */
object PipelineDemo {

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.create("graft-demo", "local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
    try {
      run(spark).foreach { case (stage, n) => println(s"DEMO chain $stage=$n") }
      // the corpus funnel needs a documents table; take it from the
      // first arg (or the dev fixture) and skip quietly when absent so
      // the self-contained ETL demo above still runs anywhere
      val docsDir = args.headOption.getOrElse("/root/testdata/sf0.001")
      if (new java.io.File(s"$docsDir/documents.parquet").exists())
        corpus(spark, docsDir)
          .foreach { case (stage, n) => println(s"DEMO corpus $stage=$n") }
      else println(s"DEMO corpus skipped: no documents table under $docsDir")
    } finally spark.stop()
  }

  /** The LLM-corpus curation flow composed from the public operators —
    * raw documents → quality gate → near-dup collapse → incremental
    * batch admission → chunking → sequence packing — each stage
    * narrowing by doc_id, exactly how a training-data pipeline chains
    * these pieces. Returns the (stage → rows) funnel; a ScalaTest
    * asserts its shape.
    */
  def corpus(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    import graft.operators.{Dedup, TextAnalysis}
    val chain = Seq.newBuilder[(String, Long)]
    val all = graft.core.Tables(spark, dir).documents.select("doc_id")
    chain += "raw_docs" -> all.count()
    // 1. quality gate: drop short/repetitive/low-signal docs
    val kept = TextAnalysis.qualityFilter(spark, dir)
      .filter(col("is_kept") === 1).select("doc_id")
    chain += "quality_kept" -> kept.count()
    // 2. near-dup collapse to canonical survivors (minhash clusters)
    val canonical = Dedup.dedupKeepCanonical(spark, dir).select("doc_id")
    val curated = kept.join(canonical, "doc_id")
    chain += "canonical_curated" -> curated.count()
    // 3. incremental admission verdicts for the arriving batch slice
    val admitted = Dedup.dedupIncremental(spark, dir)
      .filter(col("admitted")).select("doc_id")
    chain += "batch_admitted" -> admitted.count()
    // 4. chunk the curated corpus for the embedding/index stage
    val chunks = TextAnalysis.docChunk(spark, dir).join(curated, "doc_id")
    chain += "chunks" -> chunks.count()
    // 5. pack curated docs into fixed-token training sequences
    val packed = TextAnalysis.sequencePack(spark, dir).join(curated, "doc_id")
    chain += "packed_docs" -> packed.count()
    chain += "training_sequences" ->
      packed.select("pack_id").distinct().count()
    chain.result()
  }

  /** Runs the whole flow in a temp dir; returns the (stage → rows)
    * chain in execution order.
    */
  def run(spark: SparkSession): Seq[(String, Long)] = {
    val chain = Seq.newBuilder[(String, Long)]
    // prove the session extensions exposed the custom functions to SQL
    // (works on any session built by GraftSession; self-register keeps
    // it working on a caller's own session too)
    graft.functions.DotProduct.register(spark)
    println("DEMO graft_dot via SQL = " + spark
      .sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d))").collect()(0).getDouble(0))

    val work = java.nio.file.Files.createTempDirectory("graft_demo").toString
    val minUs = 60L * 1000000
    // 2024-01-01T00:00:00Z in epoch micros — real dates so the
    // partition labels downstream match the narrative
    val base = 1704067200L * 1000000

    // 0. the raw landing format: a length-prefixed binary dump of JSON
    //    event documents (the reference's .bson collection dump) —
    //    stage-5 ingest reads it record by record, file = parallelism unit
    def doc(id: Long, tsUs: Long, user: Long, typ: String, v: Double, k: Int) =
      s"""{"event_id":$id,"ts":${tsUs * 1000},"user_id":$user,"event_type":"$typ","value":$v,"props":"{\\"k\\": $k}"}"""
    GraftSources.writeBinaryRecords(spark,
      Seq(doc(1, base + 1 * minUs, 7, "click", 1.5, 1),
        doc(2, base + 3 * minUs, 7, "click", 2.5, 1)).map(_.getBytes("UTF-8")),
      s"$work/dump0.bin")
    GraftSources.writeBinaryRecords(spark,
      Seq(doc(3, base + 2 * minUs, 8, "view", 9.0, 2)).map(_.getBytes("UTF-8")),
      s"$work/dump1.bin")
    val eventSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    // schema'd rows straight off the dump — explicit schema, no inference
    val ingested = GraftSources.binaryRecordsJson(spark, s"$work/dump*.bin", eventSchema)
    chain += "binary_dump_rows" -> ingested.count()

    // 1. land as the warehouse raw table (stage-6 load target shape)
    ingested.write.parquet(s"$work/events.parquet")

    // 2. star-schema transform over the landed table (stage-7 analog):
    //    typed staging projection + the composite-key context dimension
    val stg = graft.etl.StarSchema.stgEvents(spark, work)
    chain += "stg_events_rows" -> stg.count()
    val dsc = graft.etl.StarSchema.dimSessionContext(spark, work)
    chain += "dim_session_context_rows" -> dsc.count()

    // 3. date-partitioned parquet sink + incremental load (replayable
    //    per-partition, only-new-partitions detection)
    val table = s"$work/events_table"
    GraftSources.writePartitioned(
      stg.select(col("event_id"), col("event_ts_us").as("ts_us"),
        col("customer_source_id").cast("bigint").as("user_id"),
        col("event_type"), col("value_amt").as("value"), col("event_date")),
      table, Seq("event_date"))
    println(s"DEMO partitions=${GraftSources.listPartitions(spark, table)}")
    val state = s"$work/_loaded.txt"
    val (l1, n1) = GraftSources.incrementalLoad(spark, table, state)
    chain += "incremental_load1_rows" -> l1.map(_.count()).getOrElse(0L)
    require(n1.nonEmpty, "first load must see new partitions")
    val (l2, n2) = GraftSources.incrementalLoad(spark, table, state)
    require(n2.isEmpty && l2.isEmpty, "re-load must see nothing new")
    // a late day-2 drop is picked up alone
    val day2 = Seq((4L, 50L * minUs, 7L, "purchase", 30.0, "2024-01-02"))
    import spark.implicits._
    GraftSources.writePartitioned(
      day2.toDF("event_id", "ts_us", "user_id", "event_type", "value", "event_date"),
      table, Seq("event_date"))
    val (l3, n3) = GraftSources.incrementalLoad(spark, table, state)
    require(n3.size == 1, "late partition must load alone")
    chain += "incremental_load2_rows" -> l3.map(_.count()).getOrElse(0L)

    // 4. streaming over a landing dir of the same schema: windowed
    //    counts + stateful sessionization across micro-batches
    val streamIn = s"$work/stream_in"
    new java.io.File(streamIn).mkdirs()
    def ev(id: Long, tsUs: Long, user: Long, typ: String, v: Double, date: String) =
      s"""{"event_id":$id,"ts_us":$tsUs,"user_id":$user,"event_type":"$typ","value":$v,"event_date":"$date"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$streamIn/b1.jsonl"),
      Seq(ev(1, 1 * minUs, 7, "click", 1.5, "2024-01-01"),
        ev(2, 3 * minUs, 7, "click", 2.5, "2024-01-01"),
        ev(3, 2 * minUs, 8, "view", 9.0, "2024-01-01")).mkString("\n"))
    val wq = EventStream.windowedCounts(spark, streamIn).writeStream
      .outputMode("complete").format("memory").queryName("demo_wc").start()
    wq.processAllAvailable()
    chain += "stream_windowed_rows" -> spark.table("demo_wc").count()
    val sq = EventStream.sessionizeStream(spark, streamIn).writeStream
      .outputMode("append").format("memory").queryName("demo_sess").start()
    sq.processAllAvailable()
    // second micro-batch arrives → user 7's first session closes
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$streamIn/b2.jsonl"),
      ev(4, 50 * minUs, 7, "purchase", 30.0, "2024-01-02"))
    sq.processAllAvailable()
    chain += "stream_closed_sessions" -> spark.table("demo_sess").count()
    wq.stop(); sq.stop()
    chain.result()
  }
}
