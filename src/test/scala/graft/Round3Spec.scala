package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 operators: incremental maintenance, sketches, graph,
  * multimodal fan-out, new analytics. Semantic properties beyond the
  * DuckDB hash gate (which pins exact values at sf0.01).
  */
class IncrementalSpec extends AnyFunSuite {
  import graft.operators.Incremental
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("mergeUpsert emits all three actions and exactly one row per key") {
    val out = Incremental.mergeUpsert(spark, sf).cache()
    val actions = out.select("merge_action").distinct()
      .collect().map(_.getString(0)).toSet
    assert(actions.contains("insert"), s"no inserts in $actions")
    assert(actions.contains("update"), s"no updates in $actions")
    // inserted keys are exactly the source keys below the target floor
    assert(out.filter(col("merge_action") === "insert")
      .filter(col("c_custkey") >= 10).isEmpty)
    // inserts carry the source value; name is unknown (null)
    assert(out.filter(col("merge_action") === "insert" &&
      col("c_name").isNotNull).isEmpty)
    assert(out.groupBy("c_custkey").count().filter(col("count") > 1).isEmpty)
  }

  test("cdcApply drops keys whose last op is a delete") {
    val t = graft.core.Tables(spark, sf)
    val users = t.events.select("user_id").distinct().count()
    val lastIsError = t.events
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rn") === 1 && col("event_type") === "error").count()
    val out = Incremental.cdcApply(spark, sf)
    assert(out.count() == users - lastIsError)
    assert(out.filter(col("last_op") === "D").isEmpty)
  }

  test("snapshotDiff statuses are consistent with the cutoff monotonicity") {
    val out = Incremental.snapshotDiff(spark, sf).cache()
    // the later snapshot can only have MORE orders per key
    assert(out.filter(col("n_orders_after") < col("n_orders_before")).isEmpty)
    // added ⇔ nothing before
    assert(out.filter(col("diff_status") === "added" &&
      col("n_orders_before") > 0).isEmpty)
    assert(out.filter(col("n_orders_before") === 0 &&
      col("diff_status") =!= "added").isEmpty)
    // unchanged ⇒ identical counts
    assert(out.filter(col("diff_status") === "unchanged" &&
      col("n_orders_before") =!= col("n_orders_after")).isEmpty)
  }
}

class SketchGraphSpec extends AnyFunSuite {
  import graft.operators.{Graph, Sketches}
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("HLL estimate lands within the m=64 error envelope (n ≥ m domain)") {
    // sf0.01 has 150 distinct users — inside the raw estimator's
    // domain (n ≳ m = 64). Below that, standard HLL switches to linear
    // counting, which needs ln() and is deliberately NOT implemented
    // (not correctly-rounded cross-engine → would break the oracle).
    val rows = Sketches.approxDistinctHll(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val est = r.getAs[Double]("hll_estimate")
      assert(exact >= 64, "test data below the estimator's documented domain")
      // 1.04/sqrt(64) ≈ 13% standard error; 3σ envelope
      assert(math.abs(est - exact) / exact < 0.4,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
  }

  test("HLL estimate is deterministic across reruns") {
    val a = Sketches.approxDistinctHll(spark, sf).collect().toSeq
    val b = Sketches.approxDistinctHll(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("PQ ANN recall@5 >= 0.4 vs brute force (ADC shortlist + exact re-rank)") {
    import graft.operators.Ann
    val bf = Ann.annTopkBruteforce(spark, sf)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Ann.annPqTopk(spark, sf)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("pagerank ranks are positive, deterministic, and hub-ordered") {
    val a = Graph.pagerankTopk(spark, sf).collect()
    val b = Graph.pagerankTopk(spark, sf).collect()
    assert(a.toSeq == b.toSeq) // integer fixed point → bit-stable reruns
    assert(a.length == 20)
    val ranks = a.map(_.getAs[Long]("rank_q12"))
    assert(ranks.forall(_ > 0))
    assert(ranks.toSeq == ranks.sortBy(-_).toSeq)
    // top-20 of a skewed graph must beat the uniform rank 10^12/N
    val t = graft.core.Tables(spark, sf)
    val n = (t.customer.count() + t.supplier.count()).toDouble
    assert(ranks.head > (1e12 / n).toLong)
  }
}

class FanoutAnalyticsSpec extends AnyFunSuite {
  import graft.operators.{Analytics, Multimodal}
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("framesample fans out stride-aligned frames with md5-stub checksums") {
    val out = Multimodal.multimodalFramesample(spark, sf).cache()
    assert(out.filter(col("frame_idx") % 4 =!= 0).isEmpty)
    // per-doc frame count = ceil((4 + n_chars % 28) / 4)
    val t = graft.core.Tables(spark, sf)
    val expected = t.documents
      .select(col("doc_id"), ((lit(4) + col("n_chars") % 28 + 3) / 4).cast("long").as("nf"))
    val got = out.groupBy("doc_id").count()
    assert(got.join(expected, "doc_id")
      .filter(col("count") =!= col("nf")).isEmpty)
    // spot-check the stub checksum derivation for one row
    val r = out.filter(col("frame_idx") === 4).limit(1)
      .join(t.documents, "doc_id").select("text", "frame_checksum").collect()(0)
    val (h1, _) = graft.functions.Md5Words.firstTwoWords(
      (r.getString(0) + "#4").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(r.getLong(1) == h1)
  }

  test("fillForward produces a dense grid where gaps carry the prior value") {
    import graft.operators.Reports
    val out = Reports.fillForward(spark, sf).cache()
    val users = out.select("user_id").distinct().count()
    val days = out.select("day").distinct().count()
    assert(out.count() == users * days) // dense grid
    // observed rows keep their own value; nulls only before first obs
    assert(out.filter(col("was_filled") === 0 && col("filled_value").isNull).isEmpty)
    // forward-fill correctness on the frame level: a filled row's value
    // equals the previous row's filled value within the user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    val withPrev = out.withColumn("prev", lag(col("filled_value"), 1).over(w))
    assert(withPrev.filter(col("was_filled") === 1 &&
      !(col("filled_value") <=> col("prev"))).isEmpty)
  }

  test("group split keeps every source wholly inside one split") {
    import graft.operators.TextAnalysis
    val t = graft.core.Tables(spark, sf)
    // recompute doc-level assignment and check source purity directly
    val assigned = t.documents.select(col("source"),
      (conv(substring(md5(col("source")), 1, 8), 16, 10).cast("long") % 100 < 80)
        .as("is_train"))
    assert(assigned.groupBy("source")
      .agg(countDistinct(col("is_train")).as("n")).filter(col("n") > 1).isEmpty)
    // and the query's totals cover the whole corpus
    val out = TextAnalysis.groupSplit(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == t.documents.count())
  }

  test("int8 quantization reconstruction error is bounded by one step") {
    import graft.operators.Ann
    val out = Ann.embeddingQuantize(spark, sf).cache()
    val t = graft.core.Tables(spark, sf)
    assert(out.count() == t.embeddings.count())
    // per-dim step = (hi-lo)/255; global bound = max step over dims
    val step = t.embeddings
      .select(posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy("d").agg(((max(col("v")) - min(col("v"))) / 255.0).as("step"))
      .agg(max(col("step"))).collect()(0).getDouble(0)
    assert(out.filter(col("max_abs_err") > step).isEmpty,
      s"reconstruction error exceeded one quantization step ($step)")
  }

  test("rolling hash equals per-window polynomial recompute") {
    import graft.functions.RollingHashes
    val spark2 = spark
    import spark2.implicits._
    RollingHashes.register(spark)
    val text = "the quick brown fox jumps over the lazy dog and the quick brown fox again"
    val got = Seq(text).toDF("t")
      .selectExpr("graft_rolling_hashes(t) AS fps")
      .collect()(0).getSeq[Long](0)
    // naive O(n·K) reference
    val bs = text.getBytes
    val naive = (0 to bs.length - RollingHashes.K).map { i =>
      (0 until RollingHashes.K).foldLeft(0L)((a, j) =>
        (a * RollingHashes.B + (bs(i + j) & 0xffL)) % RollingHashes.P)
    }.filter(_ % RollingHashes.SampleMod == 0).distinct.sorted
    assert(got == naive)
    // repeated content yields identical fingerprints (content-defined)
    val double = Seq(text + " " + text).toDF("t")
      .selectExpr("graft_rolling_hashes(t) AS fps")
      .collect()(0).getSeq[Long](0)
    assert(got.toSet.subsetOf(double.toSet))
  }

  test("funnel stage counts are monotone non-increasing") {
    val r = Analytics.funnelConversion(spark, sf).collect()(0)
    val (nu, nv, nc, np) = (r.getAs[Long]("n_users"), r.getAs[Long]("n_view"),
      r.getAs[Long]("n_click_after_view"), r.getAs[Long]("n_purchase_after_click"))
    assert(nu >= nv && nv >= nc && nc >= np && np >= 0)
  }

  test("cube grand total ties out against the detail cells") {
    val out = graft.operators.Reports.cubeSales(spark, sf).cache()
    val detail = out.filter(col("gid") === 0)
      .agg(sum("n_orders")).collect()(0).getLong(0)
    val total = out.filter(col("gid") === 3).collect()(0)
    assert(total.getAs[Long]("n_orders") == detail)
    // cube row count = detail + per-region + per-priority + 1
    val nr = out.filter(col("gid") === 1).count() // region, ALL
    val np = out.filter(col("gid") === 2).count() // ALL, priority
    assert(out.count() == out.filter(col("gid") === 0).count() + nr + np + 1)
  }
}

class QueryIsolationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("every query self-registers its functions (fresh-session analysis)") {
    // newSession() shares the SparkContext and inherits the session
    // extensions, so every graft function is dropped from the child's
    // registry first — any query that silently relies on the session
    // (or an earlier query) having registered graft_* functions fails
    // analysis here (the bug class found in annPqTopk during the
    // round-3 plan audit)
    SparkEntry.queries.foreach { case (name, fn) =>
      val fresh = spark.newSession()
      val registry = fresh.sessionState.functionRegistry
      graft.functions.SqlFunctions.all
        .foreach(f => registry.dropFunction(FunctionIdentifier(f.name)))
      assert(!registry.functionExists(FunctionIdentifier("graft_dot")))
      fresh.conf.set("spark.sql.session.timeZone", "UTC")
      try fn(fresh, TestSpark.sf).queryExecution.analyzed
      catch { case e: Throwable =>
        fail(s"$name failed analysis on a fresh session: ${e.getMessage}")
      }
    }
  }
}

class SourcesStreamRound3Spec extends AnyFunSuite {
  import graft.sources.GraftSources
  import graft.streaming.EventStream
  import org.apache.spark.sql.types._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("partition stats + compaction collapse small files, data intact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val table = s"$tmp/t"
    // 40 rows scattered across ~10 small files in one partition
    val df = spark.range(40).toDF("id")
      .withColumn("event_date", lit("2024-02-01"))
      .repartition(10)
    GraftSources.writePartitioned(df, table, Seq("event_date"))
    val before = GraftSources.partitionStats(spark, table)
    assert(before.size == 1 && before.head._2 >= 8 && before.head._3 == 40)
    GraftSources.compactPartition(spark, table, "event_date=2024-02-01",
      rowsPerFile = 40)
    val after = GraftSources.partitionStats(spark, table)
    assert(after.head._2 == 1, s"expected 1 file after compaction, got ${after.head._2}")
    assert(after.head._3 == 40)
    // identical content, partition column preserved by the reader
    val back = spark.read.parquet(table)
    assert(back.count() == 40)
    assert(back.select("id").as[Long].collect().sorted.toSeq == (0L until 40L))
  }

  test("parquet reader merges evolved schemas across file generations") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    // generation 1: (id, name); generation 2 adds a column
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$tmp/t/g1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$tmp/t/g2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/t/g1", s"$tmp/t/g2")
    assert(merged.columns.toSet == Set("id", "name", "score"))
    val rows = merged.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // old-generation rows surface the new column as null
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", Some(9.5))))
  }

  test("ORC sink/reader round-trips with explicit schema") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    GraftSources.writeOrc(df, s"$tmp/t")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val back = GraftSources.orc(spark, s"$tmp/t", schema)
    assert(back.schema == schema)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("bloom prune passes every true match and few false positives") {
    import graft.operators.Skew
    val out = Skew.bloomPrune(spark, TestSpark.sf).cache()
    val t = graft.core.Tables(spark, TestSpark.sf)
    val truth = t.orders
      .join(t.customer.filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .select("o_orderkey")
    // Bloom filters never false-negative: every true match must pass
    assert(truth.join(out, Seq("o_orderkey"), "left_anti").isEmpty)
    assert(out.filter(col("is_true_match") === 1).count() == truth.count())
    // and pruning must actually prune (pass rate ≪ full fact side)
    val passRate = out.count().toDouble / t.orders.count()
    assert(passRate < 0.5, s"filter passed $passRate of the fact side")
  }

  test("stream-stream interval join attributes purchases within the window") {
    val cdir = java.nio.file.Files.createTempDirectory("graft_clicks").toString
    val pdir = java.nio.file.Files.createTempDirectory("graft_purch").toString
    val Min = 60L * 1000000
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$cdir/c.jsonl"),
      Seq(
        s"""{"event_id":1,"ts_us":${1 * Min},"user_id":10,"event_type":"click","value":1.0}""",
        s"""{"event_id":2,"ts_us":${1 * Min},"user_id":11,"event_type":"click","value":1.0}"""
      ).mkString("\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$pdir/p.jsonl"),
      Seq(
        // user 10 purchases 5 min after the click -> attributed
        s"""{"event_id":100,"ts_us":${6 * Min},"user_id":10,"event_type":"purchase","value":9.0}""",
        // user 11 purchases 30 min after -> outside the window
        s"""{"event_id":101,"ts_us":${31 * Min},"user_id":11,"event_type":"purchase","value":9.0}"""
      ).mkString("\n"))
    val q = EventStream.intervalJoinStream(spark, cdir, pdir)
      .writeStream.outputMode("append").format("memory").queryName("ij").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("ij").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    assert(out == Set((10L, 1L, 100L)))
  }

  test("foreachBatch upsert sink keeps newest value per key across micro-batches") {
    import graft.streaming.UpsertSink
    val in = java.nio.file.Files.createTempDirectory("graft_upsert_in").toString
    val st = java.nio.file.Files.createTempDirectory("graft_upsert_st").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.jsonl"),
      Seq(
        """{"event_id":1,"ts_us":100,"user_id":1,"event_type":"u","value":10.0}""",
        """{"event_id":2,"ts_us":200,"user_id":2,"event_type":"u","value":20.0}"""
      ).mkString("\n"))
    val q = UpsertSink.start(spark, in, st)
    try {
      q.processAllAvailable()
      // second micro-batch: update user 1 (newer), stale record for 2 (older)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b2.jsonl"),
        Seq(
          """{"event_id":3,"ts_us":300,"user_id":1,"event_type":"u","value":11.0}""",
          """{"event_id":4,"ts_us":150,"user_id":2,"event_type":"u","value":99.0}""",
          """{"event_id":5,"ts_us":120,"user_id":3,"event_type":"u","value":30.0}"""
        ).mkString("\n"))
      q.processAllAvailable()
    } finally q.stop()
    val state = UpsertSink.currentState(spark, st).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toMap
    // user 1 updated, user 2 kept its NEWER original, user 3 inserted
    assert(state == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
  }

  test("stream-static enrich broadcast-joins the dim per micro-batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_enrich").toString
    val dim = Seq((10L, "SEG_A"), (11L, "SEG_B")).toDF("k", "segment")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/b1.jsonl"),
      Seq(
        """{"event_id":1,"ts_us":1000,"user_id":10,"event_type":"click","value":1.0}""",
        """{"event_id":2,"ts_us":2000,"user_id":99,"event_type":"view","value":2.0}"""
      ).mkString("\n"))
    val q = EventStream.enrichStream(spark, tmp, dim, "k", Seq("segment"))
      .writeStream.outputMode("append").format("memory").queryName("enr").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("enr").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("segment"))).toSet
    // known key enriched; unknown key passes through with null
    assert(out == Set((1L, "SEG_A"), (2L, null)))
  }
}
