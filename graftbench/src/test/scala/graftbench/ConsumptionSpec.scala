package graftbench

import graft.core.GraftSession
import graft.etl.StarSchema
import graft.sources.GraftSources
import org.apache.spark.GraftbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import scala.collection.mutable

/** The harness times a result by consuming it in full. This pins that
  * for `fact_sales`, the heaviest timed build: the executed plan of the
  * timed action outputs every column of the DataFrame's schema and keeps
  * the top-level sort. `count()` prunes both, which is why the harness
  * never times through it.
  */
class ConsumptionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = java.nio.file.Files.createTempDirectory("graftbench-spec").toString
  private val plans = mutable.ArrayBuffer.empty[QueryExecution]

  override def beforeAll(): Unit = {
    spark = GraftSession.create("consumption-spec", "local[2]", 2)
    spark.sparkContext.setLogLevel("WARN")
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      .register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.synchronized(plans += qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def ts(s: String) = Timestamp.valueOf(s)
    table("region", StructType.fromDDL("r_regionkey INT, r_name STRING"),
      Seq(Row(0, "AFRICA"), Row(1, "ASIA")))
    table("nation", StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      Seq(Row(0, "NATION_0", 0), Row(1, "NATION_1", 1)))
    table("customer", StructType.fromDDL(
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
      (0L until 6L).map(k => Row(k, s"Customer#$k", (k % 2).toInt, 10.0 * k, "BUILDING")))
    table("part", StructType.fromDDL("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
      (0L until 4L).map(k => Row(k, "red bolt", s"Brand#$k", "SMALL", 3, 900.0 + k)))
    table("orders", StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
      (0L until 8L).map(k => Row(k, k % 6, "O", 100.0 * k, ts(s"1995-01-0${1 + k % 4} 00:00:00"), "1-URGENT")))
    table("lineitem", StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"),
      (0L until 24L).map(k => Row(k % 8, k % 4, 0L, (k % 3).toInt + 1, 2.0, 50.0 + k, 0.0, 0.0, "A", "F",
        ts("1995-01-05 00:00:00"))))
    table("events", StructType.fromDDL("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
      (0L until 12L).map(k => Row(k, ts(s"2024-01-0${1 + k % 9} 00:00:00"), k % 6,
        if (k % 2 == 0) "purchase" else "view", 1.0 * k, s"""{"k": ${k % 3}}""")))
  }

  override def afterAll(): Unit = spark.stop()

  /** The executed plan of the one action `run` performs. */
  private def executedPlan(run: => Unit): SparkPlan = {
    GraftbenchBus.drain(spark.sparkContext)
    plans.synchronized(plans.clear())
    run
    GraftbenchBus.drain(spark.sparkContext)
    val qes = plans.synchronized(plans.toList)
    assert(qes.size == 1, s"expected one action, saw ${qes.map(_.executedPlan.nodeName)}")
    qes.head.executedPlan
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o.children.flatMap(nodes)
  })

  /** The columns the write receives: the output of the write node's input. */
  private def written(p: SparkPlan): Seq[String] = nodes(p).collectFirst {
    case w: V2TableWriteExec => w.query.output.map(_.name)
    case w: WriteFilesExec => w.child.output.map(_.name)
  }.getOrElse(fail(s"no write node in\n$p"))

  private def hasGlobalSort(p: SparkPlan): Boolean =
    nodes(p).exists { case s: SortExec => s.global; case _ => false }

  private def fact: DataFrame = StarSchema.factSales(spark, dir)

  test("noop consumption outputs every fact_sales column and keeps the sort") {
    val df = fact
    val p = executedPlan(Consume.noop(df))
    assert(written(p) == df.schema.fieldNames.toSeq)
    assert(hasGlobalSort(p), s"global sort missing:\n$p")
  }

  test("parquet consumption outputs every fact_sales column and keeps the sort") {
    val df = fact
    val p = executedPlan(Consume.parquet(s"$dir/out/fact")(df))
    assert(written(p) == df.schema.fieldNames.toSeq)
    assert(hasGlobalSort(p), s"global sort missing:\n$p")
  }

  test("the partitioned fact write outputs every column and keeps the sort") {
    val df = fact
    val p = executedPlan(GraftSources.writePartitioned(df, s"$dir/out/fact_parts", Seq("order_date")))
    assert(written(p).toSet == df.schema.fieldNames.toSet)
    assert(hasGlobalSort(p), s"global sort missing:\n$p")
  }

  test("count() prunes the sort: the path the harness must not time") {
    val p = executedPlan(fact.count())
    assert(!hasGlobalSort(p), s"count() kept the sort:\n$p")
  }
}
