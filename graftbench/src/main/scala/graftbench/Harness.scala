package graftbench

import graft.core.{GraftSession, OwnedCaches, SharedFrames}
import graft.etl.StarSchema
import graft.operators.Incremental
import graft.sources.GraftSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM side: one process, one `local[N]` session, one
  * closed-loop client that runs a workload's operations back to back.
  *
  * {{{
  * Harness --mode setup|pipeline|mix --cores N --seconds S --trace 0|1 --out DIR
  *         pipeline: --base DIR --batch DIR
  *         mix:      --data DIR --queries FILE   (lines of "<query> <Family>")
  * }}}
  *
  * It prints `GRAFTBENCH_READY` once the session is usable (the caller
  * times process start to that line), runs one cold pass, one warm-up
  * pass (whose outputs the oracle check reads), then measured passes
  * for S seconds. With `--trace 1` it then runs another S seconds
  * (at least two passes) alternating untraced passes with passes that
  * have [[Tracer]] attached; the per-layer numbers come from the traced
  * ones, and traced minus untraced pass time is the tracing overhead. Everything it measured
  * lands in `DIR/result.json`, spans in `DIR/spans.json`, and the
  * registry's oracle SQL in `DIR/oracle_sql.json` for the check.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val spark = GraftSession.create("graftbench", s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("WARN")
    println("GRAFTBENCH_READY")
    System.out.flush()
    // a set-up probe is done once the session is ready
    if (opt("mode") == "setup") Runtime.getRuntime.halt(0)
    else {
      val out = opt("out")
      Files.createDirectories(Paths.get(out))
      val workload = opt("mode") match {
        case "pipeline" => new Pipeline(spark, opt("base"), opt("batch"), out)
        case "mix" => new Mix(spark, opt("data"), opt("queries"), out)
      }
      val result = new Runner(spark, cores, workload, out)
        .run(opt("seconds").toDouble, opt("trace") == "1")
      Files.writeString(Paths.get(out, "result.json"), Json(result))
      Files.writeString(Paths.get(out, "oracle_sql.json"), Json(graft.SparkEntry.oracleSql))
    }
    spark.stop()
  }
}

/** One timed operation: `build` returns the DataFrame (driver-side plan
  * construction, including any eager jobs the engine runs while
  * building), `exec` consumes it in full. `layer` names the module the
  * operation calls into (`etl.<table>` for star-schema builds).
  */
final case class Op(name: String, layer: String, build: () => DataFrame,
    exec: DataFrame => Unit)

/** A workload: the operations of one pass, given the pass number and
  * whether the pass's outputs are kept for the oracle check.
  */
trait Workload {
  def ops(pass: Int, check: Boolean): Seq[Op]
  /** Called before each pass, and before and after each op. */
  def beginPass(ops: Seq[Op]): Unit = ()
  def beginOp(op: Op): Unit = ()
  def endOp(op: Op): Unit = OwnedCaches.release()
  /** Extra facts the oracle check needs, keyed by pass. */
  def facts: Map[String, Int] = Map.empty
}

/** Full consumption of a timed result: every column of every row is
  * produced, and the plan keeps its top-level sort. `count()` would let
  * Catalyst prune both.
  */
object Consume {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def parquet(path: String)(df: DataFrame): Unit = df.write.mode("overwrite").parquet(path)
}

/** raw events → staging → 5 dims → fact → partitioned load → held-out
  * batch → report over the written star, one iteration per pass.
  */
final class Pipeline(spark: SparkSession, base: String, batch: String, out: String)
    extends Workload {
  private val loaded = mutable.LinkedHashMap.empty[String, Int]

  def ops(pass: Int, check: Boolean): Seq[Op] = {
    val star = s"$out/pass_$pass"
    val fact = s"$star/fact_sales"
    val state = s"$star/_loaded_partitions"
    def write(t: String)(df: DataFrame): Unit = Consume.parquet(s"$star/$t")(df)
    def load(tag: String): Op = Op(s"load_$tag", "sources.load", () => {
      val (df, fresh) = GraftSources.incrementalLoad(spark, fact, state)
      loaded(s"pass_$pass.$tag.partitions") = fresh.size
      df.getOrElse(spark.emptyDataFrame)
    }, Consume.noop)
    val dims = Seq[(String, (SparkSession, String) => DataFrame)](
      "stg_events" -> StarSchema.stgEvents,
      "dim_date" -> StarSchema.dimDate,
      "dim_customer" -> StarSchema.dimCustomer,
      "dim_product" -> StarSchema.dimProduct,
      "dim_location" -> StarSchema.dimLocation,
      "dim_session_context" -> StarSchema.dimSessionContext)
    dims.map { case (t, f) => Op(t, s"etl.$t", () => f(spark, base), write(t)) } ++ Seq(
      Op("fact_sales", "etl.fact_sales", () => StarSchema.factSales(spark, base),
        GraftSources.writePartitioned(_, fact, Seq("order_date"))),
      load("base"),
      Op("batch_fact", "sources.write", () => StarSchema.factSales(spark, batch),
        GraftSources.writePartitioned(_, fact, Seq("order_date"))),
      load("batch"),
      Op("merge_upsert", "operators.Incremental", () => Incremental.mergeUpsert(spark, batch),
        write("customer_balance")),
      Op("scd2_apply", "operators.Incremental", () => Incremental.scd2Apply(spark, batch),
        write("customer_scd2")),
      Op("report", "report", () => Pipeline.report(spark, star), write("report")))
  }

  override def facts: Map[String, Int] = loaded.toMap
}

object Pipeline {
  /** The operations that apply the held-out batch. */
  val IncrementalOps = Set("batch_fact", "load_batch", "merge_upsert", "scd2_apply")

  /** Closing report over the written star: lines, units and revenue by
    * region, year and market segment. Its DuckDB twin is `REPORT_SQL`
    * in check.py.
    */
  def report(spark: SparkSession, star: String): DataFrame = {
    def dim(t: String, cols: String*) = spark.read.parquet(s"$star/$t").select(cols.map(col): _*)
    spark.read.parquet(s"$star/fact_sales")
      .join(dim("dim_location", "location_key", "region_name"), Seq("location_key"), "left")
      .join(dim("dim_date", "date_key", "calendar_year"), Seq("date_key"), "left")
      .join(dim("dim_customer", "customer_key", "market_segment"), Seq("customer_key"), "left")
      .groupBy(
        coalesce(col("region_name"), lit("UNKNOWN")).as("region_name"),
        coalesce(col("calendar_year"), lit(-1)).as("calendar_year"),
        coalesce(col("market_segment"), lit("UNKNOWN")).as("market_segment"))
      .agg(
        count(lit(1)).as("lines"),
        sum(col("quantity").cast("long")).as("units"),
        sum(round(col("sales_amount") * 100).cast("long")).as("revenue_cents"))
      .orderBy("region_name", "calendar_year", "market_segment")
  }
}

/** A fixed sample of registry queries, declared to SharedFrames and run
  * in one warm session. The check pass writes every result as parquet
  * for the oracle check; the others consume through the noop sink.
  */
final class Mix(spark: SparkSession, data: String, queryFile: String, out: String)
    extends Workload {
  private val sample: Seq[(String, String)] =
    scala.io.Source.fromFile(queryFile).getLines().map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(q, f) = l.split("\\s+"); q -> f }.toSeq

  def ops(pass: Int, check: Boolean): Seq[Op] = sample.map { case (q, family) =>
    val fn = graft.SparkEntry.queries(q)
    Op(q, s"operators.$family", () => fn(spark, data),
      if (check) Consume.parquet(s"$out/check/$q") else Consume.noop)
  }

  override def beginPass(ops: Seq[Op]): Unit = SharedFrames.planQueries(ops.map(_.name))
  override def beginOp(op: Op): Unit = SharedFrames.begin(op.name)
  override def endOp(op: Op): Unit = {
    OwnedCaches.release()
    SharedFrames.queryDone(op.name)
  }
}

/** Runs the passes, times every operation, records spans and failures. */
final class Runner(spark: SparkSession, cores: Int, w: Workload, out: String) {
  private final case class Sample(pass: Int, op: Op, buildNs: Long, execNs: Long)
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempted = 0
  private val spans = new Spans
  private val jvm = new JvmCounters

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val passCpuNs = mutable.Map.empty[Int, Long]

  /** One pass; returns its wall time in ns (its process CPU time goes to
    * `passCpuNs`).
    */
  private def pass(p: Int, check: Boolean, tracer: Option[Tracer]): Long = {
    val ops = w.ops(p, check)
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val passSpan = tracer.map(_ => spans.open("pass", "bench", s"pass$p", -1))
    w.beginPass(ops)
    ops.foreach { op =>
      attempted += 1
      val opId = s"pass$p:${op.name}"
      tracer.foreach(_.beginOp())
      spark.sparkContext.setJobDescription(opId)
      val opSpan = passSpan.map(ps => spans.open(op.name, op.layer, opId, ps))
      w.beginOp(op)
      val b0 = System.nanoTime()
      var b1 = b0
      try {
        val bs = opSpan.map(s => spans.open("build", op.layer, opId, s))
        val df = op.build()
        b1 = System.nanoTime()
        bs.foreach(spans.close)
        val es = opSpan.map(s => spans.open("exec", op.layer, opId, s))
        op.exec(df)
        es.foreach(spans.close)
        val e1 = System.nanoTime()
        samples += Sample(p, op, b1 - b0, e1 - b1)
        System.err.println(f"[graftbench] pass $p%d ${op.name}%s " +
          f"build=${(b1 - b0) / 1e6}%.1f ms exec=${(e1 - b1) / 1e6}%.1f ms")
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures += Map("pass" -> p, "op" -> op.name,
            "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      opSpan.foreach(spans.close)
      tracer.foreach(_.endOp())
      w.endOp(op)
    }
    tracer.foreach(_.endPass())
    passSpan.foreach(spans.close)
    passCpuNs(p) = os.getProcessCpuTime - c0
    System.nanoTime() - t0
  }

  def run(seconds: Double, trace: Boolean): Map[String, Any] = {
    val j0 = jvm.snapshot
    val coldNs = pass(0, check = false, None)
    val coldJvm = jvm.snapshot.minus(j0)
    // the first warm pass still runs code the JIT has not finished
    // compiling (measured 25-35% slower than the next one): it is the
    // check pass, not a measured one
    val warmupNs = pass(1, check = true, None)
    // passes from `first` until `seconds` have elapsed; `traced(p)` picks
    // the passes that run with the tracer attached
    def loop(first: Int, tracer: Option[Tracer], traced: Int => Boolean,
        minPasses: Int): Seq[(Int, Long)] = {
      val t0 = System.nanoTime()
      val times = mutable.ArrayBuffer.empty[(Int, Long)]
      var p = first
      while (times.size < minPasses || System.nanoTime() - t0 < seconds * 1e9) {
        val on = tracer.filter(_ => traced(p))
        on.foreach(_.attach())
        times += p -> pass(p, check = false, on)
        on.foreach(_.detach())
        p += 1
      }
      times.toSeq
    }
    val measured = loop(2, None, _ => false, 1)
    val warm = measured.map(_._2)
    val warmOps = samples.filter(s => s.pass >= 2 && s.pass < 2 + warm.size)
    val result = mutable.LinkedHashMap[String, Any](
      "cold_pass_ms" -> coldNs / 1e6,
      "warmup_pass_ms" -> warmupNs / 1e6,
      "cold_cpu_ms" -> passCpuNs(0) / 1e6,
      "warm_cpu_ms" -> measured.map { case (p, _) => passCpuNs(p) / 1e6 },
      "warm_pass_ms" -> warm.map(_ / 1e6),
      "op_ms" -> warmOps.map(s => (s.buildNs + s.execNs) / 1e6),
      "incremental_ms" -> warmOps.groupBy(_.pass).values
        .map(_.filter(s => Pipeline.IncrementalOps(s.op.name)).map(s => s.buildNs + s.execNs).sum / 1e6)
        .toSeq,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.toSeq.map(_.toString),
      "jvm_cold" -> coldJvm.toMap)
    if (trace) {
      // traced and untraced passes alternate, so warm-up drift cancels
      // out of the tracing overhead
      val tracer = new Tracer(spark, cores)
      val first = warm.size + 2
      val both = loop(first, Some(tracer), p => (p - first) % 2 == 1, 2)
      val (on, off) = both.partition { case (p, _) => (p - first) % 2 == 1 }
      spans.write(Paths.get(out, "spans.json"))
      val onMs = on.map(_._2 / 1e6)
      result ++= Map(
        "traced_pass_ms" -> onMs,
        "untraced_pass_ms" -> off.map(_._2 / 1e6),
        "layers" -> layerTimes(on.map(_._1).toSet),
        "tracer" -> tracer.totals(on.size, onMs.sum),
        "jvm_end" -> jvm.snapshot.toMap)
    }
    result ++= Map("attempted" -> attempted, "failures" -> failures.toSeq, "facts" -> w.facts)
    result.toMap
  }

  /** Per-layer build/exec ms per traced pass, plus the sources totals:
    * `sources.write_ms` is the time inside `writePartitioned` (base and
    * batch fact), `sources.load_ms` the `incrementalLoad` ops.
    */
  private def layerTimes(traced: Set[Int]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, ns: Long): Unit = m(k) = m.getOrElse(k, 0.0) + ns / 1e6 / traced.size
    samples.filter(s => traced(s.pass)).foreach { s =>
      add(s"${s.op.layer}.build_ms", s.buildNs)
      add(s"${s.op.layer}.exec_ms", s.execNs)
      if (s.op.layer == "sources.load") add("sources.load_ms", s.buildNs + s.execNs)
      if (s.op.name == "fact_sales" || s.op.name == "batch_fact") add("sources.write_ms", s.execNs)
    }
    m.toMap
  }
}

/** JVM-wide counters read through the management beans. */
final class JvmCounters {
  import java.lang.management.ManagementFactory
  final case class Snap(jitMs: Long, classes: Long, gcMs: Long, codeCacheMb: Double) {
    def minus(o: Snap): Snap = Snap(jitMs - o.jitMs, classes - o.classes, gcMs - o.gcMs, codeCacheMb)
    def toMap: Map[String, Any] = Map("jit_ms" -> jitMs, "classes_loaded" -> classes,
      "gc_ms" -> gcMs, "codecache_mb" -> codeCacheMb)
  }
  def snapshot: Snap = {
    val jit = ManagementFactory.getCompilationMXBean
    var gc = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => gc += math.max(0L, b.getCollectionTime))
    var code = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getName.contains("CodeHeap") || p.getName.contains("Code Cache")) code += p.getUsage.getUsed
    }
    Snap(if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount, gc, code / 1048576.0)
  }
}

/** Spans kept in memory and written once at the end, each with its self
  * time (duration minus the time its child spans cover).
  */
final class Spans {
  private final case class S(id: Int, name: String, layer: String, op: String, parent: Int,
      start: Long, var end: Long = -1L)
  private val all = mutable.ArrayBuffer.empty[S]
  def open(name: String, layer: String, op: String, parent: Int): Int = {
    all += S(all.size, name, layer, op, parent, System.nanoTime())
    all.size - 1
  }
  def close(id: Int): Unit = all(id).end = System.nanoTime()
  def write(path: java.nio.file.Path): Unit = {
    val closed = all.filter(_.end >= 0)
    val childNs = closed.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    val t0 = closed.headOption.map(_.start).getOrElse(0L)
    Files.writeString(path, Json(closed.map { s =>
      val dur = s.end - s.start
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> (dur - childNs.getOrElse(s.id, 0L)) / 1e6)
    }.toSeq))
  }
}

/** Minimal JSON writer for the result maps. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
