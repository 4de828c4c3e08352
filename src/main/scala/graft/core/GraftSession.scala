package graft.core

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** SparkSessionExtensions hook: injects every graft SQL function from
  * `graft.functions.SqlFunctions` at session build time — usable via
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.core.GraftExtensions`, after which
  * `graft_dot` / `graft_shingles` work from plain SQL, in `newSession()`
  * children too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.SqlFunctions.all.foreach(f => e.injectFunction(f.injection))
}

/** Session factory with the engine's tuned defaults: the AQE
  * partition-sizing policy below (AQE, coalescing and skew-join
  * splitting themselves are Spark 4 defaults), UTC, full codegen-class
  * retention, and the graft SQL functions injected. At cluster scale
  * the same settings apply — only `master` and the shuffle-partition
  * count (sized ~2-3× total cores) change.
  */
object GraftSession {
  /** AQE partition-sizing policy (optimization round 19, guide §2.2
    * "fewer, larger reduce partitions ... let AQE coalesce small
    * partitions"). Two boolean policies plus two size knobs:
    *
    *  - `canChangeCachedPlanOutputPartitioning=true`: lets AQE apply
    *    partition coalescing INSIDE cached-plan subtrees. The engine's
    *    shared/owned frames put most stages under an InMemoryRelation,
    *    where the default (false) silently disabled coalescing — every
    *    post-shuffle stage then ran `shuffle.partitions` tasks however
    *    few bytes it carried. Measured at sf0.1/local[32]: the graph
    *    family dropped 20-30× in task count (four_cycle_clustering
    *    936→34 tasks, wall 3.2→0.9 s) with identical results
    *    (partitioning is never semantics here — every query is
    *    DuckDB-oracled, so no result can depend on physical layout).
    *  - `parallelismFirst=false`: coalesce by BYTES (the advisory
    *    size), not up to core count — the Spark tuning guide's own
    *    recommendation; byte-sized partitions are the scale-adaptive
    *    policy (a 100 TB shuffle still gets thousands of partitions).
    *  - advisory partition size / min partition size: scale-dependent,
    *    so parameterised. Local default 4m/256k keeps CPU-dense
    *    aggregates parallel at the bench's kilobyte-to-tens-of-MB
    *    shuffle sizes while collapsing the kilobyte shuffles to 1-2
    *    tasks; production clusters raise to the 64m-256m range
    *    (SPARK_GRAFT_ADVISORY_PART / SPARK_GRAFT_MIN_PART).
    */
  def tunedShuffleConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PART", "4m"),
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      sys.env.getOrElse("SPARK_GRAFT_MIN_PART", "256k"))

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Local core count of the harness mains (`SPARK_GRAFT_CPUS`, default
    * 32); they also use it as the shuffle-partition count.
    */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The one session builder. Static confs only take effect on the
    * first session of a JVM, so per-caller needs are runtime
    * `spark.conf.set` calls on the returned session.
    *
    * `spark.sql.codegen.cache.maxEntries=4096` (round 17, VERDICT r16
    * #1): the default 100-entry codegen cache evicts every generated
    * class several times across a full-registry sweep, so a timed pass
    * re-Janinos (and re-JITs) code the warmup sweep already compiled. A
    * full-registry session generates ~2-3k distinct codegen units
    * (CODEGEN_AUDIT_r16: ~2k WSCG stages + projections/predicates/
    * orderings); 4096 retains them all.
    */
  def create(appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config(NanosAsLong, "true")
    tunedShuffleConfs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Register graft's SQL functions and required confs in a session
    * graft did not build (idempotent; [[create]]d sessions already have
    * both). The nanos conf belongs here so that ANY events read in this
    * session works — not only reads routed through `Tables` (the
    * footgun a bare `spark.read.parquet(events)` otherwise hits).
    */
  def register(spark: SparkSession): Unit = {
    graft.functions.SqlFunctions.all.foreach(_.register(spark))
    spark.conf.set(NanosAsLong, "true")
  }
}
