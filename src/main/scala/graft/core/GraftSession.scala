package graft.core

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook: registers every `graft_*` function of
  * `graft.functions.sqlFunctions` at session build time — usable via
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.core.GraftExtensions`, after which all
  * of them work from plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.sqlFunctions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
}

/** Session factory with the engine's tuned defaults: AQE on (runtime
  * shuffle-partition coalescing + skew-join splitting), UTC, and the
  * graft custom expressions registered. At cluster scale the same
  * settings apply — only `master` and the shuffle-partition count
  * (sized ~2-3× total cores) change.
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
    *  - advisory partition size / min partition size, 4m/256k: keeps
    *    CPU-dense aggregates parallel at the bench's kilobyte-to-tens-
    *    of-MB shuffle sizes while collapsing the kilobyte shuffles to
    *    1-2 tasks. Production clusters raise both to the 64m-256m range
    *    by setting the two Spark confs directly.
    */
  def tunedShuffleConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k")

  /** Codegen-class retention for full-registry sweeps (Bench, Verify,
    * PerfProbe). The default 100-entry codegen cache evicts every
    * generated class several times across a 475-query sweep, so a timed
    * pass re-Janinos (and re-JITs) code the warmup already compiled. A
    * full-registry session generates ~2-3k distinct codegen units
    * (~2k whole-stage stages plus projections, predicates and
    * orderings); 4096 retains them all. A static conf: pass it through
    * `create`'s `confs`, it has no effect once the session exists.
    */
  val retainAllCodegen: (String, String) = "spark.sql.codegen.cache.maxEntries" -> "4096"

  /** Build (or get) the session: graft's extensions, AQE with coalescing
    * and skew-join splitting, [[tunedShuffleConfs]], UTC, no UI, and
    * then [[register]]. `confs` are applied after these defaults and
    * before `getOrCreate`, so they override a default (CodegenAudit
    * turns AQE off this way) and static confs such as
    * [[retainAllCodegen]] take effect.
    */
  def create(appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    (tunedShuffleConfs ++ confs).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    register(spark)
    spark
  }

  /** The [[create]] session of the harness mains (Bench, Verify and the
    * tools): `local[n]` with one shuffle partition per core, where n is
    * `SPARK_GRAFT_CPUS` (default 32).
    */
  def harness(appName: String, confs: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    create(appName, s"local[$cpus]", cpus, confs)
  }

  /** Register every `graft_*` function and the required confs
    * in an existing session (idempotent). The nanos conf belongs here
    * so that ANY events read in this session works — not only reads
    * routed through `Tables` (the footgun a bare
    * `spark.read.parquet(events)` otherwise hits).
    */
  def register(spark: SparkSession): Unit = {
    graft.functions.sqlFunctions.foreach(f => graft.functions.registerOnce(spark, f.name))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }
}
