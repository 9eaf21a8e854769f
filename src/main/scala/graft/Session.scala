package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (Bench, Verify, the dev
  * tools) and the test suites build their session here, so a plan, a
  * profile and a bench number all come from the same engine
  * configuration. A caller that needs a different conf passes it as an
  * explicit override (Bench: the commit algorithm) instead of copying
  * the builder.
  */
object Session {

  /** Codegen-cache capacity (spark.sql.codegen.cache.maxEntries, a
    * STATIC conf — session-builder only). Spark's default is 100
    * compiled-class entries, sized for a handful of concurrent queries;
    * this suite's heavy lifecycle queries alone generate >200 codegen
    * units per run (r12: q_incremental_refresh recompiled 204 units
    * EVERY timed run — the warm-up pass's compiles were all evicted,
    * defeating the bench's own "warm-JIT + codegen cache" contract), and
    * janino recompiles are pure driver fixed cost (~10-30 ms each). 8192
    * entries hold the whole 224-query suite's units; NOT scale- or
    * core-count-dependent — any production driver running a many-query
    * workload sizes this cache to the workload (measured r12:
    * q_incremental_refresh 9.52→7.88 s, q_forget_cascade 4.96→3.79 s
    * min-of-5, recompiles 204→4). Being static, it A/Bs only across
    * JVMs: `graft.tools.Probe time --conf spark.sql.codegen.cache.maxEntries=100`.
    */
  val CodegenCacheEntries = 8192

  /** local[N] width: env override, else the machine's core count — a
    * hardcoded 32 oversubscribes smaller hosts and skews timings
    * (shuffle.partitions tracks it too).
    */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the graft conf: shuffle partitions =
    * cpus, UTC, AQE on, nanos-as-long parquet reads ([[Tables.NanosConf]]),
    * UI off, the [[CodegenCacheEntries]] codegen cache, graft's SQL
    * functions registered, WARN log level. `overrides` are applied after
    * the defaults, so a static conf can be A/B'd from the command line.
    */
  def local(cpus: Int, overrides: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
              CodegenCacheEntries.toString)
    overrides.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.registerAll(spark)
    spark
  }

  /** Drop every cached block between timed runs, so no run measures
    * against the prior run's leftovers (the cold-cache contract).
    * clearCache only covers Dataset persist entries; localCheckpoint
    * blocks (BPE merge rounds, store-maintenance barriers) live as
    * persisted RDDs until the ContextCleaner's GC-driven sweep —
    * unpersist them directly. The old RDD handles are dead between runs;
    * dropping their blocks is safe.
    */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
