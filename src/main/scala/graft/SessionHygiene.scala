package graft

import org.apache.spark.sql.SparkSession

/** The mains' session builder and long-single-JVM session hygiene
  * (Bench and Verify both run the full 150+-key registry in one
  * process). Measured in the round-5 2×2 A/B at sf0.1: ON tames the
  * late-session artifact-key outliers (graph_pagerank 5.6→1.3 s) and
  * lowers full-session totals ~14%, at ≤0.2 s cost on a handful of
  * small keys right after a GC tick (BASELINE.md round-5 section). */
object SessionHygiene {

  /** The one session every main builds: `local[cpus]` with as many
    * shuffle partitions, the session time zone pinned to UTC (keys
    * evaluate date functions, and some persist their results into
    * shared artifacts whose hash does not see the time zone), the UI
    * off, and WARN logging. The status-store caps matter even with
    * the UI off: per-execution status data accumulates across a
    * 150-key session — bookkeeping rent the late keys otherwise pay. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A/B gate: SPARK_GRAFT_BENCH_HYGIENE=0 disables the inter-key
    * step (reproduces the round-5 measurement). */
  private val enabled: Boolean =
    !sys.env.get("SPARK_GRAFT_BENCH_HYGIENE").contains("0")

  /** Inter-key step: drop cached relations a key left behind,
    * explicitly unpersist any still-pinned RDDs (localCheckpoint
    * blocks live in the block manager until the RDD object is GC'd
    * AND the async ContextCleaner drains — `clearCache` never touches
    * them, and the round-11 instrumented session showed keys leaving
    * 4–12 pinned RDD sets behind), and every 20 keys nudge a full GC
    * so destroyed broadcasts follow. Safe between keys: no key reads
    * another key's in-memory state (cross-key reuse goes through the
    * on-disk artifact cache), and each key rebuilds its own frames. */
  def step(spark: SparkSession, keyIdx: Int): Unit = if (enabled) {
    spark.catalog.clearCache()
    // Unpersisting a locally-checkpointed RDD logs a scary-but-noise
    // "lineage has been truncated" WARN per RDD (the whole point of
    // the step is that nothing recomputes them). Mute the rdd loggers
    // for JUST this loop so bench/verify tails keep real warnings
    // visible instead of burying them under hygiene chatter.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val rddLogger = "org.apache.spark.rdd"
    val prior = LogManager.getLogger(rddLogger).getLevel
    Configurator.setLevel(rddLogger, Level.ERROR)
    try
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    finally Configurator.setLevel(rddLogger, prior)
    if (keyIdx % 20 == 0) System.gc()
  }
}
