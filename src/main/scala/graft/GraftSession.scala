package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory — one place for the engine's session contract:
  * UTC, non-ANSI casts (the parsers' bad-input->NULL semantics), ns-parquet
  * reads, AQE, the engine's SQL function extensions, and a generated-code
  * cache that holds the engine's working set.
  *
  * ==Generated-code cache==
  * Spark keeps compiled whole-stage and expression classes in a cache of
  * `spark.sql.codegen.cache.maxEntries` entries (default 100). Twelve
  * warehouse queries need about 110 distinct classes and the corpus
  * operators several hundred, so at 100 the cache turns over as a cyclic
  * LRU and a rerun compiles its code again: about 320 Janino compiles per
  * 36-query warehouse pass and 460 per 17-query corpus pass. At
  * [[CodegenCacheEntries]] a steady-state rerun compiles nothing. The
  * setting is STATIC and JVM-wide: Spark reads it once, when its code
  * generator first loads, so it belongs in the builder (set before any
  * query runs) and `spark.conf.set` cannot change it later.
  *
  * A query whose generated source differs on every call defeats any cache
  * size: Spark's local limit names its row counter from a JVM-wide sequence
  * (`_limit_counter_N`), so `limit(n).count()` compiles anew each time.
  * Bounded counts and existence probes therefore go through
  * [[operators.Serving.boundedCount]], whose code repeats. */
object GraftSession {
  /** Codegen cache size: the measured working sets above, with headroom
    * for a session that runs every workload. */
  private val CodegenCacheEntries = 2000L

  def builder(cores: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .config("spark.graft.native.allpairs", "true") // AllPairsStrategy is injected below
      .withExtensions(new plans.GraftExtensions)

  def create(cores: String): SparkSession = {
    val s = builder(cores, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
