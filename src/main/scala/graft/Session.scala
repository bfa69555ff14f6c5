package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's standard local-mode settings.
  *
  * The reference engine manages a SQLite connection + pandas memory budget
  * (reference: pandasql/core.py:1679-1697, memory_utils.py); on Spark the
  * session IS the engine handle — AQE, shuffle partitioning and spill are
  * delegated to Spark. Shuffle partitions default to the core count (not
  * 200) because local mode has exactly one executor; on a real cluster this
  * is overridden by AQE coalescing (`spark.sql.adaptive.enabled=true`).
  *
  * The generated-class cache is sized to graft's working set. Spark keeps
  * compiled whole-stage and expression classes in one JVM-wide cache of
  * `spark.sql.codegen.cache.maxEntries` (default 100), which Guava splits
  * into 4 LRU segments of about 25 entries each. The five `llm_pipeline`
  * queries (dedup, clustering, text quality, pipelines) need 151-179
  * distinct classes and the 13 `interactive` queries about 94 more, 273
  * together. At the default, warm actions in a mixed session recompiled
  * their code with Janino and ran it in cold classes (median 72 compiles
  * per `q_cluster_dedup` action, 49 per `q_decontaminate`, 18 per
  * `q_pipeline_web`; 0 at the cap below). An entry lands in
  * a segment by hash, so the cap must sit well above the working set for
  * no single segment to overflow: [[CodegenCacheEntries]] gives each
  * segment about 256. The conf is static and read once per JVM, at the
  * first codegen, so it is set here where the session is built (the
  * session extension runs too late).
  */
object Session {
  private val CodegenCacheEntries = 1024

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
