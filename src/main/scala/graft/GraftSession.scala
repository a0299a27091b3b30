package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a `SparkSession`. Every main and the test
  * base `SparkSpec` get the same session config from here:
  *
  *  - [[graft.functions.GraftExtensions]]: the native functions the ops
  *    layer resolves by name;
  *  - UTC session time zone, so date/timestamp results match the DuckDB
  *    oracle whatever the host's zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the testdata's nanosecond
  *    timestamps load as longs (`Tables` normalizes them to micros);
  *  - UI off;
  *  - `spark.shuffle.sort.bypassMergeThreshold` 0, overridable through
  *    `SPARK_GRAFT_BYPASS_THRESHOLD`. With shuffle partitions at or below
  *    Spark's default threshold (200) every SQL exchange falls into
  *    BypassMergeSortShuffleWriter: one temp file per reduce partition
  *    per map task plus a merge, which ProfileStacks measured as ~60% of
  *    executor thread-time on the exchange-heavy fold rows. A real
  *    cluster runs thousands of shuffle partitions, always above the
  *    threshold, on UnsafeShuffleWriter's one-sorted-file path; 0 makes
  *    local runs use that same writer (OPTIMIZATION_r18.md). 200
  *    restores the Spark default;
  *  - `spark.sql.codegen.cache.maxEntries` 1,000 (Spark's default is
  *    100). The cache is JVM-wide and keyed by (class loader, source),
  *    so in local mode each whole-stage class takes two entries, the
  *    driver's and the task's. One `Curation.curate` call compiles
  *    about 175 classes of 117 distinct sources, so at 100 entries a
  *    second identical call recompiled all of them (about 2 s of Janino
  *    time); at 1,000 it compiles none. It is a static conf: the cache is
  *    sized once per JVM, at its first compile.
  *
  * Callers pass only what differs between them: the master and the
  * shuffle partition count. `getOrCreate` semantics: a second call in one
  * JVM returns the running session.
  */
object GraftSession {

  private[graft] val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  private[graft] val CodegenCacheEntries = 1000

  def apply(master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "0"))
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
      .getOrCreate()
}
