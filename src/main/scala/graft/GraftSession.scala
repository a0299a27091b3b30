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
  *    restores the Spark default.
  *
  * Callers pass only what differs between them: the master and the
  * shuffle partition count. `getOrCreate` semantics: a second call in one
  * JVM returns the running session.
  */
object GraftSession {

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
      .getOrCreate()
}
