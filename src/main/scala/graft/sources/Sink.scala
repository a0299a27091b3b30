package graft.sources

import org.apache.spark.sql.DataFrame

/** Output seam shared by every destination the pipeline can write to.
  *
  * `target` is destination-specific: a directory or `s3a://` URI for file
  * sinks, a `project.dataset` pair for warehouse sinks. `table` is the
  * dataset name (`entries`, `tasks`, ...), `format` the payload format
  * (`csv`/`jsonl`/`parquet` for files, [[BigQuerySink.Format]] for BQ).
  *
  * Two duties every implementation keeps:
  *  - `write` may be called concurrently for distinct tables
  *    (`PipelineMain.run` writes its independent datasets from several
  *    threads), so it shares no mutable state between tables;
  *  - `write` executes the frame it is given before it returns: the
  *    caller reads the frame's row count from metrics observed during
  *    that execution, and fails the run naming the table if none arrive.
  */
trait Sink {
  def write(df: DataFrame, target: String, table: String, format: String): Unit
}

/** BigQuery-shaped sink over the PUBLIC `spark-bigquery-connector` option
  * surface (format `"bigquery"`; options `table`, `writeMethod`
  * direct/indirect, `temporaryGcsBucket`, `partitionField`,
  * `clusteredFields`, `createDisposition` — all documented in the
  * connector's README).
  *
  * The connector jar is NOT a dependency of this build, so the final
  * `save()` call is injected: production uses [[BigQuerySink.connectorSaver]]
  * (which requires the connector on the classpath and changes nothing
  * else), while specs inject a recording saver and exercise the full
  * option-building + mode wiring offline. Everything up to the injected
  * call — option assembly, validation, mode — is real and spec-tested.
  *
  * Scale note: `writeMethod=direct` streams each partition straight into
  * BigQuery's write API from the executors (no driver funnel, no staging
  * copy); `indirect` stages parquet in GCS first and requires
  * `temporaryGcsBucket`. Both paths keep the write fully distributed.
  */
final case class BigQuerySink(
    writeMethod: String = "direct",
    temporaryGcsBucket: Option[String] = None,
    partitionField: Option[String] = None,
    clusteringFields: Seq[String] = Nil,
    saveMode: String = "overwrite",
    saver: BigQuerySink.Saver = BigQuerySink.connectorSaver) extends Sink {

  require(Set("direct", "indirect").contains(writeMethod),
    s"writeMethod must be direct|indirect, got: $writeMethod")
  require(writeMethod == "direct" || temporaryGcsBucket.nonEmpty,
    "indirect writeMethod stages through GCS and needs temporaryGcsBucket")
  require(writeMethod == "indirect" || temporaryGcsBucket.isEmpty,
    "direct writeMethod streams via the Storage Write API and takes no " +
      "temporaryGcsBucket — a bucket here means the caller expected " +
      "indirect staging semantics the direct path will silently skip")
  require(clusteringFields.size <= 4,
    s"BigQuery clustering allows at most 4 fields, got " +
      s"${clusteringFields.size} (${clusteringFields.mkString(",")})")

  /** Connector options for one table write; `target` = `project.dataset`. */
  def options(target: String, table: String): Map[String, String] = {
    require(target.nonEmpty && table.nonEmpty, "target and table required")
    Map("table" -> s"$target.$table", "writeMethod" -> writeMethod) ++
      temporaryGcsBucket.map("temporaryGcsBucket" -> _) ++
      partitionField.map("partitionField" -> _) ++
      (if (clusteringFields.nonEmpty)
        Map("clusteredFields" -> clusteringFields.mkString(","))
      else Map.empty)
  }

  override def write(df: DataFrame, target: String, table: String,
      format: String): Unit = {
    require(format == BigQuerySink.Format,
      s"BigQuerySink writes format '${BigQuerySink.Format}', got: $format")
    saver(df, options(target, table), saveMode)
  }
}

object BigQuerySink {
  val Format = "bigquery"

  /** (df, connector options, save mode) -> side effect. */
  type Saver = (DataFrame, Map[String, String], String) => Unit

  /** Production saver: the one line that needs the connector jar. */
  val connectorSaver: Saver = (df, opts, mode) =>
    df.write.format(Format).options(opts).mode(mode).save()
}
