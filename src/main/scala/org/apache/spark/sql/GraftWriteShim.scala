package org.apache.spark.sql

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

/** Parquet write of a frame into a fresh directory through Spark's
  * own `FileFormatWriter` — the machinery under `df.write.parquet` —
  * with one extra `WriteJobStatsTracker` riding the write tasks (the
  * hook Delta's `TransactionalWrite` uses for its file statistics).
  * `FileFormatWriter.write` takes the classic session and must run
  * under an SQL execution id, hence the bridge.
  */
object GraftWriteShim {

  /** Write `df` as parquet under `dir`, hive-partitioned by
    * `partitionCols`, and return the tracker after the job committed.
    * `tracker` receives the attributes a tracker's `newRow` sees — the
    * data columns, in file order — and the partition columns whose
    * values `newPartition` carries. `format` may be a parquet format
    * whose output writers filter what reaches disk. */
  def writeParquet[T <: WriteJobStatsTracker](df: DataFrame, dir: String,
      partitionCols: Seq[String],
      tracker: (Seq[Attribute], Seq[Attribute]) => T,
      format: ParquetFileFormat = new ParquetFileFormat): T = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = spark.sessionState.executePlan(df.queryExecution.analyzed)
    val output = qe.analyzed.output
    val resolver = spark.sessionState.conf.resolver
    val partAttrs = partitionCols.map(c =>
      output.find(a => resolver(a.name, c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '$c' is not in the written frame")))
    val dataAttrs = output.filterNot(partAttrs.contains)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val stats = tracker(dataAttrs, partAttrs)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, dir)
    SQLExecution.withNewExecutionId(qe, Some("graft staged write")) {
      FileFormatWriter.write(spark, qe.executedPlan, format,
        committer, FileFormatWriter.OutputSpec(dir, Map.empty, output),
        hadoopConf, partAttrs, None,
        Seq(new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics), stats),
        Map.empty)
    }
    stats
  }
}
