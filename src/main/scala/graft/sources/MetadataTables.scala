package graft.sources

import java.util.{Set => JSet}

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{LongType, MapType, StringType,
  StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL-addressable METADATA tables over a [[LogTable]] — Iceberg's
  * inspection-surface idea (`SELECT * FROM cat.t.history / .files /
  * .refs`): table metadata served as first-class read-only relations
  * users project, filter and JOIN against, instead of procedures
  * they must CALL and collect. Resolved by [[GraftTableCatalog]]
  * when a dotted identifier's base resolves to a log table and the
  * leaf names one of the surfaces (a real table always shadows the
  * metadata name).
  *
  *  - `history`: one row per commit — version, wall-clock commit
  *    time (millis), op, files added/removed. The SQL twin of
  *    `CALL cat.history('t')` and DESCRIBE HISTORY.
  *  - `files`:   the live-file manifest — [[LogTable.addsDF]], which
  *    above the checkpoint threshold is a DISTRIBUTED scan of the
  *    parquet checkpoint plus a driver-folded commit tail; at the
  *    100-TB target the ~1M-row manifest is a relation to join
  *    against, never driver state.
  *  - `refs`:    live tags and branches with their pinned/head
  *    versions.
  *  - `snapshots`: one row per retained commit with parent,
  *    operation and a summary map (Iceberg's `snapshots` table —
  *    richer than `history`).
  *  - `all_files`: every file referenced by ANY retained version,
  *    `live`-flagged — the vacuum-audit view (Iceberg's
  *    `all_files`), distributed via the floor checkpoint scan.
  *  - `manifests`: the checkpoint chain (Iceberg's `manifests`
  *    shape) — version, file-state format, sidecar path, parts,
  *    bytes.
  *  - `partitions`: per-partition layout census (Iceberg's
  *    `partitions` table) — file count, physical/logical rows and
  *    bytes per hive partition, aggregated DISTRIBUTED from the
  *    `files` relation (one row per partition, never per file, on
  *    the driver); unpartitioned tables report one whole-table row.
  */
object GraftMetadataTables {

  val surfaces: Set[String] =
    Set("history", "files", "refs", "partitions", "snapshots",
      "all_files", "manifests")

  def apply(name: String, surface: String, log: LogTable): Table =
    surface match {
      case "history" => new GraftMetadataTable(name, historySchema,
        s => log.history(s))
      case "files" => new GraftMetadataTable(name, filesSchema,
        s => log.addsDF(s))
      case "refs" => new GraftMetadataTable(name, refsSchema,
        s => refsDF(s, log))
      case "partitions" => new GraftMetadataTable(name,
        partitionsSchema, s => partitionsDF(s, log))
      case "snapshots" => new GraftMetadataTable(name, snapshotsSchema,
        s => log.snapshotsDF(s))
      case "all_files" => new GraftMetadataTable(name, allFilesSchema,
        s => log.allFilesDF(s))
      case "manifests" => new GraftMetadataTable(name, manifestsSchema,
        s => log.manifestsDF(s))
      case other => throw new IllegalArgumentException(
        s"unknown metadata surface '$other'")
    }

  private val historySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("commit_ts", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("n_added", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))

  private[sources] val filesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("partition_values", MapType(StringType, StringType),
      nullable = true),
    StructField("dv_path", StringType, nullable = true),
    StructField("dv_rows", LongType, nullable = true),
    StructField("base_row_id", LongType, nullable = true),
    StructField("stats", StringType, nullable = true)))

  private val snapshotsSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("parent", LongType, nullable = true),
    StructField("committed_at", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("summary", MapType(StringType, StringType),
      nullable = false)))

  private val allFilesSchema = StructType(
    filesSchema.fields.toSeq :+
      StructField("live", org.apache.spark.sql.types.BooleanType,
        nullable = false))

  private val manifestsSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("parts", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  private val refsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  private val partitionsSchema = StructType(Seq(
    StructField("partition_values", MapType(StringType, StringType),
      nullable = true),
    StructField("n_files", LongType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("logical_rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  private def partitionsDF(spark: SparkSession,
                           table: LogTable): DataFrame = {
    import org.apache.spark.sql.functions._
    // maps are not groupable — key on the canonical sorted entry
    // array and carry one representative map through
    table.addsDF(spark)
      .groupBy(array_sort(map_entries(col("partition_values")))
        .as("__pk"))
      .agg(first(col("partition_values")).as("partition_values"),
        count(lit(1)).as("n_files"),
        sum(col("rows")).as("rows"),
        sum(col("rows") - coalesce(col("dv_rows"), lit(0L)))
          .as("logical_rows"),
        sum(col("bytes")).as("bytes"))
      .drop("__pk")
  }

  private def refsDF(spark: SparkSession, log: LogTable): DataFrame = {
    import spark.implicits._
    log.refs.toSeq.sortBy(_._1)
      .map { case (n, (kind, v)) => (n, kind, v) }
      .toDF("name", "kind", "version")
  }
}

/** Read-only DSv2 table serving a DataFrame-producing thunk through
  * Spark's V1 scan bridge (`V1Scan`, the shim the JDBC source rides).
  * The frame is built lazily at scan time, so each query sees the
  * CURRENT metadata (a metadata relation must not pin the state at
  * plan-cache time). */
private[sources] final class GraftMetadataTable(
    tableName: String, tableSchema: StructType,
    frame: SparkSession => DataFrame)
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new V1Scan {
      override def readSchema(): StructType = tableSchema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = tableSchema
          override def buildScan(): org.apache.spark.rdd.RDD[
            org.apache.spark.sql.Row] = {
            val df = frame(context.sparkSession)
            // align to the declared column order and types so the
            // bridge's row shape always matches readSchema
            df.select(tableSchema.fields.toSeq.map(f =>
              col(f.name).cast(f.dataType)): _*).rdd
          }
        }.asInstanceOf[T]
    }
  }
}
