package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The DataSource-V2 face of a [[LogTable]]: a READ + WRITE + DELETE
  * catalog table, so the full SQL DML surface the reference's users
  * have on Delta tables works by name —
  *
  * {{{
  * INSERT INTO g.t VALUES ...        -- append commit (∝ delta)
  * INSERT OVERWRITE g.t SELECT ...   -- full-replace commit
  * DELETE FROM g.t WHERE k < 10      -- stats-pruned file rewrite
  * SELECT * FROM g.t [VERSION AS OF n | TIMESTAMP AS OF t]
  * }}}
  *
  * Reads delegate to Spark's own parquet implementation over the
  * snapshot's live file list, so pushdown / pruning / vectorization
  * are exactly parquet's. Writes delegate the data movement to
  * Spark's parquet write path pointed at a per-query staging
  * directory, its writers carrying the table's stats tracker; the
  * driver-side `BatchWrite.commit` then runs the log commit (the
  * writers' file stats + atomic log-slot claim)
  * — all-or-nothing, and aborted queries never touch the log.
  * `DELETE FROM` arrives through [[SupportsDelete.deleteWhere]] as
  * pushed v1 filters, re-assembled into one predicate and executed
  * by [[LogTable.delete]]'s skip-scan-rewrite pipeline. */
final class GraftLogTableV2(tableName: String, log: LogTable)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark = SparkSession.active
  // the USER's schema: hidden partition-transform columns are the
  // engine's layout artifact and never surface through SQL
  private val tableSchema: StructType = log.userSchema

  /** The underlying log, for the row-level SQL dispatch strategy. */
  private[sources] def logTable: LogTable = log

  override def name(): String = tableName
  override def schema(): StructType = tableSchema

  /** Free-form TBLPROPERTIES from the log, so `SHOW TBLPROPERTIES`
    * and `DESCRIBE TABLE EXTENDED` surface them. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    log.tableProperties.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** AUTOMATIC_SCHEMA_EVOLUTION opts into Spark's native
    * `MERGE WITH SCHEMA EVOLUTION INTO`: the analyzer resolves the
    * source's extra columns to AddColumn changes and applies them
    * through [[GraftTableCatalog.alterTable]] →
    * [[LogTable.addColumns]] (a metadata-only commit) before the
    * merge plans — without the capability the clause silently
    * no-ops. */
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** Surface the layout in catalog introspection (`DESCRIBE`):
    * identity columns as identity transforms, hidden-partitioning
    * columns as their TRANSFORM over the source column — the user
    * sees `days(ts)`, never the synthesized hidden column. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val transforms = log.partitionTransforms
    log.partitionCols.map { c =>
      transforms.get(c).flatMap(PartitionTransforms.parse) match {
        case Some(t) => t.kind match {
          case "years"  => Expressions.years(t.source)
          case "months" => Expressions.months(t.source)
          case "days"   => Expressions.days(t.source)
          case "hours"  => Expressions.hours(t.source)
          case "bucket" => Expressions.bucket(t.param.get, t.source)
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(Int.box(t.param.get)),
            Expressions.column(t.source))
        }
        case None => Expressions.identity(c)
      }
    }.toArray
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftLogTableV2.scanBuilder(tableName, log, None, tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LogWriteBuilder(log, info, overwriteAll = false)

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    true // any residual the stats can't prune is resolved by scanning

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val pred = filters.map(GraftLogTableV2.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    log.delete(spark, pred)
    ()
  }
}

object GraftLogTableV2 {

  /** Spark's parquet table over the live files of a snapshot —
    * current, or pinned for time travel. Zero live files are served
    * from the table's always-empty directory (a schema-only scan).
    * A pinned read serves the SNAPSHOT's schema, not the current one
    * — after evolution or an overwrite, `VERSION AS OF` shows the
    * column set that version actually had, matching
    * [[LogTable.load]]. */
  private[sources] def scanTable(name: String, log: LogTable,
                                 version: Option[Long],
                                 filesOverride: Option[Seq[String]] =
                                   None): ParquetTable = {
    // a column-mapped snapshot resolves parquet columns by field id,
    // which Spark gates on the session conf — flip it here (and only
    // for mapped tables; see LogTable.enableFieldIds)
    log.ensureFieldIdResolution(SparkSession.active, version)
    val files = filesOverride.getOrElse(log.liveFiles(version))
    val paths = if (files.nonEmpty) files else Seq(s"${log.path}/_empty")
    // hive-partitioned tables scan with basePath discovery, so the
    // partition columns resolve from the dirs and predicates on them
    // become PartitionFilters — Spark's own reader-side partition
    // pruning, on top of the log-side stats pruner. The layout is
    // the SNAPSHOT's (partition evolution can change it per version;
    // mixed-epoch snapshots never reach here — needsLoadPlan).
    val snapPartCols = version.map(log.partitionColsAt)
      .getOrElse(log.partitionCols)
    val opts =
      if (snapPartCols.isEmpty || files.isEmpty)
        CaseInsensitiveStringMap.empty()
      else new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("basePath", s"${log.path}/data"))
    ParquetTable(name, SparkSession.active, opts, paths,
      Some(version.map(log.schemaAt).getOrElse(log.schema)),
      classOf[ParquetFileFormat])
  }

  /** Snapshots the plain parquet scan cannot serve: deletion vectors
    * (the raw file list would resurrect deleted rows), PARTITIONED
    * shallow clones (the snapshot mixes data ROOTS, but a single
    * FileTable pins one basePath — `LogTable.load` groups per root),
    * and mixed-layout snapshots after PARTITION EVOLUTION (files of
    * different partition-dir epochs cannot share one discovery —
    * the load path groups per layout signature). SQL reads them
    * through [[LoadPlanScan]], which [[GraftReadSubstitution]]
    * replaces with [[LogTable.load]]'s own plan. */
  private[sources] def needsLoadPlan(log: LogTable,
                                     version: Option[Long]): Boolean = {
    val snapPartCols = version.map(log.partitionColsAt)
      .getOrElse(log.partitionCols)
    val transforms = version.map(log.partitionTransformsAt)
      .getOrElse(log.partitionTransforms)
    // hidden partitioning: the synthesized transform column must
    // not surface through a raw FileTable scan — `LogTable.load`
    // projects it away. Metadata-only — answered before the
    // file-state facts are even consulted.
    if (transforms.nonEmpty) return true
    // file-state facts come from the MANIFEST where it lives (a
    // tiny aggregate job above the checkpoint threshold, memoized
    // per immutable version) — a catalog resolution of a
    // million-file table never collects the file list here
    val (anyDv, anyAbs, keysets) =
      log.fileStateFacts(SparkSession.active, version)
    anyDv ||
      (snapPartCols.nonEmpty && anyAbs) ||
      keysets.size > 1 ||
      keysets.exists(_ != snapPartCols.toSet)
  }

  /** The scan of a snapshot, live or pinned: manifest-pruned parquet
    * for a plain one, [[LoadPlanScan]] for any other. `schema` is the
    * one the relation resolved, not re-read from the log: a column
    * added since must not reach a query that did not resolve it. */
  private[sources] def scanBuilder(name: String, log: LogTable,
                                   version: Option[Long], schema: StructType,
                                   options: CaseInsensitiveStringMap)
      : ScanBuilder =
    if (needsLoadPlan(log, version))
      new LoadPlanScan(name, log, version, schema)
    else new PruningScanBuilder(name, log, version, options)

  /** v1 pushed filter → Column, for [[SupportsDelete.deleteWhere]].
    * Total over Spark's filter algebra; anything Spark can push, we
    * can execute (the stats layer treats unknown shapes as
    * non-prunable, which is merely less fast, never wrong). */
  private[sources] def filterToColumn(f: sources.Filter): org.apache.spark.sql.Column = f match {
    case sources.EqualTo(a, v)            => col(a) === lit(v)
    case sources.EqualNullSafe(a, v)      => col(a) <=> lit(v)
    case sources.GreaterThan(a, v)        => col(a) > lit(v)
    case sources.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case sources.LessThan(a, v)           => col(a) < lit(v)
    case sources.LessThanOrEqual(a, v)    => col(a) <= lit(v)
    case sources.In(a, vs)                => col(a).isin(vs.toIndexedSeq: _*)
    case sources.IsNull(a)                => col(a).isNull
    case sources.IsNotNull(a)             => col(a).isNotNull
    case sources.And(l, r)            => filterToColumn(l) && filterToColumn(r)
    case sources.Or(l, r)             => filterToColumn(l) || filterToColumn(r)
    case sources.Not(c)               => !filterToColumn(c)
    case sources.StringStartsWith(a, v) => col(a).startsWith(v)
    case sources.StringEndsWith(a, v)   => col(a).endsWith(v)
    case sources.StringContains(a, v)   => col(a).contains(v)
    case sources.AlwaysTrue()           => lit(true)
    case sources.AlwaysFalse()          => lit(false)
    case other => throw new UnsupportedOperationException(
      s"cannot execute pushed filter $other")
  }
}

/** Read-only pinned table for `VERSION AS OF` / `TIMESTAMP AS OF`
  * (writes against a historical snapshot make no sense), scanned
  * through [[GraftLogTableV2.scanBuilder]] like the live table. The
  * snapshot is immutable, and so is its plain-or-not answer
  * ([[LogTable.fileStateFacts]] memoizes it per version). */
private[sources] final class GraftPinnedReadTable(
    tableName: String, log: LogTable, version: Long)
  extends Table with SupportsRead {
  private val snapshotSchema = log.userSchemaAt(version)
  override def name(): String = tableName
  override def schema(): StructType = snapshotSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = GraftLogTableV2.scanBuilder(tableName, log,
    Some(version), snapshotSchema, options)
}

/** The scan of a snapshot the plain parquet scan cannot serve
  * ([[GraftLogTableV2.needsLoadPlan]]). Scan pushdown runs before
  * [[GraftReadSubstitution]], so it still needs a scan to build: this
  * one pushes nothing and reports the user schema, and the rule then
  * replaces its relation with [[LogTable.load]]'s plan. A plan that
  * bypasses the rule fails at `toBatch`, so no read ever serves the
  * raw files (which would resurrect rows a deletion vector removed). */
private[sources] final class LoadPlanScan(
    tableName: String, val log: LogTable, val version: Option[Long],
    schema: StructType)
  extends ScanBuilder with Scan {
  override def build(): Scan = this
  override def readSchema(): StructType = schema
  override def description(): String =
    s"$tableName version " +
      version.orElse(log.currentVersion).fold("?")(_.toString)
  override def toBatch: Batch =
    throw new UnsupportedOperationException(
      s"${description()} carries deletion vectors, clone roots, hidden " +
        "or mixed partitioning and is read only through the load() plan " +
        "GraftReadSubstitution substitutes, which did not run for this " +
        "plan (is it in spark.experimental.extraOptimizations?)")
}

/** Filter-aware scan builder for plain-parquet snapshots: the
  * analyzer's PUSHED filters prune the MANIFEST before the parquet
  * table is even constructed — [[LogTable.prunedAdds]] evaluates the
  * file-skipping walk where the manifest lives (a Spark job
  * collecting only survivors above the parquet-checkpoint threshold,
  * the driver Seq below it), so a selective SQL query against a
  * ~1M-file table plans ∝ its match set instead of handing Spark the
  * full file list. The same pushed expressions are then re-driven
  * onto Spark's own ParquetScanBuilder over the surviving files
  * (row-group skipping, column pruning and vectorization are exactly
  * parquet's), and EVERY filter stays residual above the scan — the
  * stats walk is sound-or-skip, never load-bearing for correctness.
  * Uses the same internal SupportsPushDownCatalystFilters seam
  * Spark's own file sources implement (the public v1-Filter trait is
  * not consulted for file-source scan builders). Aggregate pushdown
  * (spark.sql.parquet.aggregatePushdown, default off) is not
  * forwarded. */
private[sources] final class PruningScanBuilder(
    tableName: String, log: LogTable, version: Option[Long],
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.catalyst.expressions.Expression

  private var pushedExprs: Seq[Expression] = Nil
  private var required: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters
    filters // all residual: manifest pruning is advisory, never owed
  }

  // the delegate's ParquetScan reports ITS accepted set in the plan;
  // at the wrapper level nothing is guaranteed-pushed
  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
  }

  override def build(): Scan = {
    val spark = SparkSession.active
    val files: Option[Seq[String]] =
      if (pushedExprs.isEmpty) None
      else scala.util.Try(
        log.prunedAddsForExprs(spark, pushedExprs, version)._1
          .map(a => log.absLivePath(a))).toOption
    val delegate = GraftLogTableV2
      .scanTable(tableName, log, version, files)
      .newScanBuilder(options)
    delegate match {
      case f: org.apache.spark.sql.internal.connector
          .SupportsPushDownCatalystFilters =>
        f.pushFilters(pushedExprs); ()
      case _ => ()
    }
    (delegate, required) match {
      case (c: org.apache.spark.sql.connector.read
          .SupportsPushDownRequiredColumns, Some(r)) =>
        c.pruneColumns(r)
      case _ => ()
    }
    delegate.build()
  }
}

/** Delegating write builder: the inner parquet write lands in a
  * fresh staging directory, and the batch and streaming commits both
  * hand the finished staging to [[LogTable.commitStaged]] — the one
  * data-write commit the Scala `append`/`overwrite` share.
  * `truncate()` (INSERT OVERWRITE's contract) flips the commit from
  * append to full-replace. */
private[sources] final class LogWriteBuilder(log: LogTable,
                                             info: LogicalWriteInfo,
                                             overwriteAll: Boolean)
  extends WriteBuilder with SupportsTruncate {

  // GENERATED ALWAYS AS IDENTITY (r8 advice): the DSv2 writer stages
  // whatever rows the INSERT supplies — its schema INCLUDES the
  // identity column, so explicit values would land unchecked,
  // bypassing allocation and never advancing the high-water mark (a
  // later append could then collide). Refuse up front, like the
  // append path refuses explicit identity values; the Scala
  // LogTable.append allocates.
  require(log.identityColumns.isEmpty,
    s"INSERT must not supply identity column(s) " +
      s"${log.identityColumns.keys.mkString(", ")} (GENERATED ALWAYS " +
      "AS IDENTITY) — write through LogTable.append, which allocates")

  override def truncate(): WriteBuilder =
    new LogWriteBuilder(log, info, overwriteAll = true)

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val spark = SparkSession.active
      val staging = log.newStagingDir()
      val inner = ParquetTable("graft-log-staging", spark,
        CaseInsensitiveStringMap.empty(), Seq(staging),
        Some(info.schema()), classOf[ParquetFileFormat])
      val innerBatch = inner.newWriteBuilder(info).build().toBatch
      val tracker = log.stagedStatsTracker(spark, info.schema())
      new BatchWrite {
        override def createBatchWriterFactory(
            p: PhysicalWriteInfo): DataWriterFactory =
          StagedStatsTracker.attach(innerBatch.createBatchWriterFactory(p),
            tracker)
        override def useCommitCoordinator: Boolean =
          innerBatch.useCommitCoordinator
        override def commit(msgs: Array[WriterCommitMessage]): Unit = {
          // finalize staged parquet files
          innerBatch.commit(StagedStatsTracker.detach(msgs, tracker))
          log.commitStaged(SparkSession.active, staging, tracker.result(),
            replace = overwriteAll)
          ()
        }
        override def abort(msgs: Array[WriterCommitMessage]): Unit = {
          innerBatch.abort(msgs)
          log.dropStaging(staging)
        }
      }
    }

    /** `df.writeStream.toTable("cat.t")` — the native DSv2 streaming
      * sink: each micro-batch stages its parquet through the same
      * single-staging machinery the batch INSERT uses, and the
      * per-epoch commit appends it tagged `(queryId, epochId)` —
      * Delta's txnAppId/txnVersion idempotence, so an epoch the
      * engine replays after a checkpoint restart deduplicates at the
      * commit layer (exactly-once, proven by Dsv2StreamWriteSpec's
      * kill/resume case). Micro-batch execution serializes factory →
      * writers → commit per epoch, so the one-slot staging handoff
      * below is race-free; continuous mode is not offered
      * (micro-batch is the only trigger the source side serves
      * either). Append output mode only — a streaming TRUNCATE
      * (complete mode) refuses at the builder. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!overwriteAll, "streaming writes to a log table are " +
        "append-only — complete/truncate output modes are not supported")
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        // one epoch in flight at a time under micro-batch execution:
        // createStreamingWriterFactory(epoch N) → commit(epoch N)
        @volatile private var staging: String = _
        @volatile private var innerBatch: BatchWrite = _
        @volatile private var tracker: StagedStatsTracker = _
        override def createStreamingWriterFactory(p: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.streaming
              .StreamingDataWriterFactory = {
          val spark = SparkSession.active
          staging = log.newStagingDir()
          val inner = ParquetTable("graft-log-stream-staging", spark,
            CaseInsensitiveStringMap.empty(), Seq(staging),
            Some(info.schema()), classOf[ParquetFileFormat])
          innerBatch = inner.newWriteBuilder(info).build().toBatch
          tracker = log.stagedStatsTracker(spark, info.schema())
          new GraftEpochWriterFactory(StagedStatsTracker.attach(
            innerBatch.createBatchWriterFactory(p), tracker))
        }
        // the staged-parquet writers commit through the FILE commit
        // protocol (task temp files + driver-side finalize), which
        // self-coordinates — the generic output-commit coordinator
        // would deny its task commits (observed), so declare it off
        // exactly as FileBatchWrite itself does
        override def useCommitCoordinator: Boolean = false
        override def commit(epochId: Long,
                            msgs: Array[WriterCommitMessage]): Unit = {
          innerBatch.commit(StagedStatsTracker.detach(msgs, tracker))
          log.commitStaged(SparkSession.active, staging, tracker.result(),
            replace = false, txn = Some((info.queryId(), epochId)))
          ()
        }
        override def abort(epochId: Long,
                           msgs: Array[WriterCommitMessage]): Unit = {
          innerBatch.abort(msgs)
          log.dropStaging(staging)
        }
      }
    }
  }
}

/** Adapts the staged-parquet batch writer factory to the streaming
  * interface — the epoch id is commit-level state (the txn tag), not
  * writer-level, so writers are the plain batch ones. */
private final class GraftEpochWriterFactory(inner: DataWriterFactory)
  extends org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    inner.createWriter(partitionId, taskId)
}
