package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
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
    if (GraftLogTableV2.needsV1Bridge(log, None))
      new DvScanBuilder(log, None)
    else
      new PruningScanBuilder(tableName, log, None, options)

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
    // mixed-epoch snapshots never reach here — needsV1Bridge).
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

  /** Read-only pinned view for `VERSION AS OF` / `TIMESTAMP AS OF`
    * (writes against a historical snapshot make no sense). A
    * snapshot carrying deletion vectors serves the DV-subtracting
    * scan instead of the raw parquet one. */
  private[sources] def pinned(name: String, log: LogTable,
                              version: Long): Table =
    if (needsV1Bridge(log, Some(version)))
      new DvReadTable(name, log, Some(version))
    else new GraftPrunedReadTable(name, log, Some(version))

  /** Snapshots the plain parquet scan cannot serve: deletion vectors
    * (the raw file list would resurrect deleted rows), PARTITIONED
    * shallow clones (the snapshot mixes data ROOTS, but a single
    * FileTable pins one basePath — `LogTable.load` groups per root),
    * and mixed-layout snapshots after PARTITION EVOLUTION (files of
    * different partition-dir epochs cannot share one discovery —
    * the load path groups per layout signature). All drop to the
    * [[DvScanBuilder]] V1 bridge. */
  private[sources] def needsV1Bridge(log: LogTable,
                                     version: Option[Long]): Boolean = {
    val snapPartCols = version.map(log.partitionColsAt)
      .getOrElse(log.partitionCols)
    val transforms = version.map(log.partitionTransformsAt)
      .getOrElse(log.partitionTransforms)
    // hidden partitioning: the synthesized transform column must
    // not surface through a raw FileTable scan — the bridge
    // serves `LogTable.load`, which projects it away. Metadata-only
    // — answered before the file-state facts are even consulted.
    if (transforms.nonEmpty) return true
    // file-state facts come from the MANIFEST where it lives (a
    // tiny aggregate job above the checkpoint threshold, memoized
    // per immutable version) — a catalog resolution of a
    // million-file table never collects the file list here
    val (anyDv, anyAbs, keysets) =
      log.bridgeFacts(SparkSession.active, version)
    anyDv ||
      (snapPartCols.nonEmpty && anyAbs) ||
      keysets.size > 1 ||
      keysets.exists(_ != snapPartCols.toSet)
  }

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

/** Read-only pinned table served through manifest-pruned planning —
  * the `VERSION AS OF` twin of [[GraftLogTableV2.newScanBuilder]]'s
  * live path. */
private[sources] final class GraftPrunedReadTable(
    tableName: String, log: LogTable, version: Option[Long])
  extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType =
    version.map(log.schemaAt).getOrElse(log.schema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new PruningScanBuilder(tableName, log, version, options)
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
  override def pushedFilters()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
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

/** Scan builder for snapshots that carry deletion vectors. The raw
  * parquet file list would RESURRECT the vectored-out rows, so the
  * scan drops to Spark's V1 bridge ([[org.apache.spark.sql.connector.read.V1Scan]],
  * the same shim the JDBC source rides): `buildScan` hands back the
  * RDD of [[LogTable.load]] — the DV-subtracting anti-join plan —
  * and Spark applies projections and filters above it. The trade is
  * explicit and temporary: a vectored snapshot loses parquet-level
  * pushdown until OPTIMIZE / [[LogTable.purgeDeletes]] materializes
  * the vectors, at which point [[GraftLogTableV2.scanTable]]'s fully
  * pushdown-capable path takes over again (Delta's readers make the
  * same trade inside their scan). */
private[sources] final class DvScanBuilder(log: LogTable,
                                           version: Option[Long])
  extends ScanBuilder {
  import org.apache.spark.sql.SQLContext
  import org.apache.spark.sql.connector.read.{Scan, SupportsReportStatistics, V1Scan}
  import org.apache.spark.sql.sources.{BaseRelation, TableScan}

  override def build(): Scan = new V1Scan with SupportsReportStatistics {
    override def readSchema(): StructType =
      version.map(log.userSchemaAt).getOrElse(log.userSchema)
    // Without this, a V1-bridge relation costs Spark's
    // `defaultSizeInBytes` (Long.MaxValue-class) — a small table that
    // happens to carry a deletion vector would NEVER broadcast. The
    // manifest gives exact logical rows/bytes for free.
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      GraftStats.fromLog(log, version, readSchema())
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType =
          version.map(log.userSchemaAt).getOrElse(log.userSchema)
        override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] =
          log.load(context.sparkSession, version).rdd
      }.asInstanceOf[T]
  }
}

/** Connector-facing [[org.apache.spark.sql.connector.read.Statistics]]
  * assembled from the log manifest (exact logical row count + bytes,
  * per-column bounds/null counts — O(#files) driver work, no job)
  * plus the latest committed ANALYZE pass (NDV, string lengths) when
  * one exists. Spark's CBO/AQE consume rowCount and sizeInBytes for
  * join strategy; the column map feeds `spark.sql.cbo.enabled`
  * cardinality estimation. */
private[sources] object GraftStats {
  import java.util.{Optional, OptionalLong}
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.Statistics
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics

  def fromLog(log: LogTable, version: Option[Long],
              schema: StructType): Statistics = {
    val (rows, bytes, bounds) = log.manifestStatistics(version)
    // ANALYZE stats describe the version they measured; serve them
    // as estimates regardless of staleness (CBO semantics), but only
    // for a CURRENT-version read — a pinned historical read must not
    // inherit a future pass's numbers
    val analyzedTs: Option[TableStats] =
      if (version.isDefined && !version.contains(
        log.currentVersion.getOrElse(-1L))) None
      else log.columnStatistics
    val analyzed: Map[String, AnalyzedCol] =
      analyzedTs.map(_.cols).getOrElse(Map.empty)
    val colStats = new java.util.HashMap[NamedReference, ColumnStatistics]()
    schema.fields.foreach { f =>
      val b = bounds.get(f.name)
      val a = analyzed.get(f.name)
      if (b.isDefined || a.isDefined) {
        colStats.put(Expressions.column(f.name), new ColumnStatistics {
          override def distinctCount(): OptionalLong =
            a.map(x => OptionalLong.of(x.ndv)).getOrElse(OptionalLong.empty())
          override def nullCount(): OptionalLong =
            b.map(x => OptionalLong.of(x.nulls)).getOrElse(OptionalLong.empty())
          // bounds only for the numeric stat projection (Long/Double)
          // — string extrema need catalyst-internal encoding
          override def min(): Optional[Object] = bound(b.flatMap(_.min))
          override def max(): Optional[Object] = bound(b.flatMap(_.max))
          override def avgLen(): OptionalLong =
            a.flatMap(_.avgLen).map(OptionalLong.of)
              .getOrElse(OptionalLong.empty())
          override def maxLen(): OptionalLong =
            a.flatMap(_.maxLen).map(OptionalLong.of)
              .getOrElse(OptionalLong.empty())
          // ANALYZE's equi-height histogram, served through the DSv2
          // colstats contract — Spark's `transformV2Stats` converts
          // it straight into catalyst HistogramBins, so CBO filter
          // estimation sees per-bucket selectivity (a skewed
          // predicate estimates from where the rows are). Height =
          // non-null rows per bucket; per-bin NDV is the uniform
          // share of the column's NDV (an estimate, like every CBO
          // histogram's bin NDV).
          override def histogram(): Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] = {
            val hg = for {
              ts <- analyzedTs
              x <- a
              edges <- x.histogram
              if edges.size >= 2
            } yield {
              val nb = edges.size - 1
              val h = math.max(0L, ts.rows - x.nulls).toDouble / nb
              val bn = math.max(1L, x.ndv / nb)
              new org.apache.spark.sql.connector.read.colstats.Histogram {
                override def height(): Double = h
                override def bins(): Array[
                    org.apache.spark.sql.connector.read.colstats
                      .HistogramBin] =
                  Array.tabulate(nb) { j =>
                    new org.apache.spark.sql.connector.read.colstats
                        .HistogramBin {
                      override def lo(): Double = edges(j)
                      override def hi(): Double = edges(j + 1)
                      override def ndv(): Long = bn
                    }
                  }
              }
            }
            hg.map(Optional.of[
              org.apache.spark.sql.connector.read.colstats.Histogram])
              .getOrElse(Optional.empty())
          }
        })
      }
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats()
          : java.util.Map[NamedReference, ColumnStatistics] = colStats
    }
  }

  private def bound(v: Option[Any]): java.util.Optional[Object] = v match {
    case Some(l: Long)   => java.util.Optional.of(Long.box(l))
    case Some(d: Double) if !d.isNaN && !d.isInfinite =>
      java.util.Optional.of(Double.box(d))
    case _               => java.util.Optional.empty()
  }
}

/** Read-only table face over [[DvScanBuilder]] — the pinned
  * (`VERSION AS OF`) view of a snapshot that carries deletion
  * vectors. */
private[sources] final class DvReadTable(tableName: String, log: LogTable,
                                         version: Option[Long])
  extends Table with SupportsRead {
  private[sources] def logTable: LogTable = log
  private[sources] def pinnedVersion: Option[Long] = version
  override def name(): String = tableName
  override def schema(): StructType =
    version.map(log.userSchemaAt).getOrElse(log.userSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DvScanBuilder(log, version)
}

/** Delegating write builder: the inner parquet write lands in a
  * fresh staging directory; our commit wrapper turns the finished
  * staging into a log commit. `truncate()` (INSERT OVERWRITE's
  * contract) flips the commit from append to full-replace. */
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
          val s = SparkSession.active
          if (overwriteAll) log.overwriteStaged(s, staging, tracker.result())
          else log.appendStaged(s, staging, tracker.result())
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
          log.appendStagedStream(SparkSession.active, staging,
            tracker.result(), info.queryId(), epochId)
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
