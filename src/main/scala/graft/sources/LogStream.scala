package graft.sources

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, GraftPlanReset, GraftStreamShim, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Structured-Streaming source over a [[LogTable]] — the "stream
  * from a Delta table" surface (Delta's own streaming source is this
  * exact v1 `Source` shape): offsets are log VERSIONS, each
  * micro-batch is the set of files added by the commits in
  * `(startVersion, endVersion]`, read through Spark's ordinary
  * parquet scan. Because appends commit only their delta, a
  * subscriber tails a 100 TB table at the cost of its arrival rate.
  *
  * {{{
  * spark.readStream.format("graft-log").option("path", dir).load()
  * }}}
  *
  * Non-append commits follow Delta's rules: `optimize` commits are
  * skipped silently (pure data reorganization — no row-level change,
  * Delta's `dataChange = false`); row-level `delete` / `update` /
  * `overwrite` / `restore` commits FAIL the stream by default — a
  * version-offset stream cannot retract rows — unless
  * `.option("skipChangeCommits", "true")` opts into Delta's
  * same-named semantics (change commits are passed over entirely;
  * only subsequent appends flow), or
  * `.option("readChangeFeed", "true")` streams the CHANGE FEED
  * instead — every commit kind as row-level `_change_type` /
  * `_commit_version` rows (Delta's CDF streaming), where deletes and
  * updates are first-class and nothing needs skipping.
  * `.option("startingVersion", n | "latest")` /
  * `.option("startingTimestamp", ts)` (round-10, Delta's same-named
  * options) begin the stream at a chosen point instead of the
  * initial snapshot. Restart recovery is the engine's: committed
  * offsets replay exactly, because a version's file list is
  * immutable. */
final class LogStreamProvider extends StreamSourceProvider
  with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-log"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-log stream needs .option(\"path\", <table dir>)"))

  private def boolOpt(parameters: Map[String, String],
                      name: String): Boolean =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) =>
      v.toBoolean }.getOrElse(false)

  override def sourceSchema(ctx: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]):
      (String, StructType) = {
    val base = new LogTable(pathOf(parameters)).userSchema
    val s =
      if (boolOpt(parameters, "readChangeFeed"))
        base.add("_change_type", org.apache.spark.sql.types.StringType)
          .add("_commit_version", org.apache.spark.sql.types.LongType)
      else base
    (shortName(), s)
  }

  private def longOpt(parameters: Map[String, String],
                      name: String): Option[Long] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) =>
      val n = v.toLong
      require(n > 0, s"$name must be positive, got $n")
      n }

  private def strOpt(parameters: Map[String, String],
                     name: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  /** Resolve a DYNAMIC starting point exactly once per query: the
    * first start evaluates `resolve` and persists the version to a
    * side-file under the query's checkpoint metadataPath (atomic
    * create-then-rename); every restart reloads that file instead of
    * re-resolving, so the getBatch clamp always uses the original
    * resolution and the checkpointed offset is never overridden by a
    * fresher table head. */
  private def resolveOnce(ctx: SQLContext, metadataPath: String)
                         (resolve: => Long): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(metadataPath)
    val file = new Path(dir, "graft.startingVersion")
    val fs = dir.getFileSystem(
      ctx.sparkSession.sessionState.newHadoopConf())
    def read(): Long = {
      val in = fs.open(file)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        buf.toString("UTF-8").trim.toLong
      } finally in.close()
    }
    if (fs.exists(file)) read()
    else {
      val v = resolve
      fs.mkdirs(dir)
      // writer-unique tmp name: a FIXED name would let two racing
      // first starts stage over each other; and rename(2) REPLACES
      // an existing destination on POSIX filesystems, so "my rename
      // returned true" does not mean "my value governs". After the
      // rename, ALWAYS re-read the destination and serve that —
      // last-writer-wins, but CONSISTENTLY: every racer (and every
      // restart) reads the same persisted resolution.
      val tmp = new Path(dir,
        s".graft.startingVersion.${UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, file)) fs.delete(tmp, false)
      read()
    }
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val log = new LogTable(pathOf(parameters))
    // Delta's startingVersion / startingTimestamp: begin the stream
    // at a chosen point INSTEAD of the initial snapshot — changes
    // at-or-after the start flow, nothing earlier does. "latest"
    // serves only commits made after the stream starts. A timestamp
    // (epoch millis, or a timestamp string in the session zone)
    // resolves to the first commit at-or-after it — exact under
    // in-commit monotonic timestamps, the same rule `table_changes`
    // uses. DYNAMIC forms ("latest", a timestamp) resolve ONCE, on
    // first start, and the resolved version persists under the
    // query's metadataPath: a checkpointed restart after downtime
    // must reload the ORIGINAL resolution — re-resolving "latest"
    // against the restart-time head would exceed the committed
    // offset and silently skip every commit made while the stream
    // was down (Delta resolves 'latest' once for the same reason).
    // An explicit numeric startingVersion is restart-stable by
    // itself and needs no persistence.
    val sv = strOpt(parameters, "startingVersion")
    val st = strOpt(parameters, "startingTimestamp")
    require(sv.isEmpty || st.isEmpty,
      "set startingVersion OR startingTimestamp, not both")
    val startAt: Option[Long] = (sv, st) match {
      case (Some("latest"), _) => Some(resolveOnce(ctx, metadataPath) {
        log.currentVersion.map(_ + 1L).getOrElse(0L)
      })
      case (Some(v), _) => Some {
        val n = v.toLong
        require(n >= 0, s"startingVersion must be >= 0, got $n")
        n
      }
      case (_, Some(ts)) => Some(resolveOnce(ctx, metadataPath) {
        // the SAME session-zone resolution table_changes uses
        // (LogTable.evalTimestampMillis) — the two surfaces must
        // never drift apart. Integer-string convention: a pure
        // integer means a VERSION everywhere (table_changes' rule),
        // and startingVersion is the numeric surface here — so a
        // pure-integer timestamp refuses rather than silently
        // meaning the opposite (epoch millis).
        if (ts.matches("-?\\d+")) throw new IllegalArgumentException(
          s"startingTimestamp '$ts' is a pure integer — integer " +
            "arguments mean a VERSION; use startingVersion, or give " +
            "a timestamp string. (BREAKING CHANGE, round 11: this " +
            "option previously accepted epoch MILLIS — convert with " +
            "a timestamp string, e.g. from_unixtime(millis / 1000).)")
        val ms = LogTable.evalTimestampMillis(ctx.sparkSession,
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(ts),
            org.apache.spark.sql.types.StringType)).getOrElse(
          throw new IllegalArgumentException(
            s"cannot read startingTimestamp '$ts' as a timestamp"))
        log.versionFrom(ms)
      })
      case _ => None
    }
    new LogStreamSource(ctx, log,
      skipChangeCommits = boolOpt(parameters, "skipChangeCommits"),
      readChangeFeed = boolOpt(parameters, "readChangeFeed"),
      maxFilesPerTrigger = longOpt(parameters, "maxFilesPerTrigger"),
      maxBytesPerTrigger = longOpt(parameters, "maxBytesPerTrigger"),
      startingVersion = startAt)
  }

  /** Streaming SINK half (`writeStream.format("graft-log")`): each
    * micro-batch is one [[LogTable.appendStreamBatch]] — an append,
    * with its schema checks, tagged with its batch id under an
    * idempotent-txn app id (option `txnAppId` — give each query its
    * own when several write one table), so an engine-replayed batch
    * after a restart deduplicates instead of double-appending —
    * Delta's exactly-once sink contract. A micro-batch whose columns
    * differ from the table's fails the query. */
  override def createSink(ctx: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-log sink does not take partition columns; layout is the log's")
    require(outputMode == OutputMode.Append(),
      s"graft-log sink is append-only, got $outputMode")
    val app = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("txnAppId") => v }
      .getOrElse("graft-log-sink")
    new LogStreamSink(new LogTable(pathOf(parameters)), app)
  }
}

private[sources] final class LogStreamSink(log: LogTable, app: String)
  extends Sink {
  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    // re-leaf the engine's incremental frame before writing (the
    // sink contract: the passed Dataset is this micro-batch's plan,
    // not a reusable batch frame)
    log.appendStreamBatch(GraftPlanReset.freshLeaf(data.toDF()), app,
      batchId)
    ()
  }
}

private[sources] final class LogStreamSource(ctx: SQLContext, log: LogTable,
                                             skipChangeCommits: Boolean,
                                             readChangeFeed: Boolean = false,
                                             maxFilesPerTrigger:
                                               Option[Long] = None,
                                             maxBytesPerTrigger:
                                               Option[Long] = None,
                                             startingVersion:
                                               Option[Long] = None)
  extends Source
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {

  override val schema: StructType =
    if (readChangeFeed)
      log.userSchema
        .add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType)
    else log.userSchema

  private def ver(o: Offset): Long = o match {
    case l: LongOffset       => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => throw new IllegalStateException(
      s"unexpected offset type: $other")
  }

  /** Highest version this source has already offered to a batch —
    * the admission base for rate limiting. Seeded on restart from
    * the engine's replay ([[getBatch]]) or committed-offset
    * notification ([[commit]]); −1 for a brand-new query. */
  private var pointer: Long = -1L

  /** With no read limits, the offered offset is the table head —
    * a catching-up subscriber takes the WHOLE backlog in one
    * micro-batch. `maxFilesPerTrigger` / `maxBytesPerTrigger`
    * (Delta's same-named options) bound it: walk the commits past
    * the last offered version, summing each one's added files and
    * bytes — one small JSON read per commit, no listing, no data
    * I/O — and stop before the commit that would blow the budget.
    * At least one data commit is always admitted, so an oversized
    * single commit still makes progress. Metadata-only commits ride
    * along free (they add no read work). */
  override def getOffset: Option[Offset] = offeredEnd().map(LongOffset(_))

  private def offeredEnd(): Option[Long] = {
    val headOpt = log.currentVersion
      // Trigger.AvailableNow pins the head at prepare time: commits
      // landing DURING the drain are excluded (Delta's rule — the
      // trigger's contract is "data available when the query
      // started", then stop)
      .map(h => availableNowCap.fold(h)(math.min(h, _)))
    if (headOpt.isEmpty)
      return if (pointer < 0) None else Some(pointer)
    val head = headOpt.get
    val end =
      if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) head
      else {
        // never walk below the expiry floor (commits there are gone;
        // a fresh stream's initial-snapshot batch is admitted whole
        // — the floor snapshot has no per-commit budget to sum) nor
        // below the declared starting version
        var last = math.max(math.max(pointer,
          log.earliestVersion.getOrElse(0L) - 1L),
          startingVersion.map(_ - 1L).getOrElse(-1L))
        var files = 0L
        var bytes = 0L
        var full = false
        while (!full && last < head) {
          val (op, f, b) = log.commitAdmission(last + 1)
          // budget the commits whose FILES this batch will read:
          // appends (and clone/create seeds) always; every commit
          // kind under the change feed
          val counted = op match {
            case "append" | "create" | "clone" | "convert" => true
            case _ => readChangeFeed
          }
          val (cf, cb) = if (counted) (f, b) else (0L, 0L)
          if (counted && last > pointer &&
              (maxFilesPerTrigger.exists(files + cf > _) ||
                maxBytesPerTrigger.exists(bytes + cb > _))) full = true
          else { last += 1; files += cf; bytes += cb }
        }
        last
      }
    if (end < 0) None else Some(end)
  }

  /** `Trigger.AvailableNow` (round-11, the standard backfill idiom:
    * drain everything available at start, respecting the rate
    * limits, then stop). The source implements the engine's
    * [[org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow]]
    * contract DIRECTLY — the generic wrapper Spark would otherwise
    * apply pins the FIRST `getOffset` answer as the final target,
    * which under `maxFilesPerTrigger` is one budgeted batch, not the
    * backlog. Here `prepare` pins the HEAD, and the budget walk
    * admits batch after batch up to it; when the committed offset
    * reaches the cap the next poll reports no new data and the query
    * terminates. Implementing the interface routes EVERY trigger
    * through [[latestOffset]] (Spark matches admission-control
    * sources first), which delegates to the same walk `getOffset`
    * uses — one code path, every trigger. */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(log.currentVersion.getOrElse(-1L))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    // the engine's view of the last end-offset seeds the admission
    // base (this source's own limits do the budgeting; the passed
    // ReadLimit is always allAvailable per getDefaultReadLimit)
    start match {
      case l: LongOffset       => pointer = math.max(pointer, l.offset)
      case s: SerializedOffset => pointer = math.max(pointer, ver(s))
      case _                   => ()
    }
    offeredEnd().map(LongOffset(_)).orNull
  }

  override def commit(end: Offset): Unit =
    pointer = math.max(pointer, ver(end))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // a declared starting version replaces the initial snapshot, and
    // clamps EVERY batch's window open point — not just the first:
    // an offset committed while the table head was still below the
    // start (the empty pre-start batch) would otherwise re-admit the
    // commits between it and the start once they exist
    val from = math.max(
      start.map(ver).getOrElse(-1L),
      startingVersion.map(_ - 1L).getOrElse(-1L))
    val to = ver(end)
    pointer = math.max(pointer, to)
    val spark = ctx.sparkSession
    // expiry-floor handling (Delta's log-retention semantics): a
    // RESUMING stream whose offset predates the floor has already
    // consumed commits that no longer exist — refuse loudly, no
    // silent gap; a BRAND-NEW stream serves the floor snapshot as
    // its initial batch and streams deltas from there
    val earliest = log.earliestVersion.getOrElse(0L)
    if (from >= 0 && from < earliest - 1)
      throw new IllegalStateException(
        s"stream offset $from predates the earliest retained log " +
          s"version $earliest — expireSnapshots removed this " +
          "stream's position; restart the stream from scratch")
    // startingVersion = 0 encodes as the same -1 window the fresh
    // no-option stream uses — it must not silently fall into the
    // floor-snapshot branch below when versions 0..floor-1 are gone
    // (every other below-floor start refuses loudly; so does this)
    if (start.isEmpty && earliest > 0 &&
        startingVersion.exists(_ < earliest))
      throw new IllegalStateException(
        s"startingVersion ${startingVersion.get} predates the " +
          s"earliest retained log version $earliest — " +
          "expireSnapshots removed those commits")
    if (readChangeFeed) {
      if (from < 0 && earliest > 0) {
        val snap = GraftStreamShim.streamingFrame(
          log.readSnapshotAdds(spark, log.userSchema, earliest)
            .withColumn("_change_type",
              org.apache.spark.sql.functions.lit("insert"))
            .withColumn("_commit_version",
              org.apache.spark.sql.functions.lit(earliest)))
        return if (earliest >= to) snap
        else snap.unionByName(GraftStreamShim.streamingFrame(
          log.changes(spark, earliest, to)))
      }
      // CDF mode represents every commit kind as row-level changes —
      // nothing to skip, nothing to fail on
      return GraftStreamShim.streamingFrame(log.changes(spark, from, to))
    }
    if (from < 0 && earliest > 0) {
      val snap = GraftStreamShim.streamingFrame(
        log.readSnapshotAdds(spark, schema, earliest))
      return if (earliest >= to) snap
      else snap.unionByName(getBatch(
        Some(LongOffset(earliest)), end))
    }
    val dataVersions = log.versions.filter(v => v > from && v <= to)
      .filter { v =>
        log.commitOp(v) match {
          // a shallow clone's seed commit is its initial snapshot —
          // inserts, like create (absolute, possibly vectored refs);
          // a CONVERT's by-reference seed is likewise insert-only
          // (Delta streams a converted table's seed the same way)
          case "append" | "create" | "clone" | "convert" => true
          // dataChange = false: reorganizations and metadata-only
          // constraint/rename/drop/default/tblproperties/partition-
          // evolution/ref commits (and MV-refresh txn markers)
          // carry no row-level change
          case "optimize" | "constraint" | "rename" | "drop" |
               "default" | "tblproperties" | "refresh" |
               "partition" | "ref" | "rowtracking" | "add" => false
          // a type widen is safe for a stream whose captured schema
          // can READ the post-widen files: each column as declared
          // at v either matches the captured type or widens INTO it
          // (the parquet readers upcast at scan — the same lossless
          // matrix the widen itself enforced). Exact schema equality
          // here would permanently brick fresh streams over any
          // history that widens and then evolves again (a second
          // widen, ADD COLUMNS, a rename): the intermediate widen
          // commit never equals the final schema, yet the "restart"
          // its error suggests can never succeed. A RUNNING stream
          // captured the narrow schema — widens(atV, captured)
          // fails — and the next post-widen file would fail its scan
          // with a cryptic parquet conversion error; fail CLEAN.
          case "widen" =>
            val atV = log.userSchemaAt(v)
            def idOf(f: org.apache.spark.sql.types.StructField) =
              if (f.metadata.contains(LogTable.FieldIdKey))
                Some(f.metadata.getLong(LogTable.FieldIdKey))
              else None
            val readable = atV.fields.forall { f =>
              // resolve by field id on mapped tables (a later rename
              // keeps the id), by name otherwise; a column the
              // captured schema lacks (dropped later) is never
              // requested by the scan — readable by omission
              val cap = idOf(f) match {
                case Some(id) =>
                  schema.fields.find(c => idOf(c).contains(id))
                case None => schema.fields.find(_.name == f.name)
              }
              cap.forall(c => c.dataType == f.dataType ||
                LogTable.widens(f.dataType, c.dataType))
            }
            if (readable) false
            else throw new IllegalStateException(
              s"commit $v widened a column type past this stream's " +
                "captured schema — restart the stream to pick up " +
                "the widened schema")
          case changeOp =>
            if (!skipChangeCommits) throw new IllegalStateException(
              s"commit $v is a '$changeOp' — a streaming read of a log " +
                "table requires append-only commits; set " +
                ".option(\"skipChangeCommits\", \"true\") to pass over " +
                "change commits and stream only subsequent appends, or " +
                ".option(\"readChangeFeed\", \"true\") to stream " +
                "row-level changes instead")
            false
        }
      }
    // ONE windowed read for the whole micro-batch: deletion vectors
    // subtracted, partition dirs discovered per data ROOT (a clone's
    // seed mixes roots), clean appends collapsing to a single
    // multi-path scan
    GraftStreamShim.streamingFrame(
      log.readAddedFiles(spark, schema, dataVersions))
  }

  override def stop(): Unit = ()
}
