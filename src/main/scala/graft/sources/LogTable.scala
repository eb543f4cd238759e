package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.LogAction._

/** Per-column min/max/null-count statistics of one data file, in
  * comparable form (see [[LogTable.statProjection]]): integral /
  * date / timestamp / boolean columns as longs, float/double as
  * doubles, strings verbatim. `min`/`max` are None when the column
  * was all-null in the file or its bounds were dropped (oversized
  * strings — a truncated upper bound would be unsound). */
final case class ColStats(min: Option[Any], max: Option[Any], nulls: Long)

/** Deletion vector attached to a data file: `path` is the
  * table-relative parquet directory holding `(file, idx)` pairs
  * (file NAME + 0-based parquet row index) for EVERY deleted row of
  * the file — a later delete on the same file writes the UNION into
  * its own commit's dv dir and re-points here, so one reference is
  * always complete. `rows` is the pair count for this file (its
  * cardinality), so `AddFile.rows - dv.rows` is the file's logical
  * row count without touching data. */
final case class Dv(path: String, rows: Long)

/** One live data file of a [[LogTable]] snapshot: path relative to
  * the table root, row/byte counts, skipping stats, and — for
  * partitioned tables — the file's hive-style partition values
  * (every row in the file has exactly these; also encoded in the
  * path, e.g. `data/p=x/f-....parquet`). `dv`, when present, marks
  * rows deleted merge-on-read style ([[LogTable.deleteMor]]): the
  * file's bytes are live on disk but reads subtract the vector. */
final case class AddFile(path: String, rows: Long, bytes: Long,
                         stats: Map[String, ColStats],
                         partitionValues: Map[String, String] = Map.empty,
                         dv: Option[Dv] = None,
                         baseRowId: Option[Long] = None) {
  /** Rows a reader actually sees: physical minus deletion vector. */
  def logicalRows: Long = rows - dv.map(_.rows).getOrElse(0L)
}

/** One [[AddFile]] row of a PARQUET checkpoint (`*.ckpt.parquet/`):
  * the file-state of a large snapshot ships through a Spark job as
  * one typed row per live file — never as a single driver-rendered
  * JSON string, which at the 100-TB target (~1M files with
  * per-column stats) would be a multi-hundred-MB allocation per
  * checkpoint and a same-sized parse on every cold replay (Delta
  * writes multi-part parquet checkpoints for the same reason).
  * `idx` preserves the snapshot's add order so a parquet replay is
  * indistinguishable from a JSON replay; `statsJson` carries the
  * per-column min/max/nulls map in the commit-log's own rendering
  * (small per row). */
private[graft] final case class CkptAdd(idx: Long, path: String,
                                        rows: Long, bytes: Long,
                                        statsJson: String,
                                        partitionValues:
                                          Map[String, String],
                                        dvPath: Option[String],
                                        dvRows: Option[Long],
                                        baseRowId: Option[Long])

/** A commit's add set BY REFERENCE — the `addsRef` action: instead
  * of one inline `add` line per file, the commit names a multi-part
  * parquet sidecar (one [[CkptAdd]] row per file, written by a Spark
  * job) plus the O(1) admission facts every metadata surface needs
  * (file/row/byte totals, DV presence). This is how a CONVERT of a
  * million-file foreign table commits without the driver ever
  * holding the file list — the same manifest-to-manifest discipline
  * checkpoints already follow (Iceberg commits are ALWAYS shaped
  * like this: a snapshot points at manifests, never inlines files).
  * Protocol-gated by the `addsRef` reader feature: a reader that
  * does not understand the action would otherwise serve an empty
  * table — a half-read the protocol forbids. `rowIdBasis`, on a
  * ROW-TRACKING table, is the row-id high-water the sidecar's
  * contiguous `baseRowId` ranges were assigned from — the commit
  * conflicts if another writer advanced it (same rule as identity
  * allocation) and advances it by `rows` when it lands. */
private[graft] final case class AddsRef(path: String, count: Long,
                                        rows: Long, bytes: Long,
                                        anyDv: Boolean,
                                        rowIdBasis: Option[Long] = None)

/** One partition's result of the DISTRIBUTED pruning walk
  * ([[LogTable.prunedAdds]]): how many manifest rows the partition
  * held and which survived file-skipping — collected per partition
  * so ONE job yields both the survivors and the exact live total
  * (the skipped-file count row-ops report). */
private[graft] final case class PrunePart(total: Long,
                                          keep: Seq[CkptAdd])

/** Commit-layer conflict signal for identity-allocation races: the
  * staged write drew its identity values from a high-water mark
  * another writer advanced first, so the staged files hold
  * overlapping ids and the WHOLE write must be re-planned (Delta's
  * transaction-retry rule). A dedicated subtype so retry loops match
  * on TYPE — message-text dispatch would silently break on rewording
  * and misfire on unrelated conflicts whose paths mention
  * "identity". */
final class IdentityAllocationConflict(msg: String)
  extends java.util.ConcurrentModificationException(msg)

/** Protocol action of a [[LogTable]] — Delta's PROTOCOL.md
  * discipline, the forward-compatibility gate every production table
  * format has: a reader REFUSES a table whose `readerFeatures` (or
  * `minReader`) it does not know, instead of half-reading actions a
  * future writer meant differently; a writer refuses to COMMIT to a
  * table demanding unknown `writerFeatures` (reads may still work).
  * The action carries the FULL post-change state (latest wins
  * wholesale, like properties) and is auto-upgraded at the commit
  * choke point whenever a commit first activates a gated feature
  * (a deletion vector, row tracking, column mapping, ...). */
final case class Protocol(minReader: Int, minWriter: Int,
                          readerFeatures: Set[String],
                          writerFeatures: Set[String])

/** `GENERATED ALWAYS AS IDENTITY` column spec (Delta's identity
  * columns): values start at `start` and advance by `step`;
  * `highWater` is the largest value any committed append has
  * allocated (None until the first allocation). Allocation promises
  * UNIQUE, per-append-monotonic values — NOT dense ones: like
  * Delta, concurrent-safe distributed allocation leaves gaps. */
final case class IdentitySpec(start: Long, step: Long,
                              highWater: Option[Long] = None)

/** Exact per-column statistics of one [[LogTable.analyze]] pass.
  * `min`/`max` are the values cast to string (None for all-null
  * columns); `avgLen`/`maxLen` only for string columns;
  * `histogram` (numeric columns) holds the EQUI-HEIGHT bucket
  * edges — [[LogTable.HistogramBuckets]]+1 approximate percentiles,
  * each bucket carrying ~(rows−nulls)/buckets rows, so skewed
  * distributions estimate honestly where uniform interpolation over
  * [min, max] would be off by orders of magnitude. */
final case class AnalyzedCol(ndv: Long, nulls: Long,
                             min: Option[String], max: Option[String],
                             avgLen: Option[Long], maxLen: Option[Long],
                             histogram: Option[Seq[Double]] = None)

/** One ANALYZE result: the snapshot it measured, its exact logical
  * row count, and per-column stats (atomic non-binary columns only
  * — complex/binary columns are skipped). */
final case class TableStats(analyzedVersion: Long, rows: Long,
                            cols: Map[String, AnalyzedCol]) {

  /** Estimated rows with `lo <= column <= hi`. With an equi-height
    * histogram the estimate sums per-bucket overlap fractions (each
    * bucket holds (rows−nulls)/buckets rows; a zero-width bucket is
    * a heavy-hitter point and counts whole when inside the range) —
    * SKEW-AWARE, the estimate a CBO needs for a predicate on a
    * hot-spot column. Without one it falls back to uniform
    * interpolation over [min, max] (every selectivity model's
    * default, and exactly what a skewed column defeats). None when
    * the column was never analyzed or has no numeric bounds. */
  def estimateRange(column: String, lo: Double, hi: Double): Option[Long] =
    cols.get(column).flatMap { c =>
      val nonNull = math.max(0L, rows - c.nulls)
      c.histogram match {
        case Some(edges) if edges.size >= 2 =>
          val b = edges.size - 1
          val per = nonNull.toDouble / b
          val est = (0 until b).map { j =>
            val blo = edges(j); val bhi = edges(j + 1)
            val width = bhi - blo
            val frac =
              if (width <= 0) if (blo >= lo && blo <= hi) 1.0 else 0.0
              else math.max(0.0, math.min(1.0,
                (math.min(hi, bhi) - math.max(lo, blo)) / width))
            per * frac
          }.sum
          Some(math.round(est))
        case _ =>
          for {
            mn <- c.min.flatMap(s => scala.util.Try(s.toDouble).toOption)
            mx <- c.max.flatMap(s => scala.util.Try(s.toDouble).toOption)
          } yield
            if (mx <= mn) { if (lo <= mn && mn <= hi) nonNull else 0L }
            else math.round(nonNull * math.max(0.0, math.min(1.0,
              (math.min(hi, mx) - math.max(lo, mn)) / (mx - mn))))
      }
    }
}

/** Outcome of a row-level [[LogTable.delete]]/[[LogTable.update]]:
  * the commit version, how many rows changed, and the file-level
  * work accounting that proves the op cost ∝ touched data, not table
  * size (`filesSkippedByStats` never left the driver,
  * `filesScanned - filesRewritten` were scanned for matches but
  * carried forward by reference). */
final case class RowOpResult(version: Long, rowsAffected: Long,
                             filesSkippedByStats: Int, filesScanned: Int,
                             filesRewritten: Int)

/** A minimal Delta-style transaction-log table over plain parquet —
  * graft's one table substrate: dimensions, catalog tables, streamed
  * sinks and curated outputs are all LogTables (reference behavior:
  * the reference keeps its dimensions in Delta tables, `Load &
  * SCD-Merge.py:24-38`; this is the same commit protocol re-derived
  * on public parquet, after the published design — Armbrust et al.,
  * "Delta Lake: High-Performance ACID Table Storage over Cloud Object
  * Stores", VLDB 2020).
  *
  * Layout under `path`:
  *  - `_log/%020d.json`       one JSONL commit per version, one
  *    [[LogAction]] per line: the `commit` line (`ts`, `op`, and
  *    optionally `cdf` and `txnApp`/`txnBatch`), then metadata
  *    (`schema`, `partition`, `bloom`, `constraints`, `generated`,
  *    `retired`, `tz`, `identity`, `defaults`, `properties`,
  *    `transforms`, `refs`, `protocol`), then `remove`, `addsRef` and
  *    `add` file actions. [[LogCodec]] is the one encoder and decoder.
  *  - `_log/%020d.ckpt.json`  periodic checkpoint headers (the whole
  *    [[TableMeta]] plus a parquet or JSONL adds sidecar beside it),
  *    so a reader replays O(interval) commits, not O(history)
  *  - `data/`                 immutable parquet data files, shared
  *    across versions by reference
  *  - `_cdf/<uuid>/`          row-level change files of delete/update
  *    /merge commits (the change-data-feed surface), referenced from
  *    the commit that wrote them. Raw layout: the table's user columns
  *    plus `_change_type`, the changed row's scan provenance `__file`
  *    (the data file's URI) and `__idx` (its parquet row index; both
  *    null on inserts), plus the materialized `_graft_row_id` on
  *    row-tracked tables. Every feed reader must load by EXPLICIT
  *    schema (the table schema + `_change_type`, as [[changes]] does);
  *    the extras are internal and never part of the feed contract.
  *    Every row-level change writes its feed once, through
  *    [[commitChanges]] (`GraftWriteShim.writeParquet` with
  *    [[MergeFeedTracker]]); a MERGE's probe images (matched pairs no
  *    action fires on) are counted there and never reach disk.
  *
  * Why this scales where a whole-snapshot rewrite does not: an
  * append commits ONLY its new files plus one O(#files-in-delta) log
  * entry — a 1-row-in-100-TB append writes kilobytes. Row-level
  * DELETE/UPDATE prune untouched files with per-file min/max stats
  * (computed by the write tasks as they write each file — see
  * [[writeStaged]] — so a commit never re-reads its own staged data),
  * scan just the stats survivors for matches, and rewrite (or
  * deletion-vector) just the files that contain matching rows, as
  * MERGE does, through one executor ([[commitChanges]]); everything
  * else is carried forward by reference. Snapshot isolation is the
  * MVCC trick — data files are immutable, a version is defined
  * entirely by its log entry, and commits race on an atomic
  * create-if-absent claim of the next log file (optimistic
  * concurrency: blind appends retry, file-rewriting commits
  * revalidate that their removed files are still live and throw on
  * a true conflict, which is Delta's conflict-detection rule).
  *
  * The claim primitive is pluggable ([[LogCommitCoordinator]] —
  * Delta's LogStore seam): the default POSIX binding hard-links the
  * fully-written temp file into the slot (create-if-absent; rename
  * would silently REPLACE a racing writer's commit); an object store
  * binds the same trait to a conditional-put. Readers resolve a
  * snapshot from the log alone —
  * one directory listing + O(interval) small JSON reads — and then
  * hand Spark a plain parquet scan of the live files, so pushdown,
  * pruning and vectorized reading are untouched. */
final class LogTable(val path: String,
                     clock: () => Long = () => System.currentTimeMillis(),
                     checkpointInterval: Int = 10,
                     maxStatsCols: Int = 32,
                     coordinator: LogCommitCoordinator =
                       LocalFsCommitCoordinator,
                     bloomExpectedItems: Long = 1L << 20) {

  private def logDir = new File(path, "_log")
  private def dataDir = new File(path, "data")
  private def emptyDir = new File(path, "_empty")

  private def ensureLayout(): Unit = {
    logDir.mkdirs(); dataDir.mkdirs(); emptyDir.mkdirs(); ()
  }

  private def logFile(v: Long) = new File(logDir, f"$v%020d.json")
  private def ckptFile(v: Long) = new File(logDir, f"$v%020d.ckpt.json")
  // file-state sidecars of a checkpoint: the header (`.ckpt.json`,
  // small — schema/refs/props only) is written LAST and is the
  // discovery key; the adds live beside it, line-streamed JSONL for
  // small tables or multi-part parquet written by a Spark job for
  // large ones. A crash between sidecar and header leaves an
  // orphan no reader ever resolves (expiry sweeps it).
  private def ckptAddsFile(v: Long) =
    new File(logDir, f"$v%020d.ckpt.adds.jsonl")
  // parquet sidecars carry a WRITER-UNIQUE name recorded in the
  // header ("addsPath"): two racing checkpointers of the same
  // version can never collide on (or delete) each other's sidecar —
  // each header references its own; the loser's orphan is garbage
  // no header resolves, swept with the version at expiry
  private def ckptParquetDir(v: Long, tag: String) =
    new File(logDir, f"$v%020d.ckpt.$tag.parquet")
  // a by-reference commit's add-set sidecar ([[AddsRef]]): written
  // BEFORE the commit claims its version, so the name is a uuid,
  // not a version prefix — the claiming commit records it; a crash
  // between sidecar and claim leaves garbage no commit references
  // (swept by [[vacuum]] once unreferenced and older than the
  // retention window; a CLAIMED sidecar instead dies with its
  // commit at [[expireSnapshots]])
  private def addsRefDir(tag: String) =
    new File(logDir, s"addsref.$tag.parquet")
  private def lastCkptFile = new File(logDir, "_last_checkpoint")

  /** Count of full `_log/` directory LISTs this instance has issued
    * — the object-store cost model's expensive operation (paged and
    * slow at 100k+ commits, where a GET of a known key is cheap).
    * Exposed so a spec can pin head/snapshot resolution to O(1)
    * listings once a checkpoint pointer exists. */
  private[graft] var logListings: Long = 0L

  private def listLogDir(): Seq[File] = {
    logListings += 1
    Option(logDir.listFiles()).toSeq.flatten
  }

  /** Newest checkpoint version per the advisory `_last_checkpoint`
    * pointer (Delta's same-named file). Advisory only: a missing,
    * unreadable, or dangling pointer falls back to listing, and a
    * STALE pointer (a newer checkpoint landed but its pointer write
    * lost a race) only costs extra replay — never wrong answers,
    * so commit atomicity is untouched. */
  private def lastCheckpointVersion: Option[Long] =
    try {
      if (!lastCkptFile.isFile) None
      else LogCodec.decodeCheckpointPointer(
        Files.readString(lastCkptFile.toPath)).filter(v => ckptFile(v).isFile)
    } catch { case NonFatal(_) => None }

  /** Committed version numbers, oldest first. Versions are
    * CONTIGUOUS by construction ([[commitRetry]] claims head+1
    * atomically), so this full listing exists for callers that
    * genuinely range over history; head resolution goes through
    * [[currentVersion]]'s bounded pointer+probe path instead. */
  def versions: Seq[Long] =
    listLogDir()
      .filter(f => f.getName.endsWith(".json") && !f.getName.contains("ckpt"))
      .map(_.getName.stripSuffix(".json").toLong).sorted

  /** Head resolution WITHOUT an O(#commits) directory list when a
    * checkpoint pointer exists: read `_last_checkpoint`, then probe
    * forward file-by-file — O(commits since last checkpoint) GETs,
    * a constant under steady checkpointing (Delta's recipe for
    * object stores, where LIST over a 100k-commit log is paged and
    * slow but existence checks of known keys are cheap). */
  def currentVersion: Option[Long] = lastCheckpointVersion match {
    case Some(cv) =>
      var v = cv
      while (logFile(v + 1).isFile) v += 1
      Some(v)
    case None => versions.lastOption
  }

  def exists: Boolean = currentVersion.isDefined

  /** Oldest version whose commit entry is still in the log — 0
    * until [[expireSnapshots]] raises the floor. */
  def earliestVersion: Option[Long] = versions.headOption

  // ---------------------------------------------------------------
  // log read path

  /** Snapshot state at one version. Metadata ([[TableMeta]]: schema,
    * partition layout, properties, refs, ...) is EAGER —
    * O(checkpointInterval) small JSON reads. The FILE-STATE is LAZY:
    * `adds` loads the checkpoint sidecar and folds the commit tail
    * only when a caller actually plans a scan or a rewrite, so
    * metadata-only operations (DESCRIBE HISTORY, property commits,
    * schema lookups, refs) on a million-file table never materialize
    * the manifest at all — and scan planning above the
    * parquet-checkpoint threshold prefers [[LogTable.prunedAdds]],
    * which collects only the files that survive file-skipping instead
    * of forcing this Seq. */
  private final class Snapshot(val meta: TableMeta,
                               addsThunk: () => Seq[AddFile]) {
    val schema: StructType = meta.schema.get
    def partitionCols: Seq[String] = meta.partitionCols
    def bloomCols: Seq[String] = meta.bloomCols
    def constraints: Map[String, String] = meta.constraints
    def generated: Map[String, String] = meta.generated
    def retiredNames: Set[String] = meta.retiredNames
    def tz: Option[String] = meta.tz
    def identity: Map[String, IdentitySpec] = meta.identity
    def defaults: Map[String, String] = meta.defaults
    def properties: Map[String, String] = meta.properties
    def transforms: Map[String, String] = meta.transforms
    def refs: Map[String, String] = meta.refs
    def protocol: Option[Protocol] = meta.protocol
    @volatile private[this] var loaded = false
    lazy val adds: Seq[AddFile] = {
      val r = addsThunk(); loaded = true; r
    }
    /** Has the file-state already been paid for? (Pruned planning
      * prefers the in-memory Seq when it exists — a second walk of
      * a materialized list beats launching a manifest job.) */
    def addsMaterialized: Boolean = loaded
  }

  /** One commit's actions, in line order — the only reader of commit
    * files (one read, one parse per line). */
  private def readCommit(v: Long): Seq[LogAction] =
    LogCodec.decodeCommit(Files.readString(logFile(v).toPath))

  private def addsOf(actions: Seq[LogAction]): Seq[AddFile] =
    actions.collect { case Add(a) => a }

  private def addsRefOf(actions: Seq[LogAction]): Option[AddsRef] =
    actions.collectFirst { case AddByRef(r) => r }

  private def removesOf(actions: Seq[LogAction]): Seq[String] =
    actions.collect { case Remove(p) => p }

  /** The by-reference add set of one commit, if it carries one. */
  private def commitAddsRef(v: Long): Option[AddsRef] =
    addsRefOf(readCommit(v))

  /** The commit line of one version's actions. */
  private def infoOf(v: Long, actions: Seq[LogAction]): CommitInfo =
    actions.collectFirst { case c: CommitInfo => c }
      .getOrElse(throw new IllegalStateException(s"commit $v has no meta"))

  /** One commit's admission facts for the rate-limited streaming
    * source — `(op, files added, bytes added)` from a single read
    * of the commit's JSON (no listing, no snapshot replay): the
    * unit [[LogStreamSource]]'s `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` budgeting sums over. A by-reference
    * commit's totals ride the action itself — O(1), the sidecar is
    * never opened for admission budgeting. */
  private[sources] def commitAdmission(v: Long): (String, Long, Long) = {
    val actions = readCommit(v)
    val adds = addsOf(actions)
    val ref = addsRefOf(actions)
    (infoOf(v, actions).op, adds.size.toLong + ref.map(_.count).getOrElse(0L),
      adds.map(_.bytes).sum + ref.map(_.bytes).getOrElse(0L))
  }

  /** Commit line of one version (wall-clock, op, cdf dir, txn). */
  private def commitMeta(v: Long): CommitInfo =
    infoOf(v, readCommit(v))

  /** Wall-clock of a commit (epoch millis from the injectable
    * clock). */
  def commitTime(v: Long): Long = commitMeta(v).ts

  /** Operation name of a commit (`append` / `overwrite` / `delete` /
    * `update` / `optimize` / `create`). */
  def commitOp(v: Long): String = commitMeta(v).op

  /** The idempotent-txn tag a commit carries, if any —
    * (appId, batchId), Delta's txnAppId/txnVersion pair. */
  def commitTxn(v: Long): Option[(String, Long)] = commitMeta(v).txn

  /** A committed version's snapshot is immutable — memoize it.
    * Every metadata accessor (schema, partitionCols, constraints,
    * generated, bloom) resolves a snapshot independently, so one
    * commit otherwise replays the log half a dozen times. Bounded:
    * a burst of time travel over a long history clears rather than
    * accumulating big file lists. */
  private val snapCache =
    scala.collection.concurrent.TrieMap.empty[Long, Snapshot]

  private def snapshotAt(v: Long): Snapshot =
    snapCache.getOrElse(v, {
      val s = computeSnapshotAt(v)
      if (snapCache.size >= 32) snapCache.clear()
      snapCache.putIfAbsent(v, s)
      s
    })

  /** Snapshot state at `v`: newest checkpoint ≤ v, then replay the
    * remaining commits — O(checkpointInterval) file reads, not
    * O(history). The header's metadata and every commit line fold
    * through the one [[TableMeta.fold]]. */
  private def computeSnapshotAt(v: Long): Snapshot = {
    // checkpoint discovery: the pointer answers the common case
    // (current-ish snapshots) with one GET; time travel BEHIND the
    // newest checkpoint, or a missing pointer, falls back to the
    // full listing
    val ckpt: Option[(Long, CheckpointHeader)] =
      (if (ignoreCheckpointsForTest) None else newestCkptAtOrBefore(v))
        .map(cv => cv -> ckptHeader(cv))
    // file-state is NOT loaded here — the header carries only
    // O(schema) metadata, and [[fileStateAt]] resolves the adds
    // sidecar lazily when (and only when) Snapshot.adds is forced
    val (from, base) = ckpt match {
      case Some((cv, h)) => (cv + 1, h.meta)
      case None =>
        // no checkpoint at-or-before v: replay must start at commit
        // 0 — if THAT is gone, v predates the expiry floor
        if (!logFile(0L).isFile) throw new IllegalStateException(
          s"version $v of the log table at $path has been expired " +
            s"(earliest retained: ${versions.headOption.getOrElse(-1L)})" +
            " — expireSnapshots removed its metadata")
        (0L, TableMeta())
    }
    // versions are contiguous (commitRetry claims head+1), so the
    // replay interval needs no directory listing — each commit file
    // is a direct read of a known key; add/remove actions leave the
    // metadata as it is (they are [[fileStateAt]]'s)
    val meta = (from to v).foldLeft(base)((m, cv) =>
      readCommit(cv).foldLeft(m)(TableMeta.fold))
    // READER protocol gate: refuse — by feature NAME — instead of
    // half-reading a table a future writer extended (Delta's
    // PROTOCOL.md discipline). Tables without a protocol action
    // (legacy) read as before.
    meta.protocol.foreach { pr =>
      val unknown = pr.readerFeatures -- LogTable.SupportedReaderFeatures
      if (pr.minReader > LogTable.ReaderVersion || unknown.nonEmpty)
        throw new IllegalStateException(
          s"cannot read the log table at $path (version $v): " +
            (if (unknown.nonEmpty)
              s"its protocol requires reader feature(s) " +
                s"${unknown.toSeq.sorted.mkString(", ")} this reader " +
                "does not support"
            else s"its protocol requires reader version " +
              s"${pr.minReader} (this reader speaks " +
              s"${LogTable.ReaderVersion})") +
            " — upgrade the graft library; refusing to half-read")
    }
    if (meta.schema.isEmpty) throw new IllegalStateException(
      s"log at $path has no schema action up to version $v")
    new Snapshot(meta, () => fileStateAt(ckpt, v))
  }

  /** A checkpoint's header. Its file-state sidecar is `parquet` or
    * `jsonl` — any other `addsFormat`, or none, is a header this
    * reader cannot serve, refused by file name. */
  private def ckptHeader(cv: Long): CheckpointHeader = {
    val f = ckptFile(cv)
    val h = LogCodec.decodeHeader(Files.readString(f.toPath))
    if (h.addsFormat != "parquet" && h.addsFormat != "jsonl")
      throw new IllegalStateException(s"checkpoint header $f has " +
        s"addsFormat '${h.addsFormat}' — missing or unknown; a " +
        "checkpoint's file-state is either parquet or jsonl")
    h
  }

  /** The live file-state at `v`, replayed from the chosen checkpoint
    * basis — the DEFERRED half of [[computeSnapshotAt]]: the
    * checkpoint's adds sidecar (parquet via a distributed scan, or
    * JSONL line-streamed) plus the add/remove fold of the bounded
    * commit tail. Runs only when a caller forces `Snapshot.adds`;
    * metadata-only operations never reach it. */
  private def fileStateAt(ckpt: Option[(Long, CheckpointHeader)],
                          v: Long): Seq[AddFile] = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    // a RE-ADD (DV update, restore) moves the file to the END of the
    // manifest — "order = latest action order", the same rule the
    // distributed manifest's tail fold applies, so a checkpoint
    // written FROM the distributed manifest is byte-order-identical
    // to this driver replay
    def readd(a: AddFile): Unit = { live.remove(a.path); live(a.path) = a }
    val from = ckpt match {
      case Some((cv, h)) =>
        ckptAddsSeq(cv, h).foreach(a => live(a.path) = a)
        cv + 1
      case None => 0L
    }
    (from to v).foreach { cv =>
      readCommit(cv).foreach {
        case Add(a) => readd(a)
        // a by-reference add set folds exactly like inline adds, in
        // sidecar idx order — this DRIVER materialization runs only
        // when a caller forces Snapshot.adds; the distributed
        // manifest serves the same commit without it
        case AddByRef(r) =>
          readAddsParquet(new File(logDir, r.path)).foreach(readd)
        case Remove(p) => live.remove(p)
        case _ => ()
      }
    }
    live.values.toSeq
  }

  /** One checkpoint's OWN adds sidecar (no tail fold) — the base of
    * both the driver replay ([[fileStateAt]]) and the small-seed
    * distributed fold ([[distributedManifest]]'s below-threshold
    * by-reference case). Parquet sidecars scan distributed with a
    * session, footer-walk without one (a bare maintenance CLI) —
    * either way the checkpoint itself serves, so an expired log
    * below it stays readable. JSONL line-streams in UTF-8 (the
    * writer's charset, never the platform's). */
  private def ckptAddsSeq(cv: Long, h: CheckpointHeader): Seq[AddFile] = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    if (h.addsFormat == "parquet")
      readAddsParquet(ckptParquetOf(h, cv)).foreach(a => live(a.path) = a)
    else {
      val src = scala.io.Source.fromFile(ckptAddsFile(cv))(scala.io.Codec.UTF8)
      try src.getLines().filter(_.nonEmpty).foreach { line =>
        val a = LogCodec.decodeAddFile(line); live(a.path) = a
      } finally src.close()
    }
    live.values.toSeq
  }

  /** Table schema at the current version. */
  def schema: StructType = snapshotAt(currentVersion.getOrElse(
    throw new IllegalStateException(s"no log table at $path"))).schema

  /** Table schema as of `version` — the schema a pinned
    * (`VERSION/TIMESTAMP AS OF`) read must serve: after evolution or
    * an overwrite, a historical snapshot keeps its own column set. */
  def schemaAt(version: Long): StructType = snapshotAt(version).schema

  /** Hive-style partition columns of the table (empty = unpartitioned).
    * Fixed at [[create]]; files live under `data/p=v/...` and add-file
    * actions carry the values, so BOTH the reader-side partition
    * pruner (Spark's `PartitionFilters` via `basePath` discovery) and
    * the log-side stats pruner skip non-matching partitions. */
  def partitionCols: Seq[String] = currentVersion
    .map(v => snapshotAt(v).partitionCols).getOrElse(Seq.empty)

  /** Partition columns as of `version` — after partition evolution a
    * pinned read must serve ITS layout, not the current one. */
  def partitionColsAt(version: Long): Seq[String] =
    snapshotAt(version).partitionCols

  /** Active partition TRANSFORMS (hidden partitioning): synthesized
    * hidden column → canonical transform spec (`ts_day` →
    * `days(ts)`). Empty for identity-partitioned / unpartitioned
    * tables. */
  def partitionTransforms: Map[String, String] = currentVersion
    .map(v => snapshotAt(v).transforms).getOrElse(Map.empty)

  def partitionTransformsAt(version: Long): Map[String, String] =
    snapshotAt(version).transforms

  /** The session timezone pinned at create for tz-sensitive
    * generated/hidden columns (None on zone-independent tables) —
    * interop exporters gate on it: Iceberg's time transforms are
    * UTC-defined, graft's render in this zone. */
  private[sources] def tzAt(version: Long): Option[String] =
    snapshotAt(version).tz

  /** The hidden transform columns of a snapshot — synthesized by
    * the engine, never part of the USER's schema. */
  private def hiddenColsOf(snap: Snapshot): Seq[String] =
    snap.schema.fieldNames.toSeq.filter(snap.transforms.contains)

  /** The schema a USER sees: the logged schema minus hidden
    * transform columns. Every public read surface (load, catalog
    * SQL, streams, the change feed) serves this; the full
    * [[schema]] stays the write/layout contract. */
  def userSchema: StructType = userSchemaAt(currentVersion.getOrElse(
    throw new IllegalStateException(s"no log table at $path")))

  def userSchemaAt(version: Long): StructType = {
    val snap = snapshotAt(version)
    if (snap.transforms.isEmpty) snap.schema
    else StructType(
      snap.schema.fields.filterNot(f => snap.transforms.contains(f.name)))
  }


  /** Live data files (absolute paths) at a version, default the
    * current one — the list handed to Spark's parquet scan. */
  def liveFiles(version: Option[Long] = None): Seq[String] =
    snapshotAt(version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path")))
      .adds.map(a => absPath(a.path))

  /** Live [[AddFile]] entries (with stats and deletion vectors) at a
    * version, default the current one. */
  def liveAdds(version: Option[Long] = None): Seq[AddFile] =
    snapshotAt(version.orElse(currentVersion).get).adds

  /** Register already-materialized files by METADATA ONLY — one
    * commit carrying the given add entries verbatim, no data
    * movement (the shape of Iceberg's `add_files` / Delta's CONVERT
    * ingestion step, and the seam the metadata-scale specs use to
    * build ≥100k-file snapshots without writing 100k real files).
    * The caller owns the entries' truthfulness: paths, row counts
    * and stats are committed as given. */
  private[graft] def registerFiles(adds: Seq[AddFile],
                                   op: String = "append"): Long =
    commitRetry(currentVersion, info(op) +: adds.map(Add))

  /** [[registerFiles]] from a DISTRIBUTED manifest — the scale twin:
    * the add set arrives as a Dataset (one [[CkptAdd]] row per file,
    * `idx` = desired manifest order), is normalized and persisted as
    * a multi-part parquet sidecar by a Spark job, and the commit
    * carries ONE [[AddsRef]] line naming it — the driver never holds
    * the file list (Iceberg's add_files-over-manifests shape; what
    * CONVERT uses to onboard million-file foreign tables). Duplicate
    * paths refuse (a manifest maps each path to one entry — callers
    * dedup latest-wins first). A checkpoint lands at the committed
    * version immediately, so every subsequent read resolves
    * manifest-to-manifest; even before it (or if its best-effort
    * write failed), [[distributedManifest]] folds the sidecar as a
    * distributed segment. On a ROW-TRACKING table (round 15) the
    * sidecar write ALSO assigns each file's contiguous `baseRowId`
    * range distributively — a per-partition running total over the
    * ordered set, offset from the table's row-id high-water, so the
    * driver still never enumerates the files; the commit declares
    * the high-water it assigned from and conflicts (then reassigns
    * and retries, up to 20 attempts) if a racing writer advanced it
    * — exactly the identity-allocation rule. */
  private[graft] def registerFilesFrom(spark: SparkSession,
      ds: org.apache.spark.sql.Dataset[CkptAdd],
      op: String = "convert"): Long = {
    ensureLayout()
    val enc = org.apache.spark.sql.Encoders.product[CkptAdd]
    var attempts = 0
    while (true) {
      attempts += 1
      val tracked = currentVersion.exists(v => snapshotAt(v).properties
        .get(LogTable.PropRowTracking).contains("true"))
      val basis: Option[Long] =
        if (!tracked) None
        else Some(currentVersion.flatMap(v => snapshotAt(v).properties
          .get(LogTable.PropRowIdHighWater).map(_.toLong))
          .getOrElse(0L))
      // normalize idx contiguous in the caller's order — and, when
      // tracked, assign each file's baseRowId as the running row
      // total — in ONE partition-offset pass: per-partition
      // (count, rowSum) collect O(#partitions), then a map stamps
      // both offsets executor-side
      val sorted = ds.orderBy(col("idx")).rdd
      val partAgg = sorted.mapPartitionsWithIndex { (i, it) =>
        var n = 0L; var r = 0L
        it.foreach { c => n += 1; r += c.rows }
        Iterator((i, n, r))
      }.collect().sortBy(_._1)
      val idxOffsets = partAgg.scanLeft(0L)(_ + _._2)
      val rowOffsets = partAgg.scanLeft(basis.getOrElse(0L))(_ + _._3)
      val trackedB = tracked
      val normalized = spark.createDataset(
        sorted.mapPartitionsWithIndex { (i, it) =>
          var idx = idxOffsets(i)
          var row = rowOffsets(i)
          it.map { c =>
            // carried assignments keep their ids (the commit-loop
            // rule for inline adds); the running total advances
            // either way, so fresh ranges never overlap
            val out = c.copy(idx = idx,
              baseRowId =
                if (trackedB) c.baseRowId.orElse(Some(row))
                else c.baseRowId)
            idx += 1; row += c.rows
            out
          }
        })(enc)
      val target = addsRefDir(UUID.randomUUID().toString.take(8))
      val tmp = new File(logDir, s".tmp-addsref-${UUID.randomUUID()}")
      try {
        normalized.write.mode("overwrite").parquet(tmp.getPath)
        Files.move(tmp.toPath, target.toPath,
          StandardCopyOption.ATOMIC_MOVE)
      } catch { case NonFatal(e) => deleteRecursive(tmp); throw e }
      val facts = spark.read.parquet(target.getPath).agg(
        count(lit(1)), countDistinct(col("path")),
        sum(col("rows")), sum(col("bytes")),
        max(col("dvPath").isNotNull),
        max(col("baseRowId").isNotNull)).collect().head
      val n = facts.getLong(0)
      if (n == 0L) {
        deleteRecursive(target)
        return currentVersion.getOrElse(throw new IllegalStateException(
          s"no log table at $path to register into"))
      }
      if (facts.getLong(1) != n) {
        deleteRecursive(target)
        throw new IllegalArgumentException(
          s"registerFilesFrom: ${n - facts.getLong(1)} duplicate " +
            "path(s) in the add set — a manifest maps each path to " +
            "one entry; dedup (latest wins) before registering")
      }
      if (!tracked && facts.getBoolean(5)) {
        deleteRecursive(target)
        throw new IllegalArgumentException(
          "registerFilesFrom: the add set carries baseRowId " +
            "assignments but this table does not track row ids — " +
            "enable row tracking first or strip the ids")
      }
      val ref = AddsRef(target.getName, n, facts.getLong(2),
        facts.getLong(3), facts.getBoolean(4), rowIdBasis = basis)
      try {
        val v = commitRetry(currentVersion, Seq(info(op), AddByRef(ref)))
        // checkpoint NOW (idempotent — the fat-commit trigger may
        // have already fired): later readers resolve the parquet
        // manifest directly instead of re-stitching the sidecar
        // segment
        writeCheckpoint(v)
        return v
      } catch {
        case e: java.util.ConcurrentModificationException
            if tracked && attempts < 20 =>
          // a racing writer advanced the row-id high-water — the
          // sidecar's assigned ranges overlap; reassign and retry
          deleteRecursive(target)
          snapCache.clear()
      }
    }
    -1L // unreachable
  }

  /** Verification knob: replay snapshots from raw commits ONLY,
    * ignoring every checkpoint — the ground truth the checkpoint
    * equivalence specs compare parquet/JSONL checkpoint replays
    * against. Never set outside tests. */
  private[graft] var ignoreCheckpointsForTest: Boolean = false

  /** The manifest at `v` as a typed distributed Dataset — Some when
    * a PARQUET checkpoint serves the base (the regime where the
    * file list must never be driver state): the checkpoint scan plus
    * a commit-tail fold bounded by checkpointInterval — or when the
    * replay window holds a BY-REFERENCE commit ([[AddsRef]], a
    * CONVERT's million-file registration): its parquet sidecar joins
    * the fold as a distributed segment, so the very first read after
    * a convert is already manifest-to-manifest. None otherwise
    * (JSONL / no checkpoint yet), where the driver Seq is small by
    * construction. */
  private[sources] def distributedManifest(spark: SparkSession, v: Long)
      : Option[org.apache.spark.sql.Dataset[CkptAdd]] = {
    val enc = org.apache.spark.sql.Encoders.product[CkptAdd]
    val ckpt: Option[(Long, CheckpointHeader)] =
      (if (ignoreCheckpointsForTest) None else newestCkptAtOrBefore(v))
        .map(c => c -> ckptHeader(c))
    val ckptV = ckpt.map(_._1)
    val parquetBase: Option[(Long, DataFrame)] = ckpt.collect {
      case (c, h) if h.addsFormat == "parquet" =>
        c -> spark.read.parquet(ckptParquetOf(h, c).getPath)
    }
    // a table that EVER committed by reference carries the `addsRef`
    // reader feature — the cheap (metadata-only) signal to probe the
    // tail for sidecar commits; every other table skips the probe
    val mayRef = parquetBase.isEmpty && !ignoreCheckpointsForTest &&
      snapshotAt(v).protocol.exists(_.readerFeatures.contains("addsRef"))
    val base: Option[(Long, DataFrame)] = parquetBase.orElse {
      val from = ckptV.map(_ + 1).getOrElse(0L)
      if (!mayRef ||
          !(from to v).exists(cv => commitAddsRef(cv).isDefined)) None
      else {
        // a by-reference commit sits above a NON-parquet base — a
        // fresh CONVERT's empty pre-table, or a below-threshold JSONL
        // checkpoint: small by construction, lifted into a tiny
        // DataFrame so the fold stays distributed end-to-end
        val seed = ckpt.map { case (c, h) => ckptAddsSeq(c, h) }
          .getOrElse(Seq.empty)
        Some((from - 1, spark.createDataset(
          seed.iterator.zipWithIndex
            .map { case (a, i) => LogCodec.encodeCkptAdd(i.toLong, a) }.toSeq)(enc)
          .toDF()))
      }
    }
    base.map {
      case (c, base0) if c == v => base0.as[CkptAdd](enc)
      case (c, base0) =>
        // fold the commit tail: latest action per path wins — a
        // re-added path (DV update, restore) REPLACES its base row,
        // a removed one drops it, everything else carries through.
        // Inline actions fold into an ordered driver map (bounded:
        // normal commits); by-reference sidecars stay DataFrames,
        // stitched in as ordered segments below.
        var pos = 0
        val inline = scala.collection.mutable.LinkedHashMap
          .empty[String, (Int, Option[AddFile])]
        val sides = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String)]
        (c + 1 to v).foreach { cv =>
          readCommit(cv).foreach {
            // move-to-end on re-add — the SAME order rule the driver
            // replay applies (fileStateAt), so a checkpoint written
            // from this manifest replays order-identical
            case Add(a) =>
              pos += 1
              inline.remove(a.path)
              inline(a.path) = (pos, Some(a))
            case AddByRef(r) =>
              pos += 1
              sides += ((pos, r.path))
            case Remove(p) =>
              pos += 1
              inline.remove(p)
              inline(p) = (pos, None)
            case _ => ()
          }
        }
        // a small touched set stays a literal NOT-IN (no second
        // relation in the plan); a FAT post-checkpoint commit (a
        // full OPTIMIZE rewriting ~1M files right after a
        // checkpoint) instead anti-joins against a broadcast
        // touched-paths frame — thousands of literals in one In
        // would bloat the plan the manifest design exists to avoid
        def filterOut(df: DataFrame, paths: Seq[String]): DataFrame =
          if (paths.isEmpty) df
          else if (paths.size <= 1000)
            df.filter(!col("path").isin(paths: _*))
          else {
            import spark.implicits._
            df.join(broadcast(paths.toDF("path")),
              Seq("path"), "left_anti")
              // the anti-join reorders columns (join key first) —
              // restore the manifest column order for the union
              .select(df.columns.map(col).toIndexedSeq: _*)
          }
        if (sides.isEmpty) {
          val touched = inline.keys.toSeq
          val alive = inline.values.collect {
            case (_, Some(a)) => a }.toSeq
          filterOut(base0, touched).unionByName(spark.createDataset(
            alive.zipWithIndex.map { case (a, i) =>
              LogCodec.encodeCkptAdd(Long.MaxValue - alive.size + i, a) })(enc)
            .toDF()).as[CkptAdd](enc)
        } else {
          // SEGMENTED fold: base, then — in action order — inline
          // spans and sidecar frames. "Latest add wins, and moves
          // the path to the manifest's end" holds across segments:
          // each earlier segment anti-joins every LATER sidecar
          // (a sidecar re-add overrides silently-unknown earlier
          // rows), and each sidecar drops paths later inline
          // actions touched. idx is re-spaced per segment so the
          // union's order equals the driver replay's; a checkpoint
          // written from this manifest stays replay-identical.
          val SegSpan = 1L << 40
          val sideDfs = sides.map { case (_, name) =>
            spark.read.parquet(new File(logDir, name).getPath) }.toSeq
          def antiSides(df: DataFrame,
                        later: Seq[DataFrame]): DataFrame =
            later.foldLeft(df)((acc, s) =>
              acc.join(s.select("path"), Seq("path"), "left_anti")
                .select(acc.columns.map(col).toIndexedSeq: _*))
          val sidePos = sides.map(_._1).toIndexedSeq
          val entries = inline.toSeq // pos-ascending by construction
          val segs = scala.collection.mutable.ArrayBuffer
            .empty[DataFrame]
          segs += antiSides(
            filterOut(base0, entries.map(_._1)), sideDfs)
          var segNo = 1L
          (0 to sides.length).foreach { i =>
            // span i: inline adds folded after side i-1, before side
            // i — overridden only by sidecars i.. (later ones; later
            // inline actions already displaced them in the map)
            val alive = entries.collect {
              case (_, (p, Some(a)))
                if sidePos.count(_ < p) == i => a }
            if (alive.nonEmpty) {
              val df0 = spark.createDataset(
                alive.zipWithIndex.map { case (a, k) =>
                  LogCodec.encodeCkptAdd(k.toLong, a) })(enc).toDF()
              segs += antiSides(df0, sideDfs.drop(i))
                .withColumn("idx", col("idx") + lit(segNo * SegSpan))
            }
            segNo += 1
            if (i < sides.length) {
              val laterTouched = entries.collect {
                case (path, (p, _)) if p > sidePos(i) => path }
              segs += antiSides(
                filterOut(sideDfs(i), laterTouched),
                sideDfs.drop(i + 1))
                .withColumn("idx", col("idx") + lit(segNo * SegSpan))
              segNo += 1
            }
          }
          segs.reduce(_.unionByName(_)).as[CkptAdd](enc)
        }
    }
  }

  /** How the last [[prunedAdds]] call evaluated: "distributed" (a
    * Spark job over the parquet-checkpoint manifest, survivors-only
    * collect) or "driver" (the in-memory Seq walk). Test seam. */
  @volatile private[graft] var lastPruneMode: String = ""

  /** File-skipping evaluated WHERE THE MANIFEST LIVES. Below the
    * parquet-checkpoint threshold — or when the snapshot's file list
    * is already materialized, or nothing can prune — the driver Seq
    * filters in place. Above it the pruning walk (partition values
    * ride the same min=max stats; DV bookkeeping rides the manifest
    * row) runs as ONE Spark job over the distributed manifest and
    * only the SURVIVING AddFiles are collected: at the 100-TB target
    * (~1M files × wide stats) a selective scan's driver footprint is
    * ∝ the matching subset, never the manifest. Bloom sidecars are
    * driver-filesystem state, so the (small) survivor set re-walks
    * through the bloom probe on the driver — blooms only ever remove
    * more files, so the split is sound and results stay identical to
    * the all-driver walk. Returns (survivors, live-file total). */
  private[graft] def prunedAdds(spark: SparkSession, version: Long,
                                base: Seq[expressions.Expression],
                                derived: Seq[expressions.Expression])
      : (Seq[AddFile], Long) = {
    val snap = snapshotAt(version)
    val dist =
      if (snap.addsMaterialized || (base.isEmpty && derived.isEmpty)) None
      else scala.util.Try(distributedManifest(spark, version))
        .getOrElse(None)
    dist match {
      case Some(ds) =>
        lastPruneMode = "distributed"
        val baseC = base
        val derivedC = derived
        val parts = ds.mapPartitions { it =>
          val keep = scala.collection.mutable.ArrayBuffer.empty[CkptAdd]
          var n = 0L
          it.foreach { c =>
            n += 1
            val a = LogCodec.decodeCkptAdd(c)
            if (!LogTable.statsNoMatch(a,
                baseC ++ LogTable.derivedSafeFor(a, derivedC)))
              keep += c
          }
          Iterator.single(PrunePart(n, keep.toSeq))
        }(org.apache.spark.sql.Encoders.product[PrunePart]).collect()
        val total = parts.iterator.map(_.total).sum
        val survivors = parts.iterator.flatMap(_.keep).toSeq
          .sortBy(_.idx).map(LogCodec.decodeCkptAdd)
          .filterNot(a =>
            provablyNoMatch(a, base ++ derivedSafeFor(a, derived)))
        (survivors, total)
      case None =>
        lastPruneMode = "driver"
        val adds = snap.adds
        (adds.filterNot(a =>
          provablyNoMatch(a, base ++ derivedSafeFor(a, derived))),
          adds.size.toLong)
    }
  }

  /** How the last remove-set conflict revalidation resolved its
    * manifest lookups: "distributed" (one Spark job filtering the
    * parquet-checkpoint manifest to the remove set, only matches
    * collected) or "driver" (the in-memory Seq walk). Test seam for
    * the lazy-manifest contract, mirroring [[lastPruneMode]]. */
  @volatile private[graft] var lastRevalidateMode: String = ""

  /** The manifest entries for an EXPLICIT path set, answered WHERE
    * THE MANIFEST LIVES: above the parquet-checkpoint threshold one
    * Spark job filters the distributed manifest to the requested
    * paths and collects ONLY the matches — driver cost ∝ the path
    * set, never the table. Below the threshold, when the snapshot's
    * file list is already materialized, or with no live session
    * (session-less maintenance writers), the driver Seq answers.
    * Conflict revalidation of a commit's remove set rides this
    * (round 13): before, a conflicted retry on a million-file table
    * built full `path -> AddFile` maps of BOTH the head and basis
    * snapshots — the last O(#files) driver path reachable from a
    * normal write. */
  private def manifestEntriesFor(v: Long, paths: Seq[String])
      : Map[String, AddFile] = {
    val snap = snapshotAt(v)
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val dist =
      if (snap.addsMaterialized || paths.isEmpty) None
      else session.flatMap(sp =>
        scala.util.Try(distributedManifest(sp, v)).getOrElse(None))
    dist match {
      case Some(ds) =>
        lastRevalidateMode = "distributed"
        // a small remove set stays a literal IN; a fat rewrite's
        // (OPTIMIZE racing an append) semi-joins against a
        // broadcast paths frame — same plan discipline as the
        // post-checkpoint tail fold
        val hits =
          if (paths.size <= 1000) ds.filter(col("path").isin(paths: _*))
          else {
            val sp = session.get
            import sp.implicits._
            ds.toDF().join(broadcast(paths.toDF("path")),
                Seq("path"), "left_semi")
              .as[CkptAdd](org.apache.spark.sql.Encoders.product[CkptAdd])
          }
        hits.collect().iterator
          .map(c => c.path -> LogCodec.decodeCkptAdd(c)).toMap
      case None =>
        lastRevalidateMode = "driver"
        val want = paths.toSet
        snap.adds.iterator.filter(a => want(a.path))
          .map(a => a.path -> a).toMap
    }
  }

  /** [[prunedAdds]] from a user predicate — resolves the conjuncts
    * (generated-column derivation included) and runs the walk:
    * [[loadWhere]], the row-level ops and the scoped OPTIMIZE passes
    * all prune through here. */
  private[graft] def prunedAddsFor(spark: SparkSession, pred: Column,
                                   version: Option[Long] = None)
      : (Seq[AddFile], Long) = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(v)
    val base = resolvedConjuncts(spark, snap.schema, pred)
    val derived = derivedConjuncts(spark, snap.generated, snap.tz, base)
    prunedAdds(spark, v, base, derived)
  }

  /** The file-state facts [[GraftLogTableV2.needsLoadPlan]] decides
    * on (any deletion vector, any absolute path, the distinct
    * partition-value keysets), answered WHERE THE MANIFEST LIVES:
    * one tiny aggregate job over the distributed manifest above the
    * parquet-checkpoint threshold (memoized per immutable version),
    * the driver Seq below it. Without this, every catalog
    * resolution of a million-file table would collect the manifest
    * just to decide which scan path serves it. */
  private val fileStateFactsCache = scala.collection.concurrent.TrieMap
    .empty[Long, (Boolean, Boolean, Set[Set[String]])]

  private[sources] def fileStateFacts(spark: SparkSession,
      version: Option[Long]): (Boolean, Boolean, Set[Set[String]]) = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    fileStateFactsCache.getOrElseUpdate(v, {
      val snap = snapshotAt(v)
      val dist =
        if (snap.addsMaterialized) None else distributedManifest(spark, v)
      dist match {
        case Some(ds) =>
          val row = ds.toDF().agg(
            max(col("dvPath").isNotNull).as("anyDv"),
            max(col("path").startsWith("/")).as("anyAbs"),
            collect_set(array_sort(map_keys(col("partitionValues"))))
              .as("keysets")).collect().head
          // Spark hands collected arrays back as mutable ArraySeq —
          // type against collection.Seq, never immutable.Seq
          val keysets = row.getAs[scala.collection.Seq[
            scala.collection.Seq[String]]]("keysets")
            .iterator.map(_.toSet).toSet
          // max() over zero rows is null — null-safe compare to true
          (row.getAs[Any]("anyDv") == true,
            row.getAs[Any]("anyAbs") == true, keysets)
        case None =>
          val adds = snap.adds
          (adds.exists(_.dv.isDefined),
            adds.exists(_.path.startsWith("/")),
            adds.map(_.partitionValues.keySet).toSet)
      }
    })
  }

  /** [[prunedAdds]] from ALREADY-RESOLVED catalyst conjuncts — the
    * DSv2 scan-planning seam ([[PruningScanBuilder]] receives the
    * analyzer's pushed expressions directly). */
  private[sources] def prunedAddsForExprs(spark: SparkSession,
      exprs: Seq[expressions.Expression],
      version: Option[Long]): (Seq[AddFile], Long) = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(v)
    val base = exprs.flatMap(splitConjuncts)
    val derived = derivedConjuncts(spark, snap.generated, snap.tz, base)
    prunedAdds(spark, v, base, derived)
  }

  /** Has the snapshot at `version` already materialized its file
    * list on the driver? Test seam for the lazy-manifest contract:
    * metadata-only operations must leave this false. */
  private[graft] def addsMaterializedAt(version: Option[Long] = None)
      : Boolean =
    snapshotAt(version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path")))
      .addsMaterialized

  /** The metadata state at `version`, as replay folded it from the
    * checkpoint header and the commit tail. */
  private[graft] def metaAt(version: Long): TableMeta =
    snapshotAt(version).meta

  /** The table's protocol state at a version (None for legacy
    * tables that predate protocol actions — they read ungated). */
  def protocolAt(version: Option[Long] = None): Option[Protocol] =
    snapshotAt(version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path")))
      .protocol

  /** Commit an EXPLICIT protocol state (full replacement) — the
    * upgrade verb, and the seam the forward-compat specs use to
    * simulate a FUTURE writer demanding features this build does
    * not know. The usual writer gate applies against the CURRENT
    * protocol (an already-foreign table refuses even this). */
  private[graft] def commitProtocol(p: Protocol): Long =
    commitRetry(currentVersion, Seq(info("protocol"), SetProtocol(p)))

  /** Snapshot read with file-skipping applied AT PLANNING: the
    * manifest is pruned by `pred` (min/max + partition values +
    * bloom + generated-column derivation) before the scan is
    * assembled, and above the parquet-checkpoint threshold the
    * pruning itself runs as a Spark job collecting only survivors
    * ([[prunedAdds]]). The predicate still applies row-level —
    * pruning is file-granular, results equal `load(...).filter`. */
  def loadWhere(spark: SparkSession, pred: Column,
                version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(v)
    val (adds, _) = prunedAddsFor(spark, pred, Some(v))
    val hidden = hiddenColsOf(snap)
    val out =
      if (adds.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), snap.schema)
      else if (adds.forall(_.dv.isEmpty))
        readDataFiles(spark, snap.schema, snap.partitionCols,
          adds.map(a => absPath(a.path)))
      else dvAwareRead(spark, snap.schema, snap.partitionCols, adds,
        keepProvenance = false)
    val filtered = out.filter(pred)
    if (hidden.isEmpty) filtered else filtered.drop(hidden: _*)
  }

  /** The live-file manifest at `version` as a DISTRIBUTED DataFrame
    * — the metadata-as-a-relation surface (`SELECT * FROM
    * cat.t.files`, Iceberg's inspection-table idea). Above the
    * parquet-checkpoint threshold this never materializes the file
    * list on the driver: the newest parquet checkpoint is read as an
    * ordinary distributed scan and only the post-checkpoint commit
    * TAIL (bounded by checkpointInterval) folds on the driver — at
    * the 100-TB target the ~1M-row manifest is a table users join
    * against, not driver state. Columns: path, rows, bytes,
    * partition_values, dv_path, dv_rows, base_row_id, stats (the
    * commit log's own JSON rendering). */
  def addsDF(spark: SparkSession, version: Option[Long] = None)
      : DataFrame = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val enc = org.apache.spark.sql.Encoders.product[CkptAdd]
    val manifest = distributedManifest(spark, v).map(_.toDF()).getOrElse {
      // below the threshold (or no parquet checkpoint yet) the
      // snapshot is small by construction — serve the driver seq
      spark.createDataset(snapshotAt(v).adds.zipWithIndex
        .map { case (a, i) => LogCodec.encodeCkptAdd(i.toLong, a) })(enc)
        .toDF()
    }
    manifest
      .withColumnRenamed("partitionValues", "partition_values")
      .withColumnRenamed("dvPath", "dv_path")
      .withColumnRenamed("dvRows", "dv_rows")
      .withColumnRenamed("baseRowId", "base_row_id")
      .withColumnRenamed("statsJson", "stats")
      .drop("idx")
  }

  /** Newest checkpoint version at-or-before `v` (pointer fast path,
    * listing fallback) — the same discovery replay uses. */
  private def newestCkptAtOrBefore(v: Long): Option[Long] =
    lastCheckpointVersion.filter(_ <= v).orElse(
      listLogDir()
        .filter(_.getName.endsWith(".ckpt.json"))
        .map(_.getName.stripSuffix(".ckpt.json").toLong).filter(_ <= v)
        .sorted.lastOption)

  /** Resolve a logged file reference: paths are table-relative for
    * files this table wrote, ABSOLUTE for files referenced from
    * another table by a shallow [[cloneFrom]]. */
  private def absPath(rel: String): String =
    if (rel.startsWith("/")) rel else s"$path/$rel"

  /** A live file's absolute filesystem path — the driver-side key
    * scan-time `__file` provenance (see [[LogTable.provPath]])
    * compares against. Root-qualified, so clone snapshots that mix
    * data roots can never collide on a base name. */
  private[sources] def absLivePath(a: AddFile): String =
    new File(absPath(a.path)).toPath.toAbsolutePath.normalize.toString

  /** Column names a stored SQL expression references (parse-level;
    * unparseable text references nothing) — the dependency check
    * behind rename/drop guards and generated-column recompute. */
  private def exprRefs(spark: SparkSession, sqlExpr: String): Seq[String] =
    try spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case u: org.apache.spark.sql.catalyst.analysis
        .UnresolvedAttribute => u.name
    } catch { case NonFatal(_) => Seq.empty }

  private def hasFieldIds(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(LogTable.FieldIdKey))

  /** Stored generated-column SQL may call graft's OWN functions —
    * `graft_iceberg_bucket` hidden layouts — which resolve only if
    * the session has them registered (the extensions route applies
    * at session build; a plain session has no graft_* entries).
    * Idempotent and cheap: called wherever a stored expression is
    * about to analyze. */
  private def ensureGraftFns(spark: SparkSession,
                             exprs: Iterable[String]): Unit =
    if (exprs.exists(_.contains("graft_")))
      org.apache.spark.sql.GraftSqlFunctions.register(spark)

  /** Field-id resolution is session-conf-gated in Spark; flip both
    * flags on when a COLUMN-MAPPED table is touched — and only
    * then, so sessions that never resolve a mapped table keep their
    * configuration untouched. Sticky within the session by design:
    * Spark's parquet reader/writer re-reads the SESSION conf at
    * physical planning and ignores per-relation reader/writer
    * options for these keys (verified empirically on 4.1.2), so a
    * save-and-restore around load() would break every lazy frame
    * the load returned. The flags only change behavior for schemas
    * that CARRY id metadata, so unmapped tables and foreign
    * name-resolved reads are unaffected either way. */
  private def enableFieldIds(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
  }

  /** Catalog seam: flip the session's field-id flags iff THIS table
    * (at `version`, default current) is column-mapped — the V2 scan
    * path builds Spark's own `ParquetTable`, which resolves by id
    * only under the session conf. */
  private[sources] def ensureFieldIdResolution(spark: SparkSession,
                                               version: Option[Long] = None)
      : Unit =
    if (currentVersion.isDefined &&
        hasFieldIds(version.map(schemaAt).getOrElse(schema)))
      enableFieldIds(spark)

  /** Read table data files with the right partition handling: a
    * partitioned table's files live under hive dirs and lack the
    * partition columns in-file, so the read needs `basePath`
    * discovery to fill them; an unpartitioned table reads plain.
    * A column-mapped schema (field ids) reads by ID — names in the
    * files are whatever the column was CALLED when each file was
    * written; the ids make rename a pure metadata operation. */
  private def readDataFiles(spark: SparkSession, readSchema: StructType,
                            partCols: Seq[String],
                            paths: Seq[String],
                            withProv: Boolean = false): DataFrame = {
    if (hasFieldIds(readSchema)) enableFieldIds(spark)
    // provenance attaches PER SCAN: `_metadata` is a scan-level
    // pseudo-column and does not resolve above a union of scans.
    // The final shape is EXACTLY the read schema (+ provenance):
    // hive discovery APPENDS partition columns the explicit schema
    // does not name (a user-schema read of a hidden-partitioned
    // table must not leak the hidden column), so project after scan
    val outCols = readSchema.fieldNames.toSeq ++
      (if (withProv) Seq("__file", "__idx") else Seq.empty)
    def shape(df: DataFrame): DataFrame = {
      val withP =
        if (!withProv) df
        else df.withColumn("__file", col("_metadata.file_path"))
          .withColumn("__idx", col("_metadata.row_index"))
      withP.select(outCols.map(col): _*)
    }
    if (partCols.isEmpty && paths.forall(p =>
        !new File(p).getParentFile.getName.contains('=')))
      return shape(spark.read.schema(readSchema).parquet(paths: _*))
    // hive discovery needs the data root as basePath; a shallow
    // clone's snapshot mixes THIS table's files with absolute
    // references into other roots, and PARTITION EVOLUTION mixes
    // layout EPOCHS under one root — group per (root, partition-dir
    // signature), one scan per group, unioned. Within a group the
    // layout is uniform, so discovery fills exactly that epoch's
    // columns; columns a group's layout (or files) lack null-fill
    // through the explicit read schema — an old epoch's rows read
    // with the new partition column where it actually lives (in the
    // file, in the old dirs, or genuinely absent → null).
    def splitOf(p: String): (String, Seq[String]) = {
      val segs = p.split('/')
      var i = segs.length - 2
      while (i > 0 && segs(i).contains('=')) i -= 1
      (segs.take(i + 1).mkString("/"),
        segs.slice(i + 1, segs.length - 1).toSeq
          .map(_.split("=", 2).head))
    }
    paths.groupBy(splitOf).toSeq.map { case ((base, sig), ps) =>
      shape(
        if (sig.isEmpty) spark.read.schema(readSchema).parquet(ps: _*)
        else spark.read.schema(readSchema).option("basePath", base)
          .parquet(ps: _*))
    }.reduce(_.unionByName(_))
  }

  /** DV-aware scan of a set of live files, optionally keeping the
    * per-row provenance columns `__file` / `__idx` (parquet file
    * PATH — the full `_metadata.file_path` URI, not the bare name:
    * a clone snapshot deliberately mixes data roots, so a base-name
    * collision across roots must not cross-wire provenance — plus
    * 0-based row index) captured AT SCAN TIME via Spark's
    * `_metadata` columns — `input_file_name()` is empty after an
    * exchange, so row-level ops that must know a row's file capture
    * it here. Files without a deletion vector read plain (the common
    * case keeps full pushdown/vectorization); files with one are
    * anti-joined against their dv pair files on (file path, row
    * index), broadcast while the total cardinality is small. Stale
    * pairs in a shared dv dir are harmless: for a still-referenced
    * file they are a subset of its current vector, and a rewritten
    * file's fresh name never matches old pairs. */
  private def dvAwareRead(spark: SparkSession, readSchema: StructType,
                          partCols: Seq[String], adds: Seq[AddFile],
                          keepProvenance: Boolean): DataFrame = {
    val outCols = readSchema.fieldNames.toSeq ++
      (if (keepProvenance) Seq("__file", "__idx") else Seq.empty)
    val (dvd, clean) = adds.partition(_.dv.isDefined)
    val cleanDf =
      if (clean.isEmpty) None
      else Some(readDataFiles(spark, readSchema, partCols,
        clean.map(a => absPath(a.path)), withProv = keepProvenance))
    val dvdDf =
      if (dvd.isEmpty) None
      else {
        val dirs = dvd.flatMap(_.dv.map(_.path)).distinct
        val card = dvd.flatMap(_.dv.map(_.rows)).sum
        val raw = spark.read.parquet(dirs.map(absPath): _*)
        val pairs =
          if (card <= LogTable.DvBroadcastMaxRows) broadcast(raw) else raw
        val scanned = readDataFiles(spark, readSchema, partCols,
          dvd.map(a => absPath(a.path)), withProv = true)
        val alive = scanned.join(pairs,
          scanned("__file") === pairs("file") &&
            scanned("__idx") === pairs("idx"), "left_anti")
        Some(alive.select(outCols.map(col): _*))
      }
    (cleanDf, dvdDf) match {
      case (Some(c), Some(d)) => c.select(outCols.map(col): _*).unionByName(d)
      case (Some(c), None)    => c
      case (None, Some(d))    => d
      case (None, None) =>
        spark.createDataFrame(new java.util.ArrayList[Row](), readSchema)
    }
  }

  /** Snapshot read. With no live files the result is an empty frame
    * of the logged schema; files carrying deletion vectors are
    * served minus their deleted rows. */
  def load(spark: SparkSession, version: Option[Long] = None): DataFrame = {
    val snap = snapshotAt(version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path")))
    // hidden transform columns never reach the user — they are the
    // ENGINE's layout artifact (Iceberg's hidden partitioning)
    val hidden = hiddenColsOf(snap)
    val out =
      if (snap.adds.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), snap.schema)
      else if (snap.adds.forall(_.dv.isEmpty))
        readDataFiles(spark, snap.schema, snap.partitionCols,
          snap.adds.map(a => absPath(a.path)))
      else dvAwareRead(spark, snap.schema, snap.partitionCols, snap.adds,
        keepProvenance = false)
    if (hidden.isEmpty) out else out.drop(hidden: _*)
  }

  // ---------------------------------------------------------------
  // ROW TRACKING — Delta/Iceberg-v3-style stable row ids. A row's id
  // is METADATA for fresh files (id = AddFile.baseRowId + parquet
  // row position — nothing written per row, an append's id cost is
  // one long in the log) and becomes PHYSICAL only when a rewrite
  // moves rows (the rewrite source materializes the effective id
  // into the reserved `_graft_row_id` column; readers coalesce the
  // column over the computed form). Ids survive deletion vectors
  // (positions don't move), copy-on-write UPDATE/DELETE, OPTIMIZE
  // (bin-pack + zorder), purge, RESTORE and branch fast-forward;
  // branch-minted and merge-inserted rows get fresh ids at publish.

  /** Is row tracking on at the given (default current) version? */
  def rowTrackingEnabled(version: Option[Long] = None): Boolean =
    version.orElse(currentVersion).exists(v =>
      snapshotAt(v).properties.get(LogTable.PropRowTracking)
        .contains("true"))

  /** Switch row tracking ON — one metadata-only commit at any table
    * size: existing live files are re-added by reference so the
    * commit loop stamps each with its `baseRowId` (id backfill
    * without touching a byte of data); the flag itself rides
    * TBLPROPERTIES. Idempotent. Streams skip the commit (op
    * `rowtracking` — the re-adds are not new data), the change feed
    * ignores it. */
  def enableRowTracking(): Long = retryMetadataCommit { basis =>
    val v = basis.getOrElse(throw new IllegalStateException(
      s"no log table at $path — row tracking needs an existing table"))
    val snap = snapshotAt(v)
    if (snap.properties.get(LogTable.PropRowTracking).contains("true"))
      return v
    require(!hasFieldIds(snap.schema),
      "row tracking on a column-mapped table is not supported — the " +
        "field-id write stamp refuses the materialized id column")
    commitRetry(basis, Seq(info("rowtracking"), SetProperties(
      snap.properties + (LogTable.PropRowTracking -> "true"))) ++
      snap.adds.map(a => Remove(a.path)) ++ snap.adds.map(Add),
      requireHead = Some(basis))
  }

  /** Snapshot read carrying the stable `_row_id` column. The
    * per-file base ids join in BROADCAST (manifest-sized — O(#files)
    * rows, never table-sized); the effective id is
    * `coalesce(materialized, base + row position)`, computed
    * entirely scan-side. */
  def loadWithRowIds(spark: SparkSession,
                     version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    require(rowTrackingEnabled(Some(v)),
      s"row tracking is not enabled at version $v of $path — call " +
        "enableRowTracking() (or create with graft.rowTracking=true)")
    val snap = snapshotAt(v)
    val hidden = hiddenColsOf(snap)
    val out =
      if (snap.adds.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](),
          snap.schema.add(LogTable.RowIdCol, LongType))
      else withEffectiveRowIds(spark, snap, snap.adds)
        .withColumnRenamed(LogTable.RowIdPhysCol, LogTable.RowIdCol)
    if (hidden.isEmpty) out else out.drop(hidden: _*)
  }

  /** The rewrite-source read: snapshot rows with their EFFECTIVE row
    * id under the reserved physical name, ready to stage — every
    * rewrite path (row-level changes, OPTIMIZE, purge) sources from
    * this when tracking is on, so moved rows keep their ids. */
  private def withEffectiveRowIds(spark: SparkSession, snap: Snapshot,
                                  adds: Seq[AddFile],
                                  keepProvenance: Boolean = false)
      : DataFrame = {
    val ext = StructType(snap.schema.fields :+
      StructField(LogTable.RowIdPhysCol, LongType, nullable = true))
    val df = dvAwareRead(spark, ext, snap.partitionCols, adds,
      keepProvenance = true)
    // base ids key on the file NAME (unique by construction —
    // f-<uuid>-<i>); a clone snapshot mixing roots could in theory
    // collide, which the check below refuses rather than mis-ids
    val names = adds.map(a => new File(a.path).getName)
    require(names.distinct.size == names.size,
      s"row-id read at $path: duplicate data-file names across roots " +
        "(cloned snapshot?) — OPTIMIZE to rewrite into this table first")
    import spark.implicits._
    val baseDf = broadcast(adds.map(a => (new File(a.path).getName,
      a.baseRowId.getOrElse(Long.MinValue))).toDF("__rtname", "__rtbase"))
    val joined = df
      .withColumn("__rtname", substring_index(col("__file"), "/", -1))
      .join(baseDf, Seq("__rtname"), "left")
      .withColumn(LogTable.RowIdPhysCol,
        coalesce(col(LogTable.RowIdPhysCol),
          when(col("__rtbase") =!= lit(Long.MinValue),
            col("__rtbase") + col("__idx"))))
      .drop("__rtname", "__rtbase")
    if (keepProvenance) joined else joined.drop("__file", "__idx")
  }

  /** The DataFrame a REWRITE stages from: plain snapshot rows, or —
    * with row tracking on — the same rows plus their effective id
    * materialized under the reserved physical column, so the staged
    * parquet carries every moved row's identity. */
  private def rewriteSource(spark: SparkSession, snap: Snapshot,
                            adds: Seq[AddFile]): DataFrame =
    if (snap.properties.get(LogTable.PropRowTracking).contains("true"))
      withEffectiveRowIds(spark, snap, adds)
    else dvAwareRead(spark, snap.schema, snap.partitionCols, adds,
      keepProvenance = false)

  /** DV-aware provenance read of live files `adds` of version `v`:
    * the user columns (hidden transform columns drop; the write choke
    * point recomputes them), the effective row id under the reserved
    * physical name when the table is tracked, and the scan-time
    * provenance `__file`/`__idx` that keys a row-level change's
    * survivor anti-join. The source of every row-level change: DELETE
    * and UPDATE read their stats-pruned candidates, MERGE all live
    * files (an empty table reads an empty frame of that shape), and
    * [[commitChanges]] the touched files. */
  private[sources] def readAddsWithProvenance(spark: SparkSession,
                                              v: Long, adds: Seq[AddFile])
      : DataFrame = {
    val snap = snapshotAt(v)
    val hidden = hiddenColsOf(snap)
    val tracked =
      snap.properties.get(LogTable.PropRowTracking).contains("true")
    val out =
      if (adds.isEmpty) {
        val base =
          if (tracked) snap.schema.add(LogTable.RowIdPhysCol, LongType)
          else snap.schema
        spark.createDataFrame(new java.util.ArrayList[Row](),
          base.add("__file", StringType).add("__idx", LongType))
      } else if (tracked) withEffectiveRowIds(spark, snap, adds,
        keepProvenance = true)
      else dvAwareRead(spark, snap.schema, snap.partitionCols, adds,
        keepProvenance = true)
    if (hidden.isEmpty) out else out.drop(hidden: _*)
  }

  /** `TIMESTAMP AS OF`: newest version committed at-or-before
    * `tsMillis` (between-commits instants resolve to the snapshot
    * current then; same-millisecond commit ties resolve to the
    * NEWEST version — the snapshot actually current at that
    * instant). */
  def versionAt(tsMillis: Long): Long = {
    val cands = versions.map(v => v -> commitTime(v)).filter(_._2 <= tsMillis)
    if (cands.isEmpty) throw new IllegalArgumentException(
      s"no committed version at or before $tsMillis (earliest commit: " +
        s"${versions.headOption.map(commitTime)})")
    cands.maxBy(c => (c._2, c._1))._1
  }

  /** FIRST committed version at-or-after `tsMillis` — the inclusive
    * "changes since this instant" rule shared by the streaming
    * `startingTimestamp` option and `table_changes`' start boundary
    * (exact under in-commit monotonic timestamps: ts order ≡ version
    * order). Throws when the instant is after the newest commit —
    * Delta's rule; a reader asking for the future should hear it. */
  def versionFrom(tsMillis: Long): Long =
    versions.find(v => commitTime(v) >= tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis ms is after the latest commit " +
          s"(${currentVersion.map(commitTime).getOrElse(-1L)} ms)"))

  // ---------------------------------------------------------------
  // commit path

  /** Hive partition columns recorded in the log (empty =
    * unpartitioned) — see [[partitionCols]]; and the columns under a
    * Bloom-filter file index (Delta's per-column bloom index): every
    * commit writes one `_bloom/<file>.<col>.bloom` sidecar per new
    * data file, and the stats pruner probes them for equality
    * predicates min/max ranges cannot decide. */
  def bloomCols: Seq[String] = currentVersion
    .map(v => snapshotAt(v).bloomCols).getOrElse(Seq.empty)

  /** Active CHECK constraints (name → SQL boolean expression). Every
    * commit that stages data validates them inside its write tasks,
    * beside the file statistics — zero extra scans — and refuses to
    * commit on any violating row (Delta's CHECK constraint
    * semantics: NULL passes, only provably-FALSE rows violate). */
  def checkConstraints: Map[String, String] = currentVersion
    .map(v => snapshotAt(v).constraints).getOrElse(Map.empty)

  /** Generated columns (Delta's `GENERATED ALWAYS AS`): column name
    * → SQL expression over the other columns. Appends that omit the
    * column get it computed; writes that PROVIDE it are validated
    * against the expression inside the in-write stats (a mismatch
    * refuses the commit — Delta's rule); UPDATEs that touch a source
    * column recompute it; and predicates on a source column derive
    * predicates on the generated one for file skipping — which is
    * what makes `PARTITIONED BY (event_date)` with
    * `event_date GENERATED ALWAYS AS (CAST(ts AS DATE))` prune on
    * plain `ts` filters, the Delta/Iceberg daily-partitioning UX. */
  def generatedCols: Map[String, String] = currentVersion
    .map(v => snapshotAt(v).generated).getOrElse(Map.empty)

  /** Shallow CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE src`):
    * seed THIS (empty) table with a metadata-only commit referencing
    * the source snapshot's data files — and deletion-vector sidecars
    * — by ABSOLUTE path. Zero data copies at any table size; the
    * clone then evolves independently (its own appends/deletes/
    * schema changes land in its own log and data dir, and a CoW
    * rewrite of a referenced file writes the rewrite locally while
    * the source file is untouched). Schema, partitioning,
    * constraints, generated columns, retired names, identity specs
    * (with their high-water marks — the clone's allocations start
    * past the source's) and column DEFAULTs copy over;
    * the bloom index does not (sidecars are name-keyed in the
    * SOURCE's `_bloom/` — the clone re-indexes as it rewrites).
    * The standard shallow-clone hazard is Delta's too: a VACUUM on
    * the source can delete files the clone still references. */
  def cloneFrom(source: LogTable, version: Option[Long] = None): Long = {
    ensureLayout()
    require(currentVersion.isEmpty,
      s"clone target at $path already exists")
    val v = version.orElse(source.currentVersion).getOrElse(
      throw new IllegalStateException(
        s"no log table at ${source.path} to clone"))
    val snap = source.snapshotAt(v)
    def abs(rel: String): String =
      if (rel.startsWith("/")) rel else s"${source.path}/$rel"
    val adds = snap.adds.map(a => a.copy(path = abs(a.path),
      dv = a.dv.map(d => d.copy(path = abs(d.path)))))
    // the source's metadata minus its bloom sidecars, properties,
    // refs and protocol, which stay with the source
    commitRetry(None, info("clone") +: (snap.meta.copy(bloomCols = Nil,
      properties = Map.empty, refs = Map.empty, protocol = None).actions ++
      adds.map(Add)))
  }

  /** `ALTER TABLE RENAME COLUMN` as a METADATA-ONLY commit — zero
    * data rewritten at any table size (Delta's column mapping, id
    * mode). Requires the table to have been created with
    * `columnMapping = true`: every data file then carries stable
    * parquet field ids, readers resolve columns BY ID, and a rename
    * is one schema action giving the id a new name — files written
    * before and after the rename read seamlessly, time travel serves
    * each version under ITS names, and parquet
    * pushdown/vectorization are untouched (the id-aware reader is
    * Spark's own). Restrictions (each refused, Delta-style):
    * partition columns (hive dirs are name-keyed), columns
    * referenced by CHECK constraints or generated-column expressions
    * (drop them first), and reusing a renamed-away name (old files'
    * stats still carry it under its retired meaning — the retired
    * set is tracked in the log). Stats recorded under the old name
    * stop pruning for pre-rename files until OPTIMIZE rewrites them
    * — less skipping, never wrong; bloom sidecars are renamed in
    * place. */
  def renameColumn(spark: SparkSession, oldName: String,
                   newName: String): Long = retryMetadataCommit { basis =>
    val v = basis.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(v)
    val s = snap.schema
    require(s.fieldNames.contains(oldName),
      s"no column '$oldName' to rename")
    require(!s.fieldNames.contains(newName),
      s"column '$newName' already exists")
    require(hasFieldIds(s), "RENAME COLUMN needs column mapping — " +
      "create the table with columnMapping = true")
    require(!snap.partitionCols.contains(oldName),
      s"cannot rename partition column '$oldName' (hive directories " +
        "are name-keyed); rewrite the table instead")
    require(!snap.retiredNames.contains(newName),
      s"column name '$newName' was retired by a prior rename and " +
        "cannot be reused")
    (snap.constraints.toSeq.map(c => s"CHECK constraint ${c._1}" -> c._2)
      ++ snap.generated.toSeq.map(g => s"generated column ${g._1}" -> g._2))
      .foreach { case (what, e) =>
        require(!exprRefs(spark, e).contains(oldName),
          s"cannot rename '$oldName': $what references it — drop it first")
      }
    require(!snap.generated.contains(oldName),
      s"cannot rename generated column '$oldName' — drop the " +
        "generation first")
    // identity/default configs are name-keyed in the log: renaming
    // under them would orphan the policy
    require(!snap.identity.contains(oldName),
      s"cannot rename IDENTITY column '$oldName'")
    require(!snap.defaults.contains(oldName),
      s"cannot rename column '$oldName' while it carries a DEFAULT — " +
        "drop the default first")
    // the cluster spec is name-keyed: renaming under it would
    // silently turn write-time clustering off (the sort guard skips
    // missing columns)
    require(!snap.properties.get(LogTable.PropClusterBy).toSeq
      .flatMap(_.split(',')).map(_.trim).contains(oldName),
      s"cannot rename cluster-key column '$oldName' — unset " +
        s"${LogTable.PropClusterBy} first")
    // bloom sidecars are name-keyed on disk: rename them in place
    val newBloom =
      if (!snap.bloomCols.contains(oldName)) None
      else {
        Option(new File(path, "_bloom").listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(s".$oldName.bloom"))
          .foreach { f =>
            val base = f.getName.stripSuffix(s".$oldName.bloom")
            Files.move(f.toPath,
              new File(f.getParentFile, s"$base.$newName.bloom").toPath,
              StandardCopyOption.ATOMIC_MOVE)
          }
        bloomCache.clear()
        Some(snap.bloomCols.map(c => if (c == oldName) newName else c))
      }
    val renamed = StructType(s.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // head-pinned: the full schema/bloom/retired sets were derived
    // from THIS snapshot — an interleaved evolution would be
    // clobbered by a stale write, so conflict and re-derive instead
    commitRetry(Some(v), Seq(info("rename"), SetSchema(renamed),
      SetRetired(snap.retiredNames + oldName)) ++ newBloom.map(SetBloom),
      requireHead = Some(basis))
  }

  /** `ALTER TABLE DROP COLUMN` as a metadata-only commit (Delta's
    * column-mapping drop): the schema action simply stops naming the
    * field — data files keep the bytes, readers never request the id
    * again, and the name retires (reuse refused, same soundness rule
    * as rename). Requires column mapping for the same reason rename
    * does: without ids, a later ADD of a same-named column would
    * resurrect the old bytes. Partition / constraint-referenced /
    * generated columns refuse (drop the dependent object first). */
  def dropColumn(spark: SparkSession, name: String): Long =
      retryMetadataCommit { basis =>
    val v = basis.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(v)
    val s = snap.schema
    require(s.fieldNames.contains(name), s"no column '$name' to drop")
    require(s.fields.length > 1, "cannot drop the only column")
    require(hasFieldIds(s), "DROP COLUMN needs column mapping — " +
      "create the table with columnMapping = true")
    require(!snap.partitionCols.contains(name),
      s"cannot drop partition column '$name'")
    (snap.constraints.toSeq.map(c => s"CHECK constraint ${c._1}" -> c._2)
      ++ snap.generated.toSeq.map(g => s"generated column ${g._1}" -> g._2))
      .foreach { case (what, e) =>
        require(!exprRefs(spark, e).contains(name),
          s"cannot drop '$name': $what references it — drop it first")
      }
    require(!snap.properties.get(LogTable.PropClusterBy).toSeq
      .flatMap(_.split(',')).map(_.trim).contains(name),
      s"cannot drop cluster-key column '$name' — unset " +
        s"${LogTable.PropClusterBy} first")
    // the dropped field's parquet id must NEVER be reassigned (a
    // reader resolving by id would serve the dropped bytes under the
    // new name) — record the pre-drop max id as a head-pinned
    // property so later ADD COLUMNS / mergeSchema skip past it
    val preDropMaxId = s.fields.flatMap(f =>
      if (f.metadata.contains(LogTable.FieldIdKey))
        Some(f.metadata.getLong(LogTable.FieldIdKey))
      else None).foldLeft(0L)(math.max)
    val newHw = math.max(preDropMaxId,
      snap.properties.get(LogTable.PropFieldIdHighWater)
        .map(_.toLong).getOrElse(0L))
    val newGenerated =
      if (snap.generated.contains(name)) Some(snap.generated - name)
      else None
    val newBloom =
      if (snap.bloomCols.contains(name))
        Some(snap.bloomCols.filterNot(_ == name))
      else None
    val remaining = StructType(s.fields.filterNot(_.name == name))
    // a dropped column sheds its identity/default policy with it
    val shedIdentity =
      if (snap.identity.contains(name)) Some(snap.identity - name) else None
    val shedDefaults =
      if (snap.defaults.contains(name)) Some(snap.defaults - name) else None
    commitRetry(Some(v), Seq(info("drop"), SetSchema(remaining),
      SetRetired(snap.retiredNames + name), SetProperties(snap.properties +
        (LogTable.PropFieldIdHighWater -> newHw.toString))) ++
      shedIdentity.map(SetIdentity) ++ shedDefaults.map(SetDefaults) ++
      newBloom.map(SetBloom) ++ newGenerated.map(SetGenerated),
      requireHead = Some(basis))
  }

  /** `ALTER TABLE ALTER COLUMN ... TYPE` — TYPE WIDENING as a
    * METADATA-ONLY commit (Delta's typeWidening table feature): the
    * schema action re-declares the column wider and existing data
    * files are served THROUGH the widened read schema — Spark 4's
    * parquet readers (vectorized and row-based both, probed in
    * LogWidenSpec) upcast int32→int64, int→double, float→double and
    * decimal precision/scale growth at scan time, so zero bytes
    * rewrite at any table size. Writes after the widen accept both
    * widths (the write choke point conforms frames to the table
    * type); time travel serves each version under ITS type and
    * RESTORE rolls the type back with the schema.
    *
    * The allowed matrix is the LOSSLESS one: integral chains
    * (byte→short→int→long), {byte,short,int}→double, float→double,
    * integral→decimal with enough integer digits, and decimal
    * growth that keeps scale and integer headroom. Long→double is
    * refused (lossy above 2⁵³), and date→timestamp is refused on
    * stats-soundness grounds: file pruning stores date bounds as
    * DAYS and would compare them against MICROS literals — a wrong
    * skip, not just a missed one. Pruning stays sound for the
    * allowed matrix because stats are stored width-agnostic
    * (long/double) and the prune comparator strips numeric widening
    * casts (see [[provablyNoMatch]]).
    *
    * Refused per-column: partition columns (hive dir strings are
    * re-parsed under the declared type across epochs — layout is
    * name- AND type-keyed), generated columns and generation/
    * constraint SOURCES (their expressions re-type under the wider
    * input — drop the dependent object first), identity columns
    * (allocation arithmetic is long), and bloom-indexed columns
    * (the sidecar hashed the NARROW byte width; a wide-typed probe
    * against it would produce unsound "definitely absent" skips —
    * drop the index first). */
  def widenColumnType(spark: SparkSession, name: String,
                      newType: DataType): Long = retryMetadataCommit {
      basis =>
    val v = basis.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val widened = validateWiden(spark, name, newType, Some(v))
    commitRetry(Some(v), Seq(info("widen"), SetSchema(widened)),
      requireHead = Some(basis))
  }

  /** [[widenColumnType]]'s preconditions, checked against the
    * snapshot at `version` (default: current) WITHOUT committing —
    * returns the widened schema. [[GraftTableCatalog.alterTable]]
    * pre-validates every change of a mixed ALTER through this before
    * applying the first, so a change set that fails late cannot
    * leave the table half-altered (the commit itself re-validates
    * under its pinned basis). */
  private[sources] def validateWiden(spark: SparkSession, name: String,
                                     newType: DataType,
                                     version: Option[Long] = None)
      : StructType = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(v)
    val s = snap.schema
    val field = s.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column '$name' to widen"))
    require(LogTable.widens(field.dataType, newType),
      s"cannot change column '$name' from ${field.dataType.simpleString} " +
        s"to ${newType.simpleString}: not a lossless widening")
    require(!snap.partitionCols.contains(name),
      s"cannot widen partition column '$name' (hive layout is " +
        "type-keyed); rewrite the table instead")
    require(!snap.generated.contains(name),
      s"cannot widen generated column '$name' — drop the generation " +
        "first")
    (snap.constraints.toSeq.map(c => s"CHECK constraint ${c._1}" -> c._2)
      ++ snap.generated.toSeq.map(g => s"generated column ${g._1}" -> g._2))
      .foreach { case (what, e) =>
        require(!exprRefs(spark, e).contains(name),
          s"cannot widen '$name': $what references it — drop it first")
      }
    require(!snap.identity.contains(name),
      s"cannot widen IDENTITY column '$name'")
    require(!snap.bloomCols.contains(name),
      s"cannot widen bloom-indexed column '$name' — the sidecar " +
        "hashed the narrow width; drop the bloom index first")
    StructType(s.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
  }

  /** `ALTER TABLE ADD COLUMNS` as a METADATA-ONLY commit (Delta
    * semantics): the schema action appends the new fields; existing
    * files never carry them and read NULL through the explicit read
    * schema — zero data rewritten at any table size. New columns are
    * forced nullable for exactly that reason. Column-mapped tables
    * assign the next free field ids (same rule as a mergeSchema
    * append); retired names refuse (old files' stats still carry
    * them under their retired meaning). This is also the hook
    * Spark's own MERGE schema evolution calls: `MERGE WITH SCHEMA
    * EVOLUTION INTO cat.t` resolves its source-only columns to
    * `TableChange.AddColumn` changes and applies them through
    * [[GraftTableCatalog.alterTable]] before planning the merge. */
  def addColumns(cols: Seq[StructField]): Long = retryMetadataCommit {
      basis =>
    val v = basis.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val added = validateAddColumns(cols, Some(v))
    val s = snapshotAt(v).schema
    commitRetry(Some(v),
      Seq(info("add"), SetSchema(StructType(s.fields ++ added))),
      requireHead = Some(basis))
  }

  /** [[addColumns]]'s preconditions against the snapshot at
    * `version` (default: current) WITHOUT committing — returns the
    * fields as they would append (nullable, field ids assigned on
    * mapped tables). The mixed-ALTER pre-validation hook, like
    * [[validateWiden]]. */
  private[sources] def validateAddColumns(cols: Seq[StructField],
                                          version: Option[Long] = None)
      : Seq[StructField] = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(v)
    val s = snap.schema
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    cols.foreach { f =>
      require(!s.fieldNames.contains(f.name),
        s"column '${f.name}' already exists")
      require(!snap.retiredNames.contains(f.name),
        s"column name '${f.name}' was retired by a prior rename/drop " +
          "and cannot be reused")
      Seq(LogTable.RowIdPhysCol, LogTable.RowIdCol).foreach(r =>
        require(f.name != r, s"column name '$r' is reserved"))
    }
    require(cols.map(_.name).distinct.size == cols.size,
      "duplicate column names in ADD COLUMNS")
    // never below the drop-recorded high water: a reused field id
    // would resurrect a dropped column's bytes (readers resolve by id)
    val nextId = math.max(
      s.fields.flatMap(f =>
        if (f.metadata.contains(LogTable.FieldIdKey))
          Some(f.metadata.getLong(LogTable.FieldIdKey))
        else None).foldLeft(0L)(math.max),
      snap.properties.get(LogTable.PropFieldIdHighWater)
        .map(_.toLong).getOrElse(0L)) + 1L
    cols.zipWithIndex.map { case (f, i) =>
      val base = f.copy(nullable = true)
      if (!hasFieldIds(s)) base
      else base.copy(metadata = new MetadataBuilder()
        .withMetadata(base.metadata)
        .putLong(LogTable.FieldIdKey, nextId + i).build())
    }
  }

  /** `ALTER TABLE ADD CONSTRAINT` (Delta semantics): validates the
    * EXISTING table in one scan first — refusing if any current row
    * violates — then records the constraint in a metadata-only
    * commit; every later write enforces it for free inside its
    * write tasks, beside the file statistics. */
  def addCheckConstraint(spark: SparkSession, name: String,
                         sqlExpr: String): Long =
    // validate-then-commit must be atomic w.r.t. other writers: a
    // violating append landing BETWEEN the scan and the constraint
    // commit would leave the table violating its own active
    // constraint — the commit pins the validated head, any
    // interleaving re-validates.
    retryMetadataCommit { basis =>
      // a constraint action on a NONEXISTENT table would commit a
      // schema-less version 0, bricking the path for both load()
      // and create() — a typo'd path must fail, not half-create
      if (basis.isEmpty) throw new IllegalStateException(
        s"no log table at $path — CHECK constraints need an " +
          "existing table")
      val cur = basis.map(v => snapshotAt(v).constraints)
        .getOrElse(Map.empty[String, String])
      require(!cur.contains(name), s"constraint '$name' already exists")
      if (basis.exists(v => snapshotAt(v).adds.nonEmpty)) {
        val bad = load(spark, basis)
          .filter(coalesce(!expr(sqlExpr), lit(false))).count()
        require(bad == 0L, s"cannot add CHECK constraint '$name' " +
          s"($sqlExpr): $bad existing row(s) violate it")
      }
      commitRetry(basis,
        Seq(info("constraint"), SetConstraints(cur + (name -> sqlExpr))),
        requireHead = Some(basis))
    }

  /** `ALTER TABLE DROP CONSTRAINT` — metadata-only. Head-pinned
    * like every full-map metadata write: the constraint set is
    * latest-set-wins, so committing a map derived from a stale
    * snapshot would silently erase a constraint a concurrent writer
    * just added. */
  def dropCheckConstraint(name: String): Long =
    retryMetadataCommit { basis =>
      val cur = basis.map(v => snapshotAt(v).constraints)
        .getOrElse(Map.empty[String, String])
      require(cur.contains(name), s"no constraint '$name' to drop")
      commitRetry(basis, Seq(info("constraint"), SetConstraints(cur - name)),
        requireHead = Some(basis))
    }

  /** `GENERATED ALWAYS AS IDENTITY` columns of the table with their
    * current high-water marks (empty = none). */
  def identityColumns: Map[String, IdentitySpec] = currentVersion
    .map(v => snapshotAt(v).identity).getOrElse(Map.empty)

  /** Column DEFAULT expressions (SQL text), applied when an append
    * omits the column (empty = none). */
  def columnDefaults: Map[String, String] = currentVersion
    .map(v => snapshotAt(v).defaults).getOrElse(Map.empty)

  /** `ALTER TABLE ... ALTER COLUMN c SET DEFAULT expr` —
    * metadata-only; applies to FUTURE appends that omit the column
    * (existing rows are untouched, SQL-standard DEFAULT
    * semantics). Head-pinned like the other full-map metadata
    * writes. */
  def setColumnDefault(name: String, sqlExpr: String): Long =
    retryMetadataCommit { basis =>
      if (basis.isEmpty) throw new IllegalStateException(
        s"no log table at $path — column DEFAULTs need an existing table")
      val snap = snapshotAt(basis.get)
      require(snap.schema.fieldNames.contains(name),
        s"DEFAULT names unknown column '$name'")
      require(!snap.identity.contains(name),
        s"column '$name' is GENERATED ALWAYS AS IDENTITY — it cannot " +
          "also carry a DEFAULT")
      require(!snap.generated.contains(name),
        s"column '$name' is GENERATED ALWAYS AS — it cannot also " +
          "carry a DEFAULT")
      commitRetry(basis,
        Seq(info("default"), SetDefaults(snap.defaults + (name -> sqlExpr))),
        requireHead = Some(basis))
    }

  /** Free-form table properties (Delta's TBLPROPERTIES): an
    * arbitrary string map in the log — governance tags, retention
    * knobs, and the materialized-view definitions
    * ([[MaterializedAgg]]) live here (empty = none). */
  def tableProperties: Map[String, String] = currentVersion
    .map(v => snapshotAt(v).properties).getOrElse(Map.empty)

  /** Force a checkpoint at the current version — the maintenance
    * verb behind `CALL g.checkpoint('t')`: bounds every later
    * reader's commit-tail replay without waiting for the interval
    * cadence. Idempotent (an already-checkpointed head is a no-op),
    * and NOT a commit — the log's version does not move. Returns
    * the checkpointed version. */
  def checkpointNow(): Long = {
    val v = currentVersion.getOrElse(throw new IllegalStateException(
      s"no log table at $path"))
    writeCheckpoint(v)
    v
  }

  /** The property map current at `version` — the version-pinned twin
    * of [[tableProperties]] (the Delta export reads the field-id
    * high-water from the snapshot it exports, not today's). */
  private[sources] def constraintsAt(version: Long): Map[String, String] =
    snapshotAt(version).constraints

  private[sources] def propertiesAt(version: Long): Map[String, String] =
    snapshotAt(version).properties

  /** `ALTER TABLE ... SET TBLPROPERTIES (k = v, ...)` — metadata-only
    * commit of the merged full map (existing keys not named keep
    * their values), head-pinned like the other full-map metadata
    * writes. Refuses on a nonexistent table (a typo'd path must not
    * brick the directory with a schema-less commit). */
  def setTableProperties(props: Map[String, String]): Long =
    retryMetadataCommit { basis =>
      if (basis.isEmpty) throw new IllegalStateException(
        s"no log table at $path — TBLPROPERTIES need an existing table")
      val cur = snapshotAt(basis.get).properties
      commitRetry(basis, Seq(info("tblproperties"), SetProperties(cur ++ props)),
        requireHead = Some(basis))
    }

  /** `ALTER TABLE ... UNSET TBLPROPERTIES (k, ...)` — absent keys
    * are ignored (SQL's IF EXISTS posture). */
  def unsetTableProperties(keys: Seq[String]): Long =
    retryMetadataCommit { basis =>
      if (basis.isEmpty) throw new IllegalStateException(
        s"no log table at $path — TBLPROPERTIES need an existing table")
      val cur = snapshotAt(basis.get).properties
      commitRetry(basis, Seq(info("tblproperties"), SetProperties(cur -- keys)),
        requireHead = Some(basis))
    }

  // ---------------------------------------------------------------
  // ANALYZE — table & column statistics (Delta's ANALYZE TABLE /
  // Iceberg's compute_table_stats). Results ride TBLPROPERTIES via
  // the existing metadata-only `tblproperties` commit, so replay,
  // checkpointing, stream-skip and concurrency need NOTHING new.

  /** `ANALYZE TABLE` — ONE distributed aggregation pass over the
    * logical current snapshot (deletion vectors subtracted)
    * computing exact `count(*)`, and per eligible column: exact
    * NDV, null count, min/max, and string length stats. The result
    * is committed to TBLPROPERTIES (`graft.stats.*`, metadata-only)
    * where [[columnStatistics]] picks it up and
    * [[GraftReadSubstitution]] hands it to the cost-based planner.
    * Cost at 100 TB: one scan + the multi-distinct expand — run it
    * like Delta runs ANALYZE, on a schedule, not per query; the
    * MANIFEST stats ([[manifestStatistics]]) stay
    * free and always-current for the row-count/bytes tier. */
  def analyze(spark: SparkSession): TableStats = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val df = load(spark, Some(v))
    val eligible = userSchemaAt(v).fields.toSeq.filter(f => f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case _ => true
    })
    val aggs: Seq[Column] = count(lit(1L)).as("__rows") +:
      eligible.zipWithIndex.flatMap { case (f, i) =>
        val c = col(s"`${f.name}`")
        val core = Seq(
          count_distinct(c).as(s"__ndv_$i"),
          count(when(c.isNull, lit(1))).as(s"__nulls_$i"),
          min(c).cast("string").as(s"__min_$i"),
          max(c).cast("string").as(s"__max_$i"))
        val len = f.dataType match {
          case StringType => Seq(
            ceil(avg(length(c))).cast("long").as(s"__avglen_$i"),
            max(length(c)).cast("long").as(s"__maxlen_$i"))
          case _ => Seq(lit(null).cast("long").as(s"__avglen_$i"),
            lit(null).cast("long").as(s"__maxlen_$i"))
        }
        // EQUI-HEIGHT histogram edges for numeric columns — one
        // approx-percentile sketch riding the SAME pass (GK sketch,
        // the approx_percentiles machinery): buckets+1 edges, each
        // bucket ~1/buckets of the non-null rows, so a skewed
        // predicate estimates from where the rows actually are
        val numeric = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               FloatType | DoubleType | _: DecimalType => true
          case _ => false
        }
        val hist =
          if (!numeric) Seq(lit(null).cast("array<double>")
            .as(s"__hist_$i"))
          else Seq(percentile_approx(c.cast("double"),
            array((0 to LogTable.HistogramBuckets).map(j =>
              lit(j.toDouble / LogTable.HistogramBuckets)): _*),
            lit(10000)).as(s"__hist_$i"))
        core ++ len ++ hist
      }
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    def optLong(name: String): Option[Long] =
      Option(r.getAs[Any](name)).map(_.asInstanceOf[Long])
    val cols = eligible.zipWithIndex.map { case (f, i) =>
      f.name -> AnalyzedCol(r.getAs[Long](s"__ndv_$i"),
        r.getAs[Long](s"__nulls_$i"),
        Option(r.getAs[String](s"__min_$i")),
        Option(r.getAs[String](s"__max_$i")),
        optLong(s"__avglen_$i"), optLong(s"__maxlen_$i"),
        Option(r.getAs[scala.collection.Seq[Double]](s"__hist_$i"))
          .map(_.toVector))
    }.toMap
    val stats = TableStats(v, r.getAs[Long]("__rows"), cols)
    setTableProperties(Map(
      LogTable.PropStatsVersion -> v.toString,
      LogTable.PropStatsRows -> stats.rows.toString,
      LogTable.PropStatsCols -> LogCodec.encodeAnalyzedCols(cols)))
    stats
  }

  /** The last committed ANALYZE result, if any — parsed back from
    * TBLPROPERTIES. `analyzedVersion` tells the consumer how stale
    * it is (NDV drifts with appends; the planner treats it as the
    * estimate it is, like every CBO). */
  def columnStatistics: Option[TableStats] = {
    val props = tableProperties
    props.get(LogTable.PropStatsCols).map { json =>
      val cols = LogCodec.decodeAnalyzedCols(json)
      TableStats(
        props.get(LogTable.PropStatsVersion).map(_.toLong).getOrElse(-1L),
        props.get(LogTable.PropStatsRows).map(_.toLong).getOrElse(-1L), cols)
    }
  }

  /** Planner statistics from the MANIFEST alone — no data scan, no
    * Spark job, O(#files) driver work: exact logical row count
    * (physical minus deletion vectors), logical bytes (per-file
    * bytes scaled by the file's live fraction), and per-column
    * (min, max, nullCount) folded from the per-file commit-time
    * stats. A column's bound survives the fold only while every
    * contributing file either carries it or is all-null in that
    * column (a file with DROPPED bounds poisons the bound — a
    * truncated extremum would be unsound); null counts are summed
    * (with DVs an upper bound — vectored rows might have been the
    * nulls). This is what keeps broadcast planning exact on tables
    * whose snapshots the plain parquet scan cannot serve (deletion
    * vectors, hidden partitioning, mixed layouts):
    * [[GraftReadSubstitution]] attaches THESE row counts to the
    * substituted plan's parquet leaves. */
  def manifestStatistics(version: Option[Long] = None)
      : (Long, Long, Map[String, ColStats]) = {
    val adds = liveAdds(version)
    val rows = adds.map(_.logicalRows).sum
    val bytes = adds.map { a =>
      if (a.rows <= 0) a.bytes
      else math.ceil(a.bytes.toDouble * a.logicalRows / a.rows).toLong
    }.sum
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long)     => x < y
      case (x: Double, y: Double) => java.lang.Double.compare(x, y) < 0
      case (x: String, y: String) => LogTable.utf8Compare(x, y) < 0
      case _                      => false
    }
    val names = adds.flatMap(_.stats.keys).distinct
    val folded = names.flatMap { n =>
      val per = adds.map(a => (a, a.stats.get(n)))
      val nulls = per.map { case (a, st) =>
        st.map(_.nulls).getOrElse(a.rows) }.sum
      // bound-bearing files; all-null files contribute no bound but
      // don't poison it, bound-dropped files do
      val bounds = per.flatMap {
        case (_, Some(st)) if st.min.isDefined && st.max.isDefined =>
          Some(Some((st.min.get, st.max.get)))
        case (a, Some(st)) if st.nulls == a.rows => None
        case (a, _) if a.rows == 0 => None
        case _ => Some(None) // poisoned
      }
      if (bounds.contains(None))
        Some(n -> ColStats(None, None, nulls))
      else {
        val bs = bounds.flatten
        if (bs.isEmpty) Some(n -> ColStats(None, None, nulls))
        else Some(n -> ColStats(
          Some(bs.map(_._1).reduce((a, b) => if (lt(b, a)) b else a)),
          Some(bs.map(_._2).reduce((a, b) => if (lt(a, b)) b else a)),
          nulls))
      }
    }.toMap
    (rows, bytes, folded)
  }

  /** Iceberg-style PARTITION EVOLUTION: change the hive partition
    * layout for FUTURE writes with one metadata-only commit — zero
    * data rewritten at any table size. Existing files keep their
    * old layout (their partition values stay readable from the
    * dirs they were written under); new appends/rewrites stage
    * under the new layout; the snapshot read groups files per
    * layout signature and unions the scans; `OPTIMIZE` migrates
    * old-layout files as a side effect of rewriting them. Pass an
    * empty list to unpartition. Partition columns normalize to the
    * END of the schema (same rule as [[create]] — the
    * hive-discovery scan appends them after the data columns); on
    * column-mapped tables field ids make the reorder
    * resolution-neutral. */
  def setPartitionColumns(cols: Seq[String]): Long =
    retryMetadataCommit { basis =>
      if (basis.isEmpty) throw new IllegalStateException(
        s"no log table at $path — partition evolution needs an " +
          "existing table")
      val snap = snapshotAt(basis.get)
      val userStruct = StructType(
        snap.schema.fields.filterNot(f => snap.transforms.contains(f.name)))
      val parsed = cols.map(p => p -> PartitionTransforms.parse(p))
      val transforms = parsed.collect { case (_, Some(t)) => t }
      val resolved = parsed.map { case (p, ot) =>
        ot.map(_.hiddenCol).getOrElse(p) }
      require(resolved.distinct == resolved,
        s"duplicate partition columns in (${cols.mkString(", ")})")
      parsed.foreach {
        case (p, None) =>
          require(userStruct.fieldNames.contains(p),
            s"PARTITIONED BY names unknown column '$p'")
          require(!snap.identity.contains(p),
            s"IDENTITY column '$p' cannot become a partition column")
        case _ => ()
      }
      require(resolved != snap.partitionCols,
        s"table is already partitioned by (${cols.mkString(", ")})")
      // transforms already active under the SAME spec reuse their
      // hidden column (its files and stats stay valid); new ones
      // synthesize a fresh hidden generated column; hidden columns
      // of transforms LEAVING the spec drop from the schema —
      // metadata-only, their data-file copies simply go unread
      val newTs = transforms.filterNot(t =>
        snap.transforms.get(t.hiddenCol).contains(t.spec))
      lazy val spark = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).getOrElse(
          throw new IllegalStateException(
            "partition transforms need an active SparkSession to " +
              "resolve the hidden column types"))
      val nextId = snap.schema.fields.flatMap(f =>
        if (f.metadata.contains(LogTable.FieldIdKey))
          Some(f.metadata.getLong(LogTable.FieldIdKey))
        else None).foldLeft(0L)(math.max) + 1L
      val hiddenAdds = newTs.zipWithIndex.map { case (t, i) =>
        val src = userStruct.fields.find(_.name == t.source).getOrElse(
          throw new IllegalArgumentException(
            s"partition transform '${t.spec}' names unknown column " +
              s"'${t.source}'"))
        require(!userStruct.fieldNames.contains(t.hiddenCol) &&
            !snap.generated.contains(t.hiddenCol),
          s"transform '${t.spec}' would synthesize hidden column " +
            s"'${t.hiddenCol}', which already exists")
        val e = t.exprFor(src)
        val base = StructField(t.hiddenCol, t.typeFor(src))
        val f =
          if (!hasFieldIds(snap.schema)) base
          else base.copy(metadata = new MetadataBuilder()
            .putLong(LogTable.FieldIdKey, nextId + i).build())
        (f, e)
      }
      val keepHidden = transforms.map(_.hiddenCol).toSet
      val droppedHidden = snap.transforms.keySet -- keepHidden
      val newTransforms = transforms.map(t => t.hiddenCol -> t.spec).toMap
      val newGenerated = (snap.generated -- droppedHidden) ++
        hiddenAdds.map { case (f, e) => f.name -> e }
      val fields0 = snap.schema.fields
        .filterNot(f => droppedHidden.contains(f.name)) ++
        hiddenAdds.map(_._1)
      val ordered =
        if (resolved.isEmpty) StructType(fields0)
        else StructType(fields0.filterNot(f => resolved.contains(f.name)) ++
          resolved.map(c => fields0.find(_.name == c).get))
      // a zone-sensitive hidden expression on an unpinned table pins
      // the current session zone, like a first generated write would
      val tzPin =
        if (hiddenAdds.isEmpty || snap.tz.isDefined) None
        else if (hiddenAdds.exists { case (_, e) =>
          tzSensitive(spark, e, ordered) })
          Some(spark.sessionState.conf.sessionLocalTimeZone)
        else None
      commitRetry(basis, Seq(info("partition"), SetPartition(resolved)) ++
        Option.when(ordered != snap.schema)(SetSchema(ordered)) ++
        Option.when(newGenerated != snap.generated)(SetGenerated(newGenerated)) ++
        Option.when(newTransforms != snap.transforms)(
          SetTransforms(newTransforms)) ++ tzPin.map(SetTz),
        requireHead = Some(basis))
    }

  /** `ALTER TABLE ... ALTER COLUMN c DROP DEFAULT`. */
  def dropColumnDefault(name: String): Long =
    retryMetadataCommit { basis =>
      val cur = basis.map(v => snapshotAt(v).defaults)
        .getOrElse(Map.empty[String, String])
      require(cur.contains(name), s"no DEFAULT on column '$name' to drop")
      commitRetry(basis, Seq(info("default"), SetDefaults(cur - name)),
        requireHead = Some(basis))
    }

  /** Re-derive-and-retry loop for metadata commits that write a
    * FULL replacement set (constraints, schema, retired names): the
    * commit pins the head it was derived from; on any interleaving
    * the derivation re-runs against the new head. */
  private def retryMetadataCommit(op: Option[Long] => Long): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      try return op(currentVersion)
      catch {
        case _: java.util.ConcurrentModificationException
            if attempts < 10 => // head moved — re-derive
      }
    }
    -1L // unreachable
  }

  /** Seed an empty table with just a schema (SQL `CREATE TABLE`),
    * optionally hive-partitioned by `partitionBy` (SQL
    * `PARTITIONED BY` — fixed for the table's lifetime, as in
    * Delta), optionally bloom-indexed on `bloomFilterBy` — the
    * point-lookup skip lever for high-cardinality columns whose
    * min/max ranges overlap across files (Delta's bloom filter
    * index): a `DELETE WHERE id = x` on a table whose ids arrive
    * unsorted skips nothing by range but nearly everything by
    * bloom. */
  /** Resolve `partitionBy` entries that are TRANSFORMS into their
    * synthesized hidden generated columns. Returns (schema with the
    * hidden columns appended, resolved partition column names, the
    * generated map with the hidden expressions added, hidden column
    * → canonical spec). Bare column entries pass through untouched,
    * so identity-partitioned tables take the zero-cost path. */
  private def resolveTransforms(base: StructType, partitionBy: Seq[String],
                                generated: Map[String, String])
      : (StructType, Seq[String], Map[String, String],
         Map[String, String]) = {
    val parsed = partitionBy.map(p => p -> PartitionTransforms.parse(p))
    val transforms = parsed.collect { case (_, Some(t)) => t }
    if (transforms.isEmpty)
      return (base, partitionBy, generated, Map.empty)
    require(transforms.map(_.hiddenCol).distinct.size == transforms.size,
      s"duplicate partition transforms in (${partitionBy.mkString(", ")})")
    val hiddenFields = transforms.map { t =>
      val src = base.fields.find(_.name == t.source).getOrElse(
        throw new IllegalArgumentException(
          s"partition transform '${t.spec}' names unknown column " +
            s"'${t.source}'"))
      require(!base.fieldNames.contains(t.hiddenCol) &&
          !generated.contains(t.hiddenCol),
        s"transform '${t.spec}' would synthesize hidden column " +
          s"'${t.hiddenCol}', which already exists")
      (StructField(t.hiddenCol, t.typeFor(src)), t.exprFor(src))
    }
    (StructType(base.fields ++ hiddenFields.map(_._1)),
      parsed.map { case (p, ot) => ot.map(_.hiddenCol).getOrElse(p) },
      generated ++ transforms.zip(hiddenFields).map { case (t, (f, e)) =>
        f.name -> e },
      transforms.map(t => t.hiddenCol -> t.spec).toMap)
  }

  def create(tableSchema: StructType,
             partitionBy: Seq[String] = Seq.empty,
             bloomFilterBy: Seq[String] = Seq.empty,
             checkConstraints: Map[String, String] = Map.empty,
             generatedAlwaysAs: Map[String, String] = Map.empty,
             columnMapping: Boolean = false,
             identityColumns: Map[String, IdentitySpec] = Map.empty,
             columnDefaults: Map[String, String] = Map.empty,
             properties: Map[String, String] = Map.empty): Long = {
    ensureLayout()
    require(currentVersion.isEmpty, s"log table at $path already exists")
    // hidden partitioning: a `partitionBy` entry may be a TRANSFORM
    // (`days(ts)`, `bucket(16, id)`, `truncate(4, seg)`) — resolve
    // each to a synthesized hidden generated column appended to the
    // schema; the rest of the machinery then sees a plain
    // generated-column-partitioned table, and the read surfaces
    // hide the synthesized columns
    val (tableSchema0, partitionBy0, generatedAlwaysAs0, transformsMap) =
      resolveTransforms(tableSchema, partitionBy, generatedAlwaysAs)
    partitionBy0.foreach(c => require(tableSchema0.fieldNames.contains(c),
      s"PARTITIONED BY names unknown column '$c'"))
    Seq(LogTable.RowIdPhysCol, LogTable.RowIdCol).foreach(r =>
      require(!tableSchema0.fieldNames.contains(r),
        s"column name '$r' is reserved for row tracking"))
    bloomFilterBy.foreach(c => require(tableSchema.fieldNames.contains(c),
      s"bloom index names unknown column '$c'"))
    generatedAlwaysAs0.keys.foreach(c =>
      require(tableSchema0.fieldNames.contains(c),
        s"GENERATED ALWAYS AS names unknown column '$c'"))
    identityColumns.foreach { case (c, spec) =>
      val f = tableSchema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"IDENTITY names unknown column '$c'"))
      require(f.dataType == org.apache.spark.sql.types.LongType,
        s"IDENTITY column '$c' must be BIGINT, got ${f.dataType.sql}")
      require(spec.step != 0L, s"IDENTITY column '$c' needs a nonzero step")
      require(spec.highWater.isEmpty,
        s"IDENTITY column '$c' cannot be created with a high-water mark")
      // an identity column may be a transform SOURCE (bucket over
      // the surrogate key is the classic layout) but not itself a
      // generated or bare partition column
      require(!generatedAlwaysAs0.contains(c) && !partitionBy0.contains(c),
        s"IDENTITY column '$c' cannot also be generated or a " +
          "partition column")
    }
    columnDefaults.keys.foreach(c =>
      require(tableSchema.fieldNames.contains(c),
        s"DEFAULT names unknown column '$c'"))
    // partition columns normalize to the END of the schema: the
    // hive-discovery scan appends them after the data columns, and a
    // declared order disagreeing with the scan's makes the analyzer
    // wedge a Project under row-level commands, which Spark's v2
    // strategy rejects
    val ordered0 =
      if (partitionBy0.isEmpty) tableSchema0
      else StructType(
        tableSchema0.fields.filterNot(f => partitionBy0.contains(f.name)) ++
          partitionBy0.map(c => tableSchema0.fields.find(_.name == c).get))
    // column mapping (Delta's id mode): every field gets a stable
    // parquet field id, carried in the schema json and written into
    // every data file — [[renameColumn]] then only changes the
    // schema's NAME for that id, and readers keep resolving by id
    val ordered =
      if (!columnMapping) ordered0
      else StructType(ordered0.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(LogTable.FieldIdKey, i + 1L).build())
      })
    // zone-SENSITIVE generated expressions (instant → date) shift
    // with the session timezone — pin the creation-time zone in the
    // log so writes and predicate derivation can refuse/decline under
    // a different zone instead of silently computing shifted values
    // or unsound skips; zone-independent templates (dates, strings,
    // NTZ) need no pin
    val spk = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val tz =
      if (spk.isEmpty || !generatedAlwaysAs0.exists { case (_, e) =>
          tzSensitive(spk.get, e, ordered0) }) None
      else Some(spk.get.sessionState.conf.sessionLocalTimeZone)
    commitRetry(None, info("create") +: TableMeta(Some(ordered),
      partitionBy0, bloomFilterBy, checkConstraints, generatedAlwaysAs0,
      tz = tz, identity = identityColumns, defaults = columnDefaults,
      properties = properties, transforms = transformsMap).actions)
  }

  /** Zone equality up to aliasing: `UTC`, `Etc/UTC` and `+00:00`
    * name the same rules. */
  private def sameZone(a: String, b: String): Boolean =
    try java.time.ZoneId.of(a).normalized() ==
      java.time.ZoneId.of(b).normalized()
    catch { case NonFatal(_) => a == b }

  /** A generated template is timezone-SENSITIVE iff it reads an
    * INSTANT (`TimestampType`) column — casting an instant to a
    * date/trunc/year shifts with the session zone. Dates, NTZ
    * timestamps, strings and numerics evaluate the same under any
    * zone, so their tables need no zone pinning or write refusal. */
  private def tzSensitive(spark: SparkSession, e: String,
                          s: StructType): Boolean =
    exprRefs(spark, e).exists(n =>
      s.fields.find(_.name == n).exists(_.dataType == TimestampType))

  /** Columns worth stats: fixed-width orderable types plus strings.
    * Decimals are excluded — their double-rounded bounds would not be
    * conservative. Capped at `maxStatsCols` (Delta's
    * dataSkippingNumIndexedCols). */
  private def statCols(s: StructType): Seq[StructField] =
    s.fields.toSeq.filter(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }).take(maxStatsCols)

  /** Comparable-form projection for stats/skipping: one total order
    * per column family (longs / doubles / strings), shared by the
    * in-write stats and the predicate-literal side. */
  private def statProjection(f: StructField): Column = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      col(f.name).cast("long")
    case FloatType | DoubleType => col(f.name).cast("double")
    case StringType             => col(f.name)
    case BooleanType            => col(f.name).cast("long")
    case DateType               => expr(s"unix_date(`${f.name}`)")
    case TimestampType          => unix_micros(col(f.name))
    // NOT unix_micros(cast(.. as timestamp)): that round-trips
    // through the session timezone, shifting the bounds by the zone
    // offset while predicate literals stay raw — unsound skipping
    // under any non-UTC session. NtzMicros reads the raw micros.
    case TimestampNTZType => graft.plans.TimeExpressions.ntzMicros(col(f.name))
    case other => throw new IllegalStateException(s"no projection: $other")
  }

  /** Max string-bound length kept in the log. A longer min is
    * truncated (still a sound lower bound); a longer max is dropped
    * (a truncated prefix is NOT an upper bound). */
  private val MaxStringBound = 256

  /** The in-write statistics of one staged write (see
    * [[StagedStatsTracker]]), bound to the written attributes: per
    * file, row count, min/max/nulls of every stat column, a Bloom
    * filter over `xxhash64(col)` for bloom-indexed columns (Spark's
    * own `BloomFilterAggregate` buffer and serializer), and the
    * violation count of every CHECK constraint and generated column.
    * SQL CHECK semantics: NULL passes; only a provably-FALSE row
    * violates. A provided generated column violates when it
    * null-safely differs from its expression recomputed over the
    * written row. `dataAttrs` are the columns a task's `newRow` sees,
    * `partAttrs` the partition values joined after them; a table
    * column the write does not carry reads as NULL. */
  private def statsSpec(spark: SparkSession, tableSchema: StructType,
                        dataAttrs: Seq[expressions.Attribute],
                        partAttrs: Seq[expressions.Attribute]): StatsSpec = {
    val cols = statCols(tableSchema)
    val bloomIdx = bloomCols.filter(tableSchema.fieldNames.contains)
    val genn = generatedCols.toSeq
      .filter(g => tableSchema.fieldNames.contains(g._1))
    if (genn.exists { case (_, e) => tzSensitive(spark, e, tableSchema) })
      currentVersion.flatMap(v => snapshotAt(v).tz).foreach { z =>
        val sess = spark.sessionState.conf.sessionLocalTimeZone
        require(sameZone(sess, z), "this table's generated columns were " +
          s"defined under session timezone '$z' but the session is " +
          s"'$sess' — instant-to-date generation is timezone-" +
          s"dependent; set spark.sql.session.timeZone to '$z' " +
          "before writing")
      }
    val checks = checkConstraints.toSeq ++
      genn.map { case (g, e) =>
        s"generated column $g" -> s"`$g` <=> ($e)" }
    ensureGraftFns(spark, checks.map(_._2))
    // resolve over an empty relation shaped like the write plus the
    // table columns it lacks (a DSv2 INSERT into a hidden-partitioned
    // table omits the generated columns), then bind positionally to
    // the rows the tasks see; a lacking column is NULL, as a read of
    // the staging by the table schema would give
    val written = dataAttrs ++ partAttrs
    val absent = tableSchema.fields.filterNot(f =>
      written.exists(_.name == f.name))
    val projected: Seq[Column] = cols.map(statProjection) ++
      bloomIdx.map(c => xxhash64(col(c))) ++
      checks.map { case (_, sqlExpr) => coalesce(!expr(sqlExpr), lit(false)) }
    val plan = spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(written.map(a => StructField(a.name, a.dataType)) ++
          absent.map(f => StructField(f.name, f.dataType))))
      .select(projected: _*).queryExecution.analyzed
    // RuntimeReplaceable functions only evaluate once the optimizer's
    // own rule swapped in their replacements
    val bound = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(plan)
      match {
        case org.apache.spark.sql.catalyst.plans.logical.Project(l, child) =>
          val (rowAttrs, nullAttrs) = child.output.splitAt(written.size)
          l.map(ne => expressions.BindReferences.bindReference(
            (ne match { case a: expressions.Alias => a.child; case o => o })
              .transform { case a: expressions.Attribute
                  if nullAttrs.exists(_.exprId == a.exprId) =>
                expressions.Literal(null, a.dataType) },
            expressions.AttributeSeq(rowAttrs)))
        case other => throw new IllegalStateException(
          s"unexpected stats plan: ${other.simpleString(2)}")
      }
    val blooms = bloomIdx.indices.map(i =>
      new expressions.aggregate.BloomFilterAggregate(
        expressions.BoundReference(cols.size + i, LongType, nullable = false),
        bloomExpectedItems))
    new StatsSpec(cols.map(_.name), bloomIdx, checks, bound, blooms)
  }

  /** Write `df` as one commit's staged files under `dir` (the table's
    * partition layout, field-id stamps, generated-column healing and
    * cluster sort applied — see [[stagedFrame]]) with the commit's
    * file statistics computed inside the write tasks — no second pass
    * over the staged files. A failed write drops the staging. */
  private[sources] def writeStaged(df: DataFrame, dir: String,
                                   tableSchema: StructType,
                                   replacingSchema: Boolean = false,
                                   writeSchema: Option[StructType] = None)
      : StagedStats = {
    val spark = df.sparkSession
    try {
      val (frame, pc) = stagedFrame(df, replacingSchema, writeSchema)
      org.apache.spark.sql.GraftWriteShim.writeParquet(frame, dir, pc,
        (dataAttrs, partAttrs) => new StagedStatsTracker(
          statsSpec(spark, tableSchema, dataAttrs, partAttrs))).result()
    } catch { case e: Throwable => dropStaging(dir); throw e }
  }

  /** Read back a staging [[writeStaged]] wrote, by explicit schema:
    * hive partition values take the schema's types rather than types
    * inferred from the directory names. */
  private[sources] def readStaged(spark: SparkSession, dir: String,
                                  s: StructType): DataFrame =
    spark.read.schema(StructType(s.fields.map(_.copy(metadata = Metadata.empty))))
      .option("basePath", dir).parquet(dir)

  /** A tracker for a staging Spark's DSv2 `FileWrite` populates (flat,
    * columns `written` in file order) — the INSERT INTO and streaming
    * `toTable` paths attach it to their writer factory. */
  private[sources] def stagedStatsTracker(spark: SparkSession,
                                          written: StructType)
      : StagedStatsTracker =
    new StagedStatsTracker(statsSpec(spark, schema,
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(written),
      Seq.empty))

  /** The commit-side fold of a staged write's stats: refuse on any
    * CHECK/generated-column violation, bound strings to
    * [[MaxStringBound]] (a longer min truncates, a longer max drops),
    * and keep the files that hold rows. */
  private[sources] def foldStats(staged: StagedStats)
      : Map[String, (AddFile, Seq[(String, Array[Byte])])] = {
    staged.checks.zipWithIndex.foreach { case ((name, sqlExpr), i) =>
      val bad = staged.files.values.map(_.violations(i)).sum
      if (bad > 0L) throw new IllegalArgumentException(
        s"CHECK constraint '$name' ($sqlExpr) violated by $bad " +
          "staged row(s); nothing was committed")
    }
    staged.files.filter(_._2.rows > 0L).map { case (rel, fs) =>
      val stats = staged.statCols.zipWithIndex.map { case (c, i) =>
        def bound(v: Any, isMin: Boolean): Option[Any] =
          Option(v).flatMap {
            case s: String =>
              if (s.length <= MaxStringBound) Some(s)
              else if (isMin) Some(s.substring(0,
                // never split a surrogate pair: a lone half is not
                // text and does not survive the JSON log
                if (Character.isHighSurrogate(s.charAt(MaxStringBound - 1)))
                  MaxStringBound - 1
                else MaxStringBound))
              else None // dropped max: truncation is not an upper bound
            case l: Long   => Some(l)
            case n: Int    => Some(n.toLong)
            case d: Double => Some(d)
            case other     => Some(other.toString)
          }
        c -> ColStats(bound(fs.mins(i), isMin = true),
          bound(fs.maxs(i), isMin = false), fs.nulls(i))
      }.toMap
      val blooms = staged.bloomCols.zip(fs.blooms).filter(_._2 != null)
      rel -> ((AddFile(rel, fs.rows, 0L, stats), blooms))
    }
  }

  private[sources] def newStagingDir(): String = {
    ensureLayout()
    val d = new File(path, s"_staging/${UUID.randomUUID()}")
    d.mkdirs(); d.toString
  }

  private def deleteRecursive(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursive))
    f.delete(); ()
  }

  private[sources] def dropStaging(staged: String): Unit =
    deleteRecursive(new File(staged))

  /** Move staged parquet part files into `data/` under fresh unique
    * names and commit them, with the `AddFile` stats and bloom
    * sidecars the write tasks computed (`staged`, from [[writeStaged]]
    * or a DSv2 staging's tracker) — the commit reads no staged data.
    * Every staged part file must carry write statistics. `actions`
    * are the rest of the commit (its [[CommitInfo]], removes, extra
    * adds, metadata); a [[SetIdentity]] among them has its high-water
    * marks advanced past the staged values. Returns the committed
    * version. */
  private def finalizeStaged(stagedDir: File, staged: StagedStats,
                             tableSchema: StructType,
                             actions: Seq[LogAction],
                             readVersion: Option[Long],
                             schemaBasis: Option[Long] = None,
                             identityBasis:
                               Option[Map[String, Option[Long]]] = None,
                             requireHead: Option[Option[Long]] = None)
      : Long = {
    // recursive walk: a partitioned staging nests its part files
    // under hive dirs (p=x/...), which the move preserves so the
    // table's data/ layout stays partition-discoverable
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        Seq(f)
      else Seq.empty
    Seq(LogTable.RowIdPhysCol, LogTable.RowIdCol).foreach(r =>
      require(!tableSchema.fieldNames.contains(r),
        s"column name '$r' is reserved for row tracking"))
    val stagedRoot = stagedDir.toPath.toAbsolutePath
    val parts = walk(stagedDir)
      .map(f => stagedRoot.relativize(f.toPath.toAbsolutePath).toString)
      .sorted
    val stats =
      try {
        parts.foreach(rel => if (!staged.files.contains(rel))
          throw new IllegalStateException(
            s"staged file $rel has no write statistics"))
        foldStats(staged)
      } catch { case e: Throwable =>
        // a refused commit (CHECK violation, bad stage) must not
        // leak its staging — nothing has moved yet
        deleteRecursive(stagedDir)
        throw e
      }
    val tag = UUID.randomUUID().toString.take(8)
    // zero-row part files (a rewrite that left no survivors, an
    // empty insert) carry no data — the fold keeps no entry for
    // them; drop them instead of committing clutter
    val adds = parts.filter(stats.contains)
      .zipWithIndex.map { case (rel, i) =>
        val subdir = Option(new File(rel).getParent).getOrElse("")
        val target =
          if (subdir.isEmpty) s"data/f-$tag-$i.parquet"
          else s"data/$subdir/f-$tag-$i.parquet"
        val dst = new File(path, target)
        dst.getParentFile.mkdirs()
        Files.move(new File(stagedDir, rel).toPath, dst.toPath,
          StandardCopyOption.ATOMIC_MOVE)
        val partVals = subdir.split('/').filter(_.contains('='))
          .map { seg =>
            val Array(k, v) = seg.split("=", 2); k -> v
          }.toMap
        val (st, blooms) = stats(rel)
        // bloom sidecars, named by the FINAL file name — a missing
        // sidecar merely means no bloom skip, so this write needs no
        // atomicity dance
        blooms.foreach { case (c, bytes) =>
          val bf = new File(path, s"_bloom/${dst.getName}.$c.bloom")
          bf.getParentFile.mkdirs()
          Files.write(bf.toPath, bytes)
        }
        AddFile(target, st.rows, dst.length(), st.stats, partVals)
      }
    deleteRecursive(stagedDir)
    // identity high-water update rides the SAME stats the commit
    // already aggregated — zero extra scans: the furthest value (in
    // step direction) across the staged files' min/max becomes the
    // new mark
    def advance(ids: Map[String, IdentitySpec]) = ids.map { case (c, spec) =>
      val bounds = adds.flatMap(_.stats.get(c)).flatMap(st =>
        if (spec.step > 0) st.max else st.min).collect {
        case l: Long => l
        case i: Int  => i.toLong
      }
      if (bounds.isEmpty && adds.exists(_.rows > 0))
        throw new IllegalStateException(
          s"identity column '$c' has no commit stats — it must be " +
            s"within the first $maxStatsCols stats columns")
      val marks = spec.highWater.toSeq ++
        (if (bounds.isEmpty) Seq.empty
         else Seq(if (spec.step > 0) bounds.max else bounds.min))
      c -> spec.copy(highWater =
        if (marks.isEmpty) None
        else Some(if (spec.step > 0) marks.max else marks.min))
    }
    // staged adds before the caller's re-adds: line order is manifest order
    val all = adds.map(Add) ++ actions.map {
      case SetIdentity(ids) => SetIdentity(advance(ids))
      case a                => a
    }
    try commitRetry(readVersion, all, schemaBasis, identityBasis, requireHead)
    catch { case e: java.util.ConcurrentModificationException =>
      // a conflict OUT of the retry loop is terminal for THIS
      // attempt: the files this call already moved into data/ (and
      // their bloom sidecars) will never be referenced — reclaim
      // them now instead of leaving per-retry orphans for vacuum's
      // retention horizon (identity-allocating appends/merges retry
      // the whole write, up to 20 attempts under contention)
      adds.foreach { a =>
        val f = new File(path, a.path)
        f.delete()
        Option(new File(path, "_bloom").listFiles()).toSeq.flatten
          .filter(_.getName.startsWith(f.getName + "."))
          .foreach(_.delete())
      }
      throw e
    }
  }

  /** The commit line of a commit being written: [[commitRetry]]
    * stamps its timestamp on every attempt. */
  private def info(op: String, cdf: Option[String] = None,
                   txn: Option[(String, Long)] = None): CommitInfo =
    CommitInfo(0L, op, cdf, txn)

  /** An append's identity specs, when the table has any: the
    * commit advances their high-water marks ([[finalizeStaged]]). */
  private def identityOf(snap: Option[Snapshot]): Option[SetIdentity] =
    snap.map(_.identity).filter(_.nonEmpty).map(SetIdentity)

  /** The optimistic-concurrency core: render the commit's `actions`,
    * then try to claim the next log slot with an atomic
    * create-if-absent rename. A lost race re-resolves the head — blind
    * appends just retry; commits that REMOVE files revalidate those
    * files are still live (someone else rewrote one → true conflict,
    * throw — Delta's rule). Each attempt edits the action list for
    * the head it lands on: the in-commit timestamp, a schema re-merged
    * after a racing schema change, fresh files' row ids with the
    * high-water they advance, and the protocol the commit activates.
    * The other inputs only check the head: `schemaBasis` (the version
    * a widened schema was read at), `identityBasis` (the identity
    * high-waters a write allocated from) and `requireHead` (the exact
    * head a derived metadata change must land on). */
  private def commitRetry(readVersion: Option[Long], actions: Seq[LogAction],
                          schemaBasis: Option[Long] = None,
                          identityBasis:
                            Option[Map[String, Option[Long]]] = None,
                          requireHead: Option[Option[Long]] = None)
      : Long = {
    ensureLayout()
    val txn = actions.collectFirst { case c: CommitInfo => c.txn }.flatten
    val removePaths = removesOf(actions)
    val adds = addsOf(actions)
    val addsRef = addsRefOf(actions)
    val schema = actions.collectFirst { case SetSchema(s) => s }
    val props = actions.collectFirst { case SetProperties(p) => p }
    var attempts = 0
    while (attempts < 100) {
      attempts += 1
      val head = currentVersion
      // identity allocation conflict: this append's values were
      // drawn from the basis high-water marks — if a racing append
      // advanced any of them, our staged files hold overlapping ids
      // and must be REWRITTEN, not committed (the caller catches and
      // retries the whole write, Delta's txn-retry rule)
      identityBasis.foreach { basis =>
        val headId = head.map(v => snapshotAt(v).identity)
          .getOrElse(Map.empty[String, IdentitySpec])
        val moved = basis.collect { case (c, hw)
          if headId.get(c).flatMap(_.highWater) != hw => c }
        if (moved.nonEmpty)
          throw new IdentityAllocationConflict(
            s"conflicting commit: identity column(s) " +
              s"${moved.mkString(", ")} were advanced by another " +
              "writer — reallocate and retry")
      }
      // commits whose VALIDITY was established against a specific
      // snapshot (ADD CONSTRAINT's existing-data scan) must land
      // exactly on it — any interleaved commit invalidates the
      // check, so surface the conflict and let the caller
      // re-validate and retry
      requireHead.foreach(expected =>
        if (head != expected)
          throw new java.util.ConcurrentModificationException(
            s"conflicting commit: head moved from $expected to $head " +
              "while this metadata change was being validated"))
      // SERIALIZABLE isolation (round-11, opt-in per table via
      // `graft.isolationLevel` TBLPROPERTIES; the default stays
      // Delta's WriteSerializable): a commit that DECLARED a read
      // snapshot must land exactly on it — ANY interleaved commit,
      // including a blind append the file-level rule would wave
      // through, conflicts, because the outcome could depend on rows
      // the transaction never read (a delete planned before an
      // append of matching rows would silently miss them; under
      // Serializable the caller re-plans against the new head and
      // the result is AS IF the transaction ran after the append).
      // Blind appends themselves declare no read and stay
      // conflict-free under both levels, exactly as in Delta.
      if (readVersion.isDefined && readVersion != head &&
          head.exists(v => snapshotAt(v).properties
            .get(LogTable.PropIsolation).contains("Serializable")))
        throw new java.util.ConcurrentModificationException(
          s"serializable isolation: commit(s) landed between the " +
            s"read snapshot $readVersion and the head $head — " +
            "re-read and retry")
      if (removePaths.nonEmpty && readVersion != head) {
        // only the REMOVE SET's entries are looked up — through the
        // distributed manifest above the parquet-checkpoint
        // threshold ([[manifestEntriesFor]]), so a conflicted retry
        // on a million-file table never materializes either
        // snapshot's file list on the driver
        val headEntries =
          manifestEntriesFor(head.getOrElse(-1L), removePaths)
        val gone = removePaths.filterNot(headEntries.contains)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"conflicting commit: files ${gone.mkString(", ")} were removed " +
            s"by another writer between version $readVersion and $head")
        // liveness alone is NOT enough since merge-on-read: a racing
        // deletion-vector commit re-adds the SAME path with a new
        // vector, so the path stays live while its row set changed —
        // this commit was planned against the old rows and would
        // silently UNDO the racing delete (resurrection). Compare
        // the whole entry against the read snapshot.
        val basisEntries = readVersion
          .map(v => manifestEntriesFor(v, removePaths))
          .getOrElse(Map.empty[String, AddFile])
        val changed = removePaths.filter(p =>
          basisEntries.get(p).exists(b => headEntries(p) != b))
        if (changed.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"conflicting commit: files ${changed.mkString(", ")} were " +
              s"modified (deletion vector) by another writer between " +
              s"version $readVersion and $head")
      }
      // schema-race revalidation: this commit's schema was derived by
      // widening the schema READ at `schemaBasis` — if a schema
      // action committed after that basis (a concurrent mergeSchema
      // append, an overwrite), writing our stale widened schema
      // would silently drop the winner's new columns from every
      // subsequent read (Delta raises a metadata-changed conflict
      // here; re-merging against the head preserves both writers'
      // columns, which is what both asked for).
      val effSchema = (schema, schemaBasis) match {
        case (Some(ours), Some(basis)) =>
          val raced = versions
            .filter(v => v > basis && v <= head.getOrElse(-1L))
            .exists(v => readCommit(v).exists(_.isInstanceOf[SetSchema]))
          if (!raced) schema
          else {
            val headSchema = snapshotAt(head.get).schema
            // a COLUMN-MAPPED table cannot silently merge a raced
            // schema: our staged files already carry the field ids
            // we assigned, and a racing evolution may have claimed
            // the same ids for different columns — re-numbering
            // would orphan our data, sharing would cross-wire the
            // by-id reader. Abort with a metadata conflict (Delta's
            // rule); the caller re-reads and retries the whole op.
            if (hasFieldIds(ours) || hasFieldIds(headSchema))
              throw new java.util.ConcurrentModificationException(
                "conflicting commit: a schema change raced this one " +
                  "on a column-mapped table — re-read and retry")
            Some(StructType(headSchema.fields ++ ours.fields
              .filterNot(f => headSchema.fieldNames.contains(f.name))
              .map(_.copy(nullable = true))))
          }
        case _ => schema
      }
      // idempotent-txn dedup re-checked under the SAME head the
      // commit will land on: a replayed batch that lost the race to
      // its own first attempt is dropped, not duplicated
      txn.foreach { case (app, batch) =>
        if (lastCommittedBatch(app).exists(_ >= batch)) return -1L
      }
      // ROW TRACKING — baseRowId assignment happens HERE, per
      // attempt, against the head this commit will actually land on:
      // fresh files' row ids are METADATA (id = baseRowId + row
      // position), so a lost race just re-reads the high-water and
      // re-numbers — concurrent appends stay blind-retryable, no
      // extra conflict class (Delta's rule). Files that already
      // carry a baseRowId (carried forward by restore/merge, or a
      // racing writer's re-add) keep it; rewritten files hold their
      // preserved ids in the materialized column, so their fresh
      // base only serves positions the column left null.
      val headProps = head.map(v => snapshotAt(v).properties)
        .getOrElse(Map.empty[String, String])
      val baseProps = props.getOrElse(headProps)
      val tracked = baseProps.get(LogTable.PropRowTracking)
        .contains("true")
      val headHw = baseProps.get(LogTable.PropRowIdHighWater)
        .map(_.toLong).getOrElse(0L)
      val assign = tracked && adds.exists(_.baseRowId.isEmpty)
      var hw = headHw
      val numbered = actions.map {
        case Add(a) if assign && a.baseRowId.isEmpty =>
          val b = hw; hw += a.rows; Add(a.copy(baseRowId = Some(b)))
        case other => other
      }
      val props0 =
        if (assign) Some(baseProps + (LogTable.PropRowIdHighWater -> hw.toString))
        else props
      // a BY-REFERENCE add set on a row-tracking table declared the
      // high-water its contiguous baseRowId ranges were assigned
      // from — the identity-allocation rule: a racing advance means
      // the sidecar's ids overlap, so surface the conflict (the
      // register loop reassigns and retries); on success the SAME
      // commit advances the mark by the set's total rows.
      val effProps: Option[Map[String, String]] =
        addsRef.flatMap(r => r.rowIdBasis.map(_ -> r.rows)) match {
          case Some((b, rows)) if tracked =>
            if (headHw != b)
              throw new java.util.ConcurrentModificationException(
                s"conflicting commit: the row-id high-water moved " +
                  s"from $b to $headHw while this by-reference " +
                  "registration was being written — its assigned " +
                  "ranges overlap; reassign and retry")
            Some(props0.getOrElse(baseProps) +
              (LogTable.PropRowIdHighWater -> (b + rows).toString))
          case _ => props0
        }
      // WRITER protocol gate + auto-upgrade (Delta's PROTOCOL.md):
      // refuse to commit to a table demanding writer features this
      // implementation does not maintain — and when THIS commit
      // first activates a gated feature (a deletion vector, row
      // tracking, column mapping, ...), record it in the same
      // commit so a lesser future reader/writer refuses cleanly
      // instead of half-reading.
      val curProto = head.flatMap(v => snapshotAt(v).protocol)
      curProto.foreach { pr =>
        val unknownW =
          pr.writerFeatures -- LogTable.SupportedWriterFeatures
        if (pr.minWriter > LogTable.WriterVersion || unknownW.nonEmpty)
          throw new IllegalStateException(
            s"cannot commit to the log table at $path: " +
              (if (unknownW.nonEmpty)
                s"its protocol requires writer feature(s) " +
                  s"${unknownW.toSeq.sorted.mkString(", ")} this " +
                  "writer does not support"
              else s"its protocol requires writer version " +
                s"${pr.minWriter} (this writer speaks " +
                s"${LogTable.WriterVersion})") +
              " — the table stays readable; refusing to write")
      }
      val activated: Set[String] = numbered.flatMap {
        case Add(a) if a.dv.isDefined => Seq("deletionVectors")
        // a by-reference add set is a READER-relevant feature: an
        // older reader ignoring the action would serve the table
        // WITHOUT the referenced files — a silent half-read
        case AddByRef(r) =>
          "addsRef" +: (if (r.anyDv) Seq("deletionVectors") else Nil)
        case SetSchema(s) if s.json.contains(LogTable.FieldIdKey) =>
          Seq("columnMapping")
        case SetGenerated(m) if m.nonEmpty => Seq("generatedColumns")
        case SetIdentity(m) if m.nonEmpty => Seq("identityColumns")
        case SetConstraints(m) if m.nonEmpty => Seq("checkConstraints")
        case SetDefaults(m) if m.nonEmpty => Seq("columnDefaults")
        case SetTransforms(m) if m.nonEmpty => Seq("hiddenPartitioning")
        case _ => Nil
      }.toSet ++ Option.when(effProps.exists(
        _.get(LogTable.PropRowTracking).contains("true")))("rowTracking")
      val effProto: Option[Protocol] =
        actions.collectFirst { case SetProtocol(p) => p }.orElse {
          val base = curProto.getOrElse(Protocol(LogTable.ReaderVersion,
            LogTable.WriterVersion, Set.empty, Set.empty))
          // reader/writer split per Delta's feature model: only
          // features a reader must understand to serve correct rows
          // gate reads; writer-only features (constraints, defaults,
          // generated/identity columns) gate commits alone
          val up = base.copy(
            readerFeatures = base.readerFeatures ++
              (activated & LogTable.ReaderRelevantFeatures),
            writerFeatures = base.writerFeatures ++ activated)
          if (curProto.isEmpty || up != base) Some(up) else None
        }
      val next = head.getOrElse(-1L) + 1L
      // IN-COMMIT monotonic timestamps (Delta's inCommitTimestamps):
      // a commit's recorded instant is never behind its predecessor's,
      // whatever the writer's wall clock says — so `TIMESTAMP AS OF`
      // ([[versionAt]]: newest ts ≤ t) resolves every historical
      // instant to the snapshot actually current then, even across
      // writers with skewed clocks (the ts order IS the version
      // order, by construction).
      val commitTs = math.max(clock(),
        head.map(commitTime(_) + 1L).getOrElse(Long.MinValue))
      val attempt = numbered.flatMap {
        case c: CommitInfo => Seq(c.copy(ts = commitTs))
        case _: SetSchema  => effSchema.map(SetSchema).toSeq
        case _: SetProperties | _: SetProtocol => Nil
        case a => Seq(a)
      } ++ effProps.map(SetProperties) ++ effProto.map(SetProtocol)
      val tmp = new File(logDir, s".tmp-${UUID.randomUUID()}")
      Files.writeString(tmp.toPath, LogCodec.encodeCommit(attempt))
      // create-if-absent via the coordinator: exactly one writer
      // wins version `next`. NOT a rename — rename(2) REPLACES an
      // existing target on POSIX, which would silently overwrite a
      // racing writer's committed version.
      if (coordinator.claim(tmp, logFile(next))) {
        maybeCheckpoint(next, removePaths.size + adds.size +
          math.min(addsRef.map(_.count).getOrElse(0L),
            Int.MaxValue.toLong).toInt)
        return next
      }
      // lost the race — re-resolve the head and retry
    }
    throw new IllegalStateException(s"could not commit to $path after " +
      s"$attempts attempts")
  }

  private def maybeCheckpoint(v: Long, actions: Int = 0): Unit =
    // the interval cadence, PLUS: a FAT commit (a full OPTIMIZE
    // rewriting ~1M files right after a checkpoint) checkpoints
    // immediately — otherwise every addsDF/replay until the next
    // interval boundary folds that commit's whole action list on
    // the driver, defeating the distributed-manifest design in
    // exactly the scenario it targets
    if (v > 0 && (v % checkpointInterval == 0 ||
        actions >= LogTable.FatCommitCheckpointActions))
      writeCheckpoint(v)

  /** Smallest snapshot (in live files) whose checkpoint ships as
    * parquet through a Spark job instead of line-streamed JSONL.
    * Overridable per table (`graft.checkpoint.parquetThreshold` in
    * TBLPROPERTIES) — tests force 1 to exercise the parquet path on
    * tiny tables; tiny production tables keep the zero-job JSONL
    * path. */
  private def parquetCkptThreshold(snap: Snapshot): Int =
    snap.properties.get("graft.checkpoint.parquetThreshold")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(10000)

  /** Ship the snapshot's file-state as a multi-part parquet
    * directory via a Spark job — one [[CkptAdd]] row per live file,
    * ~100k rows per part. The job distributes the render; the
    * driver never assembles the state into one string. Returns the
    * sidecar's writer-unique directory NAME for the header: racing
    * checkpointers of the same version each publish their own
    * sidecar (a shared name would force a delete-before-rename that
    * could remove a sidecar whose header another writer already
    * published — the rename itself cannot replace a non-empty
    * directory), and an orphan left by a crash before the header is
    * garbage no reader resolves. */
  private def writeAddsParquet(spark: SparkSession, v: Long,
                               adds: Seq[AddFile]): String = {
    val rows = adds.iterator.zipWithIndex
      .map { case (a, i) => LogCodec.encodeCkptAdd(i.toLong, a) }.toSeq
    val parts = math.max(1, (rows.size / 100000.0).ceil.toInt)
    val tmp = new File(logDir, s".tmp-ckptpq-${UUID.randomUUID()}")
    val target = ckptParquetDir(v,
      UUID.randomUUID().toString.take(8))
    try {
      spark.createDataset(rows)(
        org.apache.spark.sql.Encoders.product[CkptAdd])
        .repartition(parts)
        .write.mode("overwrite").parquet(tmp.getPath)
      Files.move(tmp.toPath, target.toPath,
        StandardCopyOption.ATOMIC_MOVE)
    } catch { case NonFatal(e) => deleteRecursive(tmp); throw e }
    target.getName
  }

  /** [[writeAddsParquet]] from the DISTRIBUTED manifest instead of a
    * driver Seq — the WRITER side of the manifest story: once a
    * table has crossed the parquet threshold, every subsequent
    * checkpoint is a manifest-to-manifest Spark job (prior
    * checkpoint scan + bounded commit-tail fold → new sidecar) and
    * the writer never materializes the file list either. Rows are
    * re-indexed contiguously in manifest order so chained
    * checkpoints keep idx unique (tail rows carry Long.MaxValue-area
    * indices that would otherwise collide across generations). */
  private def writeAddsParquetFrom(spark: SparkSession, v: Long,
      ds: org.apache.spark.sql.Dataset[CkptAdd]): String = {
    val enc = org.apache.spark.sql.Encoders.product[CkptAdd]
    val normalized = spark.createDataset(
      ds.orderBy(col("idx")).rdd.zipWithIndex()
        .map { case (c, i) => c.copy(idx = i) })(enc)
    val tmp = new File(logDir, s".tmp-ckptpq-${UUID.randomUUID()}")
    val target = ckptParquetDir(v, UUID.randomUUID().toString.take(8))
    try {
      normalized.write.mode("overwrite").parquet(tmp.getPath)
      Files.move(tmp.toPath, target.toPath,
        StandardCopyOption.ATOMIC_MOVE)
    } catch { case NonFatal(e) => deleteRecursive(tmp); throw e }
    target.getName
  }

  /** Line-stream the adds to a JSONL sidecar — one rendered add per
    * line, bounded memory regardless of file count (never one
    * whole-state string). */
  private def writeAddsJsonl(v: Long, adds: Seq[AddFile]): Unit = {
    val tmp = new File(logDir, s".tmp-ckptadds-${UUID.randomUUID()}")
    val w = Files.newBufferedWriter(tmp.toPath)
    try adds.foreach { a =>
      w.write(LogCodec.encodeAddFile(a))
      w.write("\n")
    } finally w.close()
    Files.move(tmp.toPath, ckptAddsFile(v).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Resolve a parquet checkpoint's sidecar directory from its
    * header ("addsPath"; legacy headers used a fixed name). */
  private def ckptParquetOf(h: CheckpointHeader, v: Long): File =
    new File(logDir, h.addsPath.getOrElse(f"$v%020d.ckpt.parquet"))

  /** Read a parquet checkpoint's file-state back: a distributed
    * parquet scan when a session is live; WITHOUT one (a bare
    * maintenance CLI — the regime [[writeCheckpoint]] explicitly
    * supports on the write side) a local parquet-footer walk over
    * the part files via the Group example API, which ships in
    * parquet-hadoop on Spark's own classpath. Either way the rows
    * re-order by the persisted add index so the replayed snapshot
    * is indistinguishable from a JSON one. */
  private def readAddsParquet(dir: File): Seq[AddFile] = {
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    session match {
      case Some(spark) =>
        spark.read.parquet(dir.getPath)
          .as[CkptAdd](org.apache.spark.sql.Encoders.product[CkptAdd])
          .collect().sortBy(_.idx).iterator.map(LogCodec.decodeCkptAdd).toSeq
      case None =>
        LogTable.readAddsParquetLocal(dir).iterator
          .map(LogCodec.decodeCkptAdd).toSeq
    }
  }

  private def writeCheckpoint(v: Long): Unit =
    {
      // idempotent: a complete checkpoint (header present) at this
      // version is immutable content — never rewrite it
      if (ckptFile(v).isFile) return
      val snap = snapshotAt(v)
      // the header carries everything EXCEPT the adds — O(schema),
      // not O(#files); the file-state ships beside it (parquet via
      // a Spark job past the size threshold, line-streamed JSONL
      // below it or when no session is available, e.g. a bare
      // maintenance CLI)
      val session = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
      // once a PRIOR parquet checkpoint serves the manifest, stay
      // parquet and write manifest-to-manifest — the format decision
      // itself must not force Snapshot.adds on a million-file table
      val dist = session.flatMap(sp =>
        if (ignoreCheckpointsForTest) None
        else distributedManifest(sp, v))
      val fmt =
        if (dist.isDefined) "parquet"
        else if (session.isDefined &&
            snap.adds.size >= parquetCkptThreshold(snap)) "parquet"
        else "jsonl"
      // sidecar FIRST, header last: the header is the discovery key,
      // so a reader never resolves a checkpoint whose file-state is
      // still in flight; the parquet sidecar's writer-unique name is
      // recorded in the header
      val tmp = new File(logDir, s".tmp-ckpt-${UUID.randomUUID()}")
      try {
        val addsPath: Option[String] =
          if (fmt == "parquet") Some(dist match {
            case Some(ds) => writeAddsParquetFrom(session.get, v, ds)
            case None     => writeAddsParquet(session.get, v, snap.adds)
          })
          else { writeAddsJsonl(v, snap.adds); None }
        Files.writeString(tmp.toPath, LogCodec.encodeHeader(
          CheckpointHeader(snap.meta, fmt, addsPath)))
        Files.move(tmp.toPath, ckptFile(v).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        // advance the advisory `_last_checkpoint` pointer (never
        // regress it — a slow older checkpointer losing the race to
        // a newer one must not roll the pointer back). Best-effort
        // like the checkpoint itself: a lost pointer only means the
        // next reader lists the directory once.
        if (!lastCheckpointVersion.exists(_ >= v)) {
          val ptmp = new File(logDir, s".tmp-ptr-${UUID.randomUUID()}")
          Files.writeString(ptmp.toPath, LogCodec.encodeCheckpointPointer(v))
          try Files.move(ptmp.toPath, lastCkptFile.toPath,
            StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
          catch { case NonFatal(_) => ptmp.delete() }
        }
      }
      catch { case NonFatal(_) => tmp.delete() } // best-effort cache
      ()
    }

  /** The staged delta as [[writeStaged]] writes it, plus the table's
    * partition columns: partitioned tables stage hive-style (the
    * finalize move then preserves the dirs under data/). */
  private def stagedFrame(df: DataFrame,
                          replacingSchema: Boolean,
                          writeSchema: Option[StructType])
      : (DataFrame, Seq[String]) = {
    val pc = if (currentVersion.isDefined) partitionCols else Seq.empty
    // a column-mapped table must write its field ids into every data
    // file; aliases along the rewrite paths can drop column
    // metadata, so re-stamp it from the current schema here — the
    // single choke point every staged write passes through. The
    // stamp is order-insensitive (files resolve by id, not
    // position); a write whose COLUMN SET differs from the mapped
    // schema is either a whole-schema replacement (overwrite, which
    // says so) or a planner bug — fail it rather than fall through
    // to an unstamped file that would null-fill after a later
    // RENAME COLUMN.
    // a mergeSchema append writes UNDER the schema its commit will
    // declare (wider than the current one) — stamp against that, not
    // the head, or the mapped-table column-set guard below misfires
    val cur = writeSchema.orElse(
      if (currentVersion.isDefined) Some(schema) else None)
    // null or omitted generated values heal at this single write
    // choke point: coalesce-recompute fills a NULL generated column
    // from its expression — the partition-evolution backfill path
    // (old-epoch rows read without the hidden transform column
    // migrate into the new layout with computed values on any
    // rewrite) — and a frame without the column (a MERGE over the
    // user-visible columns of a hidden-partitioned table) gets it
    // computed. Non-null provided values are NOT touched, so a
    // mismatching explicit value still refuses at the commit's
    // in-write validation.
    val healed = cur match {
      case Some(s) if !replacingSchema && generatedCols.nonEmpty =>
        generatedCols.foldLeft(df) { case (acc, (g, e)) =>
          s.fields.find(_.name == g).map { f =>
            val computed = expr(e).cast(f.dataType)
            acc.withColumn(g,
              if (acc.columns.contains(g)) coalesce(col(g), computed)
              else computed)
          }.getOrElse(acc)
        }
      case _ => df
    }
    val stamped = cur match {
      case Some(s) if hasFieldIds(s) &&
          healed.columns.toSet == s.fieldNames.toSet =>
        enableFieldIds(healed.sparkSession)
        healed.select(s.fields.toSeq.map(f =>
          col(f.name).as(f.name, f.metadata)): _*)
      case Some(s) if hasFieldIds(s) && !replacingSchema =>
        throw new IllegalStateException(
          s"write to column-mapped table at $path carries columns " +
            s"(${healed.columns.mkString(", ")}) that do not match the " +
            s"table schema (${s.fieldNames.mkString(", ")}) — field " +
            "ids cannot be stamped")
      case _ => healed
    }
    // write-time CLUSTERING (`graft.clusterBy`, Delta's CLUSTER BY
    // shape): each write task sorts ITS rows by the cluster key
    // before writing, so every data file carries tight min/max
    // stats on the key — file skipping approaches clustered-table
    // quality on the ingest path itself at the cost of one local
    // sort, NO shuffle (cross-file ranges may overlap until a
    // compaction range-partitions them; see compactSubset). Every
    // rewrite passes through here too, so merge/optimize/purge
    // outputs stay clustered — the liquid-clustering maintenance
    // promise.
    val keys = clusterByCols
    // partition columns PREFIX the sort: the dynamic-partition write
    // requires its output ordered by them, and an unsatisfied
    // requirement makes FileFormatWriter insert its own sort by the
    // partition columns ALONE — which would scramble the key order
    // this sort just produced
    val clustered =
      if (keys.isEmpty || !keys.forall(stamped.columns.contains)) stamped
      else stamped.sortWithinPartitions(
        (pc.filter(stamped.columns.contains) ++ keys).map(col): _*)
    (clustered, pc)
  }

  /** The `graft.clusterBy` cluster key, if set (comma-separated
    * column names in TBLPROPERTIES — settable at create or later;
    * takes effect for every subsequent write). */
  private[sources] def clusterByCols: Seq[String] =
    if (currentVersion.isEmpty) Seq.empty
    else tableProperties.get(LogTable.PropClusterBy).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Project `df` onto the table schema: present columns cast to the
    * table's types, absent columns null-filled (only reachable under
    * schema merge — a widened table reads its old files the same
    * way). Field-id metadata rides the aliases, so mapped tables
    * stamp ids into everything they write. */
  private def conform(df: DataFrame, s: StructType): DataFrame =
    df.select(s.fields.toSeq.map(f =>
      if (df.columns.contains(f.name))
        col(f.name).cast(f.dataType).as(f.name, f.metadata)
      else lit(null).cast(f.dataType).as(f.name, f.metadata)): _*)

  /** Append commit: write ONLY the new rows as data files and one
    * log entry — cost ∝ the delta, never the table.
    *
    * Schema discipline is Delta's: columns the table doesn't have
    * FAIL the append unless `mergeSchema` — which widens the table
    * schema in the same commit (new columns appended, nullable; old
    * files read them as NULL, no rewrite). Columns the incoming
    * frame lacks are null-filled under `mergeSchema` and an error
    * otherwise; on a name collision the TABLE's type wins (the
    * incoming column is cast — ANSI surfaces an incompatibility at
    * write time, not as silent corruption). */
  /** Column policies an append applies to the incoming frame:
    * DEFAULT-bearing columns the frame omits fill from their
    * expression; `GENERATED ALWAYS AS IDENTITY` columns refuse
    * explicit values and allocate fresh ones from the high-water
    * mark — `value = base + step * monotonically_increasing_id()`,
    * one distributed pass, no count job, no global sort. Unique and
    * monotonic per partition by construction at ANY partition count
    * (the partition-id bits ride in the id), gappy like Delta's.
    * Returns the frame plus the allocation BASIS (per-column
    * high-water read) the commit must revalidate. */
  private def applyColumnPolicies(df0: DataFrame,
                                  idSpecs: Map[String, IdentitySpec],
                                  defaults: Map[String, String])
      : (DataFrame, Map[String, Option[Long]]) = {
    idSpecs.keys.foreach(c => require(!df0.columns.contains(c),
      s"column '$c' is GENERATED ALWAYS AS IDENTITY — explicit " +
        "values are not accepted on append"))
    val withDefaults = defaults.foldLeft(df0) { case (acc, (c, e)) =>
      if (acc.columns.contains(c)) acc else acc.withColumn(c, expr(e))
    }
    val filled = idSpecs.foldLeft(withDefaults) { case (acc, (c, spec)) =>
      val base = spec.highWater.map(_ + spec.step).getOrElse(spec.start)
      acc.withColumn(c,
        lit(base) + lit(spec.step) * monotonically_increasing_id())
    }
    (filled, idSpecs.map { case (c, s) => c -> s.highWater })
  }

  /** Append commit (see class doc); identity-allocating appends
    * retry the WHOLE write on an allocation race — the staged files
    * hold ids drawn from a stale high-water mark and must be
    * rewritten (Delta's transaction-retry rule), which the bounded
    * loop here does transparently. */
  def append(df0: DataFrame, mergeSchema: Boolean = false): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      try {
        val v = appendOnce(df0, mergeSchema)
        maybeAutoCompact(df0.sparkSession)
        return v
      } catch {
        case _: IdentityAllocationConflict
          if attempts < 20 => () // reallocate against the new head
      }
    }
    -1L // unreachable
  }

  private def appendOnce(df0: DataFrame, mergeSchema: Boolean): Long = {
    ensureLayout()
    val basisVersion = currentVersion
    val existing = basisVersion.map(schemaAt)
    val snapOpt = basisVersion.map(snapshotAt)
    // identity/DEFAULT policies fill BEFORE generated compute, so a
    // generated (or hidden transform) column may derive from an
    // identity or defaulted source — bucket over the surrogate key
    val (pol, idBasis) = applyColumnPolicies(df0,
      snapOpt.map(_.identity).getOrElse(Map.empty),
      snapOpt.map(_.defaults).getOrElse(Map.empty))
    // generated columns the incoming frame omits are computed here
    // (GENERATED ALWAYS AS); ones it provides are validated by the
    // commit's in-write stats instead
    val gen = snapOpt.map(_.generated).getOrElse(Map.empty)
    ensureGraftFns(df0.sparkSession, gen.values)
    val df = gen.foldLeft(pol) { case (acc, (g, e)) =>
      if (acc.columns.contains(g)) acc else acc.withColumn(g, expr(e))
    }
    val tableSchema = existing match {
      case None => df.schema
      case Some(s) =>
        val extra = df.schema.fields.filterNot(f =>
          s.fieldNames.contains(f.name))
        val missing = s.fieldNames.filterNot(df.columns.contains)
        if (!mergeSchema) {
          require(extra.isEmpty, "append schema mismatch: incoming " +
            s"column(s) ${extra.map(_.name).mkString(", ")} not in the " +
            "table — pass mergeSchema = true to evolve the schema")
          require(missing.isEmpty, "append schema mismatch: incoming " +
            s"frame lacks table column(s) ${missing.mkString(", ")} — " +
            "pass mergeSchema = true to null-fill them")
          s
        } else {
          // a renamed-away name must not come back: old files' stats
          // and data still carry it under its retired meaning
          val retired = snapshotAt(basisVersion.get).retiredNames
          extra.foreach(f => require(!retired.contains(f.name),
            s"column name '${f.name}' was retired by a rename and " +
              "cannot be reused"))
          // mapped tables assign fresh field ids to new columns —
          // never below the drop-recorded high water (id reuse would
          // resurrect dropped bytes; readers resolve by id)
          val nextId = math.max(
            s.fields.flatMap(f =>
              if (f.metadata.contains(LogTable.FieldIdKey))
                Some(f.metadata.getLong(LogTable.FieldIdKey))
              else None).foldLeft(0L)(math.max),
            snapshotAt(basisVersion.get).properties
              .get(LogTable.PropFieldIdHighWater)
              .map(_.toLong).getOrElse(0L)) + 1L
          val widened = extra.zipWithIndex.map { case (f, i) =>
            val base = f.copy(nullable = true)
            if (!hasFieldIds(s)) base
            else base.copy(metadata = new MetadataBuilder()
              .withMetadata(base.metadata)
              .putLong(LogTable.FieldIdKey, nextId + i).build())
          }
          StructType(s.fields ++ widened)
        }
    }
    val schemaChanged = !existing.contains(tableSchema)
    val staged = new File(newStagingDir())
    val stats = writeStaged(conform(df, tableSchema), staged.toString,
      tableSchema, writeSchema = Some(tableSchema))
    val writesSchema = basisVersion.isEmpty || schemaChanged
    // zone backfill for pre-pin tables: a zone-sensitive generated
    // table whose log lacks a tz action pins the CURRENT session's
    // zone on this first write — later zones then refuse/decline
    // like any pinned table, instead of silently shifting dates
    val tzPin =
      if (gen.isEmpty || basisVersion.isEmpty) None
      else if (snapshotAt(basisVersion.get).tz.isDefined) None
      else if (gen.exists { case (_, e) =>
        tzSensitive(df.sparkSession, e, tableSchema) })
        Some(df.sparkSession.sessionState.conf.sessionLocalTimeZone)
      else None
    finalizeStaged(staged, stats, tableSchema, info("append") +:
      (Option.when(writesSchema)(SetSchema(tableSchema)) ++
        tzPin.map(SetTz) ++ identityOf(snapOpt)).toSeq,
      readVersion = None,
      // the basis the widened schema was derived from: a schema
      // action racing past it triggers a commit-time re-merge
      schemaBasis = if (writesSchema) Some(basisVersion.getOrElse(-1L))
      else None,
      identityBasis = if (idBasis.isEmpty) None else Some(idBasis))
  }

  /** Full-replace commit: new files added, every prior live file
    * retired (by reference — the bytes stay for time travel until
    * [[vacuum]]). */
  def overwrite(df: DataFrame): Long = overwrite(df, txn = None)

  /** [[overwrite]] tagged with an idempotent-txn id — the
    * exactly-once full-rebuild path [[MaterializedAgg]] falls back
    * to when the change feed cannot represent a window (RESTORE). */
  def overwrite(df0: DataFrame, txn: Option[(String, Long)]): Long = {
    ensureLayout()
    txn.foreach { case (app, batch) =>
      if (lastCommittedBatch(app).exists(_ >= batch)) return -1L
    }
    val snapOpt = currentVersion.map(snapshotAt)
    // a frame that is exactly the table MINUS some generated
    // (hidden transform) columns is a DATA replace under the
    // current contract, not a schema replace: compute the omitted
    // generated columns and keep the table schema — an overwrite of
    // a hidden-partitioned table must not strand the layout's
    // partition spec without its column
    val (df, outSchema, replacing) = snapOpt match {
      case Some(snap) if {
        val missing = snap.schema.fieldNames.filterNot(df0.columns.contains)
        missing.nonEmpty && missing.forall(snap.generated.contains) &&
          df0.columns.toSet == (snap.schema.fieldNames.toSet -- missing)
      } =>
        val genned = snap.generated.foldLeft(df0) { case (acc, (g, e)) =>
          ensureGraftFns(df0.sparkSession, Seq(e))
          if (acc.columns.contains(g)) acc else acc.withColumn(g, expr(e))
        }
        (conform(genned, snap.schema), snap.schema, false)
      case _ => (df0, df0.schema, true)
    }
    val prior = snapOpt.map(_.adds.map(_.path)).getOrElse(Seq.empty)
    val staged = new File(newStagingDir())
    val stats = writeStaged(df, staged.toString, outSchema,
      replacingSchema = replacing)
    finalizeStaged(staged, stats, outSchema, Seq(info("overwrite", txn = txn),
      SetSchema(outSchema)) ++ prior.map(Remove),
      readVersion = currentVersion)
  }

  /** Newest batch id committed under `app`'s idempotent-txn stream
    * (newest→oldest scan, stops at the first match — streams commit
    * frequently, so the answer is near the head; versions are
    * contiguous, so the walk needs no directory listing). */
  def lastCommittedBatch(app: String): Option[Long] =
    currentVersion.flatMap { head =>
      // stop at the expiry floor: markers below it are gone (the
      // retention window must exceed any stream's replay horizon —
      // Delta's log-retention caveat, documented on expireSnapshots)
      (head to 0L by -1).iterator
        .takeWhile(v => logFile(v).isFile)
        .map(commitMeta).collectFirst {
          case m if m.txn.exists(_._1 == app) => m.txn.get._2 }
    }

  /** Exactly-once streaming append — Delta's txnAppId/txnVersion
    * idempotence: commit `df` tagged `(app, batchId)` unless a batch
    * ≥ `batchId` has already committed under `app`, so a micro-batch
    * the engine replays after a sink restart is DROPPED, not
    * duplicated (the check re-runs inside the commit-retry loop under
    * the head the commit actually lands on, closing the race against
    * this batch's own first attempt). Returns the committed version,
    * or None when deduplicated. */
  def appendStreamBatch(df0: DataFrame, app: String,
                        batchId: Long): Option[Long] = {
    ensureLayout()
    if (lastCommittedBatch(app).exists(_ >= batchId)) return None
    val snapOpt = currentVersion.map(snapshotAt)
    val (df, idBasis) = applyColumnPolicies(df0,
      snapOpt.map(_.identity).getOrElse(Map.empty),
      snapOpt.map(_.defaults).getOrElse(Map.empty))
    val tableSchema = snapOpt.map(_.schema).getOrElse(df.schema)
    val staged = new File(newStagingDir())
    val stats = writeStaged(conform(df, tableSchema), staged.toString,
      tableSchema)
    val v = finalizeStaged(staged, stats, tableSchema,
      info("append", txn = Some((app, batchId))) +:
        (Option.when(currentVersion.isEmpty)(SetSchema(tableSchema)) ++
          identityOf(snapOpt)).toSeq,
      readVersion = None,
      schemaBasis = if (currentVersion.isEmpty) Some(-1L) else None,
      identityBasis = if (idBasis.isEmpty) None else Some(idBasis))
    if (v < 0) None
    else { maybeAutoCompact(df0.sparkSession); Some(v) }
  }

  /** A staging directory Spark's DSv2 writer populated is flat (the
    * partition columns sit in the data files): for a partitioned
    * table, re-stage it hive-style through [[writeStaged]] — one pass
    * over the delta only, which recomputes the stats — so the
    * finalize move lands the files under their partition dirs. Flat
    * stagings of unpartitioned tables pass through with the stats
    * their own write computed. */
  private def restageForLayout(spark: SparkSession, staged: String,
                               stats: StagedStats): (String, StagedStats) = {
    if (currentVersion.isEmpty) return (staged, stats)
    val s = schema
    val pc = partitionCols
    val mapped = hasFieldIds(s)
    val flat = Option(new File(staged).listFiles()).toSeq.flatten
      .exists(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    // DSv2 INSERT / streaming stagings arrive flat and without field
    // ids; a partitioned table needs the hive layout, a column-mapped
    // table needs ids stamped into the files, a generated-column
    // table needs omitted (hidden transform) columns computed, and a
    // CLUSTERED table needs the key-local sort the direct executor
    // write skipped — one pass over the delta fixes all four
    if (!flat || (pc.isEmpty && !mapped && generatedCols.isEmpty &&
        clusterByCols.isEmpty)) (staged, stats)
    else {
      val byName = StructType(s.fields.map(f =>
        f.copy(metadata = Metadata.empty)))
      val staged2 = newStagingDir()
      val stats2 = writeStaged(spark.read.schema(byName).parquet(staged),
        staged2, s)
      dropStaging(staged)
      (staged2, stats2)
    }
  }

  /** Commit a staging directory the DSv2 write path already
    * populated, as an append (`INSERT INTO`); `stats` come from the
    * [[stagedStatsTracker]] its writers carried. */
  private[sources] def appendStaged(spark: SparkSession, staged: String,
                                    stats: StagedStats): Long = {
    val (dir, st) = restageForLayout(spark, staged, stats)
    val v = finalizeStaged(new File(dir), st, schema, Seq(info("append")),
      readVersion = None)
    maybeAutoCompact(spark)
    v
  }

  /** Commit a staging directory as a full replace
    * (`INSERT OVERWRITE`): adds the staged files, retires every
    * prior live file by reference. */
  private[sources] def overwriteStaged(spark: SparkSession, staged: String,
                                       stats: StagedStats): Long = {
    val prior = currentVersion.map(v => snapshotAt(v).adds.map(_.path))
      .getOrElse(Seq.empty)
    val (dir, st) = restageForLayout(spark, staged, stats)
    finalizeStaged(new File(dir), st, schema,
      info("overwrite") +: prior.map(Remove), readVersion = currentVersion)
  }

  /** Commit a staging directory the DSv2 STREAMING sink populated,
    * as one exactly-once micro-batch append (Delta's
    * txnAppId/txnVersion rule over an external staging): an epoch
    * the engine replays after a restart deduplicates at the commit
    * layer — the staged bytes drop, nothing commits twice. */
  private[sources] def appendStagedStream(spark: SparkSession,
                                          staged: String, stats: StagedStats,
                                          app: String,
                                          batchId: Long): Option[Long] = {
    if (lastCommittedBatch(app).exists(_ >= batchId)) {
      dropStaging(staged); return None
    }
    val (dir, st) = restageForLayout(spark, staged, stats)
    val v = finalizeStaged(new File(dir), st, schema,
      Seq(info("append", txn = Some((app, batchId)))), readVersion = None)
    if (v < 0) None
    else { maybeAutoCompact(spark); Some(v) }
  }

  /** Metadata-only commit that ONLY advances an idempotent-txn
    * pointer (op `refresh`, no adds/removes, dataChange = false —
    * streams skip it): how [[MaterializedAgg]] records "refreshed
    * through base version N" when the refresh itself had no net
    * change to merge. */
  private[sources] def commitTxnMarker(app: String, batch: Long): Long =
    commitRetry(currentVersion, Seq(info("refresh", txn = Some((app, batch)))))

  // ---------------------------------------------------------------
  // row-level ops: stats-pruned delete / update, and the one change
  // executor they share with MERGE

  /** Does `pred` provably match NO row of `file`? Sound only:
    * unparseable conjuncts or missing bounds contribute nothing.
    * Because a row matching `pred` must match every conjunct, ONE
    * conjunct with an empty match set in the file's [min,max]/null
    * profile skips the whole file. */
  /** Driver-side cache of loaded bloom sidecars (immutable once
    * written — a data file's name is never reused). `None` caches a
    * missing sidecar so unindexed tables pay one existence check. */
  private val bloomCache = scala.collection.concurrent.TrieMap
    .empty[String, Option[org.apache.spark.util.sketch.BloomFilter]]

  private def bloomFor(fileName: String, colName: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    bloomCache.getOrElseUpdate(s"$fileName.$colName", {
      val f = new File(path, s"_bloom/$fileName.$colName.bloom")
      if (!f.isFile) None
      else {
        val in = new java.io.FileInputStream(f)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      }
    })

  private def provablyNoMatch(file: AddFile,
                              conjuncts: Seq[expressions.Expression]): Boolean =
    LogTable.statsNoMatch(file, conjuncts, (f, c) => bloomFor(f, c))


  private def splitConjuncts(
      e: expressions.Expression): Seq[expressions.Expression] = e match {
    case expressions.And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other                 => Seq(other)
  }

  /** Expand an UPDATE's SET map with recomputed generated columns:
    * when a SET touches a source column of a generated column and
    * does not set the generated one explicitly, the generated
    * expression is re-derived with the source reference REPLACED by
    * the source's SET expression — the projection evaluates against
    * pre-update rows, so a plain `expr(e)` would recompute from the
    * OLD source value (Delta recomputes generated columns the same
    * way). */
  private def withGeneratedRecompute(spark: SparkSession,
                                     set: Map[String, Column])
      : Map[String, Column] = {
    val gen = generatedCols
    ensureGraftFns(spark, gen.values)
    if (gen.isEmpty) set
    else gen.foldLeft(set) { case (acc, (g, e)) =>
      if (acc.contains(g)) acc
      else {
        // parse once; an unparseable stored expression recomputes
        // nothing here and surfaces at the commit-time faithfulness
        // check instead
        val parsed =
          try Some(spark.sessionState.sqlParser.parseExpression(e))
          catch { case NonFatal(_) => None }
        parsed match {
          case Some(p) if p.collect {
              case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => u.name
            }.exists(acc.contains) =>
            val substituted = p.transform {
              case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute if acc.contains(u.name) =>
                org.apache.spark.sql.GraftColumnShim.expression(acc(u.name))
            }
            acc + (g -> org.apache.spark.sql.GraftColumnShim
              .column(substituted))
          case _ => acc
        }
      }
    }
  }

  /** Row-level DELETE, copy-on-write: stats-prune, then rewrite only
    * the files holding a matching row, without it — everything else
    * carries forward by reference ([[changeMatching]]). Rows where
    * `pred` is NULL are kept (SQL DELETE semantics). Matching rows
    * land in the change feed as `delete` rows. */
  def delete(spark: SparkSession, pred: Column): RowOpResult = {
    requireDeterministic(spark, "DELETE", pred, Map.empty)
    changeMatching(spark, pred, None, mor = false)
  }

  /** A row-level op's predicate and SET expressions must be
    * deterministic: the stats pruner, the match scan and the images
    * all read them as one fixed function of the row, so `rand()` or
    * `uuid()` is refused before anything is written. */
  private def requireDeterministic(spark: SparkSession, op: String,
                                   pred: Column,
                                   set: Map[String, Column]): Unit = {
    val exprs = ("predicate" -> pred) +: set.toSeq.map { case (k, e) =>
      s"SET $k" -> e }
    val plan = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      .select(exprs.map { case (_, e) => e }: _*).queryExecution.analyzed
    plan.expressions.zip(exprs).foreach { case (e, (what, c)) =>
      if (!e.deterministic) throw new IllegalArgumentException(
        s"$op $what must be deterministic: $c")
    }
  }

  /** Row-level UPDATE, copy-on-write: same skeleton as [[delete]];
    * the files holding a matching row are rewritten with `set`
    * applied to it. Change feed records pre/post images. */
  def update(spark: SparkSession, pred: Column,
             set: Map[String, Column]): RowOpResult =
    changeMatching(spark, pred, Some(updateSet(spark, pred, set)),
      mor = false)

  /** Merge-on-read DELETE — Delta's deletion vectors: instead of
    * rewriting every touched file, record the matching rows' parquet
    * row indices in a deletion-vector sidecar (`_dv/<uuid>/`,
    * written distributed) and re-commit the touched files BY
    * REFERENCE with the vector attached. The commit moves no table
    * data: its cost is ∝ matched rows, where copy-on-write
    * [[delete]] pays ∝ touched-file bytes — the difference between
    * deleting 100 rows and rewriting the 100 GB of files that held
    * them. Reads ([[load]], the catalog, the change feed) subtract
    * the vector; a later delete on an already-vectored file commits
    * the union; a file whose every row is deleted is dropped
    * outright; OPTIMIZE / [[purgeDeletes]] materializes vectors
    * away. Change feed and conflict detection behave exactly as the
    * CoW path (same `delete` op, same remove-revalidation rule). */
  def deleteMor(spark: SparkSession, pred: Column): RowOpResult = {
    requireDeterministic(spark, "DELETE", pred, Map.empty)
    changeMatching(spark, pred, None, mor = true)
  }

  /** Merge-on-read UPDATE: matching rows are deletion-vectored out
    * of their files and their post-images appended as new files —
    * write amplification ∝ matched rows, not touched files. */
  def updateMor(spark: SparkSession, pred: Column,
                set: Map[String, Column]): RowOpResult =
    changeMatching(spark, pred, Some(updateSet(spark, pred, set)),
      mor = true)

  /** An UPDATE's SET map, checked (known, non-identity columns,
    * deterministic together with `pred`) and extended with the
    * generated columns it recomputes. */
  private def updateSet(spark: SparkSession, pred: Column,
                        set0: Map[String, Column]): Map[String, Column] = {
    val s = schema
    set0.keys.foreach(k => require(s.fieldNames.contains(k),
      s"UPDATE SET names unknown column '$k'"))
    set0.keys.foreach(k => require(!identityColumns.contains(k),
      s"cannot UPDATE SET IDENTITY column '$k'"))
    val set = withGeneratedRecompute(spark, set0)
    requireDeterministic(spark, "UPDATE", pred, set)
    set
  }

  /** The images of a DELETE (`set` None) or an UPDATE, either form:
    * stats-prune the live files, scan the candidates once with
    * provenance (minus already-deleted rows: a vectored row must not
    * match), and hand each matching row's `delete` image — or its
    * pre-image and its post-image with `set` applied — to
    * [[commitChanges]], which commits deletion vectors (`mor`) or
    * rewrites the touched files by the same predicate. */
  private def changeMatching(spark: SparkSession, pred: Column,
                             set: Option[Map[String, Column]],
                             mor: Boolean): RowOpResult = {
    val readVersion = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    // file-skipping where the manifest lives: above the parquet-
    // checkpoint threshold only the candidate files are ever
    // collected to the driver (prunedAdds runs the walk as a job)
    val (candidates, totalLive) =
      prunedAddsFor(spark, pred, Some(readVersion))
    val skipped = (totalLive - candidates.size).toInt
    if (candidates.isEmpty)
      return RowOpResult(readVersion, 0L, skipped, 0, 0)
    val scan = readAddsWithProvenance(spark, readVersion, candidates)
    val dataCols = scan.columns.toSeq
      .filterNot(c => c == "__file" || c == "__idx")
    // each column after the change, on the rows where `hit` holds;
    // non-schema columns (the materialized row id on a tracked table)
    // pass through, so a post-image keeps the row's id
    def applied(s: Map[String, Column], hit: Column): Seq[Column] =
      dataCols.map(c => s.get(c).fold(col(c))(e =>
        when(hit, e.cast(scan.schema(c).dataType)).otherwise(col(c)).as(c)))
    val matched = scan.filter(pred)
    val images = set match {
      case None => matched.withColumn("_change_type", lit("delete"))
      case Some(s) =>
        val prov = Seq(col("__file"), col("__idx"))
        def image(changeType: String, cols: Seq[Column]): Column =
          struct(cols ++ (lit(changeType).as("_change_type") +: prov): _*)
        matched.select(explode(array(
          image("update_preimage", dataCols.map(col)),
          image("update_postimage", applied(s, lit(true))))).as("__c"))
          .select(col("__c.*"))
    }
    // copy-on-write re-applies the predicate to the touched files
    // (it is deterministic): survivors and post-images in one pass
    val hit = coalesce(pred, lit(false))
    val rewrite: DataFrame => DataFrame = set match {
      case None    => _.filter(!hit)
      case Some(s) => _.select(applied(s, hit): _*)
    }
    val (v, feed) = commitChanges(spark, readVersion, candidates, images,
      if (set.isEmpty) "delete" else "update", mor,
      rewrite = Option.when(!mor)(rewrite))
    RowOpResult(v.getOrElse(readVersion), feed.updated + feed.deleted,
      skipped, candidates.size, feed.touched.size)
  }

  /** The one row-level change executor: DELETE and UPDATE, in both
    * forms ([[changeMatching]]), and MERGE ([[SqlMerge.mergeLog]])
    * build change images and commit them here — Delta's DML shape:
    * find the touched files, then rewrite them. `images` are one
    * statement's images against `readVersion`: the data columns of
    * [[readAddsWithProvenance]], `_change_type` (`delete`,
    * `update_preimage`, `update_postimage`, `insert`, or a MERGE's
    * [[MergeFeedTracker.Probe]]) and the changed row's scan provenance
    * `__file`/`__idx` (null on inserts). `within` are the files of
    * `readVersion` they were scanned from.
    *
    * The images execute ONCE, as the change-feed write, whose
    * [[MergeFeedTracker]] returns the counters, each touched file's
    * changed-row count and the duplicate-match flag as task results.
    * A feed that changes nothing is dropped and nothing commits.
    * Otherwise the touched files are scanned once and the commit is
    *  - copy-on-write: `rewrite` of that scan — a DELETE or UPDATE
    *    re-applies its deterministic predicate, so each touched file
    *    rewrites in place in one task — or, without one (MERGE), the
    *    scan anti-joined on the feed read-back's changed
    *    `(__file, __idx)` keys plus the feed's post-images and
    *    inserts, staged as the files replacing the touched ones;
    *  - merge-on-read (`mor`): the changed keys plus the touched
    *    files' old pairs form one new deletion-vector dir, the touched
    *    files re-commit by reference with it (a fully deleted file
    *    drops) and the post-images stage from the feed read-back.
    * Any refusal — a duplicate match, a CHECK violation, a lost
    * commit race, an identity re-plan, a replayed `txn` — drops the
    * feed and vector dirs, unless a commit already references them (a
    * failure after the claim leaves both to that commit). `identity`
    * are the specs inserts allocated from: the commit advances their
    * marks and refuses a raced one. Returns the committed version
    * (None when nothing committed) and the feed's statistics. */
  private[sources] def commitChanges(spark: SparkSession, readVersion: Long,
                                     within: Seq[AddFile], images: DataFrame,
                                     op: String, mor: Boolean,
                                     rewrite: Option[DataFrame => DataFrame] =
                                       None,
                                     txn: Option[(String, Long)] = None,
                                     identity: Map[String, IdentitySpec] =
                                       Map.empty)
      : (Option[Long], MergeFeedStats) = {
    val snap = snapshotAt(readVersion)
    val cdfRel = s"_cdf/${UUID.randomUUID()}"
    val dvRel = s"_dv/${UUID.randomUUID()}"
    def dropFeed(): Unit =
      Seq(cdfRel, dvRel).foreach(d => dropStaging(s"$path/$d"))
    try {
      val feed = org.apache.spark.sql.GraftWriteShim.writeParquet(images,
        s"$path/$cdfRel", Seq.empty, (data, _) => MergeFeedTracker(data),
        new MergeFeedFormat).result()
      if (feed.duplicateMatch) throw MergeFeedTracker.cardinalityViolation()
      // __file is the scan-time URI: attribute on absolute paths (a
      // clone snapshot mixes data roots, so bare names could collide)
      val changed =
        feed.touched.map { case (f, n) => LogTable.provPath(f) -> n }
      val touched = within.filter(a => changed.contains(absLivePath(a)))
      if (touched.isEmpty && feed.inserted == 0L) {
        dropFeed()
        return (None, feed)
      }
      // read back by the written schema: no footer inference
      val feedRaw = readStaged(spark, s"$path/$cdfRel", images.schema)
      val dataCols = images.columns.toSeq
        .filterNot(Set("_change_type", "__file", "__idx")).map(col)
      val replacements = feedRaw.filter(
        col("_change_type").isin("update_postimage", "insert"))
        .select(dataCols: _*)
      val changedKeys = feedRaw.filter(
        col("_change_type").isin("update_preimage", "delete"))
      val (staging, reAdds) =
        if (!mor) {
          // the touched files scanned once (∝ touched bytes, full
          // pushdown); without a caller rewrite the survivors are the
          // scan minus the changed keys — a measured count, so the
          // broadcast is size-gated, and past the gate the anti-join
          // shuffles (file, idx) pairs only
          lazy val scan = readAddsWithProvenance(spark, readVersion, touched)
          val rewritten = rewrite match {
            case _ if touched.isEmpty => replacements
            case Some(f) => f(scan).select(dataCols: _*)
            case None =>
              val keys0 = changedKeys.select(col("__file").as("__kfile"),
                col("__idx").as("__kidx"))
              val keys =
                if (feed.updated + feed.deleted <= LogTable.DvBroadcastMaxRows)
                  broadcast(keys0)
                else keys0
              scan.join(keys, scan("__file") === keys("__kfile") &&
                  scan("__idx") === keys("__kidx"), "left_anti")
                .select(dataCols: _*).unionByName(replacements)
          }
          (Some(rewritten), Seq.empty[AddFile])
        } else {
          // this op's pairs come off the feed read-back (∝ changes);
          // the touched files' existing pairs (∝ prior deletes) append
          // beside them, so each AddFile.dv reference is complete
          changedKeys
            .select(col("__file").as("file"), col("__idx").as("idx"))
            .repartition(col("file")).write.parquet(s"$path/$dvRel")
          val oldDirs = touched.flatMap(_.dv.map(_.path)).distinct
          if (oldDirs.nonEmpty) {
            // a broadcast semi-join, not isin: a wide DELETE touches
            // thousands of files and a literal list that size bloats
            // the plan
            import spark.implicits._
            spark.read.parquet(oldDirs.map(absPath): _*)
              .join(broadcast(feed.touched.keys.toSeq.toDF("file")),
                Seq("file"), "left_semi")
              .repartition(col("file")).write.mode("append")
              .parquet(s"$path/$dvRel")
          }
          def card(a: AddFile): Long =
            changed(absLivePath(a)) + a.dv.map(_.rows).getOrElse(0L)
          // fully-deleted files are dropped, not 100%-vectored
          (Option.when(feed.updated + feed.inserted > 0L)(replacements),
            touched.filter(a => card(a) < a.rows)
              .map(a => a.copy(dv = Some(Dv(dvRel, card(a))))))
        }
      val allocates = identity.nonEmpty && feed.inserted > 0L
      val actions = info(op, Some(cdfRel), txn) +:
        (touched.map(a => Remove(a.path)) ++ reAdds.map(Add) ++
          Option.when(allocates)(SetIdentity(identity)))
      val v = staging match {
        case Some(df) =>
          val staged = newStagingDir()
          finalizeStaged(new File(staged),
            writeStaged(df, staged, snap.schema), snap.schema, actions,
            readVersion = Some(readVersion),
            identityBasis = Option.when(allocates)(
              identity.map { case (c, s) => c -> s.highWater }))
        case None => commitRetry(Some(readVersion), actions)
      }
      // a replayed txn commits nothing: its feed is an orphan
      if (v < 0) dropFeed()
      (Option.when(v >= 0)(v), feed)
    } catch { case e: Throwable =>
      if (!committedFeed(readVersion, cdfRel)) dropFeed()
      throw e
    }
  }

  /** Does a commit after `readVersion` reference the change feed
    * `cdfRel`? A failure after the log claim (a lost acknowledgement,
    * a failing checkpoint) must not reclaim the dirs the committed
    * version reads; when the log cannot be read either, the answer is
    * yes — an orphan waits for vacuum, a dropped live feed is lost. */
  private def committedFeed(readVersion: Long, cdfRel: String): Boolean =
    try versions.filter(_ > readVersion).exists(v => readCommit(v).exists {
      case c: CommitInfo => c.cdf.contains(cdfRel)
      case _             => false
    })
    catch { case NonFatal(_) => true }

  /** Materialize every deletion vector: rewrite JUST the vectored
    * files without their deleted rows and clear the vectors
    * (Delta's `REORG TABLE ... APPLY (PURGE)`) — one `optimize`
    * commit, no row-level change, streams skip it. */
  def purgeDeletes(spark: SparkSession): Long = {
    val readVersion = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(readVersion)
    val dvd = snap.adds.filter(_.dv.isDefined)
    if (dvd.isEmpty) return readVersion
    val staged = new File(newStagingDir())
    // positions SHIFT when vectored rows materialize away — the
    // rewrite source carries each surviving row's effective id
    val stats = writeStaged(rewriteSource(spark, snap, dvd),
      staged.toString, snap.schema)
    finalizeStaged(staged, stats, snap.schema,
      info("optimize") +: dvd.map(a => Remove(a.path)),
      readVersion = Some(readVersion))
  }

  /** Derive file-skipping conjuncts on GENERATED columns from user
    * conjuncts on their SOURCE columns, for monotonic generation
    * templates (`CAST(src AS DATE)`, `to_date`, `date_trunc`,
    * `trunc`, `year`, prefix `substring`/`left`): `ts >= L` implies
    * `date(ts) >= date(L)`, so a table `PARTITIONED BY (event_date
    * GENERATED ALWAYS AS CAST(ts AS DATE))` prunes on plain `ts`
    * predicates — the Delta generated-column partition-pruning UX.
    * Strict bounds weaken to non-strict on the derived side (the
    * transform is non-injective); equality maps to equality. The
    * transform-of-literal folds through Catalyst's own analyzer +
    * constant folding (no job), so timezone/ANSI semantics are
    * exactly the engine's; anything unrecognized or unfoldable
    * derives nothing — less skipping, never wrong. */
  private def derivedConjuncts(spark: SparkSession,
      generated: Map[String, String], tableTz: Option[String],
      conjuncts: Seq[expressions.Expression]): Seq[expressions.Expression] = {
    if (generated.isEmpty || conjuncts.isEmpty) return Seq.empty
    ensureGraftFns(spark, generated.values)
    // generated values were computed under the table's recorded
    // session timezone; folding an INSTANT transform-of-literal
    // under a different (or unknown) zone shifts date boundaries
    // and the implication breaks — such derivations decline (no
    // skipping, never wrong); zone-independent sources (dates,
    // strings, NTZ) derive regardless
    val zoneOk = tableTz.exists(z =>
      sameZone(z, spark.sessionState.conf.sessionLocalTimeZone))
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}

    // template → (source column, monotonic?). Monotonic templates
    // derive range AND equality conjuncts; non-monotonic ones
    // (hash buckets) derive equality/IN only — `id > 5` implies
    // nothing about `pmod(hash(id), 16)`.
    def srcOf(e: expressions.Expression): Option[(String, Boolean)] =
      e match {
        case c: expressions.Cast => (c.child, c.dataType) match {
          case (u: UnresolvedAttribute, DateType) => Some((u.name, true))
          case _ => None
        }
        // numeric truncate transform: `c - pmod(c, w)` =
        // floor(c/w)*w, order-preserving
        case s: expressions.Subtract => (s.left, s.right) match {
          case (u: UnresolvedAttribute, f: UnresolvedFunction)
              if f.nameParts.last.equalsIgnoreCase("pmod") =>
            f.arguments match {
              case Seq(u2: UnresolvedAttribute, _: expressions.Literal)
                  if u2.name == u.name => Some((u.name, true))
              case _ => None
            }
          case _ => None
        }
        case f: UnresolvedFunction =>
          (f.nameParts.last.toLowerCase(java.util.Locale.ROOT),
            f.arguments) match {
            case ("to_date" | "date", Seq(u: UnresolvedAttribute)) =>
              Some((u.name, true))
            case ("date_trunc",
              Seq(_: expressions.Literal, u: UnresolvedAttribute)) =>
              Some((u.name, true))
            case ("trunc",
              Seq(u: UnresolvedAttribute, _: expressions.Literal)) =>
              Some((u.name, true))
            case ("year", Seq(u: UnresolvedAttribute)) =>
              Some((u.name, true))
            case ("substring" | "substr",
              Seq(u: UnresolvedAttribute, s: expressions.Literal,
                  _: expressions.Literal)) if s.value == 1 =>
              Some((u.name, true))
            case ("left",
              Seq(u: UnresolvedAttribute, _: expressions.Literal)) =>
              Some((u.name, true))
            // bucket transform: `pmod(hash(c), n)` — deterministic,
            // NOT order-preserving
            case ("pmod",
              Seq(h: UnresolvedFunction, _: expressions.Literal))
                if h.nameParts.last.equalsIgnoreCase("hash") =>
              h.arguments match {
                case Seq(u: UnresolvedAttribute) => Some((u.name, false))
                case _ => None
              }
            // Iceberg-hash bucket: deterministic, NOT order-preserving
            case ("graft_iceberg_bucket",
              Seq(u: UnresolvedAttribute, _: expressions.Literal)) =>
              Some((u.name, false))
            case _ => None
          }
        case _ => None
      }

    // fold transform(literal) through the engine: analyzer resolves
    // the function, ConstantFolding collapses it — extracted from
    // the optimized one-row plan, no job runs
    def foldLit(substituted: expressions.Expression)
        : Option[expressions.Literal] =
      try {
        val plan = spark.range(1)
          .select(org.apache.spark.sql.GraftColumnShim
            .column(substituted).as("v"))
          .queryExecution.optimizedPlan
        plan.collectFirst {
          case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
            p.projectList.head
        }.map {
          case a: expressions.Alias => a.child
          case other                => other
        }.collect { case l: expressions.Literal => l }
      } catch { case NonFatal(_) => None }

    val templates = generated.toSeq.flatMap { case (g, e) =>
      try {
        val parsed = spark.sessionState.sqlParser.parseExpression(e)
        srcOf(parsed).map { case (src, mono) => (g, src, parsed, mono) }
      } catch { case NonFatal(_) => None }
    }
    if (templates.isEmpty) return Seq.empty

    def derive(src: String, parsed: expressions.Expression, g: String,
               attr: expressions.Expression, litSide: expressions.Expression,
               mk: (expressions.Expression, expressions.Expression) =>
                 expressions.Expression): Seq[expressions.Expression] =
      attr match {
        case a: expressions.Attribute
            if a.name == src && litSide.foldable &&
              (a.dataType != TimestampType || zoneOk) =>
          val substituted = parsed.transform {
            case u: UnresolvedAttribute if u.name == src => litSide
          }
          foldLit(substituted).map { l =>
            mk(expressions.AttributeReference(g, l.dataType)(), l)
          }.toSeq
        case _ => Seq.empty
      }

    conjuncts.flatMap { c =>
      templates.flatMap { case (g, src, parsed, mono) =>
        def d(attr: expressions.Expression, lit: expressions.Expression,
              mk: (expressions.Expression, expressions.Expression) =>
                expressions.Expression) =
          derive(src, parsed, g, attr, lit, mk)
        c match {
          // strict bounds weaken: src > L ⟹ g >= T(L) — for
          // ORDER-PRESERVING templates only
          case expressions.GreaterThan(l, r) if mono =>
            d(l, r, expressions.GreaterThanOrEqual) ++
              d(r, l, expressions.LessThanOrEqual)
          case expressions.GreaterThanOrEqual(l, r) if mono =>
            d(l, r, expressions.GreaterThanOrEqual) ++
              d(r, l, expressions.LessThanOrEqual)
          case expressions.LessThan(l, r) if mono =>
            d(l, r, expressions.LessThanOrEqual) ++
              d(r, l, expressions.GreaterThanOrEqual)
          case expressions.LessThanOrEqual(l, r) if mono =>
            d(l, r, expressions.LessThanOrEqual) ++
              d(r, l, expressions.GreaterThanOrEqual)
          case expressions.EqualTo(l, r) =>
            d(l, r, expressions.EqualTo) ++ d(r, l, expressions.EqualTo)
          case expressions.In(a, items) if items.nonEmpty =>
            // src IN (l1..ln) ⟹ g IN (T(l1)..T(ln)); one
            // untransformable element kills the whole derivation
            val per = items.map(i =>
              d(a, i, expressions.EqualTo).headOption)
            if (per.exists(_.isEmpty)) Seq.empty
            else {
              val eqs = per.flatten.collect {
                case expressions.EqualTo(attr, l) => (attr, l) }
              eqs.headOption.map { case (attr, _) =>
                expressions.In(attr, eqs.map(_._2)) }.toSeq
            }
          case _ => Seq.empty
        }
      }
    }
  }

  /** A DERIVED conjunct is sound only where the generated column was
    * actually COMPUTED: a file carrying null generated values for
    * non-null sources (the partition-evolution backfill window — the
    * hidden transform column postdates the file) must not be skipped
    * by an implication its rows never materialized. Declines per
    * file whenever the file's stats report ANY null in a referenced
    * column — less skipping, never wrong. (Files with no stats for
    * the column carry no bounds and already decline inside the
    * pruner; rewrites heal nulls at the write choke point, so the
    * guard's cost decays as the table churns.) */
  private def derivedSafeFor(file: AddFile,
      derived: Seq[expressions.Expression]): Seq[expressions.Expression] =
    LogTable.derivedSafeFor(file, derived)

  /** Resolve a user predicate against a schema (an analyzed Filter
    * over an empty local relation): attributes become typed
    * references, literal sides become foldable — the form the stats
    * pruner matches on. */
  private def resolvedConjuncts(spark: SparkSession, s: StructType,
                                pred: Column): Seq[expressions.Expression] =
    spark.createDataFrame(new java.util.ArrayList[Row](), s)
      .filter(pred).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.map(splitConjuncts).getOrElse(Seq.empty)

  /** Table-relative paths of the files one commit added. */
  def addedPaths(v: Long): Seq[String] = addedFiles(v).map(_.path)

  /** One commit's ADDED file entries, vectors and all. A
    * by-reference commit resolves its sidecar here — driver-side,
    * for callers that genuinely range over one commit's file set
    * (restore diffing); scale-conscious consumers take the sidecar
    * as a DATASET via [[addedFilesDs]] (mirror export) and
    * budget/stream admission uses [[commitAdmission]]'s O(1) facts. */
  private[sources] def addedFiles(v: Long): Seq[AddFile] =
    readCommit(v).flatMap {
      case Add(a)      => Seq(a)
      case AddByRef(r) => readAddsParquet(new File(logDir, r.path))
      case _           => Seq.empty
    }

  /** One commit's added files SPLIT for scale consumers: the inline
    * entries (bounded by the commit's own action count, driver Seq)
    * plus the by-reference sidecar as a DISTRIBUTED dataset when the
    * commit carries one — what lets a mirror export render a
    * CONVERT commit's million adds on executors instead of folding
    * them through the driver. */
  private[sources] def addedFilesDs(spark: SparkSession, v: Long)
      : (Seq[AddFile], Option[org.apache.spark.sql.Dataset[CkptAdd]]) = {
    val actions = readCommit(v)
    (addsOf(actions), addsRefOf(actions).map { r =>
      spark.read.parquet(new File(logDir, r.path).getPath)
        .as[CkptAdd](org.apache.spark.sql.Encoders.product[CkptAdd])
    })
  }

  /** Table-relative paths of the files one commit removed — the
    * remove half of the per-commit delta ([[DeltaExport.exportTail]]
    * renders these as Delta remove actions). */
  private[sources] def removedPaths(v: Long): Seq[String] =
    removesOf(readCommit(v))

  /** Did this commit carry a schema or partition-layout action? A
    * mirrored Delta commit must then re-emit metaData. */
  private[sources] def commitChangedMetadata(v: Long): Boolean =
    readCommit(v).exists {
      case _: SetSchema | _: SetPartition | _: SetConstraints => true
      case _ => false
    }

  /** Read ONE commit's added files under `readSchema` — deletion
    * vectors subtracted and data roots grouped, so a clone's seed
    * commit (absolute, possibly vectored references) reads exactly
    * the rows its snapshot contains. The streaming source's and
    * change feed's per-commit batch read. */
  private[sources] def readCommitAdds(spark: SparkSession,
                                      readSchema: StructType,
                                      v: Long): DataFrame =
    readAddedFiles(spark, readSchema, Seq(v))

  /** Read the FULL snapshot at `v` under `readSchema` — the
    * streaming source's initial batch when the log floor was raised
    * by [[expireSnapshots]] (the per-commit deltas below the floor
    * are gone; the checkpointed snapshot stands in for them). */
  private[sources] def readSnapshotAdds(spark: SparkSession,
                                        readSchema: StructType,
                                        v: Long): DataFrame = {
    val adds = snapshotAt(v).adds
    if (adds.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), readSchema)
    else dvAwareRead(spark, readSchema, partitionColsAt(v), adds,
      keepProvenance = false)
  }

  /** Read the files a WINDOW of commits added, as ONE scan set:
    * `dvAwareRead` splits clean from vectored files internally, so a
    * catch-up micro-batch over hundreds of clean appends plans a
    * single multi-path parquet scan — not one scan per commit —
    * while clone-seed/vectored commits still subtract their vectors
    * and group their data roots. */
  private[sources] def readAddedFiles(spark: SparkSession,
                                      readSchema: StructType,
                                      vs: Seq[Long]): DataFrame = {
    val adds = vs.flatMap(addedFiles)
    if (adds.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), readSchema)
    else dvAwareRead(spark, readSchema, partitionCols, adds,
      keepProvenance = false)
  }

  /** Iceberg's `expire_snapshots` / Delta's log retention, as an
    * explicit verb: bound the METADATA. A busy table commits
    * forever; without expiry the `_log/` directory grows without
    * bound and so does the time-travel surface readers must honor.
    * Expiry keeps the newest `retainLast` versions — and every
    * tagged / branch-fork version, which clamp the floor — writes a
    * full checkpoint AT the floor (the anchor every retained replay
    * resolves from), then deletes strictly-older commit entries and
    * checkpoints. O(window) metadata at any commit rate.
    *
    * Contracts after expiry: time travel below the floor fails with
    * a clear "expired" error (restore already refuses), change
    * feeds and resuming streams crossing the floor refuse loudly
    * (no silent gaps), a BRAND-NEW stream serves the floor snapshot
    * as its initial batch, idempotent-txn markers below the floor
    * are forgotten (keep the window longer than any stream's replay
    * horizon — Delta's log-retention caveat). Data files are
    * untouched: expiry bounds metadata, [[vacuum]] reclaims bytes —
    * run expiry first so vacuum sees the tightened reference set.
    * Returns the deleted log file names. */
  def expireSnapshots(retainLast: Int): Seq[String] = {
    require(retainLast >= 1, "expireSnapshots needs retainLast >= 1")
    val head = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val vs = versions
    val pinned = refs.values.map(_._2)
    val floor = (Seq(math.max(0L, head - retainLast + 1)) ++ pinned).min
    if (floor <= vs.head) return Seq.empty
    // the floor checkpoint anchors every retained replay; write it
    // BEFORE deleting anything (a crash between leaves a complete,
    // merely-unexpired log)
    if (!ckptFile(floor).isFile) writeCheckpoint(floor)
    // a checkpoint is three names: the header and its adds sidecar
    // (JSONL file or parquet DIRECTORY) — sweep all of them below
    // the floor, plus any orphaned sidecar whose header write
    // crashed (no header ever resolves it, so it is pure garbage)
    def ckptVer(name: String): Option[Long] = name match {
      // headers, JSONL sidecars, and parquet sidecar dirs (uuid-
      // tagged writer-unique names and the legacy fixed form) all
      // share the zero-padded version prefix
      case s if s.matches("\\d{20}\\.ckpt\\..+") =>
        Some(s.take(20).toLong)
      case _ => None
    }
    // a by-reference commit's sidecar dies with its commit — read
    // the doomed commits' addsRef names BEFORE deleting them (each
    // sidecar is uuid-unique to one commit, so no retained commit
    // can share it)
    val doomedRefs = vs.filter(_ < floor)
      .flatMap(v => commitAddsRef(v))
      .map(r => new File(logDir, r.path))
    val doomed =
      vs.filter(_ < floor).map(v => logFile(v)) ++
        listLogDir().filter(f => ckptVer(f.getName).exists(_ < floor)) ++
        doomedRefs
    doomed.foreach(deleteRecursive)
    snapCache.clear()
    doomed.map(_.getName)
  }

  /** Roll the table back to the state of `version` (Delta RESTORE):
    * ONE metadata-only commit re-adding the target snapshot's files
    * by reference and retiring the files that postdate it — zero
    * data movement at any table size, and the rolled-back commits
    * stay in the log, still time-travelable. Fails if the target's
    * files were already vacuumed. */
  def restore(version: Long): Long = {
    val cur = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    require(versions.contains(version),
      s"no committed version $version to restore to")
    val target = snapshotAt(version)
    // the DIFF is the operation's honest cost (O(changed files) —
    // what the restore commit must carry anyway); computing it must
    // not be O(#files) driver state. Above the parquet-checkpoint
    // threshold both snapshots' manifests serve DISTRIBUTED: the
    // vacuum check maps over the target manifest on executors, the
    // add/remove sets come from two anti-joins, and only the diff
    // is collected. Below it (or session-less) the driver Seq walk
    // is small by construction.
    val session = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val dist: Option[(org.apache.spark.sql.Dataset[CkptAdd],
                      org.apache.spark.sql.Dataset[CkptAdd])] =
      session.flatMap { sp =>
        if (target.addsMaterialized ||
            snapshotAt(cur).addsMaterialized) None
        else for {
          t <- scala.util.Try(distributedManifest(sp, version))
            .getOrElse(None)
          c <- scala.util.Try(distributedManifest(sp, cur))
            .getOrElse(None)
        } yield (t, c)
      }
    val (adds: Seq[AddFile], removes: Seq[String]) = dist match {
      case Some((t, c)) =>
        val rootB = path
        // vacuum check WHERE THE MANIFEST LIVES — a bounded sample
        // of missing files comes back, never the list
        val gone = t.mapPartitions { it =>
          it.filter { ca =>
            def abs(rel: String) =
              if (rel.startsWith("/")) rel else s"$rootB/$rel"
            !new File(abs(ca.path)).isFile ||
              ca.dvPath.exists(dp => !new File(abs(dp)).isDirectory)
          }.map(_.path)
        }(org.apache.spark.sql.Encoders.STRING).take(5)
        require(gone.isEmpty,
          s"cannot restore to version $version: files " +
            s"${gone.mkString(", ")}… were vacuumed")
        // a file present in both snapshots but with a DIFFERENT
        // deletion vector must be re-added too, or the restored
        // snapshot would keep serving the current vector's deletes
        val curSlim = c.toDF().select(col("path").as("__cp"),
          col("dvPath").as("__cdv"), col("dvRows").as("__cdvr"))
        val enc = org.apache.spark.sql.Encoders.product[CkptAdd]
        val addsDiff = t.toDF().join(curSlim,
          col("path") === col("__cp") &&
            (col("dvPath") <=> col("__cdv")) &&
            (col("dvRows") <=> col("__cdvr")), "left_anti")
          .select(t.toDF().columns.map(col).toIndexedSeq: _*)
          .as[CkptAdd](enc)
          .orderBy(col("idx")).collect()
          .map(LogCodec.decodeCkptAdd).toSeq
        val removesDiff = c.toDF().select(col("path"))
          .join(t.toDF().select(col("path").as("__tp")),
            col("path") === col("__tp"), "left_anti")
          .as[String](org.apache.spark.sql.Encoders.STRING)
          .collect().toSeq
        (addsDiff, removesDiff)
      case None =>
        val gone = target.adds.filterNot(a =>
          new File(absPath(a.path)).isFile) ++
          target.adds.filter(a => a.dv.exists(d =>
            !new File(absPath(d.path)).isDirectory))
        require(gone.isEmpty,
          s"cannot restore to version $version: files " +
            s"${gone.map(_.path).mkString(", ")} were vacuumed")
        val current = snapshotAt(cur)
        (target.adds.filterNot(a =>
          current.adds.exists(c => c.path == a.path && c.dv == a.dv)),
          current.adds.map(_.path)
            .filterNot(p => target.adds.exists(_.path == p)))
    }
    // the restored state is the TARGET's wholesale — including its
    // layout metadata: rolling back the schema while the (latest-
    // wins) partition/transform/generated actions kept pointing at
    // columns the restored schema no longer carries would strand
    // the table mid-contract (writes partitioning by a column no
    // frame has). Governance metadata (constraints, properties,
    // identity marks) deliberately stays CURRENT — a rollback of
    // data must not silently rewind policy.
    commitRetry(Some(cur), Seq(info("restore"), SetSchema(target.schema),
      SetPartition(target.partitionCols), SetGenerated(target.generated),
      SetTransforms(target.transforms)) ++ removes.map(Remove) ++
      adds.map(Add))
  }

  // ---------------------------------------------------------------
  // refs: tags + fast-forward branches (Iceberg's ref surface)

  private def parseRef(v: String): (String, Long) = {
    val Array(kind, ver) = v.split(":", 2)
    (kind, ver.toLong)
  }

  /** Named refs: name → (kind, version) where kind is `tag` (an
    * immutable named snapshot) or `branch` (a writable fork; the
    * version is its FORK point on this log). Persisted as a
    * latest-wins full-map `refs` action — checkpoint-carried,
    * replay-identical to constraints/transforms; the commits are
    * metadata-only (`ref` op, dataChange = false, streams skip). */
  def refs: Map[String, (String, Long)] = currentVersion
    .map(v => snapshotAt(v).refs.map { case (n, s) => n -> parseRef(s) })
    .getOrElse(Map.empty)

  private[sources] def refsAt(version: Long): Map[String, (String, Long)] =
    snapshotAt(version).refs.map { case (n, s) => n -> parseRef(s) }

  /** Resolve a ref name for `VERSION AS OF '<name>'`: a tag resolves
    * to its pinned version on THIS log; branches resolve through
    * [[branchTable]] instead (their head lives on their own log). */
  def resolveTag(name: String): Long = refs.get(name) match {
    case Some(("tag", v)) => v
    case Some((kind, _)) => throw new IllegalArgumentException(
      s"ref '$name' is a $kind, not a tag")
    case None => throw new IllegalArgumentException(
      s"no ref '$name' on the log table at $path")
  }

  private def requireRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"ref name '$name' must be alphanumeric with . _ - only")

  /** Iceberg's `CREATE TAG`: pin `version` (default the head) under
    * a name — time travel by name, and VACUUM keeps the tagged
    * snapshot's files however old they get. One metadata commit. */
  def createTag(name: String, version: Option[Long] = None): Long =
    createRef(name, "tag", version)

  private def createRef(name: String, kind: String,
                        version: Option[Long]): Long =
    retryMetadataCommit { basis =>
      if (basis.isEmpty) throw new IllegalStateException(
        s"no log table at $path — refs need an existing table")
      requireRefName(name)
      val snap = snapshotAt(basis.get)
      require(!snap.refs.contains(name), s"ref '$name' already exists")
      val v = version.getOrElse(basis.get)
      require(versions.contains(v), s"no committed version $v to tag")
      commitRetry(basis,
        Seq(info("ref"), SetRefs(snap.refs + (name -> s"$kind:$v"))),
        requireHead = Some(basis))
    }

  /** Drop a tag or branch ref. A branch's directory (and any files
    * a past fast-forward published from it) stays on disk — refs
    * are pointers, never data; [[dropBranch]] is the lifecycle verb
    * that also reclaims the directory once nothing references it. */
  def dropRef(name: String): Long =
    retryMetadataCommit { basis =>
      if (basis.isEmpty) throw new IllegalStateException(
        s"no log table at $path")
      val snap = snapshotAt(basis.get)
      require(snap.refs.contains(name), s"no ref '$name' to drop")
      commitRetry(basis, Seq(info("ref"), SetRefs(snap.refs - name)),
        requireHead = Some(basis))
    }

  /** Branch LIFECYCLE drop: remove the ref AND (by default) reclaim
    * the `_branch_<name>/` directory [[dropRef]] leaves behind.
    * Refused when any pinned main snapshot (the head, or a tagged /
    * branch-fork version VACUUM would also retain) still references
    * files under the branch directory — a past fast-forward
    * published them, and deleting would corrupt the live table;
    * OPTIMIZE main first to migrate them into the main tree, or
    * drop the ref only (`deleteData = false`, directory reclaims
    * later via drop_branch once nothing references it).
    *
    * `retainLast` widens the still-referenced check to the same
    * retained-version set a `vacuum(retainLast)` keeps servable —
    * the newest N main versions, not just pinned ones — so a table
    * vacuumed with a time-travel window keeps that window readable
    * across a drop_branch (r9 ADVICE: a recent unpinned version can
    * reference branch-dir files a past fast-forward published).
    * The default 1 matches vacuum's default (head + refs only). */
  def dropBranch(name: String, deleteData: Boolean = true,
                 retainLast: Int = 1): Long = {
    require(retainLast >= 1, s"need retainLast >= 1, got $retainLast")
    val ref = refs.get(name)
    ref.foreach { case (kind, _) =>
      require(kind == "branch",
        s"ref '$name' is a $kind, not a branch — use dropRef") }
    val dir = new File(branchDir(name))
    // a MERGED branch has no ref (fast-forward consumed it) but its
    // directory leaks and burns the name — drop_branch is the
    // reclaim verb for that case too
    require(ref.isDefined || dir.exists(),
      s"no ref or branch directory '$name' on the log table at $path")
    if (deleteData && dir.exists()) {
      val prefix = s"_branch_$name/"
      val absPrefix = dir.getAbsolutePath + "/"
      def hits(p: String): Boolean =
        p.startsWith(prefix) || p.startsWith(absPrefix)
      // every snapshot VACUUM would retain can serve reads: the
      // newest `retainLast` versions plus tag- and fork-pinned
      // ones (the same keep set vacuum computes)...
      val vs = versions
      val pinned = (vs.takeRight(retainLast) ++
        currentVersion.toSeq ++ refs.values.map(_._2))
        .distinct.filter(vs.contains)
      val mainStill = pinned.flatMap(v => snapshotAt(v).adds.flatMap(
        a => a.path +: a.dv.map(_.path).toSeq)).filter(hits)
      // ...and other LIVE branches' heads (a branch forked after a
      // fast-forward clone-seeds absolute paths into this dir)
      val branchStill = refs.collect {
        case (n, ("branch", _)) if n != name =>
          val bt = branchTable(n)
          bt.currentVersion.toSeq.flatMap(bv =>
            bt.snapshotAt(bv).adds.flatMap(a =>
              a.path +: a.dv.map(_.path).toSeq))
      }.flatten.filter(hits)
      val still = (mainStill ++ branchStill).distinct
      require(still.isEmpty,
        s"cannot drop branch '$name' with delete_data: ${still.size} " +
          s"file(s) under $prefix are still referenced (e.g. " +
          s"${still.head}) — OPTIMIZE/rewrite main first, or drop " +
          "the ref only (delete_data => false)")
    }
    val v = ref match {
      case Some(_) => dropRef(name)
      case None => currentVersion.getOrElse(
        throw new IllegalStateException(s"no log table at $path"))
    }
    if (deleteData) deleteRecursive(dir)
    v
  }

  private def branchDir(name: String): String = s"$path/_branch_$name"

  /** Create a WRITABLE branch at the current head (or `AS OF` any
    * committed version — Iceberg's branch-from-snapshot): a shallow
    * clone (metadata-only, zero data copies — the existing
    * [[cloneFrom]] machinery) under `_branch_<name>/` inside the
    * table directory, plus a `branch` ref recording the FORK
    * version. Work lands on the branch through the full table API
    * (its own log, its own commits); [[mergeBranch]] fast-forwards
    * main onto it — or, when main advanced past an `AS OF` fork,
    * content-aware-merges the branch delta if the file sets are
    * disjoint. */
  def createBranch(name: String,
                   version: Option[Long] = None): LogTable = {
    requireRefName(name)
    val fork = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    require(versions.contains(fork),
      s"no committed version $fork to branch from")
    require(!refs.contains(name), s"ref '$name' already exists")
    val bt = new LogTable(branchDir(name),
      checkpointInterval = checkpointInterval)
    require(bt.currentVersion.isEmpty,
      s"branch directory for '$name' already exists")
    bt.cloneFrom(this, Some(fork))
    createRef(name, "branch", Some(fork))
    bt
  }

  /** The branch's own table handle (read AND write). */
  def branchTable(name: String): LogTable = refs.get(name) match {
    case Some(("branch", _)) =>
      new LogTable(branchDir(name), checkpointInterval = checkpointInterval)
    case Some((kind, _)) => throw new IllegalArgumentException(
      s"ref '$name' is a $kind, not a branch")
    case None => throw new IllegalArgumentException(
      s"no ref '$name' on the log table at $path")
  }

  /** The policy metadata a branch merge carries over: each of the
    * branch's constraints, defaults, bloom columns and identity specs
    * that differs from main's. */
  private def changedPolicy(cur: TableMeta, target: TableMeta): Seq[Meta] =
    Seq(SetConstraints(target.constraints), SetDefaults(target.defaults),
      SetBloom(target.bloomCols), SetIdentity(target.identity))
      .filter(a => TableMeta.fold(cur, a) != cur)

  /** FAST-FORWARD merge: make main's state the branch's current
    * state, in ONE commit (file adds/removes by reference + the
    * branch's schema/layout metadata — zero data movement; branch-
    * local files publish by path, normalized back under this root).
    * Refused with a conflict if main advanced past the fork point
    * by anything but ref bookkeeping — the Nessie/Iceberg
    * fast-forward rule; re-branch and replay to rebase. The ref is
    * consumed. */
  def mergeBranch(name: String): Long = {
    val (kind, fork) = refs.getOrElse(name,
      throw new IllegalArgumentException(s"no ref '$name'"))
    require(kind == "branch", s"ref '$name' is a $kind, not a branch")
    val bt = branchTable(name)
    val bHead = bt.currentVersion.getOrElse(
      throw new IllegalStateException(s"branch '$name' has no commits"))
    val target = bt.snapshotAt(bHead)
    retryMetadataCommit { basis =>
      val head = basis.getOrElse(
        throw new IllegalStateException(s"no log table at $path"))
      val cur = snapshotAt(head)
      val rootPrefix = new File(path).getAbsolutePath + "/"
      // branch adds reference either main's files (absolute, from
      // the clone seed) or branch-local ones — normalize anything
      // under THIS root back to a relative path so vacuum's keep
      // set and the scan see one canonical form
      def norm(p: String): String = {
        val abs = if (p.startsWith("/")) p else s"${bt.path}/$p"
        if (abs.startsWith(rootPrefix)) abs.substring(rootPrefix.length)
        else abs
      }
      val tAdds = target.adds.map(a => a.copy(path = norm(a.path),
        dv = a.dv.map(d => d.copy(path = norm(d.path)))))
      val interlopers = versions.filter(v => v > fork && v <= head)
        .filterNot(v => commitOp(v) == "ref")
      if (interlopers.isEmpty) {
        // FAST-FORWARD: main is exactly where the branch forked it —
        // publish the branch head as main's state, wholesale. ALL
        // branch metadata publishes, not just schema/layout: a
        // branch-side ADD CONSTRAINT, SET DEFAULT, bloom index or
        // identity allocation (its high-water mark) must survive the
        // merge or later main writes would skip validation / reuse
        // ids (r9 ADVICE)
        val removes = cur.adds.map(_.path)
          .filterNot(p => tAdds.exists(_.path == p))
        val adds = tAdds.filterNot(a => cur.adds.contains(a))
        commitRetry(basis, Seq(info("merge"), SetSchema(target.schema),
          SetPartition(target.partitionCols), SetGenerated(target.generated),
          SetTransforms(target.transforms), SetRefs(cur.refs - name)) ++
          changedPolicy(cur.meta, target.meta) ++ removes.map(Remove) ++ adds.map(Add),
          requireHead = Some(basis))
      } else {
        // CONTENT-AWARE merge (the Nessie/Iceberg commit rule): main
        // advanced past the fork, but if its commits touched a
        // DISJOINT file set, the branch's delta replays cleanly on
        // the current head — main's post-fork data survives the
        // merge. Conflict only when both sides touched the same
        // file (a branch remove/modify that main also removed or
        // modified) or both diverged the table metadata.
        val forkSnap = snapshotAt(fork)
        val forkBy = forkSnap.adds.map(a => a.path -> a).toMap
        val tBy = tAdds.map(a => a.path -> a).toMap
        // the branch's delta relative to the fork: a fork file the
        // branch dropped OR modified (DV, rewrite) is a remove; a
        // new-or-changed entry is an add
        val bRemoves = forkSnap.adds
          .filter(a => !tBy.get(a.path).contains(a)).map(_.path)
        val bAdds = tAdds.filter(a => !forkBy.get(a.path).contains(a))
        val curBy = cur.adds.map(a => a.path -> a).toMap
        val clashes = bRemoves
          .filterNot(p => curBy.get(p).contains(forkBy(p)))
        if (clashes.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"cannot merge '$name': main's post-fork commits touched " +
              s"file(s) the branch also changed (${clashes.take(3)
                .mkString(", ")}) — re-branch from the new head and " +
              "replay")
        // metadata divergence covers the FULL governance surface —
        // constraints, defaults, bloom indexes and identity structure
        // included (r9 ADVICE: a schema-only check let a merge
        // silently drop a branch-side ADD CONSTRAINT, or publish
        // rows main's post-fork constraint never validated).
        // Identity HIGH-WATER marks are data-derived, not metadata —
        // compared structurally and merged separately below.
        def metaOf(s: LogTable#Snapshot) = (s.schema.json,
          s.partitionCols, s.generated, s.transforms,
          s.constraints, s.defaults, s.bloomCols,
          s.identity.map { case (c, sp) =>
            c -> sp.copy(highWater = None) })
        val branchMeta = metaOf(target) != metaOf(forkSnap)
        val mainMeta = metaOf(cur) != metaOf(forkSnap)
        if (branchMeta && mainMeta && metaOf(cur) != metaOf(target))
          throw new java.util.ConcurrentModificationException(
            s"cannot merge '$name': table metadata diverged on both " +
              "main and the branch since the fork — re-branch and " +
              "replay")
        // a CHECK constraint main declared (or re-expressed) after
        // the fork validated main's rows only — the branch's added
        // files were never checked against it. Validate them now
        // (one scan ∝ the branch delta); publishing unvalidated rows
        // under an active table-wide constraint is silent corruption.
        val newChecks = cur.constraints.filter { case (n, e) =>
          !forkSnap.constraints.get(n).contains(e) }
        if (newChecks.nonEmpty && bAdds.exists(_.rows > 0)) {
          val spark = SparkSession.getActiveSession
            .orElse(SparkSession.getDefaultSession).getOrElse(
              throw new IllegalStateException(
                s"cannot merge '$name': main added CHECK " +
                  s"constraint(s) ${newChecks.keys.mkString(", ")} " +
                  "after the fork and no SparkSession is active to " +
                  "validate the branch's rows against them"))
          val rows = dvAwareRead(spark, target.schema,
            target.partitionCols, bAdds, keepProvenance = false)
          newChecks.foreach { case (n, e) =>
            val bad = rows.filter(coalesce(!expr(e), lit(false))).count()
            if (bad > 0)
              throw new java.util.ConcurrentModificationException(
                s"cannot merge '$name': $bad row(s) the branch added " +
                  s"violate CHECK constraint '$n' ($e) declared on " +
                  "main after the fork — fix the branch data and " +
                  "re-merge")
          }
        }
        // identity high-water marks merge to the furthest value in
        // step direction — a branch that allocated ids must advance
        // main's mark or a later main append would reuse them. BOTH
        // sides allocating past the fork drew overlapping ranges
        // from the same fork-era mark: no merge can repair that.
        val idBase = if (branchMeta) target.identity else cur.identity
        val idMerged: Option[Map[String, IdentitySpec]] =
          if (idBase.isEmpty) None
          else {
            val collide = idBase.keys.filter { c =>
              val f = forkSnap.identity.get(c).flatMap(_.highWater)
              val m = cur.identity.get(c).flatMap(_.highWater)
              val b = target.identity.get(c).flatMap(_.highWater)
              m != f && b != f
            }
            if (collide.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"cannot merge '$name': identity column(s) " +
                  s"${collide.mkString(", ")} allocated values on " +
                  "BOTH main and the branch since the fork — the id " +
                  "ranges may overlap; re-branch and replay")
            val merged = idBase.map { case (c, sp) =>
              val marks = cur.identity.get(c).flatMap(_.highWater).toSeq ++
                target.identity.get(c).flatMap(_.highWater).toSeq
              c -> sp.copy(highWater =
                if (marks.isEmpty) sp.highWater
                else Some(if (sp.step > 0) marks.max else marks.min))
            }
            if (merged == cur.identity) None else Some(merged)
          }
        val meta =
          if (!branchMeta) Nil
          else Seq(SetSchema(target.schema),
            SetPartition(target.partitionCols),
            SetGenerated(target.generated),
            SetTransforms(target.transforms)) ++
            changedPolicy(cur.meta, target.meta).filterNot(_.isInstanceOf[SetIdentity])
        commitRetry(basis, Seq(info("merge"), SetRefs(cur.refs - name)) ++
          meta ++ idMerged.map(SetIdentity) ++ bRemoves.map(Remove) ++
          bAdds.map(Add),
          requireHead = Some(basis))
      }
    }
  }

  /** `DESCRIBE HISTORY` analog: one row per commit, newest last —
    * version, wall-clock, operation, add/remove file counts. Driver-
    * local metadata read, O(#commits). */
  def history(spark: SparkSession): DataFrame = {
    val rows = versions.map { v =>
      val actions = readCommit(v)
      val info = infoOf(v, actions)
      (v, info.ts, info.op, addsOf(actions).size.toLong +
        addsRefOf(actions).map(_.count).getOrElse(0L),
        removesOf(actions).size.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("version", "commit_ts", "op", "n_added", "n_removed")
  }

  /** Iceberg's `snapshots` inspection surface: one row per retained
    * commit with its parent version, wall-clock instant, operation
    * and a SUMMARY map (add/remove counts, added rows/bytes, the
    * idempotent-txn tag, change-file presence) — richer than
    * [[history]]. Driver cost O(retained versions) commit reads,
    * metadata only; the manifest is never touched. */
  def snapshotsDF(spark: SparkSession): DataFrame = {
    val vs = versions
    val floor = vs.headOption.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val rows = vs.map { v =>
      val actions = readCommit(v)
      val adds = addsOf(actions)
      // a by-reference commit's totals ride the action — the
      // sidecar stays closed for this O(metadata) view
      val ref = addsRefOf(actions)
      val removed = removesOf(actions).size
      val meta = infoOf(v, actions)
      val summary = Map(
        "n_added" -> (adds.size +
          ref.map(_.count).getOrElse(0L)).toString,
        "n_removed" -> removed.toString,
        "added_rows" -> (adds.map(_.rows).sum +
          ref.map(_.rows).getOrElse(0L)).toString,
        "added_bytes" -> (adds.map(_.bytes).sum +
          ref.map(_.bytes).getOrElse(0L)).toString) ++
        meta.txn.map { case (a, b) =>
          Map("txn_app" -> a, "txn_batch" -> b.toString) }
          .getOrElse(Map.empty[String, String]) ++
        (if (meta.cdf.isDefined) Map("has_change_files" -> "true")
         else Map.empty[String, String])
      (v, if (v == floor) None else Some(v - 1L), meta.ts, meta.op,
        summary)
    }
    import spark.implicits._
    rows.toDF("version", "parent", "committed_at", "operation",
      "summary")
  }

  /** Iceberg's `manifests`-shaped view of the CHECKPOINT chain: one
    * row per retained checkpoint — version, file-state format
    * (parquet / jsonl), sidecar path, part-file
    * count and total sidecar bytes. Metadata-only driver listing
    * (O(#checkpoints), bounded by expiry); the audit surface for
    * "which anchors does replay resolve from, and how big are
    * they". */
  def manifestsDF(spark: SparkSession): DataFrame = {
    val rows = listLogDir().filter(_.getName.endsWith(".ckpt.json"))
      .sortBy(_.getName).toSeq.map { h =>
        val v = h.getName.stripSuffix(".ckpt.json").toLong
        val header = ckptHeader(v)
        header.addsFormat match {
          case "parquet" =>
            val d = ckptParquetOf(header, v)
            val parts = Option(d.listFiles()).getOrElse(Array.empty)
              .filter(_.getName.endsWith(".parquet"))
            (v, "parquet", s"_log/${d.getName}", parts.length.toLong,
              parts.map(_.length()).sum)
          case _ =>
            val f = ckptAddsFile(v)
            (v, "jsonl", s"_log/${f.getName}", 1L, f.length())
        }
      }
    import spark.implicits._
    rows.toDF("version", "format", "path", "parts", "bytes")
  }

  /** Iceberg's `all_files`: every file referenced by ANY retained
    * version — the vacuum-audit view ([[vacuum]] must never delete a
    * path this relation lists). Assembled DISTRIBUTED where it
    * counts: the earliest retained version's manifest rides the
    * parquet checkpoint scan when one serves it; the add actions of
    * the retained commits above the floor (bounded by retained
    * history, and fat commits force their own checkpoints) stack on
    * top; one row per path — the NEWEST entry wins, `live` flags
    * membership in the head manifest. */
  def allFilesDF(spark: SparkSession): DataFrame = {
    val head = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val floor = versions.head
    val enc = org.apache.spark.sql.Encoders.product[CkptAdd]
    // the floor manifest is RE-INDEXED contiguously (exactly as
    // writeAddsParquetFrom does before persisting) so every tail
    // segment's re-spaced indices are strictly higher than every
    // base index: the floor fold's own re-adds stamp
    // Long.MaxValue-area indices, and an OLDER floor entry would
    // otherwise outrank a newer tail re-add of the same path — the
    // newest-entry-wins window below would then serve stale
    // dv_path/dv_rows/stats in the vacuum-audit view
    val base = distributedManifest(spark, floor)
      .map(ds => spark.createDataset(
        ds.orderBy(col("idx")).rdd.zipWithIndex()
          .map { case (c, i) => c.copy(idx = i) })(enc).toDF())
      .getOrElse(
        spark.createDataset(snapshotAt(floor).adds.zipWithIndex
          .map { case (a, i) => LogCodec.encodeCkptAdd(i.toLong, a) })(enc).toDF())
    // the tail stacks as ordered SEGMENTS: inline add batches (small
    // driver frames) and by-reference sidecars (distributed parquet
    // scans — a CONVERT above the floor never lands on the driver),
    // idx re-spaced per segment so base < every tail segment and
    // later segments outrank earlier ones in the newest-wins window
    val SegSpan = 1L << 40
    var segNo = 1L
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val pending = scala.collection.mutable.ArrayBuffer.empty[AddFile]
    def flushPending(): Unit = if (pending.nonEmpty) {
      val batch = pending.toSeq
      parts += spark.createDataset(batch.zipWithIndex
        .map { case (a, i) =>
          LogCodec.encodeCkptAdd(segNo * SegSpan + i, a) })(enc).toDF()
      segNo += 1; pending.clear()
    }
    (floor + 1 to head).foreach { v =>
      readCommit(v).foreach {
        case Add(a) => pending += a
        case AddByRef(r) =>
          flushPending()
          parts += spark.read.parquet(new File(logDir, r.path).getPath)
            .withColumn("idx", col("idx") + lit(segNo * SegSpan))
          segNo += 1
        case _ => ()
      }
    }
    flushPending()
    val tailDf = parts.foldLeft(
      spark.createDataset(Seq.empty[CkptAdd])(enc).toDF())(
      _.unionByName(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("path").orderBy(col("idx").desc)
    val latest = base.unionByName(tailDf)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val liveNow = addsDF(spark, Some(head))
      .select(col("path"), lit(true).as("live"))
    latest.join(liveNow, Seq("path"), "left")
      .withColumn("live", coalesce(col("live"), lit(false)))
      .withColumnRenamed("partitionValues", "partition_values")
      .withColumnRenamed("dvPath", "dv_path")
      .withColumnRenamed("dvRows", "dv_rows")
      .withColumnRenamed("baseRowId", "base_row_id")
      .withColumnRenamed("statsJson", "stats")
      .drop("idx")
  }

  // ---------------------------------------------------------------
  // change feed + maintenance

  /** Row-level change feed over `(fromVersion, toVersion]` — the
    * Delta CDF surface. Appends/overwrites derive inserts from their
    * committed files (no extra storage); overwrites also emit
    * `delete` rows read from the files they retired (immutable until
    * vacuum); delete/update commits read their recorded change
    * files. Columns: the table schema + `_change_type` +
    * `_commit_version`. */
  def changes(spark: SparkSession, fromVersion: Long,
              toVersion: Long): DataFrame = {
    // a window reaching below the expiry floor has GAPS — refuse
    // loudly rather than serve a feed silently missing commits
    earliestVersion.filter(_ > 0).foreach { e =>
      require(fromVersion >= e - 1,
        s"change feed from version $fromVersion crosses expired " +
          s"commits (earliest retained: $e) — the log was expired " +
          "past this window")
      // fromVersion == e-1 serves the floor commit itself, which is
      // fine for every op EXCEPT an overwrite: its delete rows come
      // from snapshotAt(e-1), which expiry removed — refuse up front
      // with the real reason instead of crashing mid-read with a
      // misleading "has been expired" from deep inside the handler
      if (fromVersion == e - 1 && toVersion >= e &&
          commitOp(e) == "overwrite")
        throw new IllegalArgumentException(
          s"change feed window opening at version ${e - 1} cannot " +
            s"serve the floor commit $e: it is an overwrite whose " +
            s"deleted rows come from the expired snapshot ${e - 1} — " +
            s"start after the floor (changes(from = $e); " +
            s"table_changes / startingVersion callers pass ${e + 1})")
    }
    val s = userSchema // hidden transform columns never reach the feed
    val pc = partitionCols
    def tagged(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v))
    val parts = versions.filter(v => v > fromVersion && v <= toVersion)
      .flatMap { v =>
        val actions = readCommit(v)
        val meta = infoOf(v, actions)
        val added = addsOf(actions)
        val removed = removesOf(actions)
        meta.op match {
          case "append" | "create" | "clone" =>
            // per-commit DV-aware read: a clone seed's references may
            // carry vectors — their dead rows are not inserts
            if (added.isEmpty) Seq.empty
            else Seq(tagged(readCommitAdds(spark, s, v), "insert", v))
          case "overwrite" =>
            val ins = if (added.isEmpty) Seq.empty
              else Seq(tagged(readCommitAdds(spark, s, v), "insert", v))
            // retired files read minus the deletion vectors they
            // carried going IN to the overwrite — already-deleted
            // rows must not re-appear as deletes
            val removedAdds = snapshotAt(v - 1).adds
              .filter(a => removed.contains(a.path))
            val del = if (removedAdds.isEmpty) Seq.empty
              else Seq(tagged(dvAwareRead(spark, s, pc, removedAdds,
                keepProvenance = false), "delete", v))
            ins ++ del
          case "delete" | "update" | "merge" =>
            // read change files under the CURRENT schema (by field
            // id on mapped tables), so a feed window spanning a
            // RENAME serves one consistent column set
            val cdfSchema = s.add("_change_type", StringType)
            if (hasFieldIds(cdfSchema)) enableFieldIds(spark)
            meta.cdf.toSeq.map(rel =>
              spark.read.schema(cdfSchema).parquet(s"$path/$rel")
                .withColumn("_commit_version", lit(v)))
          // optimize: pure reorganization, no row-level change;
          // restore: rollback — row-level deltas, if needed, come
          // from diffing the two snapshots (dim_changes shape)
          case _ => Seq.empty
        }
      }
    if (parts.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](),
        s.add("_change_type", StringType).add("_commit_version", LongType))
    else parts.reduce(_.unionByName(_))
  }

  /** Bin-pack small files into larger ones (Delta's OPTIMIZE):
    * rewrites only files under `smallBytes`, no row-level change —
    * the cure for the many-small-appends pattern. `where` scopes the
    * pass (Delta's `OPTIMIZE ... WHERE`): only files that MAY hold
    * matching rows (per the stats pruner, generated-column
    * derivation included) are considered — on a date-partitioned
    * ingest table that is "compact today's partition", cost ∝ the
    * hot partition, not the table. */
  def compactFiles(spark: SparkSession, smallBytes: Long = 32L << 20,
                   targetBytes: Long = 128L << 20,
                   where: Option[Column] = None): Long = {
    val readVersion = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(readVersion)
    // scoped pass: the skipping walk runs where the manifest lives
    val inScope = where.map(prunedAddsFor(spark, _, Some(readVersion))._1)
      .getOrElse(snap.adds)
    val small = inScope.filter(_.bytes < smallBytes)
    compactSubset(spark, snap, readVersion, small, targetBytes)
  }

  /** The shared bin-pack core of [[compactFiles]] and
    * [[maybeAutoCompact]]: rewrite `small` as ~`targetBytes` files in
    * one `optimize` commit (no row-level change — streams skip it,
    * change feed empty; conflict revalidation applies as usual). */
  private def compactSubset(spark: SparkSession, snap: Snapshot,
                            readVersion: Long, small: Seq[AddFile],
                            targetBytes: Long): Long = {
    if (small.size < 2) return readVersion
    val groups = math.max(1,
      math.ceil(small.map(_.bytes).sum.toDouble / targetBytes).toInt)
    val staged = new File(newStagingDir())
    // dv-aware: a compacted file's deletion vector materializes away
    // (row-tracked tables keep each row's id via the rewrite source).
    // A clustered table (`graft.clusterBy`) compacts RANGE-partitioned
    // on its key instead of hash-bin-packed: the rewritten files'
    // key ranges stop overlapping (the staged write sorts within
    // each), so compaction is also the step that turns ingest-time
    // local clustering into global file-skipping order.
    val src = rewriteSource(spark, snap, small)
    val keys = clusterByCols.filter(src.columns.contains)
    val arranged =
      if (keys.isEmpty) src.repartition(groups)
      else if (groups == 1) src.coalesce(1)
      else src.repartitionByRange(groups, keys.map(col): _*)
    val stats = writeStaged(arranged, staged.toString, snap.schema)
    finalizeStaged(staged, stats, snap.schema,
      info("optimize") +: small.map(a => Remove(a.path)),
      readVersion = Some(readVersion))
  }

  /** Delta-style AUTO COMPACTION: when
    * `graft.autoCompact.enabled = true`, every successful append
    * (Scala, streaming, or DSv2 INSERT) re-checks the small-file
    * census and bin-packs once a scope accumulates
    * `graft.autoCompact.minNumFiles` files under
    * `graft.autoCompact.smallBytes`. Scopes are hive partitions
    * (an unpartitioned table is one scope) — the many-small-appends
    * ingest pattern self-heals per hot partition at cost ∝ that
    * partition's small set, never the table. Best-effort like
    * Delta's: a concurrent-writer conflict skips the pass (the next
    * append re-checks); the triggering append never fails. The
    * follow-on `optimize` commit carries no row-level change, so
    * streams and the change feed are unaffected, and it does NOT
    * re-trigger compaction. */
  private def maybeAutoCompact(spark: SparkSession): Unit = {
    val props = tableProperties
    if (!props.get(LogTable.PropAutoCompact).map(_.trim)
      .contains("true")) return
    // best-effort END TO END: the triggering append has already
    // durably committed, so NOTHING here may fail it — not a
    // concurrent-writer conflict, not a malformed threshold
    // property, not a task failure in the bin-pack job (a caller
    // retrying the "failed" append would double-write)
    try {
      val minFiles = props.get(LogTable.PropAutoCompactMinFiles)
        .map(_.trim.toInt).getOrElse(8)
      val smallBytes = props.get(LogTable.PropAutoCompactSmallBytes)
        .map(_.trim.toLong).getOrElse(32L << 20)
      val targetBytes = props.get(LogTable.PropAutoCompactTargetBytes)
        .map(_.trim.toLong).getOrElse(128L << 20)
      val v = currentVersion.getOrElse(return)
      val snap = snapshotAt(v)
      val eligible = snap.adds.filter(_.bytes < smallBytes)
        .groupBy(_.partitionValues).filter(_._2.size >= minFiles)
      // one bin-pack PER SCOPE (each its own optimize commit): a
      // global repartition over every hot partition's rows would mix
      // scopes into each task and emit files-per-task-per-dir — and
      // the documented cost contract is ∝ the hot partition, not the
      // union of all of them
      eligible.toSeq.sortBy(_._1.toString).foreach { case (_, files) =>
        val head = currentVersion.getOrElse(return)
        compactSubset(spark, snapshotAt(head), head, files.toSeq,
          targetBytes)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** OPTIMIZE with clustering — Delta's `OPTIMIZE ... ZORDER BY`:
    * rewrite the live files range-partitioned and sorted by the
    * cluster key. One column sorts directly; k ≥ 2 columns
    * Morton-interleave their equi-width bucket ranks (edges from ONE
    * tiny in-plan aggregate) so rows close in ALL k dimensions land
    * in the same files — 16 bits per dimension for the 2-D
    * bit-twiddle fast path ([[Tables.writeZOrdered]]'s kernel),
    * ⌊63/k⌋ bits (capped at 16) through the generalized codegen'd
    * kernel for wider keys, up to 6 columns (10 bits ≈ 1024 buckets
    * per dimension — below that the curve stops separating files and
    * more columns hurt every column's locality, the same practical
    * bound Delta documents for ZORDER). Per-file min/max stats
    * become tight and near-disjoint, and the stats pruner
    * ([[delete]]/[[update]]) plus parquet row-group skipping then
    * cut most files out of selective predicates. A layout rebuild —
    * cost ∝ table, like Delta's — with no row-level change
    * (`optimize` op: streams skip it, change feed empty). */
  def cluster(spark: SparkSession, clusterBy: Seq[String],
              nFiles: Int): Long =
    cluster(spark, clusterBy, nFiles, where = None)

  /** [[cluster]] scoped by a predicate (round-10, Delta's
    * `OPTIMIZE ... WHERE ... ZORDER BY`): only the files whose
    * committed stats MAY match `where` rewrite (the same sound
    * file-selection `compactFiles(where)` and the row-level ops
    * use) — cost ∝ the scope, not the table, which is what makes
    * re-clustering a hot partition of a 100 TB table a routine
    * maintenance call instead of a full rebuild. File granularity:
    * a selected file rewrites whole (rows in it that don't match
    * `where` move with it — layout-only, content invariant). */
  def cluster(spark: SparkSession, clusterBy: Seq[String],
              nFiles: Int, where: Option[Column]): Long = {
    require(clusterBy.nonEmpty && clusterBy.size <= 6,
      s"cluster takes 1 to 6 columns, got ${clusterBy.size}")
    val readVersion = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(readVersion)
    // scoped pass: the skipping walk runs where the manifest lives
    val scope = where.map(prunedAddsFor(spark, _, Some(readVersion))._1)
      .getOrElse(snap.adds)
    if (scope.isEmpty) return readVersion
    clusterScope(spark, snap, readVersion, clusterBy, nFiles, scope,
      properties = None)
  }

  /** Incremental (liquid-style) clustering: re-cluster ONLY the
    * files that arrived since the last incremental pass — on a
    * 100-TB table, periodic re-clustering must cost ∝ NEW data, not
    * ∝ table (Delta liquid's core promise; a whole-table OPTIMIZE
    * ZORDER is a capital event, not maintenance). The rewrite commit
    * atomically records a layout-epoch marker in TBLPROPERTIES
    * (`graft.cluster.layoutEpoch` = "cols|basisVersion") and is
    * head-pinned to land at basis+1; the next pass skips exactly
    * the files live AT that marker commit (inductively all
    * clustered: the pass rewrote everything else, and its skip set
    * was clustered by the same argument) and rewrites the rest —
    * appends since the epoch, racing writes the previous pass never
    * saw, and files a RESTORE resurrected (a rollback's files are
    * NOT alive at the marker commit, so it never inherits a stale
    * coverage claim). Different cluster columns, an expired basis,
    * or a missing/foreign marker fall back to the full rebuild. Newly-clustered
    * files sort among THEMSELVES (their ranges may overlap older
    * generations until a full pass merges them — liquid's same
    * trade: incremental passes keep new data skippable, the
    * occasional full pass globalizes the order). */
  def clusterIncremental(spark: SparkSession, clusterBy: Seq[String],
                         nFiles: Int): Long = {
    // the marker commit pins its head (full-map property safety), so
    // ANY racing commit conflicts — re-plan the whole pass against
    // the new head a bounded number of times (the terminal-CME path
    // inside finalizeStaged reclaims each refused attempt's files)
    var attempts = 0
    while (true) {
      attempts += 1
      try return clusterIncrementalOnce(spark, clusterBy, nFiles)
      catch {
        case _: java.util.ConcurrentModificationException
          if attempts < 5 => () // head moved — re-read and re-plan
      }
    }
    -1L // unreachable
  }

  private def clusterIncrementalOnce(spark: SparkSession,
                                     clusterBy: Seq[String],
                                     nFiles: Int): Long = {
    require(clusterBy.nonEmpty && clusterBy.size <= 6,
      s"cluster takes 1 to 6 columns, got ${clusterBy.size}")
    val readVersion = currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at $path"))
    val snap = snapshotAt(readVersion)
    val colsKey = clusterBy.mkString(",")
    // Induction invariant: EVERY file live at the marker COMMIT's
    // version is clustered — the pass rewrote everything outside the
    // (inductively clustered) previous skip set, and the survivors
    // were clustered already. So skipped = alive(basis + 1): the
    // marker commit is PINNED to land exactly at basis+1
    // (requireHead), which makes the skip set one snapshot resolve
    // plus ONE commit-file read to confirm the pin (no tail walk),
    // and makes RESTORE sound for free — rolling back to a
    // pre-marker version resurrects files that are NOT alive at the
    // marker commit, so the next pass rewrites them instead of
    // trusting a stale whole-table coverage claim.
    val skipped: Set[String] =
      snap.properties.get(LogTable.PropClusterEpoch) match {
        case Some(m) if m.takeWhile(_ != '|') == colsKey =>
          try {
            val basis = m.dropWhile(_ != '|').drop(1).toLong
            val markerV = basis + 1
            val actions = readCommit(markerV)
            val isMarker = infoOf(markerV, actions).op == "optimize" &&
              actions.exists {
                case SetProperties(p) =>
                  p.get(LogTable.PropClusterEpoch).contains(m)
                case _ => false
              }
            if (isMarker) snapshotAt(markerV).adds.map(_.path).toSet
            else Set.empty[String] // foreign marker → full rebuild
          } catch { case NonFatal(_) => Set.empty } // expired → full
        case _ => Set.empty // no marker / different columns → full
      }
    val scope = snap.adds.filterNot(a => skipped.contains(a.path))
    if (scope.isEmpty) return readVersion
    clusterScope(spark, snap, readVersion, clusterBy, nFiles, scope,
      properties = Some(snap.properties +
        (LogTable.PropClusterEpoch -> s"$colsKey|$readVersion")))
  }

  /** Shared layout-rewrite tail of [[cluster]] /
    * [[clusterIncremental]]: range-partition the scope on the key
    * (single column) or on the Morton interleave of per-column
    * normalized ranks (N columns), stage, and commit the swap as ONE
    * `optimize` commit (no row-level change: streams skip it, the
    * change feed is empty; `properties`, when set, rides the
    * same commit — the epoch marker is atomic with the rewrite). */
  private def clusterScope(spark: SparkSession, snap: Snapshot,
                           readVersion: Long, clusterBy: Seq[String],
                           nFiles: Int, scope: Seq[AddFile],
                           properties: Option[Map[String, String]])
      : Long = {
    val df = rewriteSource(spark, snap, scope)
    val staged = new File(newStagingDir())
    val laidOut = clusterBy match {
      case Seq(c) =>
        df.repartitionByRange(nFiles, col(c)).sortWithinPartitions(col(c))
      case cs =>
        val bits = math.min(16, 63 / cs.size)
        val buckets = (1L << bits) - 1L
        val aggs = cs.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(col(c)).as(s"__mn$i"), max(col(c)).as(s"__mx$i")) }
        val mm = df.agg(aggs.head, aggs.tail: _*)
        def rank(c: String, i: Int) =
          when(col(s"__mx$i") === col(s"__mn$i"), lit(0L)).otherwise(
            floor((col(c).cast("double") - col(s"__mn$i")) /
              (col(s"__mx$i") - col(s"__mn$i")) * buckets.toDouble)
              .cast("long"))
        val ranks = cs.zipWithIndex.map { case (c, i) => rank(c, i) }
        val z =
          if (cs.size == 2)
            graft.plans.ZOrderExpressions.zorder(ranks.head, ranks(1))
          else graft.plans.ZOrderExpressions.zorderN(ranks, bits)
        val cols = df.columns.toSeq
        df.crossJoin(broadcast(mm))
          .withColumn("__z", z)
          .repartitionByRange(nFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
          .select(cols.map(col): _*)
    }
    val stats = writeStaged(laidOut, staged.toString, snap.schema)
    // a marker-carrying commit writes a FULL property map derived
    // from the read snapshot — pin the head (like every other
    // full-map property commit: enableRowTracking, dropColumn) so a
    // racing property advance (SET TBLPROPERTIES, ANALYZE, a
    // row-tracking high-water bump riding a blind append) can never
    // be silently reverted by our stale map; the conflict surfaces
    // as CME and the caller re-runs the pass against the new head
    finalizeStaged(staged, stats, snap.schema, info("optimize") +:
      (scope.map(a => Remove(a.path)) ++ properties.map(SetProperties)),
      readVersion = Some(readVersion),
      requireHead = properties.map(_ => Some(readVersion)))
  }

  /** Physically drop files referenced ONLY by expired versions:
    * keep every data file live in the newest `retainLast` versions —
    * and the change-feed dirs those versions recorded (Delta applies
    * the same retention to change data). Older log entries stay
    * (metadata is cheap); their exclusive data files and cdf dirs
    * go. Time travel and `changes()` within the retained window are
    * unaffected.
    *
    * `retentionMillis` is the guard against the commit/vacuum race:
    * [[finalizeStaged]] moves a commit's files into `data/` BEFORE
    * its log slot is claimed, so a file that is unreferenced RIGHT
    * NOW may belong to an in-flight commit about to reference it —
    * deleting it would let that commit succeed pointing at missing
    * data. Files modified within the window are never deleted
    * (Delta's VACUUM retention check, default 7 days there; measured
    * against real wall-clock, since file mtimes are wall-clock even
    * under an injected logical clock). Tests that vacuum their own
    * just-written quiescent tables pass 0. */
  /** Enumerate the data tree's parquet files. The driver-recursive
    * walk is fine locally, but a ~1M-file table on an object store
    * makes it a long single-threaded chain of LISTs — so above
    * [[LogTable.DistributedListingMinDirs]] first-level partition
    * dirs (and given a session), the PER-DIRECTORY walks fan out as
    * a Spark job (Delta vacuums with a distributed listing job for
    * the same reason). Only `(path, mtime)` pairs return to the
    * driver — metadata-sized, and needed there regardless for the
    * keep-set diff. */
  private def listDataFiles(spark: Option[SparkSession])
      : Seq[(File, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    // branch data roots are part of the table's data tree: a
    // fast-forward publishes `_branch_x/data/...` paths into main's
    // log, and a branch retired-then-merged file is reclaimable the
    // same way a main one is. Walk every `_branch_*/data` alongside
    // the main data dir (the branch's own `_log`/`_dv`/`_cdf`
    // sidecars are NOT data files and stay out of the walk).
    val branchDataDirs = Option(new File(path).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("_branch_"))
      .map(d => new File(d, "data")).filter(_.isDirectory)
    val top = Option(dataDir.listFiles()).toSeq.flatten
    val (mainDirs, files) = top.partition(_.isDirectory)
    val dirs = mainDirs ++ branchDataDirs
    val flat = files.filter(_.getName.endsWith(".parquet"))
      .map(f => (f, f.lastModified()))
    spark match {
      case Some(s) if dirs.size >= LogTable.DistributedListingMinDirs =>
        val dirPaths = dirs.map(_.getAbsolutePath)
        s.sparkContext
          .parallelize(dirPaths, math.min(dirPaths.size, 64))
          .flatMap { d =>
            def w(f: java.io.File): Seq[java.io.File] =
              if (f.isDirectory)
                Option(f.listFiles()).toSeq.flatten.flatMap(w)
              else if (f.getName.endsWith(".parquet")) Seq(f)
              else Seq.empty
            w(new java.io.File(d))
              .map(f => (f.getAbsolutePath, f.lastModified()))
          }
          .collect().toSeq
          .map { case (p, m) => (new File(p), m) } ++ flat
      case _ => dirs.flatMap(walk).map(f => (f, f.lastModified())) ++ flat
    }
  }

  def vacuum(retainLast: Int = 1,
             retentionMillis: Long = LogTable.DefaultVacuumRetentionMillis,
             dryRun: Boolean = false,
             spark: Option[SparkSession] = None)
      : Seq[String] = {
    require(retainLast >= 1, s"need retainLast >= 1, got $retainLast")
    require(retentionMillis >= 0,
      s"need retentionMillis >= 0, got $retentionMillis")
    val horizon = System.currentTimeMillis() - retentionMillis
    val vs = versions
    // refs pin history: a TAGGED snapshot's files stay however old,
    // and a BRANCH's fork snapshot stays (the branch's clone seed
    // references exactly those files)
    val liveRefs = currentVersion.toSeq
      .flatMap(v => snapshotAt(v).refs.toSeq.map {
        case (n, r) => (n, parseRef(r)) })
    val reffed = liveRefs.map(_._2._2).filter(vs.contains)
    val retained = (vs.takeRight(retainLast) ++ reffed).distinct.sorted
    val root = new File(path).toPath.toAbsolutePath
    def relPath(p: String, base: String): String = {
      val abs = if (p.startsWith("/")) p else s"$base/$p"
      root.relativize(new File(abs).toPath.toAbsolutePath).toString
    }
    // a LIVE branch pins its HEAD: the branch's current snapshot
    // holds branch-local files main's log never saw (plus clone-seed
    // absolute paths into the main tree — those resolve back to main
    // keep entries). History BEHIND a live branch head follows the
    // normal rules, and a fast-forwarded-then-retired branch file
    // reclaims once no retained main snapshot references it.
    val branchKeep = liveRefs.collect {
      case (n, ("branch", _)) =>
        val bt = new LogTable(branchDir(n),
          checkpointInterval = checkpointInterval)
        bt.currentVersion.toSeq.flatMap { bv =>
          bt.snapshotAt(bv).adds.flatMap(a =>
            (a.path +: a.dv.map(_.path).toSeq)
              .map(relPath(_, bt.path)))
        }
    }.flatten.toSet
    val keep = retained
      .flatMap(v => snapshotAt(v).adds.map(_.path)).toSet ++ branchKeep
    def rel(f: File): String =
      root.relativize(f.toPath.toAbsolutePath).toString
    val dropped = listDataFiles(spark).filterNot { case (f, mtime) =>
      keep.contains(rel(f)) || mtime > horizon
    }.map(_._1)
    if (!dryRun) dropped.foreach(_.delete())
    val keepCdf = retained.flatMap(v => commitMeta(v).cdf).toSet
    val cdfRoot = new File(path, "_cdf")
    val droppedCdf = Option(cdfRoot.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && !keepCdf.contains(s"_cdf/${d.getName}") &&
        d.lastModified() <= horizon)
    if (!dryRun) droppedCdf.foreach(deleteRecursive)
    // deletion-vector dirs referenced by any retained version stay;
    // the rest expire under the same modification-time guard
    val keepDv = retained
      .flatMap(v => snapshotAt(v).adds.flatMap(_.dv.map(_.path))).toSet
    val dvRoot = new File(path, "_dv")
    val droppedDv = Option(dvRoot.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && !keepDv.contains(s"_dv/${d.getName}") &&
        d.lastModified() <= horizon)
    if (!dryRun) droppedDv.foreach(deleteRecursive)
    // bloom sidecars follow their data file: keep those whose data
    // file is retained, expire the rest under the same guard
    val keepNames = keep.map(p => new File(p).getName)
    val bloomRoot = new File(path, "_bloom")
    val droppedBloom = Option(bloomRoot.listFiles()).toSeq.flatten
      .filter(f => f.isFile &&
        !keepNames.exists(n => f.getName.startsWith(n + ".")) &&
        f.lastModified() <= horizon)
    if (!dryRun) droppedBloom.foreach(_.delete())
    // by-reference add-set sidecars (addsref.<uuid>.parquet under
    // _log/): each is claimed by exactly ONE commit — a crash
    // between sidecar write and commit claim leaves an orphan no
    // commit will ever reference, pure garbage. Claimed sidecars
    // die with their commit at expiry (expireSnapshots), so here
    // the keep set is every SURVIVING commit's reference; the
    // modification-time guard keeps a concurrent registerFilesFrom's
    // just-written, not-yet-claimed sidecar safe, exactly like
    // in-flight data files.
    val keepRefs = vs.flatMap(v => commitAddsRef(v).map(_.path)).toSet
    val droppedRefs = Option(logDir.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory &&
        d.getName.startsWith("addsref.") &&
        d.getName.endsWith(".parquet") &&
        !keepRefs.contains(d.getName) && d.lastModified() <= horizon)
    if (!dryRun) droppedRefs.foreach(deleteRecursive)
    dropped.map(rel) ++ droppedCdf.map(d => s"_cdf/${d.getName}") ++
      droppedDv.map(d => s"_dv/${d.getName}") ++
      droppedBloom.map(f => s"_bloom/${f.getName}") ++
      droppedRefs.map(d => s"_log/${d.getName}")
  }
}

object LogTable {
  /** Does `conjuncts` provably match NO row of `file`, judging by
    * the file's committed min/max/null stats (and, when a probe is
    * supplied, its bloom sidecars)? Sound only: unparseable
    * conjuncts or missing bounds contribute nothing. Because a row
    * matching the predicate must match every conjunct, ONE conjunct
    * with an empty match set in the file's [min,max]/null profile
    * skips the whole file. PURE given the probe — safe to evaluate
    * on executors over the distributed manifest
    * ([[LogTable.prunedAdds]]), where the probe declines (bloom
    * sidecars are driver-filesystem state; blooms only ever remove
    * MORE files, so skipping them distributed is sound). */
  private[sources] def statsNoMatch(file: AddFile,
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      bloomProbe: (String, String) =>
        Option[org.apache.spark.util.sketch.BloomFilter] =
        (_, _) => None): Boolean = {
    import org.apache.spark.sql.catalyst.expressions
    // the condition comes from an ANALYZED Filter, so attributes are
    // resolved (possibly under type-widening casts — strip them; the
    // stats side already stores the widened long/double form) and
    // literal sides are foldable expressions — evaluate them
    def numeric(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => true
      case _ => false
    }
    def nameOf(e: expressions.Expression): Option[String] = e match {
      case a: expressions.Attribute => Some(a.name)
      // strip only numeric→numeric widening casts: the stats side
      // already stores longs/doubles and numeric comparison goes
      // through BigDecimal — a date→timestamp cast would compare
      // days against micros and must NOT be stripped
      case c: expressions.Cast
          if numeric(c.child.dataType) && numeric(c.dataType) =>
        nameOf(c.child)
      case _ => None
    }
    def litOf(e0: expressions.Expression): Option[Any] = {
      // to_date()/to_timestamp()-style literals analyze as
      // RuntimeReplaceable wrappers that the OPTIMIZER would replace
      // — but these conjuncts come from the analyzed plan, so
      // evaluate through the replacement or the predicate would
      // silently never prune (round-13 find: a date predicate
      // written with to_date() skipped nothing)
      val e = e0.transformUp {
        case r: expressions.RuntimeReplaceable => r.replacement
      }
      if (!e.foldable) None
      else Option(e.eval(expressions.EmptyRow)).flatMap(v => e.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(v.toString.toLong)
        case FloatType | DoubleType => Some(v.toString.toDouble)
        case StringType             => Some(v.toString)
        case BooleanType => Some(if (v.asInstanceOf[Boolean]) 1L else 0L)
        case DateType               => Some(v.toString.toLong) // days
        case TimestampType | TimestampNTZType =>
          Some(v.toString.toLong) // micros
        case _ => None
      })
    }
    // Spark's orders, which the bounds were computed in: strings as
    // UTF-8 bytes, NaN above every double
    def longVsDouble(x: Long, y: Double): Int =
      if (y.isNaN || y == Double.PositiveInfinity) -1
      else if (y == Double.NegativeInfinity) 1
      else BigDecimal(x).compare(BigDecimal(y))
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Long, y: Long)     => Some(x.compareTo(y))
      case (x: String, y: String) => Some(utf8Compare(x, y))
      case (x: Long, y: Double)   => Some(longVsDouble(x, y))
      case (x: Double, y: Long)   => Some(-longVsDouble(y, x))
      case (x: Double, y: Double) => Some(x.compareTo(y))
      case _                      => None
    }
    def boundsOf(attr: String): Option[(Any, Any)] = for {
      st <- file.stats.get(attr); mn <- st.min; mx <- st.max
    } yield (mn, mx)
    // bloom probe, for equality the range could not decide: sound
    // only on a BARE attribute against a literal of the SAME type —
    // the sidecar was built over xxhash64 of the raw column values,
    // so any cast on the attribute side changes the hashed domain
    // (an analyzer cast on the LITERAL side is fine: it folds to the
    // attribute's type before hashing). A bloom "definitely absent"
    // has no false negatives; "maybe present" just declines to skip.
    def bloomNoMatch(a: expressions.Expression,
                     v: expressions.Expression): Boolean = (a, v) match {
      case (attr: expressions.Attribute, lit)
          if lit.foldable && lit.dataType == attr.dataType =>
        Option(lit.eval(expressions.EmptyRow)).exists { _ =>
          bloomProbe(new java.io.File(file.path).getName, attr.name).exists { bf =>
            // seed 42 = the xxhash64() SQL function's default, the
            // hash the sidecar was built over
            val h = expressions.XxHash64(Seq(lit), 42L)
              .eval(expressions.EmptyRow).asInstanceOf[Long]
            !bf.mightContainLong(h)
          }
        }
      case _ => false
    }
    def noMatch(c: expressions.Expression): Boolean = c match {
      case expressions.GreaterThan(l, r) =>
        (for { a <- nameOf(l); v <- litOf(r); (_, mx) <- boundsOf(a);
               d <- cmp(mx, v) } yield d <= 0)
          .orElse(for { a <- nameOf(r); v <- litOf(l); (mn, _) <- boundsOf(a);
                        d <- cmp(mn, v) } yield d >= 0)
          .getOrElse(false)
      case expressions.GreaterThanOrEqual(l, r) =>
        (for { a <- nameOf(l); v <- litOf(r); (_, mx) <- boundsOf(a);
               d <- cmp(mx, v) } yield d < 0)
          .orElse(for { a <- nameOf(r); v <- litOf(l); (mn, _) <- boundsOf(a);
                        d <- cmp(mn, v) } yield d > 0)
          .getOrElse(false)
      case expressions.LessThan(l, r) => noMatch(expressions.GreaterThan(r, l))
      case expressions.LessThanOrEqual(l, r) =>
        noMatch(expressions.GreaterThanOrEqual(r, l))
      case expressions.EqualTo(l, r) =>
        (for { a <- nameOf(l); v <- litOf(r); (mn, mx) <- boundsOf(a);
               dl <- cmp(v, mn); dh <- cmp(v, mx) } yield dl < 0 || dh > 0)
          .orElse(
            for { a <- nameOf(r); v <- litOf(l); (mn, mx) <- boundsOf(a);
                  dl <- cmp(v, mn); dh <- cmp(v, mx) } yield dl < 0 || dh > 0)
          .getOrElse(false) || bloomNoMatch(l, r) || bloomNoMatch(r, l)
      case expressions.In(l, items) if items.forall(litOf(_).isDefined) =>
        nameOf(l).exists(a =>
          items.forall(i => noMatch(expressions.EqualTo(l, i))))
      case expressions.IsNull(l) =>
        nameOf(l).exists(a => file.stats.get(a).exists(_.nulls == 0L))
      case expressions.IsNotNull(l) =>
        nameOf(l).exists(a =>
          file.stats.get(a).exists(_.nulls == file.rows) && file.rows > 0)
      case _ => false
    }
    conjuncts.exists(noMatch)
  }

  /** Strings in Spark's order — UTF-8 bytes, unsigned — which is
    * not `String.compareTo`'s UTF-16 order above U+E000. */
  private[sources] def utf8Compare(a: String, b: String): Int =
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** Session-less read of a parquet checkpoint sidecar: a plain
    * local walk of the part files through parquet-hadoop's Group
    * example API (no SparkSession, no distributed job) — the read
    * twin of the JSONL path for bare maintenance CLIs. Sorted by
    * the persisted idx, exactly as the distributed read sorts. */
  private[sources] def readAddsParquetLocal(dir: File): Seq[CkptAdd] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    def optStr(g: Group, f: String): Option[String] =
      if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
        Some(g.getString(f, 0)) else None
    def optLong(g: Group, f: String): Option[Long] =
      if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
        Some(g.getLong(f, 0)) else None
    def mapOf(g: Group, f: String): Map[String, String] =
      if (!g.getType.containsField(f) ||
          g.getFieldRepetitionCount(f) == 0) Map.empty
      else {
        val m = g.getGroup(f, 0)
        (0 until m.getFieldRepetitionCount("key_value")).map { i =>
          val kv = m.getGroup("key_value", i)
          kv.getString("key", 0) -> kv.getString("value", 0)
        }.toMap
      }
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val out = scala.collection.mutable.ArrayBuffer.empty[CkptAdd]
    parts.foreach { f =>
      val rd = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f.getPath)).build()
      try {
        var g = rd.read()
        while (g != null) {
          out += CkptAdd(g.getLong("idx", 0), g.getString("path", 0),
            g.getLong("rows", 0), g.getLong("bytes", 0),
            g.getString("statsJson", 0), mapOf(g, "partitionValues"),
            optStr(g, "dvPath"), optLong(g, "dvRows"),
            optLong(g, "baseRowId"))
          g = rd.read()
        }
      } finally rd.close()
    }
    out.sortBy(_.idx).toSeq
  }

  /** Derived (generated-column) conjuncts are only sound for a file
    * whose SOURCE columns are null-free there — filter per file.
    * Pure on (file.stats, derived). */
  private[sources] def derivedSafeFor(file: AddFile,
      derived: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    if (derived.isEmpty) derived
    else derived.filter(_.references.forall(r =>
      file.stats.get(r.name).forall(_.nulls == 0L)))

  /** Driver-side canonical form of a scan-time `__file` provenance
    * value (`_metadata.file_path`, a URI like `file:///a/b.parquet`):
    * the absolute filesystem path, comparable with
    * [[LogTable.absLivePath]]. URI-parsed rather than
    * string-stripped so `file:/a`, `file:///a` and plain `/a` all
    * normalize identically. */
  private[sources] def provPath(uri: String): String =
    (if (uri.startsWith("file:")) new File(new java.net.URI(uri))
     else new File(uri)).toPath.toAbsolutePath.normalize.toString

  /** Default VACUUM retention window (Delta's default): files
    * modified more recently than this are presumed in-flight and
    * never deleted, whatever the log says. */
  val DefaultVacuumRetentionMillis: Long = 7L * 24 * 3600 * 1000

  /** A commit whose action count (adds + removes) reaches this
    * checkpoints IMMEDIATELY, whatever the interval cadence — the
    * commit tail every manifest read folds on the driver stays
    * bounded even when a full OPTIMIZE lands right after a regular
    * checkpoint. */
  val FatCommitCheckpointActions: Int = 50000

  /** Protocol versions this implementation speaks (see
    * [[Protocol]]). */
  val ReaderVersion: Int = 1
  val WriterVersion: Int = 1

  /** Table features this READER understands — a table whose protocol
    * demands anything outside this set refuses to load with a
    * message naming the missing feature (never a half-read). */
  val SupportedReaderFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "rowTracking",
    "generatedColumns", "identityColumns", "checkConstraints",
    "columnDefaults", "hiddenPartitioning", "addsRef")

  /** Table features this WRITER can maintain — a table demanding
    * more refuses COMMITS (reads may still be fine). */
  val SupportedWriterFeatures: Set[String] = SupportedReaderFeatures

  /** The subset of features a READER must understand to serve
    * correct rows — these land in `readerFeatures` on auto-upgrade.
    * The rest (checkConstraints, columnDefaults, generatedColumns,
    * identityColumns) are WRITER-ONLY in Delta's model: the data
    * stays readable without understanding them, so stamping them as
    * reader features would needlessly fence a lighter reader from
    * tables it reads correctly. */
  val ReaderRelevantFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "rowTracking",
    "hiddenPartitioning", "addsRef")

  /** VACUUM's listing fans out as a Spark job once the data tree
    * has at least this many first-level partition directories (and
    * a session was passed) — below it, the driver walk is cheaper
    * than a job launch. */
  val DistributedListingMinDirs: Int = 8

  /** Deletion-vector pair sets at or under this many rows join
    * broadcast (a pair is a file name + a long — ~1M pairs is tens
    * of MB); bigger vectors fall back to a shuffled anti-join. */
  val DvBroadcastMaxRows: Long = 1L << 20

  /** StructField metadata key Spark's parquet reader/writer uses for
    * field-id resolution (`spark.sql.parquet.fieldId.*`). */
  val FieldIdKey: String = "parquet.field.id"

  /** TBLPROPERTIES keys [[LogTable.analyze]] commits its results
    * under (read back by [[LogTable.columnStatistics]]). */
  /** Isolation level TBLPROPERTIES key: unset/"WriteSerializable"
    * (the default — Delta's level: file-level conflict revalidation,
    * blind appends never conflict) or "Serializable" (a commit
    * declaring a read snapshot fails on ANY interleaved commit,
    * blind appends included). */
  val PropIsolation = "graft.isolationLevel"

  /** Layout-epoch marker of [[LogTable.clusterIncremental]]:
    * `"<cols>|<basisVersion>"`, committed atomically with the
    * incremental rewrite it describes. */
  val PropClusterEpoch = "graft.cluster.layoutEpoch"

  val PropStatsVersion = "graft.stats.version"
  val PropStatsRows = "graft.stats.rows"
  val PropStatsCols = "graft.stats.cols"

  /** Equi-height histogram buckets ANALYZE records per numeric
    * column (33 edges) — Spark's CBO default (`spark.sql.statistics
    * .histogram.numBins` = 254) buys little over 32 for file-level
    * estimates, and every edge is ~18 bytes of TBLPROPERTIES. */
  val HistogramBuckets = 32

  /** Evaluate a foldable expression as a TIMESTAMP in the session
    * zone → epoch millis; None when it cannot cast. The ONE
    * timestamp-boundary resolution the dual-form surfaces share —
    * `table_changes`' timestamp arguments and the stream source's
    * `startingTimestamp` option must never drift apart. */
  private[sources] def evalTimestampMillis(spark: SparkSession,
      e: expressions.Expression): Option[Long] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val micros = expressions.Cast(e, TimestampType, Option(zone))
      .eval(expressions.EmptyRow)
    Option(micros).map(m => Math.floorDiv(m.asInstanceOf[Long], 1000L))
  }

  /** Row-tracking TBLPROPERTIES: the feature flag and the row-id
    * high-water mark (largest id bound ever allocated; advances
    * inside the commit loop, survives RESTORE because restore keeps
    * governance properties current). */
  val PropRowTracking = "graft.rowTracking"
  val PropRowIdHighWater = "graft.rowTracking.highWater"

  /** The lossless TYPE-WIDENING matrix [[LogTable.widenColumnType]]
    * accepts (Delta's typeWidening feature set minus the
    * stats-unsound date→timestamp case; every pair is probed
    * readable-in-place by LogWidenSpec). */
  private[sources] def widens(from: DataType, to: DataType): Boolean = {
    def intDigits(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(3); case ShortType => Some(5)
      case IntegerType => Some(10); case LongType => Some(20)
      case _ => None
    }
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      // exact in double's 53-bit mantissa; long→double is NOT
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType)                          => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale &&
          (t.precision > f.precision || t.scale > f.scale)
      case (n, t: DecimalType) =>
        intDigits(n).exists(d => t.precision - t.scale >= d)
      case _ => false
    }
  }

  /** AUTO COMPACTION TBLPROPERTIES (Delta's
    * `delta.autoOptimize.autoCompact` shape): when enabled, every
    * successful append re-checks the small-file census and, past the
    * threshold, runs a best-effort bin-pack as a follow-on commit. */
  val PropAutoCompact = "graft.autoCompact.enabled"
  val PropAutoCompactMinFiles = "graft.autoCompact.minNumFiles"
  val PropAutoCompactSmallBytes = "graft.autoCompact.smallBytes"
  val PropAutoCompactTargetBytes = "graft.autoCompact.targetBytes"

  /** High-water mark of every parquet field id EVER assigned on a
    * column-mapped table (`graft.columnMapping.maxFieldId`): a
    * DROPPED column's id must never be reassigned — readers resolve
    * BY id, so a reused id would resurrect the dropped column's
    * bytes under the new name. Recorded by the head-pinned DROP
    * COLUMN commit (the only operation that removes ids from the
    * schema); id assigners take max(schema ids, this) + 1. */
  val PropFieldIdHighWater = "graft.columnMapping.maxFieldId"

  /** WRITE-TIME CLUSTERING (Delta's `CLUSTER BY` shape): every write
    * locally sorts by these comma-separated columns (tight per-file
    * stats, no shuffle) and compaction range-partitions on them
    * (non-overlapping file ranges — global skip order). */
  val PropClusterBy = "graft.clusterBy"

  /** The PHYSICAL parquet column rewrites materialize preserved row
    * ids into. Reserved: never part of a table schema; reads
    * coalesce it with `baseRowId + row position`. */
  val RowIdPhysCol = "_graft_row_id"

  /** The row-id column [[LogTable.loadWithRowIds]] exposes. */
  val RowIdCol = "_row_id"
}
