package graft.sources

import scala.collection.mutable

import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** What a row-level change feed's write saw: its image counts, the
  * changed-row count (pre-images and deletes) of each target file it
  * touched, keyed by scan-time file URI, and whether a target row
  * took part in more than one matched pair. */
private[sources] final case class MergeFeedStats(
    updated: Long, deleted: Long, inserted: Long, touched: Map[String, Long],
    duplicateMatch: Boolean) extends WriteTaskStats {
  def +(o: MergeFeedStats): MergeFeedStats =
    MergeFeedStats(updated + o.updated, deleted + o.deleted,
      inserted + o.inserted,
      o.touched.foldLeft(touched) { case (m, (f, n)) =>
        m.updated(f, m.getOrElse(f, 0L) + n) },
      duplicateMatch || o.duplicateMatch)
}

/** The change-feed `WriteJobStatsTracker` of every row-level change
  * ([[LogTable.commitChanges]]: DELETE, UPDATE and MERGE): each write
  * task counts the `update_preimage`, `delete` and `insert` images it
  * writes, counts the pre-images and deletes per `__file`, and flags
  * a target row, keyed by (`__file`, `__idx`), that appears in more
  * than one pre-image, delete or probe — a second MERGE source match.
  * Probe images (`_change_type` = [[MergeFeedTracker.Probe]]) stand
  * for matched pairs no action fires on; [[MergeFeedFormat]] keeps
  * them off disk. Results come back as task results (committed
  * attempts only), so the fold is exact and bounded by the touched
  * files.
  *
  * The duplicate check is per task: it is sound only when every match
  * of one target row is written by the same task, which MERGE
  * guarantees by checking the plan (a shuffled equi-join); a DELETE
  * or UPDATE images each scanned row once, so it never fires. */
private[sources] final class MergeFeedTracker(ctOrd: Int, fileOrd: Int,
                                               idxOrd: Int)
  extends WriteJobStatsTracker {

  @transient private var total =
    MergeFeedStats(0L, 0L, 0L, Map.empty, duplicateMatch = false)

  override def newTaskInstance(): WriteTaskStatsTracker =
    new MergeFeedTaskTracker(ctOrd, fileOrd, idxOrd)

  override def processStats(stats: Seq[WriteTaskStats],
                            jobCommitTime: Long): Unit = synchronized {
    stats.foreach {
      case s: MergeFeedStats => total += s
      case _                 => ()
    }
  }

  def result(): MergeFeedStats = synchronized(total)
}

private[sources] object MergeFeedTracker {
  /** `_change_type` of a probe image: a matched pair whose branch
    * takes no action. Counted by the tracker, never written. */
  val Probe = "merge_probe"

  /** The refusal of a feed whose write saw a duplicate match. */
  def cardinalityViolation(): IllegalStateException =
    new IllegalStateException(
      "MERGE cardinality violation: a target row matched by " +
        "multiple source rows (as in ANSI/Delta, this is an error)")

  /** The tracker for a feed whose written columns are `dataAttrs`. */
  def apply(dataAttrs: Seq[Attribute]): MergeFeedTracker = {
    def ordinal(n: String): Int = {
      val i = dataAttrs.indexWhere(_.name == n)
      require(i >= 0, s"change feed has no column '$n'")
      i
    }
    new MergeFeedTracker(ordinal("_change_type"), ordinal("__file"),
      ordinal("__idx"))
  }
}

private final class MergeFeedTaskTracker(ctOrd: Int, fileOrd: Int,
                                         idxOrd: Int)
  extends WriteTaskStatsTracker {

  private val PreImage = UTF8String.fromString("update_preimage")
  private val Delete = UTF8String.fromString("delete")
  private val Insert = UTF8String.fromString("insert")
  private val PostImage = UTF8String.fromString("update_postimage")
  private val Probe = UTF8String.fromString(MergeFeedTracker.Probe)

  private final class Seen {
    val rows = new mutable.LongMap[Unit]()
    var changed = 0L
  }

  private var updated = 0L
  private var deleted = 0L
  private var inserted = 0L
  private var duplicate = false
  private val byFile = mutable.HashMap.empty[UTF8String, Seen]

  override def newPartition(partitionValues: InternalRow): Unit = ()
  override def newFile(filePath: String): Unit = ()
  override def closeFile(filePath: String): Unit = ()

  override def newRow(filePath: String, row: InternalRow): Unit = {
    val ct = row.getUTF8String(ctOrd)
    if (ct == Insert) inserted += 1
    else if (ct != PostImage) {
      val isPre = ct == PreImage
      val isDel = !isPre && ct == Delete
      if (isPre) updated += 1 else if (isDel) deleted += 1
      else require(ct == Probe, s"unexpected change feed image type $ct")
      val file = row.getUTF8String(fileOrd)
      var seen = byFile.getOrElse(file, null)
      if (seen == null) {
        seen = new Seen
        // the key must outlive the row buffer it points into
        byFile(file.clone()) = seen
      }
      if (!duplicate) {
        val idx = row.getLong(idxOrd)
        if (seen.rows.contains(idx)) duplicate = true
        else seen.rows.update(idx, ())
      }
      if (isPre || isDel) seen.changed += 1
    }
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    MergeFeedStats(updated, deleted, inserted,
      byFile.iterator.collect { case (f, s) if s.changed > 0L =>
        f.toString -> s.changed }.toMap, duplicate)
}

/** Parquet that keeps [[MergeFeedTracker.Probe]] images off disk: the write
  * task still hands them to its stats trackers, but the output writer
  * drops them, and a task that writes only probes opens no file
  * (except task 0, which writes a file even when empty, as Spark's
  * writer does for a job with no rows). The committed feed files hold
  * exactly the change images. */
private[sources] final class MergeFeedFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    new MergeFeedFormat.DropProbes(
      super.prepareWrite(sparkSession, job, options, dataSchema),
      dataSchema.fieldIndex("_change_type"))
}

private object MergeFeedFormat {
  final class DropProbes(inner: OutputWriterFactory, ctOrd: Int)
    extends OutputWriterFactory {
    override def getFileExtension(context: TaskAttemptContext): String =
      inner.getFileExtension(context)

    override def newInstance(file: String, dataSchema: StructType,
                             context: TaskAttemptContext): OutputWriter =
      new OutputWriter {
        private val probe = UTF8String.fromString(MergeFeedTracker.Probe)
        private var out: OutputWriter =
          if (Option(TaskContext.get()).exists(_.partitionId() == 0))
            inner.newInstance(file, dataSchema, context)
          else null
        override def write(row: InternalRow): Unit =
          if (row.getUTF8String(ctOrd) != probe) {
            if (out == null) out = inner.newInstance(file, dataSchema, context)
            out.write(row)
          }
        override def close(): Unit = if (out != null) out.close()
        override def path(): String = file
      }
  }
}
