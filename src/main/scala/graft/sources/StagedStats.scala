package graft.sources

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.write.{DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{WriteJobDescription, WriteJobStatsTracker, WriteTaskResult, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.v2.FileWriterFactory
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** One staged file's statistics, computed by the write task that
  * produced it: row count; per stat column (in [[StatsSpec]] order)
  * the min/max of its comparable projection under Spark's ordering
  * (NaN highest, binary strings) and its null count; per bloom column
  * the serialized `BloomFilterAggregate` buffer over `xxhash64`
  * (null when the file added no value); per CHECK (or
  * generated-column) rule the number of rows that provably violate
  * it. Values are Scala-side (`Long`, `Int`, `Double`, `String`). */
private[sources] final case class StagedFileStats(
    rows: Long, mins: Seq[Any], maxs: Seq[Any], nulls: Seq[Long],
    blooms: Seq[Array[Byte]], violations: Seq[Long])

/** What one staged write produced: the column/rule names the stats
  * are laid out by, and each written file's stats keyed by its path
  * relative to the staging root. The commit folds this into its
  * `AddFile`s (see `LogTable.finalizeStaged`). */
private[sources] final case class StagedStats(
    statCols: Seq[String], bloomCols: Seq[String],
    checks: Seq[(String, String)], files: Map[String, StagedFileStats])

/** The per-row work every write task runs, built and bound on the
  * driver: `projection` is evaluated over `dataColumns ++
  * partitionColumns` and yields, in order, one slot per stat column
  * (its comparable projection), one per bloom column (its
  * `xxhash64`) and one per rule (`coalesce(NOT rule, false)`);
  * `blooms` are the aggregates whose children read the hash slots. */
private[sources] final class StatsSpec(val statCols: Seq[String],
                                       val bloomCols: Seq[String],
                                       val checks: Seq[(String, String)],
                                       val projection: Seq[Expression],
                                       val blooms: Seq[BloomFilterAggregate])
  extends Serializable

/** Per-task result: each file this task attempt wrote, by the
  * attempt-local path `newFile` reported. */
private[sources] final case class StagedTaskStats(
    files: Seq[(String, StagedFileStats)]) extends WriteTaskStats

/** The graft `WriteJobStatsTracker`: each write task computes its
  * files' [[StagedFileStats]] from the rows it writes, and the
  * results come back as task results — only committed attempts
  * produce them, so each file counts once. Replaces reading the
  * staged files back in a second Spark job. */
private[sources] final class StagedStatsTracker(spec: StatsSpec)
  extends WriteJobStatsTracker {

  @transient private lazy val collected =
    mutable.ArrayBuffer.empty[(String, StagedFileStats)]

  override def newTaskInstance(): WriteTaskStatsTracker =
    new StagedStatsTaskTracker(spec)

  override def processStats(stats: Seq[WriteTaskStats],
                            jobCommitTime: Long): Unit = synchronized {
    stats.foreach {
      case s: StagedTaskStats => collected ++= s.files
      case _                  => ()
    }
  }

  /** The job's stats, keyed relative to the staging root. */
  def result(): StagedStats = synchronized {
    StagedStats(spec.statCols, spec.bloomCols, spec.checks,
      collected.map { case (p, s) => StagedStatsTracker.stagedKey(p) -> s }
        .toMap)
  }
}

private[sources] object StagedStatsTracker {

  /** A task writes under its attempt directory
    * (`<root>/_temporary/<n>/_temporary/attempt_…/<rel>`) and the job
    * commit moves `<rel>` to `<root>/<rel>`: the key is `<rel>`, the
    * hive partition dirs plus the file name. */
  def stagedKey(taskPath: String): String = {
    val marker = "/_temporary/attempt_"
    val i = taskPath.lastIndexOf(marker)
    require(i >= 0, s"write task path $taskPath is not under a task " +
      "attempt directory")
    val rest = taskPath.substring(i + marker.length)
    rest.substring(rest.indexOf('/') + 1)
  }

  /** DSv2 seam: the same tracker on a `FileWrite`'s writer factory,
    * so Spark's own DSv2 parquet writers compute the stats too. */
  def attach(factory: DataWriterFactory,
             tracker: StagedStatsTracker): DataWriterFactory =
    factory match {
      case f: FileWriterFactory =>
        val d = f.description
        f.copy(description = new WriteJobDescription(d.uuid,
          d.serializableHadoopConf, d.outputWriterFactory, d.allColumns,
          d.dataColumns, d.partitionColumns, d.bucketSpec, d.path,
          d.customPartitionLocations, d.maxRecordsPerFile, d.timeZoneId,
          d.statsTrackers :+ tracker))
      case other => throw new IllegalStateException(
        s"unexpected staging writer factory ${other.getClass.getName}")
    }

  /** Hand the tracker its task results and return the messages as
    * the inner `FileBatchWrite` expects them (its own trackers' stats
    * only). */
  def detach(msgs: Array[WriterCommitMessage],
             tracker: StagedStatsTracker): Array[WriterCommitMessage] = {
    val ours = msgs.toSeq.collect { case r: WriteTaskResult =>
      r.summary.stats.collect { case s: StagedTaskStats => s } }.flatten
    tracker.processStats(ours, 0L)
    msgs.map {
      case r: WriteTaskResult =>
        r.copy(summary = r.summary.copy(stats =
          r.summary.stats.filterNot(_.isInstanceOf[StagedTaskStats])))
      case m => m
    }
  }
}

/** Task side: one accumulator per file, fed every written row. In a
  * partitioned write `newRow` sees only the data columns; the
  * partition values arrive through `newPartition` and are joined
  * back on, so rules and stats over partition columns see them. */
private final class StagedStatsTaskTracker(spec: StatsSpec)
  extends WriteTaskStatsTracker {

  private val nStats = spec.statCols.size
  private val nBlooms = spec.blooms.size
  private val nChecks = spec.checks.size
  private val types = spec.projection.map(_.dataType).toArray
  private val orderings = types.take(nStats).map(TypeUtils.getInterpretedOrdering)
  private val projection = {
    val p = UnsafeProjection.create(spec.projection)
    p.initialize(Option(TaskContext.get()).map(_.partitionId()).getOrElse(0))
    p
  }
  private val joined = new JoinedRow
  private var partition: InternalRow = InternalRow.empty
  private val files = mutable.LinkedHashMap.empty[String, FileAcc]
  private var curPath: String = null
  private var cur: FileAcc = null

  private final class FileAcc(val partition: InternalRow) {
    var rows = 0L
    val mins = new Array[Any](nStats)
    val maxs = new Array[Any](nStats)
    val nulls = new Array[Long](nStats)
    val blooms: Array[BloomFilter] =
      spec.blooms.map(_.createAggregationBuffer()).toArray
    val violations = new Array[Long](nChecks)

    def add(r: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < nStats) {
        if (r.isNullAt(i)) nulls(i) += 1
        else {
          val v = r.get(i, types(i))
          if (mins(i) == null || orderings(i).lt(v, mins(i))) mins(i) = own(v)
          if (maxs(i) == null || orderings(i).gt(v, maxs(i))) maxs(i) = own(v)
        }
        i += 1
      }
      var b = 0
      while (b < nBlooms) { spec.blooms(b).update(blooms(b), r); b += 1 }
      var c = 0
      while (c < nChecks) {
        if (r.getBoolean(nStats + nBlooms + c)) violations(c) += 1
        c += 1
      }
    }

    def result(): StagedFileStats = {
      def scala(v: Any): Any = v match {
        case s: UTF8String => s.toString
        case other         => other
      }
      StagedFileStats(rows, mins.toSeq.map(scala), maxs.toSeq.map(scala),
        nulls.toSeq,
        spec.blooms.indices.map(b =>
          spec.blooms(b).eval(blooms(b)).asInstanceOf[Array[Byte]]),
        violations.toSeq)
    }
  }

  /** Values read from the projected row alias its buffer. */
  private def own(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case other         => other
  }

  override def newPartition(partitionValues: InternalRow): Unit =
    partition = partitionValues

  override def newFile(filePath: String): Unit = {
    cur = new FileAcc(partition)
    files(filePath) = cur
    curPath = filePath
  }

  override def closeFile(filePath: String): Unit = ()

  override def newRow(filePath: String, row: InternalRow): Unit = {
    if (filePath ne curPath) { cur = files(filePath); curPath = filePath }
    cur.add(projection(joined(row, cur.partition)))
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    StagedTaskStats(files.toSeq.map { case (p, a) => p -> a.result() })
}
