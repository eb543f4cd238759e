package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Drift-free work counters of a set of Spark jobs. Sizes in bytes,
  * CPU in executor nanoseconds. `jobNs` is the wall time covered by
  * at least one running job (the union of the job intervals), so
  * `wall - jobNs` is the time the driver ran alone. */
final case class Work(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
                      shuffleBytes: Long = 0, spillBytes: Long = 0,
                      bytesRead: Long = 0, bytesWritten: Long = 0,
                      jobNs: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
    cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, bytesRead + o.bytesRead,
    bytesWritten + o.bytesWritten, jobNs + o.jobNs)
}

/** One closed span of the traced run. Times are nanoseconds since the
  * run started; `work` covers the span's own job group and those of
  * its children. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, work: Work) {
  def wallNs: Long = endNs - startNs
}

/** A SparkListener attributing every job, task and metric to the job
  * group the benchmark set around the call that submitted it, plus
  * the span stack of the traced run. One client thread drives Spark,
  * so the group is a plain field set through `setJobGroup`. */
final class Probe(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val counters = mutable.Map.empty[String, Work]
  private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private var nextGroup = 0
  private var nextSpan = 0
  // closed spans: (id, parent, name, start, end, job groups covered)
  private val spans = mutable.ArrayBuffer.empty[(Int, Int, String, Long,
    Long, Seq[String])]
  // open spans: (id, name, start, own group, groups of closed children)
  private val open = mutable.Stack.empty[(Int, String, Long, String,
    mutable.ArrayBuffer[String])]

  sc.addSparkListener(this)

  private def add(g: String, w: Work): Unit = synchronized {
    counters(g) = counters.getOrElse(g, Work()) + w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    synchronized {
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
    add(g, Work(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    val s = jobStart.remove(e.jobId).getOrElse(e.time)
    intervals.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = synchronized(stageGroup.getOrElse(e.stageId, ""))
    val m = e.taskMetrics
    if (m == null) add(g, Work(tasks = 1))
    else add(g, Work(tasks = 1, cpuNs = m.executorCpuTime,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      bytesRead = m.inputMetrics.bytesRead,
      bytesWritten = m.outputMetrics.bytesWritten))
  }

  def nowNs: Long = System.nanoTime() - t0

  private def newGroup(): String = { nextGroup += 1; s"gb$nextGroup" }

  /** Run `body` under a fresh job group; returns its value and the
    * group id (whose counters `work` reads once the bus drained). */
  def grouped[T](body: => T): (T, String) = {
    val g = newGroup()
    val outer = open.headOption.map(_._4)
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try (body, g)
    finally outer match {
      case Some(o) => sc.setJobGroup(o, o, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Counters of the given groups. Drains the listener bus first: a
    * call's jobs have all ended when it returns, but their events may
    * still be queued. The job-time union spans all the groups. */
  def work(groups: Iterable[String]): Work = {
    BenchBus.drain(sc)
    counted(groups)
  }

  private def counted(groups: Iterable[String]): Work = synchronized {
    val base = groups.foldLeft(Work())((a, g) =>
      a + counters.getOrElse(g, Work()))
    val iv = groups.flatMap(g => intervals.getOrElse(g, Nil)).toSeq
    base.copy(jobNs = Probe.covered(iv) * 1000000L)
  }

  /** A traced span: runs `body` under its own job group, nested under
    * the innermost open span. Closing a span does not wait for the
    * listener bus; its counters are read through `closedSpans`. */
  def span[T](name: String)(body: => T): T = {
    nextSpan += 1
    val id = nextSpan
    val g = newGroup()
    val parent = open.headOption
    open.push((id, name, nowNs, g, mutable.ArrayBuffer.empty[String]))
    sc.setJobGroup(g, name, interruptOnCancel = false)
    try body
    finally {
      val (_, _, start, _, kids) = open.pop()
      val end = nowNs
      parent match {
        case Some(p) =>
          p._5 += g; p._5 ++= kids
          sc.setJobGroup(p._4, p._2, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += ((id, parent.map(_._1).getOrElse(0), name, start, end,
        (kids :+ g).toSeq))
    }
  }

  /** The closed spans with their counters, once the bus drained. */
  def closedSpans: Seq[Span] = {
    BenchBus.drain(sc)
    spans.toSeq.map { case (id, parent, name, start, end, groups) =>
      Span(id, parent, name, start, end, counted(groups))
    }
  }

  /** Writes the spans as JSON lines: name, start, end, parent, run. */
  def writeSpans(path: String, runId: String): Unit = {
    val all = closedSpans
    /* time of a span not covered by its direct children */
    def selfNs(s: Span): Long = s.wallNs - Probe.covered(
      all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq(
        "run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name,
        "start_ms" -> (t0Millis + s.startNs / 1000000L),
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> selfNs(s), "jobs" -> s.work.jobs,
        "tasks" -> s.work.tasks, "cpu_ns" -> s.work.cpuNs,
        "shuffle_bytes" -> s.work.shuffleBytes,
        "spill_bytes" -> s.work.spillBytes,
        "bytes_read" -> s.work.bytesRead,
        "bytes_written" -> s.work.bytesWritten)))
    } finally w.close()
  }
}

object Probe {
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Minimal JSON rendering for flat objects of strings and numbers. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => obj(s.map { case (k: String, x) => k -> x })
    case other => throw new IllegalArgumentException(s"no JSON for $other")
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
