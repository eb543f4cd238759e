package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** One timed operation's outcome. `after` runs untimed once the op
  * returned: correctness checks (a throw fails the op) and, in the
  * traced run, probes that must not count toward the op's time. */
final case class Op(kind: String, rows: Long, after: () => Unit = () => ())

/** A benchmark workload: seeded inputs, a set-up, and a closed-loop
  * stream of operations driven by one client. */
trait Workload {
  def name: String
  /** A small pass of the workload's ops on its own small inputs in
    * `dir`, so code generation and the JIT are warm before timing. */
  def warm(dir: String): Unit
  /** Headline ops an untraced run completes at the least, however
    * short `--seconds` is: the median then always covers the same
    * op positions. */
  def minOps: Int = 1
  /** Generates the inputs under `dir` and prepares the state the ops
    * run against; the latest set-up is the one measured. */
  def setup(dir: String): Unit
  /** One operation; `traced` wraps each layer call in a span. */
  def step(traced: Boolean): Op
  /** Whether the inputs for further ops have run out; the loop stops. */
  def exhausted: Boolean = false
  /** Whether ops of this kind enter the headline metrics. */
  def headline(kind: String): Boolean = true
  /** Checks left open by the last ops; returns the failures. */
  def finish(): Int = 0
  /** (bytes written per input byte, live bytes per input byte). */
  def amplification: (Double, Double)
  /** Workload-specific metrics by their own names: (name, value, unit). */
  def report(ops: Seq[Timed]): Seq[(String, Double, String)]
  /** Per-layer metrics that are not span counters. */
  def layerExtras: Seq[(String, Double)] = Nil
}

/** A completed op: wall seconds and the Spark work it caused. */
final case class Timed(kind: String, seconds: Double, rows: Long,
                       work: Work, traced: Boolean)

object Main {
  /** Spans whose counters the traced run reports, by layer. */
  val Spans: Seq[String] = Seq(
    "tables.read_csv", "logtable.append_raw", "pipeline.stage",
    "sqlmerge.merge_log", "textanalysis.quality_gate", "dedup.exact",
    "dedup.minhash_lsh", "clustering.dup_clusters",
    "decontam.decontaminate", "logtable.append_curated",
    "plans.minhash_kernel", "logtable.resolve", "logtable.plan",
    "logtable.execute")

  /** Ops each run does untimed before it measures. */
  val BurnIn = 2

  /** Set-ups per run; `setup_s` is their median, so the first one,
    * which pays for cold code paths, does not set it. */
  val Setups = 3

  /** Per-layer metrics that are not span counters. */
  val Extras: Seq[String] = Seq(
    "sqlmerge.merge_log.rewrite_ratio", "logtable.checkpoint_batch.wall_s",
    "dedup.minhash_lsh.lsh_precision", "plans.minhash_kernel.rows_per_core_s",
    "logtable.execute.bytes_read", "logtable.files_scanned_ratio",
    "driver_gap_s", "trace_overhead_ratio", "jvm.old_gen_after_gc_peak_mb")

  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val heap = arg(args, "heap")
    val work = arg(args, "work")
    val results = arg(args, "results")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val uptime = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[bench] session up: $uptime%.3f s after JVM start")
    val probe = new Probe(spark)
    val w: Workload = workload match {
      case "scd_ingest" => new ScdIngest(spark, probe, seed)
      case "corpus_curation" => new CorpusCuration(spark, probe, seed)
      case "lake_read" => new LakeRead(spark, probe, seed)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val code = try run(spark, probe, w, seed, seconds, traced, cores, heap,
      work, results)
    finally spark.stop()
    sys.exit(code)
  }

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => HeapWatch.isOld(p.getName))

  /** Old-generation bytes in use right after a full collection: a
    * lower bound for the peak between ops; collections inside the ops
    * are seen by [[HeapWatch]]. */
  private def postGcOldGen(): Long = {
    System.gc()
    oldGen.map(_.getUsage.getUsed).getOrElse(
      Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory)
  }

  private def run(spark: SparkSession, probe: Probe, w: Workload,
                  seed: Long, seconds: Double, traced: Boolean, cores: Int,
                  heap: String, work: String, results: String): Int = {
    val log = System.err
    val tWarm = System.nanoTime()
    w.warm(s"$work/warm")
    spark.sharedState.cacheManager.clearCache()
    log.println(f"[bench] ${w.name} warm-up: ${(System.nanoTime() - tWarm) / 1e9}%.3f s")

    val setups = (1 to Setups).map { i =>
      System.gc()
      val t = System.nanoTime()
      w.setup(s"$work/setup-$i")
      val s = (System.nanoTime() - t) / 1e9
      spark.sharedState.cacheManager.clearCache()
      log.println(f"[bench] ${w.name} setup $i: $s%.3f s")
      s
    }

    var attempted = 0L
    var failed = 0L
    val done = scala.collection.mutable.ArrayBuffer.empty[Timed]
    var peakHeap = postGcOldGen()
    var lastGcNs = System.nanoTime()

    /** Runs ops until `budget` seconds of op time accumulate and each
      * kind of op the run compares (untraced, and traced in a traced
      * run) has `minOps` headline ops. The first `BurnIn` ops are an
      * untimed burn-in at full size (the JIT keeps speeding ops up over
      * the first ones); after it a traced run alternates traced and
      * untraced ops, so the overhead ratio compares ops that saw the
      * same warm-up and the same drift. */
    def loop(budget: Double, minOps: Int): Unit = {
      var spent = 0.0
      val headlines = Array(0, if (traced) 0 else minOps)
      var i = 0
      while ((spent < budget || (headlines.min < minOps && i < 50)) &&
        !w.exhausted) {
        val burnIn = i < BurnIn
        val tracedOp = traced && !burnIn && (i - BurnIn) % 2 == 0
        i += 1
        attempted += 1
        val t = System.nanoTime()
        var dt = 0.0
        // the op's time ends when the call returns; reading its
        // counters waits for the listener bus and is not timed
        val res: Either[Throwable, (Op, Work)] =
          try {
            if (tracedOp) {
              val op = probe.span(s"${w.name}.op")(w.step(traced = true))
              dt = (System.nanoTime() - t) / 1e9
              Right((op, probe.closedSpans.last.work))
            } else {
              val (op, g) = probe.grouped(w.step(traced = false))
              dt = (System.nanoTime() - t) / 1e9
              Right((op, probe.work(Seq(g))))
            }
          } catch { case e: Throwable => Left(e) }
        if (!burnIn) spent += dt
        res match {
          case Left(e) =>
            failed += 1
            log.println(s"[bench] ${w.name}: op failed: $e")
            e.printStackTrace(log)
          case Right((op, wk)) =>
            try {
              op.after()
              log.println(f"[bench] ${w.name} ${op.kind} $dt%.3f s, " +
                f"${wk.jobs} jobs, cpu ${wk.cpuNs / 1e9}%.3f s" +
                (if (burnIn) " (burn-in)" else if (tracedOp) " (traced)" else ""))
              if (!burnIn) {
                done += Timed(op.kind, dt, op.rows, wk, tracedOp)
                if (w.headline(op.kind)) headlines(if (tracedOp) 1 else 0) += 1
              }
            } catch {
              case e: Throwable =>
                failed += 1
                log.println(s"[bench] ${w.name}: ${op.kind} check failed: $e")
            }
        }
        // sample the live heap at op boundaries, at most once a second
        if (System.nanoTime() - lastGcNs > 1000000000L) {
          peakHeap = math.max(peakHeap, postGcOldGen())
          lastGcNs = System.nanoTime()
        }
        spark.sharedState.cacheManager.clearCache()
      }
    }

    val tMeasure = System.nanoTime()
    val heapWatch = new HeapWatch
    heapWatch.watching = true
    loop(seconds, if (traced) 1 else w.minOps)
    heapWatch.watching = false
    heapWatch.close()
    val (fullPeak, anyPeak, collections) = heapWatch.stats
    log.println(f"[bench] ${w.name} heap: $collections collections in the " +
      f"measured loop; old gen after full ones at most " +
      f"${math.max(peakHeap, fullPeak) / 1048576.0}%.1f MB, after any " +
      f"${anyPeak / 1048576.0}%.1f MB")
    peakHeap = math.max(peakHeap, fullPeak)
    log.println(f"[bench] ${w.name} measured: ${(System.nanoTime() - tMeasure) / 1e9}%.3f s")
    val tFinish = System.nanoTime()
    failed += w.finish()
    log.println(f"[bench] ${w.name} final checks: ${(System.nanoTime() - tFinish) / 1e9}%.3f s")
    peakHeap = math.max(peakHeap, postGcOldGen())

    val all = done.filter(_.traced == traced).toSeq
    val measured = all.filter(o => w.headline(o.kind))
    val opTimes = measured.map(_.seconds)
    val (writeAmp, spaceAmp) = w.amplification
    val rowsPerS = measured.map(_.rows).sum / opTimes.sum
    val errorRate = failed.toDouble / attempted

    val out = System.out
    // the end-to-end metrics of BENCHMARK.json, in its order
    val endToEnd = Seq(
      ("setup_s", median(setups), "s"),
      ("op_p50_s", median(opTimes), "s"),
      ("rows_per_s", rowsPerS, "1/s"),
      ("write_amp", writeAmp, "count"),
      ("space_amp", spaceAmp, "count"),
      ("peak_heap_mb", peakHeap / 1048576.0, "MB"))
    val human = endToEnd ++ Seq(
      ("op_p90_s", quantile(opTimes, 0.9), "s"),
      ("error_rate", errorRate, "ratio"),
      ("ops", opTimes.length.toDouble, "count")) ++ w.report(all)
    out.println(s"# ${w.name} seed=$seed cores=$cores heap=$heap " +
      s"seconds=$seconds traced=$traced attempted=$attempted failed=$failed")
    human.foreach { case (n, v, u) => out.println(f"$n%-36s $v%16.6f $u") }
    val drift = measured.foldLeft(Work())(_ + _.work)
    val n = measured.length.max(1)
    out.println(f"counts/op: jobs=${drift.jobs.toDouble / n}%.2f " +
      f"tasks=${drift.tasks.toDouble / n}%.2f " +
      f"cpu_s=${drift.cpuNs / 1e9 / n}%.4f " +
      f"shuffle_bytes=${drift.shuffleBytes.toDouble / n}%.0f " +
      f"bytes_written=${drift.bytesWritten.toDouble / n}%.0f")

    val metrics: Seq[(String, Any)] =
      if (!traced) endToEnd.map { case (n, v, u) => n -> metric(v, u) }
      else layerMetrics(probe, w, measured,
        median(done.filter(o => !o.traced && w.headline(o.kind))
          .map(_.seconds).toSeq),
        median(opTimes), anyPeak / 1048576.0, results, seed)
    out.println(Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
    out.flush()
    if (failed == 0) 0 else 1
  }

  private def metric(v: Double, unit: String): Map[String, Any] =
    scala.collection.immutable.ListMap("value" -> v, "unit" -> unit)

  /** Per-layer metrics of the traced ops: per-call means of each
    * span's counters (0 for layers this workload does not call), the
    * workload's extras, the driver gap, the tracing overhead and the
    * old gen left after any collection in the loop. */
  private def layerMetrics(probe: Probe, w: Workload, ops: Seq[Timed],
                           untracedP50: Double, tracedP50: Double,
                           anyGcPeakMb: Double, results: String,
                           seed: Long): Seq[(String, Any)] = {
    val spans = probe.closedSpans
    val runId = s"${w.name}-seed$seed-${System.currentTimeMillis()}"
    probe.writeSpans(s"$results/spans-${w.name}-seed$seed.jsonl", runId)
    def meanOf(name: String)(f: Span => Double): Double = {
      val ss = spans.filter(_.name == name)
      ss.map(f).sum / ss.length.max(1)
    }
    val perSpan = Spans.flatMap { name =>
      def mean(f: Span => Double) = meanOf(name)(f)
      Seq(
        s"$name.wall_s" -> metric(mean(_.wallNs / 1e9), "s"),
        s"$name.jobs" -> metric(mean(_.work.jobs.toDouble), "count"),
        s"$name.tasks" -> metric(mean(_.work.tasks.toDouble), "count"),
        s"$name.cpu_s" -> metric(mean(_.work.cpuNs / 1e9), "s"),
        s"$name.shuffle_bytes" ->
          metric(mean(_.work.shuffleBytes.toDouble), "bytes"),
        s"$name.spill_bytes" ->
          metric(mean(_.work.spillBytes.toDouble), "bytes"))
    }
    val extras = w.layerExtras.toMap
    val gap = ops.map(o => o.seconds - o.work.jobNs / 1e9).sum /
      ops.length.max(1)
    val extraMetrics = Extras.map {
      case "driver_gap_s" => "driver_gap_s" -> metric(gap, "s")
      case "trace_overhead_ratio" =>
        "trace_overhead_ratio" -> metric(tracedP50 / untracedP50, "ratio")
      case "jvm.old_gen_after_gc_peak_mb" =>
        "jvm.old_gen_after_gc_peak_mb" -> metric(anyGcPeakMb, "MB")
      case "logtable.execute.bytes_read" => "logtable.execute.bytes_read" ->
        metric(meanOf("logtable.execute")(_.work.bytesRead.toDouble), "bytes")
      case e => e -> metric(extras.getOrElse(e, 0.0), unitFor(e))
    }
    perSpan ++ extraMetrics
  }

  private def unitFor(extra: String): String = extra match {
    case e if e.endsWith(".wall_s") => "s"
    case e if e.endsWith("rows_per_core_s") => "1/s"
    case _ => "ratio"
  }
}
