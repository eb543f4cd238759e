package graftbench

import graft.operators.Pipeline
import graft.operators.Pipeline.TableConfig
import graft.sources.{LogTable, SqlMerge, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** `scd_ingest`: the reference's own loop, batch after batch. Each
  * batch is a CSV file of customer changes; one op reads it
  * (`Tables.readCsv` + `withIngestMetadata`), appends it to the raw
  * `LogTable`, stages it (`Pipeline.stage`: trim + latest-per-key) and
  * SCD2-merges it into the dimension `LogTable` with `SqlMerge.mergeLog`
  * in the staged-union form (a null merge key carries the new version
  * of each changed key). The merge source joins the staged batch to the
  * dimension's current rows, read with `loadWhere(is_current)`.
  * Batch 0 is the initial load (op kind `load`), which with the first
  * incremental batch makes the run's burn-in; the headline metrics
  * cover the later incremental batches (kind `batch`), which all do
  * the same kind of work. A run applies at most `batches` batches to one
  * pair of tables; the loop ends when they run out. The traced run
  * ends with an explicit checkpoint of both tables, timed on its own.
  *
  * Batch 0 loads every key once; each later batch revisits
  * `includePct`% of the keys, of which `changePct`% change an
  * attribute and the rest repeat their current state, adds
  * `newPerBatch` new keys, and repeats `dupPct`% of its keys with an
  * older, stale row that `latestPerKey` must drop. Names and cities are
  * padded with spaces that `cleanCols` trims away. */
final class ScdIngest(spark: SparkSession, probe: Probe, seed: Long,
                      keys: Int = 5000, batches: Int = 9,
                      includePct: Int = 20, changePct: Int = 40,
                      newPerBatch: Int = 150, dupPct: Int = 5)
    extends Workload {
  import ScdIngest._

  val name = "scd_ingest"

  private var input: String = _
  private var csvRows: Array[Long] = Array.empty
  private var csvBytes: Array[Long] = Array.empty
  private var raw: LogTable = _
  private var dim: LogTable = _
  // batches applied so far
  private var next = 0
  // bytes on disk under both tables after the last op
  private var bytesBefore = 0L
  // bytes written by, and CSV bytes of, the incremental batches
  private var bytesWritten = 0L
  private var bytesRead = 0L
  // traced-run extras
  private var tracedOps = false
  private val rewriteRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val scanRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val checkpointBatches = scala.collection.mutable.ArrayBuffer.empty[Double]

  def warm(dir: String): Unit = {
    val w = new ScdIngest(spark, probe, seed + 7919, keys = 400,
      batches = 2, newPerBatch = 20)
    w.setup(dir)
    (0 until 2).foreach(_ => w.step(traced = false))
  }

  def setup(dir: String): Unit = {
    // no `..` in table paths: on a path that is not normalized,
    // mergeLog's touched-file set matches no live file, and every
    // updated row keeps its old image next to the new one
    input = s"$dir/batches"
    val counts = generate(input)
    csvRows = Array.tabulate(batches)(b => counts.getOrElse(b, 0L))
    csvBytes = Array.tabulate(batches)(b => Gen.dataBytesUnder(s"$input/b=$b"))
    raw = new LogTable(s"$dir/raw")
    dim = new LogTable(s"$dir/dim")
    dim.create(DimSchema)
    next = 0
    bytesBefore = 0L
    bytesWritten = 0L
    bytesRead = 0L
  }

  override def exhausted: Boolean = next == batches

  /** Writes one CSV directory per batch; returns rows per batch. */
  private def generate(out: String): Map[Int, Long] = {
    val k = col("k")
    val b = col("b")
    val grid = spark.range(keys).toDF("k")
      .crossJoin(spark.range(batches).toDF("b"))
      .withColumn("inc", b === 0 ||
        Gen.pick(seed, 100, k, b, lit("inc")) < includePct)
      .withColumn("chg", b === 0 ||
        (col("inc") && Gen.pick(seed, 100, k, b, lit("chg")) < changePct))
      // e = the batch whose attributes the key carries as of batch b
      .withColumn("e", max(when(col("chg"), b)).over(Window
        .partitionBy(k).orderBy(b)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val revisits = grid.filter(col("inc"))
      .select(k, b, col("e"), lit(false).as("stale"))
    val fresh = spark.range((batches - 1).toLong * newPerBatch)
      .select((col("id") + keys).as("k"),
        (col("id") / newPerBatch + 1).cast("long").as("b"))
      .withColumn("e", col("b")).withColumn("stale", lit(false))
    val stale = revisits
      .filter(b > 0 && Gen.pick(seed, 100, k, b, lit("dup")) < dupPct)
      .withColumn("e", col("e") + 1000).withColumn("stale", lit(true))
    val e = col("e")
    val out0 = revisits.unionByName(fresh).unionByName(stale)
      .select(
        k.as("customer_id"),
        concat(spaces(Gen.pick(seed, 3, k, b, lit("lp"))), lit("Customer "),
          k.cast("string"), spaces(Gen.pick(seed, 3, k, b, lit("rp"))))
          .as("name"),
        concat(lit("c"), k.cast("string"), lit("."), e.cast("string"),
          lit("@example.com")).as("email"),
        concat(element_at(Cities, (Gen.pick(seed, CityNames.length, k, e,
          lit("city")) + 1).cast("int")),
          spaces(Gen.pick(seed, 3, k, b, lit("cp")))).as("city"),
        element_at(Segments, (Gen.pick(seed, 4, k, e, lit("seg")) + 1)
          .cast("int")).as("segment"),
        (lit(1000L) + Gen.pick(seed, 50, k, e, lit("cl")) * 100)
          .as("credit_limit"),
        (b * 100000000L + k * 2 + when(col("stale"), 0L).otherwise(1L))
          .as("seq"),
        b)
    out0.repartition(col("b")).write.option("header", "true")
      .partitionBy("b").csv(out)
    out0.groupBy("b").count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
  }

  /** `n` spaces: the padding `cleanCols` must trim. */
  private def spaces(n: Column): Column = lpad(lit(""), n.cast("int"), lit(" "))

  private def readBatch(b: Int): DataFrame =
    Tables.withIngestMetadata(
      Tables.readCsv(spark, s"$input/b=$b", schema = Some(CsvSchema)),
      "crm", batchTs(b))

  /** The staged-union MERGE source: every staged row under its own key,
    * plus each changed key's row again under a null key, which no
    * target row matches, so it inserts the key's new version. */
  private def mergeSource(staged: DataFrame, dimNow: DataFrame): DataFrame = {
    val cur = dimNow.filter(col("is_current"))
      .select((Cfg.keyCols ++ Cfg.attrCols).map(c => col(c).as(s"__c_$c")): _*)
    val differ = Cfg.attrCols.map(a => !(col(a) <=> col(s"__c_$a")))
      .reduce(_ || _)
    val cols = staged.columns.toSeq.map(col)
    val changed = staged
      .join(cur, col(Cfg.keyCols.head) === col(s"__c_${Cfg.keyCols.head}"))
      .filter(differ)
      .select(lit(null).cast("long").as("merge_key") +: cols: _*)
    staged.select(col(Cfg.keyCols.head).as("merge_key") +: cols: _*)
      .unionByName(changed)
  }

  private def mergeSql(b: Int): String = {
    val ts = s"TIMESTAMP'${tsLiteral(batchTs(b))}'"
    val differ = Cfg.attrCols.map(a => s"NOT (t.$a <=> s.$a)").mkString(" OR ")
    val all = DimSchema.fieldNames
    val values = Cfg.keyCols.map(c => s"s.$c") ++ Cfg.attrCols.map(c => s"s.$c") ++
      Seq(ts, "CAST(NULL AS TIMESTAMP)", "true")
    s"""MERGE INTO dim t USING scd_src s ON t.customer_id = s.merge_key
       |WHEN MATCHED AND t.is_current AND ($differ) THEN
       |  UPDATE SET valid_to = $ts, is_current = false
       |WHEN NOT MATCHED THEN INSERT (${all.mkString(", ")})
       |  VALUES (${values.mkString(", ")})""".stripMargin
  }

  def step(traced: Boolean): Op = {
    val b = next
    // untimed traced-run probes, run once the op returned
    var probes: () => Unit = () => ()
    tracedOps |= traced
    if (!traced) {
      val batch = readBatch(b)
      raw.append(batch)
      val staged = Pipeline.stage(batch, Cfg)
      mergeSource(staged, dim.loadWhere(spark, col("is_current")))
        .createOrReplaceTempView("scd_src")
      SqlMerge.mergeLog(spark, mergeSql(b), dim)
    } else {
      val batch = probe.span("tables.read_csv")(Main.materialize(readBatch(b)))
      probe.span("logtable.append_raw")(raw.append(batch))
      val staged = probe.span("pipeline.stage")(
        Main.materialize(Pipeline.stage(batch, Cfg)))
      // the merge source's read of the dimension, split into planning
      // (file pruning on is_current) and execution
      val curPlan = probe.span("logtable.plan")(
        dim.loadWhere(spark, col("is_current")))
      val cur = probe.span("logtable.execute")(Main.materialize(curPlan))
      val version = dim.currentVersion
      val before = dim.liveAdds().map(a => a.path -> a.rows).toMap
      val res = probe.span("sqlmerge.merge_log") {
        mergeSource(staged, cur).createOrReplaceTempView("scd_src")
        SqlMerge.mergeLog(spark, mergeSql(b), dim)
      }
      val after = dim.liveAdds().map(_.path).toSet
      val rewritten = before.filter { case (p, _) => !after.contains(p) }
        .values.sum
      if (rewritten > 0) rewriteRatios += res.updated.toDouble / rewritten
      probes = () => {
        // snapshot resolution by a fresh reader, and the share of
        // live files the pruned read opened
        probe.span("logtable.resolve")(new LogTable(dim.path).currentVersion)
        // uncached, so the plan shows the files the read opens
        cur.unpersist(blocking = true)
        val live = dim.liveFiles(version).map(fileName).toSet
        if (live.nonEmpty)
          scanRatios += dim.loadWhere(spark, col("is_current"), version)
            .inputFiles.map(fileName).count(live.contains).toDouble / live.size
      }
    }
    next += 1
    Op(if (b == 0) "load" else "batch", csvRows(b), after = () => {
      probes()
      val now = Gen.bytesUnder(raw.path) + Gen.bytesUnder(dim.path)
      if (b > 0) {
        bytesWritten += now - bytesBefore
        bytesRead += csvBytes(b)
      }
      bytesBefore = now
    })
  }

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  override def headline(kind: String): Boolean = kind == "batch"

  // more than --seconds holds at HEAD, so every run times the same
  // positions in the chain
  override def minOps: Int = 4

  override def finish(): Int = {
    if (tracedOps && next > 0) {
      // checkpoint cost per batch: both tables' head, written on demand
      probe.span("logtable.checkpoint_batch") {
        raw.checkpointNow(); dim.checkpointNow()
      }
      checkpointBatches += probe.closedSpans.last.wallNs / 1e9
    }
    if (next == 0) 0
    else try { check(next); 0 } catch {
      case e: Throwable =>
        System.err.println(s"[bench] scd_ingest: final check failed: $e")
        1
    }
  }

  /** Checks the dimension after `applied` batches against the
    * in-memory chain and the SCD2 invariants. */
  private def check(applied: Int): Unit = {
    val got = dim.load(spark).select(DimSchema.fieldNames.map(col): _*)
    checkInvariants(got)
    val have = Gen.sortedHash(got.select(xxhash64(got.columns.map(col): _*))
      .collect().map(_.getLong(0)))
    require(have == expectedHash(applied), s"dimension after $applied " +
      "batches differs from the in-memory Pipeline.runIncrement chain")
  }

  /** One current row per key; per key, versions tile time: each
    * closed version ends exactly where the next one starts. */
  private def checkInvariants(d: DataFrame): Unit = {
    val multi = d.groupBy("customer_id")
      .agg(sum(col("is_current").cast("int")).as("n"))
      .filter(col("n") =!= 1).count()
    require(multi == 0, s"$multi keys without exactly one current row")
    val w = Window.partitionBy("customer_id").orderBy("valid_from")
    val bad = d.withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(
        (col("valid_to").isNull && col("next_from").isNotNull) ||
          (col("valid_to").isNotNull &&
            (col("next_from").isNull || col("valid_to") =!= col("next_from") ||
              col("valid_to") <= col("valid_from"))) ||
          (col("is_current") =!= col("valid_to").isNull))
      .count()
    require(bad == 0, s"$bad versions overlap or leave gaps")
  }

  /** Fingerprint of the in-memory SCD2 chain (`Pipeline.runIncrement`
    * → `Scd.scd2Merge`) over the first `applied` batches. */
  private def expectedHash(applied: Int): Long = {
    var d = Pipeline.emptyDim(spark,
      readBatch(0).drop("ingest_ts", "ingest_source"), Cfg)
    (0 until applied).foreach { b =>
      val rawB = Tables.readCsv(spark, s"$input/b=$b", schema = Some(CsvSchema))
      d = Pipeline.runIncrement(rawB, d, Cfg, "crm", batchTs(b))
        .select(DimSchema.fieldNames.map(col): _*).localCheckpoint()
    }
    Gen.sortedHash(d.select(xxhash64(d.columns.map(col): _*))
      .collect().map(_.getLong(0)))
  }

  /** (bytes written per CSV byte over the incremental batches, live
    * bytes of both tables per CSV byte applied). */
  def amplification: (Double, Double) = {
    val live = (raw.liveAdds() ++ dim.liveAdds()).map(_.bytes).sum
    (bytesWritten.toDouble / bytesRead,
      live.toDouble / csvBytes.take(next).sum)
  }

  def report(ops: Seq[Timed]): Seq[(String, Double, String)] = {
    val inc = ops.filter(_.kind == "batch")
    val t = inc.map(_.seconds)
    Seq(
      ("ingest_rows_per_s", if (t.isEmpty) 0.0 else inc.map(_.rows).sum / t.sum, "1/s"),
      ("batch_p50_s", if (t.isEmpty) 0.0 else Main.median(t), "s"),
      ("batches_applied", next.toDouble, "count"))
  }

  override def layerExtras: Seq[(String, Double)] = Seq(
    "sqlmerge.merge_log.rewrite_ratio" -> mean(rewriteRatios.toSeq),
    "logtable.files_scanned_ratio" -> mean(scanRatios.toSeq),
    "logtable.checkpoint_batch.wall_s" -> mean(checkpointBatches.toSeq))

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object ScdIngest {
  val Cfg: TableConfig = TableConfig("customers", Seq("customer_id"),
    Seq("name", "email", "city", "segment", "credit_limit"), Seq("seq"),
    scdType = 2, cleanCols = Seq("name", "city"))

  val CsvSchema: StructType = StructType(Seq(
    StructField("customer_id", LongType), StructField("name", StringType),
    StructField("email", StringType), StructField("city", StringType),
    StructField("segment", StringType), StructField("credit_limit", LongType),
    StructField("seq", LongType)))

  val DimSchema: StructType = StructType(Seq(
    StructField("customer_id", LongType), StructField("name", StringType),
    StructField("email", StringType), StructField("city", StringType),
    StructField("segment", StringType), StructField("credit_limit", LongType),
    StructField("valid_from", TimestampType),
    StructField("valid_to", TimestampType),
    StructField("is_current", BooleanType)))

  private val CityNames = Seq("Lisbon", "Porto", "Madrid", "Lyon", "Turin",
    "Graz", "Gdansk", "Tartu", "Cork", "Ghent", "Bergen", "Malmo")
  private val Cities = array(CityNames.map(lit): _*)
  private val Segments = array(Seq("retail", "smb", "enterprise", "public")
    .map(lit): _*)

  private val Epoch = 1704067200000L // 2024-01-01T00:00:00Z

  def batchTs(b: Int): Timestamp = new Timestamp(Epoch + b * 3600000L)

  def tsLiteral(t: Timestamp): String = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f.format(t)
  }
}
