package graftbench

import graft.sources.LogTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `lake_read`: reads of one `LogTable`, no commits while measured.
  *
  * Set-up lands a lineitem-shaped dataset as `commits` key-ordered
  * parquet files, appends each as its own commit, then applies one
  * `deleteMor` (every row with `l_bucket = 0`) and one `updateMor`
  * (`l_quantity += 100` where `l_bucket = 1`), so every data file
  * carries a deletion vector and the table has `commits + 2`
  * versions — more than `LogTable`'s 32-entry snapshot cache.
  *
  * The ops come in seeded blocks of five: two point reads
  * (`loadWhere(l_orderkey = k)`), one key range (1% of the keys), one
  * full-table group-by through `load`, and one time-travel range read
  * (5% of the keys) at a uniformly drawn version. One table instance
  * serves every read, so current-version reads hit its snapshot cache
  * while time travel cycles through more versions than it holds.
  * Each answer (row count and two sums) is checked against the
  * generator's own rows. */
final class LakeRead(spark: SparkSession, probe: Probe, seed: Long,
                     commits: Int = 32, rowsPerCommit: Int = 3000)
    extends Workload {
  val name = "lake_read"

  private val lines = 4
  private val Flags = Seq("A", "N", "R")
  private val total = commits * rowsPerCommit
  private val orders = total / lines
  private var table: LogTable = _
  private var landingBytes = 0L
  private var written = 0L
  private var live = 0L
  // expected rows, indexed by row number (rows are key-ordered)
  private var qty: Array[Long] = Array.empty
  private var price: Array[Long] = Array.empty
  private var bucket: Array[Int] = Array.empty
  private var flag: Array[String] = Array.empty
  private var commitVersion: Array[Long] = Array.empty
  private var deleteVersion = 0L
  private var updateVersion = 0L
  private var rng: scala.util.Random = _
  private var block: List[String] = Nil
  // traced-run extras
  private val scanRatios = scala.collection.mutable.ArrayBuffer.empty[Double]

  def warm(dir: String): Unit = {
    val w = new LakeRead(spark, probe, seed + 7919, commits = 4,
      rowsPerCommit = 400)
    w.setup(dir)
    (1 to 15).foreach(_ => w.step(traced = false).after())
  }

  def setup(dir: String): Unit = {
    val landing = s"$dir/landing"
    val g = generate()
    g.write.partitionBy("c").parquet(landing)
    landingBytes = Gen.dataBytesUnder(landing)
    table = new LogTable(s"$dir/table")
    // landed files carry a known schema: no footer read per file
    val landed = org.apache.spark.sql.types.StructType(
      g.schema.filterNot(_.name == "c"))
    commitVersion = Array.tabulate(commits)(c =>
      table.append(spark.read.schema(landed).parquet(s"$landing/c=$c")))
    deleteVersion = table.deleteMor(spark, col("l_bucket") === 0).version
    updateVersion = table.updateMor(spark, col("l_bucket") === 1,
      Map("l_quantity" -> (col("l_quantity") + 100))).version
    written = Gen.bytesUnder(table.path)
    live = table.liveAdds().map(a => a.bytes +
      a.dv.map(d => Gen.bytesUnder(s"${table.path}/${d.path}")).getOrElse(0L)).sum
    val rows = g.select("l_quantity", "l_price_cents", "l_bucket",
      "l_returnflag").collect()
    qty = rows.map(_.getLong(0))
    price = rows.map(_.getLong(1))
    bucket = rows.map(_.getInt(2))
    flag = rows.map(_.getString(3))
    rng = new scala.util.Random(seed)
    block = Nil
  }

  /** Row i: order i / 4, line i % 4 + 1, landed in commit i / rowsPerCommit. */
  private def generate(): DataFrame = {
    val i = col("id")
    spark.range(0, total, 1, commits)
      .select(
        (i / lines).cast("long").as("l_orderkey"),
        (pmod(i, lit(lines)) + 1).cast("int").as("l_linenumber"),
        (Gen.pick(seed, 50, i, lit("q")) + 1).as("l_quantity"),
        (Gen.pick(seed, 100000, i, lit("p")) + 90000).as("l_price_cents"),
        Gen.pick(seed, 11, i, lit("d")).cast("int").as("l_discount_pct"),
        element_at(array(Flags.map(lit): _*),
          (Gen.pick(seed, 3, i, lit("f")) + 1).cast("int")).as("l_returnflag"),
        date_add(lit("1992-01-01").cast("date"),
          Gen.pick(seed, 2500, i, lit("s")).cast("int")).as("l_shipdate"),
        Gen.pick(seed, 50, i, lit("b")).cast("int").as("l_bucket"),
        substring(sha2(concat(lit(seed), i.cast("string")), 256), 1, 24)
          .as("l_comment"),
        (i / rowsPerCommit).cast("int").as("c"))
  }

  /** (count, sum quantity, sum price) the table must return for orders
    * in [lo, hi] at `version`, optionally of one return flag only. */
  private def expected(lo: Long, hi: Long, version: Long,
                       onlyFlag: Option[String] = None): (Long, Long, Long) = {
    var n, q, p = 0L
    val from = math.max(0L, lo * lines).toInt
    val to = math.min(total.toLong, (hi + 1) * lines).toInt
    var r = from
    while (r < to) {
      val landed = commitVersion(r / rowsPerCommit) <= version
      val deleted = version >= deleteVersion && bucket(r) == 0
      if (landed && !deleted && onlyFlag.forall(_ == flag(r))) {
        n += 1
        q += qty(r) + (if (version >= updateVersion && bucket(r) == 1) 100 else 0)
        p += price(r)
      }
      r += 1
    }
    (n, q, p)
  }

  private def sums(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum("l_quantity"), lit(0L)),
      coalesce(sum("l_price_cents"), lit(0L)))

  private def triple(r: Row): (Long, Long, Long) =
    (r.getLong(0), r.getLong(1), r.getLong(2))

  def step(traced: Boolean): Op = {
    if (block.isEmpty)
      block = rng.shuffle(List("point", "point", "range", "scan", "travel"))
    val kind = block.head
    block = block.tail
    val head = updateVersion
    val (plan, want, version) = kind match {
      case "point" =>
        val k = rng.nextInt(orders).toLong
        (() => sums(table.loadWhere(spark, col("l_orderkey") === k)),
          Map("" -> expected(k, k, head)), head)
      case "range" =>
        val w = orders / 100
        val lo = rng.nextInt(orders - w).toLong
        (() => sums(table.loadWhere(spark, col("l_orderkey").between(lo, lo + w))),
          Map("" -> expected(lo, lo + w, head)), head)
      case "scan" =>
        (() => table.load(spark).groupBy("l_returnflag")
          .agg(count(lit(1)), sum("l_quantity"), sum("l_price_cents")),
          Flags.map(f => f -> expected(0, orders, head, Some(f))).toMap, head)
      case _ =>
        val w = orders / 20
        val lo = rng.nextInt(orders - w).toLong
        val v = commitVersion(0) + rng.nextInt((head - commitVersion(0)).toInt + 1)
        (() => sums(table.loadWhere(spark,
          col("l_orderkey").between(lo, lo + w), Some(v))),
          Map("" -> expected(lo, lo + w, v)), v)
    }
    val df =
      if (traced) probe.span("logtable.plan")(plan()) else plan()
    val rows =
      if (traced) probe.span("logtable.execute")(df.collect()) else df.collect()
    val got: Map[String, (Long, Long, Long)] =
      if (kind == "scan")
        rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      else Map("" -> triple(rows.head))
    Op(kind, want.values.map(_._1).sum, after = () => {
      require(got == want, s"$kind read at v$version: got $got, expected $want")
      if (traced) {
        probe.span("logtable.resolve")(new LogTable(table.path).currentVersion)
        val liveNames = table.liveFiles(Some(version))
          .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
        val scanned = plan().inputFiles
          .map(p => p.substring(p.lastIndexOf('/') + 1))
          .count(liveNames.contains)
        scanRatios += scanned.toDouble / liveNames.size
      }
    })
  }

  def amplification: (Double, Double) =
    (written.toDouble / landingBytes, live.toDouble / landingBytes)

  def report(ops: Seq[Timed]): Seq[(String, Double, String)] = {
    def p50(kind: String) = {
      val xs = ops.filter(_.kind == kind).map(_.seconds)
      if (xs.isEmpty) 0.0 else Main.median(xs)
    }
    Seq(
      ("point_read_p50_s", p50("point"), "s"),
      ("range_read_p50_s", p50("range"), "s"),
      ("scan_read_p50_s", p50("scan"), "s"),
      ("travel_read_p50_s", p50("travel"), "s"),
      ("read_p90_s", Main.quantile(ops.map(_.seconds), 0.9), "s"),
      ("reads", ops.length.toDouble, "count"),
      ("versions", (updateVersion + 1).toDouble, "count"))
  }

  override def layerExtras: Seq[(String, Double)] = Seq(
    "logtable.files_scanned_ratio" ->
      (if (scanRatios.isEmpty) 0.0 else scanRatios.sum / scanRatios.length))
}
