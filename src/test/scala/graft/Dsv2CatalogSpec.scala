package graft

import graft.sources.{GraftTableCatalog, LogTable}
import org.apache.spark.sql.functions._

/** The DataSource-V2 catalog plugin: named reads, native SQL time
  * travel (`VERSION AS OF` / `TIMESTAMP AS OF`), pushdown through the
  * catalog scan, and DDL. */
class Dsv2CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Fresh catalog name per test (Spark caches plugin instances per
    * name after first resolution, so a shared name would pin the
    * first test's warehouse). */
  private var n = 0
  private def freshCatalog(warehouse: String): String = {
    n += 1
    val cat = s"g2c_$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    cat
  }

  /** Three commits at 1000 / 2000 / 3000 ms. `k` is nullable, as a
    * SQL-declared `k BIGINT` column is. */
  private def threeVersionTable(wh: String): LogTable = {
    val ticks = Iterator(1000L, 2000L, 3000L)
    val log = new LogTable(s"$wh/dim", () => ticks.next())
    def commit(rows: (Long, String)*): Unit = {
      log.overwrite(rows.map { case (k, v) => (Option(k), v) }.toDF("k", "v"))
      ()
    }
    commit((1L, "a"), (2L, "b"))
    commit((1L, "a2"), (3L, "c"))
    commit((1L, "a3"))
    log
  }

  test("SELECT by name reads the current snapshot; VERSION AS OF pins") {
    val wh = tmp("dsv2")
    threeVersionTable(wh)
    val cat = freshCatalog(wh)
    assert(spark.sql(s"SELECT k, v FROM $cat.dim ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a3")))
    assert(spark.sql(s"SELECT k, v FROM $cat.dim VERSION AS OF 0 ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    assert(spark.sql(s"SELECT k, v FROM $cat.dim VERSION AS OF 1 ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a2"), (3L, "c")))
    val err = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.dim VERSION AS OF 9").collect())
    assert(err.getMessage.contains("no committed version"))
  }

  test("TIMESTAMP AS OF resolves between-commit instants to the " +
    "snapshot current then") {
    val wh = tmp("dsv2")
    threeVersionTable(wh) // commit millis 1000 / 2000 / 3000
    val cat = freshCatalog(wh)
    def at(micros: Long): Seq[(Long, String)] =
      spark.sql(s"SELECT k, v FROM $cat.dim " +
          s"TIMESTAMP AS OF timestamp_micros(${micros}L) ORDER BY k")
        .as[(Long, String)].collect().toSeq
    assert(at(2500L * 1000) == Seq((1L, "a2"), (3L, "c"))) // between v1,v2
    assert(at(2000L * 1000) == Seq((1L, "a2"), (3L, "c"))) // exactly v1
    assert(at(9999L * 1000) == Seq((1L, "a3")))            // after last
    val err = intercept[Exception](at(500L * 1000))        // before first
    assert(err.getMessage.contains("no committed version"))
  }

  test("catalog reads push filters down to the parquet scan") {
    val wh = tmp("dsv2")
    threeVersionTable(wh)
    val cat = freshCatalog(wh)
    val plan = spark.sql(s"SELECT k FROM $cat.dim VERSION AS OF 0 WHERE k = 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(k)"),
      s"expected parquet pushdown through the catalog scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint>"),
      s"expected column pruning to drop v:\n$plan")
  }

  test("CREATE TABLE seeds an empty v=0; DROP TABLE removes it; " +
    "SHOW TABLES lists sinks") {
    val wh = tmp("dsv2")
    threeVersionTable(wh)
    val cat = freshCatalog(wh)
    spark.sql(s"CREATE TABLE $cat.fresh (x INT, s STRING)")
    assert(spark.sql(s"SELECT * FROM $cat.fresh").count() == 0)
    assert(spark.sql(s"SELECT * FROM $cat.fresh").schema.fieldNames.toSeq
      == Seq("x", "s"))
    // no provider creates a log table: v0 is the empty snapshot, and
    // the table takes SQL writes by name
    val fresh = new LogTable(s"$wh/fresh")
    assert(fresh.versions == Seq(0L))
    spark.sql(s"INSERT INTO $cat.fresh VALUES (1, 'a')")
    assert(spark.sql(s"SELECT * FROM $cat.fresh").count() == 1)
    // any provider other than log is refused with a clear error
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.pq (x INT) USING parquet"))
    assert(e.getMessage.contains("provider 'parquet' is not supported"),
      e.getMessage)
    assert(!new java.io.File(s"$wh/pq").exists)
    val listed = spark.sql(s"SHOW TABLES IN $cat").select("tableName")
      .as[String].collect().toSet
    assert(listed == Set("dim", "fresh"))
    spark.sql(s"DROP TABLE $cat.fresh")
    assert(spark.sql(s"SHOW TABLES IN $cat").count() == 1)
  }

  test("registering a catalog / reading unmapped tables leaves the " +
    "parquet field-id session flags alone; a column-mapped table " +
    "flips them on first resolution") {
    val readKey = "spark.sql.parquet.fieldId.read.enabled"
    val writeKey = "spark.sql.parquet.fieldId.write.enabled"
    // pin an explicit user value: the library must not override it
    // for unmapped work (the write key's built-in DEFAULT is true,
    // so unset alone can't witness a flip)
    spark.conf.set(readKey, "false"); spark.conf.set(writeKey, "false")
    val wh = tmp("dsv2fid")
    val plain = new graft.sources.LogTable(s"$wh/plain")
    plain.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))
    plain.append(Seq(1L, 2L).toDF("k"))
    val cat = freshCatalog(wh)
    // catalog registration + an unmapped read: flags stay untouched
    assert(spark.sql(s"SELECT k FROM $cat.plain").count() == 2L)
    assert(spark.conf.get(readKey) == "false",
      "unmapped read must not flip the session read flag")
    assert(spark.conf.get(writeKey) == "false",
      "unmapped read must not flip the session write flag")
    // a COLUMN-MAPPED table's resolution flips them (by-id reads
    // need the session conf; per-relation options are ignored)
    spark.sql(s"CREATE TABLE $cat.mapped (k BIGINT, v STRING) " +
      "USING log TBLPROPERTIES ('columnMapping' = 'true')")
    spark.sql(s"INSERT INTO $cat.mapped VALUES (1, 'a')")
    assert(spark.sql(s"SELECT v FROM $cat.mapped").count() == 1L)
    assert(spark.conf.get(readKey) == "true")
    assert(spark.conf.get(writeKey) == "true")
  }

  test("round-11 metadata tables: cat.t.history / .files / .refs " +
    "serve table metadata as read-only relations users join " +
    "against (Iceberg's inspection surface)") {
    val wh = tmp("dsv2meta")
    val ticks = Iterator(1000L, 2000L, 3000L, 4000L, 5000L) ++
      Iterator.continually(6000L)
    val t = new graft.sources.LogTable(s"$wh/t", () => ticks.next())
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(1))                                       // v0
    t.append(Seq((3L, "c")).toDF("k", "v"))                  // v1
    t.deleteMor(spark, col("k") === 1L)                      // v2 (DV)
    t.createTag("rel", Some(1L))
    t.createBranch("dev")
    val cat = freshCatalog(wh)
    // history: one row per commit, the audit columns
    val hist = spark.sql(s"SELECT version, commit_ts, op FROM " +
      s"$cat.t.history ORDER BY version")
      .as[(Long, Long, String)].collect().toSeq
    assert(hist.map(_._1) == (0L to 4L))
    assert(hist.take(3).map(_._3) == Seq("append", "append", "delete"))
    assert(hist.head._2 == 1000L)
    // files: the live manifest as a relation — join it, filter it
    val files = spark.sql(s"SELECT path, rows, dv_rows FROM " +
      s"$cat.t.files ORDER BY path")
    assert(files.count() == t.liveAdds().size.toLong)
    assert(spark.sql(
      s"SELECT sum(rows) FROM $cat.t.files").as[Long].head() ==
      t.liveAdds().map(_.rows).sum)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.files " +
      "WHERE dv_path IS NOT NULL").as[Long].head() == 1L)
    // a metadata relation JOINs like any other table
    assert(spark.sql(
      s"""SELECT count(*) FROM $cat.t.files f
          JOIN $cat.t.history h ON h.n_added > 0""").as[Long].head()
      >= files.count())
    // refs: tags and branches with their versions
    val refs = spark.sql(s"SELECT name, kind, version FROM " +
      s"$cat.t.refs ORDER BY name")
      .as[(String, String, Long)].collect().toSeq
    assert(refs.map(r => (r._1, r._2)) ==
      Seq(("dev", "branch"), ("rel", "tag")))
    assert(refs.find(_._1 == "rel").get._3 == 1L)
    // metadata tables are read-only and reflect CURRENT state on
    // each query (no plan-time pinning)
    intercept[Exception](spark.sql(
      s"INSERT INTO $cat.t.refs VALUES ('x', 'tag', 0)").collect())
    t.append(Seq((9L, "z")).toDF("k", "v"))
    assert(spark.sql(s"SELECT max(version) FROM $cat.t.history")
      .as[Long].head() == 5L)
    // files is version-addressable (the manifest AS OF a snapshot);
    // whole-log surfaces refuse the pin with a clear message
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.t.files VERSION AS OF 0")
      .as[Long].head() == 1L)
    assert(spark.sql(
      s"SELECT sum(rows) FROM $cat.t.files VERSION AS OF 1")
      .as[Long].head() == 3L)
    val ePin = intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.t.history VERSION AS OF 0").collect())
    assert(ePin.getMessage.contains("cannot be pinned"),
      ePin.getMessage)
    // partitions: the per-partition census (Iceberg's partitions
    // table) aggregates the manifest DISTRIBUTED — one row per hive
    // partition with file/row/byte counts; unpartitioned tables
    // report one whole-table row
    assert(spark.sql(s"SELECT n_files, logical_rows FROM " +
      s"$cat.t.partitions").as[(Long, Long)].collect().toSeq ==
      Seq((t.liveAdds().size.toLong,
        t.liveAdds().map(_.logicalRows).sum)))
    val pt = new graft.sources.LogTable(s"$wh/pt")
    pt.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seg",
        org.apache.spark.sql.types.StringType))),
      partitionBy = Seq("seg"))
    pt.append(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "seg")
      .repartition(1))
    pt.deleteMor(spark, col("k") === 1L)
    val parts = spark.sql(
      s"""SELECT partition_values['seg'] AS seg, n_files,
                 rows, logical_rows
          FROM $cat.pt.partitions ORDER BY seg""")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(parts == Seq(("a", 1L, 2L, 1L), ("b", 1L, 1L, 1L)), parts)
    // a REAL table shadows the metadata name
    val shadow = new graft.sources.LogTable(s"$wh/t2/files")
    shadow.append(Seq((7L, "s")).toDF("k", "v"))
    val t2 = new graft.sources.LogTable(s"$wh/t2")
    assert(!t2.exists)
    assert(spark.sql(s"SELECT k FROM $cat.t2.files").as[Long]
      .collect().toSeq == Seq(7L),
      "a real table at the physical path must shadow the surface")
  }

  test("round-12 metadata tables: cat.t.snapshots (commit audit with " +
    "parent + summary map) and cat.t.all_files (every file any " +
    "retained version references, live-flagged — the vacuum-audit " +
    "view)") {
    val wh = tmp("dsv2meta12")
    val ticks = Iterator(1000L, 2000L, 3000L, 4000L) ++
      Iterator.continually(5000L)
    val t = new graft.sources.LogTable(s"$wh/t", () => ticks.next())
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(1))                                       // v0
    t.append(Seq((3L, "c")).toDF("k", "v").repartition(1))   // v1
    t.delete(spark, col("k") === 1L)                         // v2 CoW
    val cat = freshCatalog(wh)

    // snapshots: one row per commit, parent chain + summary map
    val snaps = spark.sql(
      s"""SELECT version, parent, committed_at, operation,
                 summary['n_added'], summary['n_removed']
          FROM $cat.t.snapshots ORDER BY version""")
      .as[(Long, Option[Long], Long, String, String, String)]
      .collect().toSeq
    assert(snaps.map(_._1) == (0L to 2L))
    assert(snaps.head._2.isEmpty && snaps(1)._2.contains(0L) &&
      snaps(2)._2.contains(1L))
    assert(snaps.map(_._3) == Seq(1000L, 2000L, 3000L))
    assert(snaps.map(_._4) == Seq("append", "append", "delete"))
    assert(snaps.head._5 == "1" && snaps.head._6 == "0")
    // the CoW delete removed one file and added its rewrite
    assert(snaps(2)._6 == "1")
    // the idempotent-txn tag rides the summary
    t.appendStreamBatch(Seq((9L, "z")).toDF("k", "v"), "app1", 7L) // v3
    assert(spark.sql(s"SELECT summary['txn_app'], " +
      s"summary['txn_batch'] FROM $cat.t.snapshots WHERE version = 3")
      .as[(String, String)].head() == ("app1", "7"))

    // all_files: live ∪ retired (the CoW delete's source file is
    // retired but still referenced by versions 0..1)
    val af = spark.sql(s"SELECT path, live FROM $cat.t.all_files")
      .as[(String, Boolean)].collect().toSeq
    val liveNow = t.liveAdds().map(_.path).toSet
    assert(af.map(_._1).distinct.size == af.size, "one row per path")
    assert(af.filter(_._2).map(_._1).toSet == liveNow)
    val retired = af.filterNot(_._2).map(_._1)
    assert(retired.nonEmpty, "the CoW-retired file must be listed")
    // exactly the files a vacuum-audit must protect: every live
    // file of every retained version
    val everyReferenced = t.versions
      .flatMap(v => t.liveAdds(Some(v)).map(_.path)).toSet
    assert(af.map(_._1).toSet == everyReferenced)
    // after EXPIRY the audit view tightens to the retained window
    t.expireSnapshots(retainLast = 2)
    val afterExpire = spark.sql(
      s"SELECT path FROM $cat.t.all_files").as[String].collect().toSet
    val retainedRefs = t.versions
      .flatMap(v => t.liveAdds(Some(v)).map(_.path)).toSet
    assert(afterExpire == retainedRefs)
    // whole-log surfaces refuse a version pin
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.t.snapshots VERSION AS OF 0").collect())
    assert(e.getMessage.contains("cannot be pinned"), e.getMessage)

    // manifests: the checkpoint chain as a relation (version,
    // format, sidecar path, parts, bytes)
    val ct = new graft.sources.LogTable(s"$wh/ck",
      checkpointInterval = 2)
    ct.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))),
      properties = Map("graft.checkpoint.parquetThreshold" -> "1"))
    (1 to 4).foreach(i => ct.append(Seq(i.toLong).toDF("k")))
    val mf = spark.sql(s"SELECT version, format, parts, bytes FROM " +
      s"$cat.ck.manifests ORDER BY version")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(mf.map(_._1) == Seq(2L, 4L), mf)
    assert(mf.forall(_._2 == "parquet"), mf)
    assert(mf.forall(r => r._3 >= 1L && r._4 > 0L), mf)
  }
}
