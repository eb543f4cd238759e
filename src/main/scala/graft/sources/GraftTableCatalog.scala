package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark DataSource-V2 `TableCatalog` over graft's [[LogTable]]s —
  * the by-name surface. Configure
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.GraftTableCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * and every log table directory under the warehouse is a named,
  * read-write table with native SQL DML (INSERT / UPDATE / DELETE /
  * MERGE INTO) and NATIVE SQL time travel — Spark routes
  * `VERSION AS OF` / `TIMESTAMP AS OF` only through a catalog plugin's
  * `loadTable` overloads (reference behavior: Delta tables under
  * `Load & SCD-Merge.py:24-38` support exactly these clauses):
  *
  * {{{
  * SELECT * FROM graft.dim_customer                          -- current
  * SELECT * FROM graft.dim_customer VERSION AS OF 2          -- pinned
  * SELECT * FROM graft.dim_customer TIMESTAMP AS OF t        -- as-of
  * }}}
  *
  * Scale: the catalog itself is metadata-only (one log-head
  * resolution per lookup, O(#versions) listing for timestamp
  * lookup); all data movement is the table's parquet scan. */
class GraftTableCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"GraftTableCatalog '$name' needs spark.sql.catalog.$name.warehouse"))
    // native SQL row-level DML (UPDATE / MERGE INTO by name) rides
    // on a planner strategy; hook it into the live session now so a
    // catalog user never needs session-build extensions
    try GraftRowLevelStrategy.register(SparkSession.active)
    catch { case scala.util.control.NonFatal(_) => () }
    // SQL reads of DV / clone / hidden- or mixed-layout snapshots
    // run as the load() logical plan — real stats + codegen'd execution
    try GraftReadSubstitution.register(SparkSession.active)
    catch { case scala.util.control.NonFatal(_) => () }
    // the `table_changes` TVF rides the same no-extensions contract
    try GraftSql.register(SparkSession.active)
    catch { case scala.util.control.NonFatal(_) => () }
    // NOTE: the parquet field-id session flags are NOT flipped here
    // — registering a catalog must not change how unrelated parquet
    // reads resolve. They flip lazily, per session, the first time a
    // COLUMN-MAPPED table is actually resolved
    // (LogTable.ensureFieldIdResolution / enableFieldIds).
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): java.io.File =
    new java.io.File(
      (warehouse +: (ident.namespace().toSeq :+ ident.name())).mkString("/"))

  /** Does the directory hold a [[LogTable]]? */
  private def isLogTable(dir: java.io.File): Boolean =
    new LogTable(dir.toString).exists

  /** `t__branch_dev` addresses branch `dev` of log table `t` — the
    * write-audit-publish loop entirely in SQL (Iceberg's
    * `branch_`-suffix convention): `INSERT INTO cat.t__branch_dev`,
    * `UPDATE`/`DELETE`/`MERGE INTO` against it, validate with
    * SELECTs, then `CALL cat.merge_branch('t', 'dev')` publishes —
    * main never sees unaudited rows. Resolves only when no real
    * table shadows the name and the suffix names a LIVE branch ref. */
  private def branchOf(ident: Identifier): Option[LogTable] = {
    val n = ident.name()
    val i = n.indexOf("__branch_")
    if (i <= 0) None
    else {
      val branch = n.substring(i + "__branch_".length)
      val baseDir = dirOf(Identifier.of(ident.namespace(), n.take(i)))
      if (isLogTable(baseDir)) {
        val log = new LogTable(baseDir.toString)
        log.refs.get(branch) match {
          case Some(("branch", _)) => Some(log.branchTable(branch))
          case _ => None
        }
      } else None
    }
  }

  /** `cat.t.history` / `cat.t.files` / `cat.t.refs` — Iceberg's
    * metadata-inspection surface: a dotted identifier whose base
    * resolves to a log table and whose leaf names a metadata
    * surface serves that surface as a read-only relation (see
    * [[GraftMetadataTables]]). A REAL table at the physical path
    * always shadows the metadata name — this resolver only runs
    * after the direct lookup missed. */
  private def metadataOf(ident: Identifier,
                         version: Option[Long] = None): Option[Table] = {
    val ns = ident.namespace()
    if (ns.isEmpty ||
        !GraftMetadataTables.surfaces.contains(ident.name())) None
    else {
      val baseDir = dirOf(Identifier.of(ns.dropRight(1), ns.last))
      if (isLogTable(baseDir)) {
        val log = new LogTable(baseDir.toString)
        version match {
          case None => Some(GraftMetadataTables(
            s"$catalogName.${ns.last}.${ident.name()}",
            ident.name(), log))
          case Some(v) =>
            // `VERSION AS OF` — only `files` is snapshot-addressable
            // (Iceberg pins its files table per snapshot the same
            // way); the whole-log surfaces refuse the pin
            if (ident.name() != "files")
              throw new IllegalArgumentException(
                s"metadata table '${ident.name()}' describes the " +
                  "whole log and cannot be pinned to a version; " +
                  "only 'files' takes VERSION AS OF")
            if (!log.versions.contains(v))
              throw new IllegalArgumentException(
                s"table '${ns.last}' has no committed version $v")
            Some(new GraftMetadataTable(
              s"$catalogName.${ns.last}.files@v$v",
              GraftMetadataTables.filesSchema,
              s => log.addsDF(s, Some(v))))
        }
      } else None
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    isLogTable(dirOf(ident)) || branchOf(ident).isDefined ||
      metadataOf(ident).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new java.io.File((warehouse +: namespace.toSeq).mkString("/"))
    Option(base.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && isLogTable(d))
      .map(d => Identifier.of(namespace, d.getName)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (isLogTable(dir))
      new GraftLogTableV2(s"$catalogName.${ident.name()}",
        new LogTable(dir.toString))
    else branchOf(ident) match {
      case Some(bt) => // branch-addressed R/W table (WAP staging)
        new GraftLogTableV2(s"$catalogName.${ident.name()}", bt)
      case None => metadataOf(ident) match {
        case Some(mt) => mt // cat.t.history / .files / .refs
        case None     => throw new NoSuchTableException(ident)
      }
    }
  }

  /** `VERSION AS OF n` — any committed, unexpired version — or
    * `VERSION AS OF '<ref>'`: a TAG serves its pinned snapshot, a
    * BRANCH serves the branch's own current table (Iceberg's
    * ref-addressable reads). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        if (isLogTable(dir)) {
          val log = new LogTable(dir.toString)
          log.refs.get(version) match {
            case Some(("tag", tv)) =>
              return new GraftPinnedReadTable(
                s"$catalogName.${ident.name()}", log, tv)
            case Some(("branch", _)) =>
              return new GraftLogTableV2(
                s"$catalogName.${ident.name()}@$version",
                log.branchTable(version))
            case _ => ()
          }
        }
        throw new IllegalArgumentException(
          s"'$version' is not a version number or ref name of " +
            s"table '$ident'")
    }
    if (!isLogTable(dir)) {
      // `cat.t.files VERSION AS OF n` — the manifest AS OF a
      // committed snapshot (same resolution rule as the unpinned
      // surfaces; metadataOf owns shadowing and the files-only
      // version restriction)
      metadataOf(ident, Some(v)).foreach(mt => return mt)
      throw new NoSuchTableException(ident)
    }
    val log = new LogTable(dir.toString)
    if (!log.versions.contains(v)) throw new IllegalArgumentException(
      s"table '$ident' has no committed version $v")
    new GraftPinnedReadTable(s"$catalogName.${ident.name()}", log, v)
  }

  /** `TIMESTAMP AS OF t` — Spark hands the instant as epoch MICROS;
    * log commit times are epoch millis from the injectable clock. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!isLogTable(dir)) throw new NoSuchTableException(ident)
    val log = new LogTable(dir.toString)
    new GraftPinnedReadTable(s"$catalogName.${ident.name()}", log,
      log.versionAt(Math.floorDiv(timestampMicros, 1000L)))
  }

  /** `CREATE TABLE cat.t (schema) [USING log] [PARTITIONED BY (...)]
    * [CLUSTER BY (...)]` seeds a [[LogTable]], whose full INSERT /
    * INSERT OVERWRITE / UPDATE / DELETE / MERGE surface works by
    * name. No provider, `log` and `graft_log` are the same table;
    * any other provider is rejected. Identity partition transforms
    * become hive partition columns, Iceberg-style transforms
    * (`days`, `bucket`, `truncate`, ...) hidden generated ones. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    Option(properties.get("provider")).map(_.toLowerCase).foreach { p =>
      if (p != "log" && p != "graft_log")
        throw new UnsupportedOperationException(
          s"GraftTableCatalog tables are log tables: provider '$p' is " +
            "not supported (omit USING, or write USING log)")
    }
    // `CREATE TABLE ... CLUSTER BY (c, ...)` arrives as a
    // ClusterByTransform in the partitioning array (Spark's native
    // clause): it is NOT a hive layout — map it to the
    // graft.clusterBy property (write-time local sort +
    // range-partitioned compaction)
    val (clusterTs, hiveTs) = partitions.toSeq.partition(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions
        .ClusterByTransform])
    val clusterCols = clusterTs
      .flatMap(_.references().map(_.fieldNames().mkString(".")))
    clusterCols.foreach(c => require(schema.fieldNames.contains(c),
      s"CLUSTER BY names unknown column '$c'"))
    // PARTITIONED BY accepts identity columns AND Iceberg-style
    // transforms — `days(ts)`, `bucket(16, id)`, `truncate(4, c)`
    // — which Spark's parser delivers as native DSv2 transforms;
    // normalize each to the canonical spec string LogTable.create
    // resolves into a hidden generated partition column
    val partCols = hiveTs.map { t =>
      def ref = t.references().head.fieldNames().mkString(".")
      def intArg: Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"transform '$t' needs an integer argument"))
      t.name match {
        case "identity" => ref
        case n @ ("years" | "months" | "days" | "hours") => s"$n($ref)"
        case "bucket"   => s"bucket($intArg,$ref)"
        case "truncate" => s"truncate($intArg,$ref)"
        case other => throw new UnsupportedOperationException(
          "log tables support identity, years, months, days, hours, " +
            s"bucket and truncate PARTITIONED BY transforms, got '$other'")
      }
    }
    // the SQL-facing knobs for the log table's index/constraint/
    // generated-column features ride TBLPROPERTIES:
    //   'bloom' = 'colA,colB'           per-file bloom index
    //   'check.<name>' = '<bool expr>'  CHECK constraint
    //   'generated.<col>' = '<expr>'    GENERATED ALWAYS AS
    import scala.jdk.CollectionConverters._
    val props = properties.asScala
    val bloom = props.get("bloom")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val checks = props.collect {
      case (k, v) if k.startsWith("check.") =>
        k.stripPrefix("check.") -> v }.toMap
    val gens = props.collect {
      case (k, v) if k.startsWith("generated.") =>
        k.stripPrefix("generated.") -> v }.toMap
    //   'columnMapping' = 'true'        field-id column mapping
    //   (metadata-only RENAME COLUMN)
    //   'identity.<col>' = 'start=N, step=M'   GENERATED ALWAYS
    //                                          AS IDENTITY
    //   'default.<col>' = '<expr>'      column DEFAULT
    val mapping = props.get("columnMapping").exists(_.toBoolean)
    val identities = props.collect {
      case (k, v) if k.startsWith("identity.") =>
        val kvs = v.split(",").map(_.trim.split("=", 2))
          .collect { case Array(a, b) => a.trim -> b.trim.toLong }.toMap
        k.stripPrefix("identity.") -> graft.sources.IdentitySpec(
          kvs.getOrElse("start", 1L), kvs.getOrElse("step", 1L)) }.toMap
    val defaults = props.collect {
      case (k, v) if k.startsWith("default.") =>
        k.stripPrefix("default.") -> v }.toMap
    // everything that is not a feature knob (and not one of the
    // engine-injected keys) lands in the log's free-form
    // TBLPROPERTIES map
    val free = props.filterNot { case (k, _) =>
      reservedProp(k) }.toMap ++
      (if (clusterCols.isEmpty) Map.empty
       else Map(LogTable.PropClusterBy -> clusterCols.mkString(",")))
    new LogTable(dirOf(ident).toString)
      .create(schema, partCols, bloom, checks, gens, mapping,
        identities, defaults, free)
    loadTable(ident)
  }

  /** Resolve a log table by its in-catalog name (optionally
    * namespace-qualified `ns.t`), for the stored procedures. */
  private[sources] def logTableByName(name: String): LogTable = {
    val parts = name.split("\\.").toSeq
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val t = new LogTable(dirOf(ident).toString)
    if (!t.exists) branchOf(ident) match {
      case Some(bt) => return bt // maintenance CALLs work on branches
      case None => ()
    }
    require(t.exists, s"no log table '$name' in catalog $catalogName")
    t
  }

  /** A handle at an in-catalog path that need not exist yet — the
    * CALL clone target. */
  private[sources] def newLogTableAt(name: String): LogTable = {
    val parts = name.split("\\.").toSeq
    new LogTable(dirOf(Identifier.of(parts.init.toArray, parts.last))
      .toString)
  }

  /** Iceberg-style SQL stored procedures ([[GraftProcedure]]):
    * `CALL cat.restore('t', 3)`, vacuum, optimize (plain or
    * z-ordered), purge_deletes, history — the table-maintenance
    * verbs as plain SQL, on Spark 4's native `ProcedureCatalog`
    * seam. Any namespace is accepted (`cat.system.vacuum` works,
    * Iceberg-style). */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val n = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (GraftProcedure.Names.contains(n)) new GraftProcedure(this, n)
    else throw new RuntimeException(
      s"no such procedure: ${ident.name()} (have: " +
        s"${GraftProcedure.Names.toSeq.sorted.mkString(", ")})")
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    GraftProcedure.Names.toSeq.sorted
      .map(Identifier.of(namespace, _)).toArray

  /** Feature knobs and engine-injected keys — never stored in (or
    * alterable through) the free-form property map. */
  private def reservedProp(k: String): Boolean =
    k == "provider" || k == "location" || k == "owner" ||
      k == "external" || k == "bloom" || k == "columnMapping" ||
      k.startsWith("check.") || k.startsWith("generated.") ||
      k.startsWith("identity.") || k.startsWith("default.") ||
      k.startsWith("option.")

  /** `ALTER TABLE cat.t SET TBLPROPERTIES (...)` / `UNSET
    * TBLPROPERTIES (...)` on log tables — property changes only;
    * structural ALTERs still go through the dedicated metadata ops
    * (rename/drop procedures, SET/DROP DEFAULT). */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isLogTable(dir)) throw new UnsupportedOperationException(
      "ALTER TABLE is only supported on log tables")
    val log = new LogTable(dir.toString)
    val sets = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value }
    val unsets = changes.collect {
      case r: TableChange.RemoveProperty => r.property }
    // `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — native Spark SQL
    // dispatch into the metadata-only type widening (lossless matrix
    // enforced by the table; anything else refuses there)
    val widens = changes.collect {
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          "ALTER COLUMN TYPE on nested fields is not supported")
        u.fieldNames.head -> u.newDataType
    }
    // `ALTER TABLE t ADD COLUMNS (...)` — metadata-only schema
    // append; also the change MERGE ... WITH SCHEMA EVOLUTION emits.
    // Attributes the log cannot honor REFUSE rather than silently
    // dropping the user's contract: NOT NULL (old files read the
    // column as null), DEFAULT (declare it via 'default.<col>'
    // TBLPROPERTIES), and position (columns append at the end).
    val adds = changes.collect {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "ADD COLUMNS on nested fields is not supported")
        require(a.isNullable,
          s"ADD COLUMNS '${a.fieldNames.head}' NOT NULL is not " +
            "supported — existing rows would read it as NULL")
        require(a.defaultValue == null,
          s"ADD COLUMNS '${a.fieldNames.head}' DEFAULT is not " +
            "supported here — set 'default.<col>' TBLPROPERTIES")
        require(a.position == null,
          s"ADD COLUMNS '${a.fieldNames.head}' FIRST/AFTER is not " +
            "supported — new columns append at the end")
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true)
    }
    val other = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.UpdateColumnType] ||
        c.isInstanceOf[TableChange.AddColumn])
    if (other.nonEmpty) throw new UnsupportedOperationException(
      s"unsupported ALTER TABLE change(s): ${other.mkString(", ")} — " +
        "only SET/UNSET TBLPROPERTIES, ADD COLUMNS and ALTER COLUMN " +
        "TYPE go through ALTER")
    // validate EVERYTHING before applying ANYTHING: a mixed ALTER
    // whose later change fails its own require must not leave the
    // earlier changes durably committed — property checks AND the
    // widen/add preconditions (column exists, widenable, not
    // retired/duplicate/reserved) all run against the current
    // snapshot first; the per-op commits re-validate under their
    // pinned basis as before
    (sets.map(_._1) ++ unsets).find(reservedProp).foreach(k =>
      throw new IllegalArgumentException(
        s"'$k' is a reserved table-feature property — it cannot be " +
          "changed through SET/UNSET TBLPROPERTIES"))
    widens.foreach { case (c, t) =>
      log.validateWiden(SparkSession.active, c, t); () }
    if (adds.nonEmpty) { log.validateAddColumns(adds.toSeq); () }
    widens.foreach { case (c, t) =>
      log.widenColumnType(SparkSession.active, c, t); () }
    if (adds.nonEmpty) { log.addColumns(adds.toSeq); () }
    if (sets.nonEmpty) log.setTableProperties(sets.toMap)
    if (unsets.nonEmpty) log.unsetTableProperties(unsets)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isLogTable(dir)) false
    else {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(dir); true
    }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent))
      throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(newIdent)
    java.nio.file.Files.move(dirOf(oldIdent).toPath, dirOf(newIdent).toPath)
    ()
  }
}
