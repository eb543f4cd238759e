package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit,
  monotonically_increasing_id, to_json, when}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** EXPORT of a [[LogTable]] as a spec-compliant Delta Lake
  * transaction log (`_delta_log/`), per Delta's PUBLIC protocol spec
  * (delta-io PROTOCOL.md; the design is the published Delta VLDB'20
  * paper), in two modes:
  *
  *  - [[exportDeltaLog]] — a FULL snapshot: one JSON commit carrying
  *    `protocol`, `metaData` and one `add` per live file
  *    (Delta-rendered, TYPE-AWARE stats JSON), a single-part parquet
  *    CHECKPOINT with the spec's top-level action columns, and the
  *    `_last_checkpoint` pointer. At version > 0 the checkpoint is
  *    REQUIRED: without it the exported log would have no version 0
  *    and no `_last_checkpoint` — no contiguous replay start, which
  *    a strict reader refuses. (A checkpoint + later commits with
  *    the early commits absent is a perfectly normal Delta log — the
  *    state Delta's own log cleanup leaves.)
  *  - [[exportTail]] — an INCREMENTAL mirror: one contiguous Delta
  *    commit per graft commit (adds + removes + commitInfo, metaData
  *    re-emitted when the commit changed it), refusing any gap, so a
  *    mirror can follow the table commit-by-commit after one full
  *    export.
  *
  * Data files are referenced IN PLACE (table-relative paths) — the
  * export writes metadata only, so an external Delta reader pointed
  * at the table root consumes the same parquet bytes graft wrote.
  *
  * 100-TB posture: above the parquet-checkpoint threshold the add
  * actions are RENDERED ON EXECUTORS from the distributed manifest
  * and streamed into the commit file — the driver never materializes
  * the file list (the same discipline as checkpoint writes); the
  * import side folds checkpoints via a slim (path, size) projection,
  * never `toJSON.collect()` of full stats rows.
  *
  * No Delta implementation exists in this environment (offline — r5
  * verified), so conformance is verified structurally (spec-required
  * fields, stats rendering, checkpoint action schema) plus a
  * round-trip through [[DeltaExport.readDeltaSnapshot]], this
  * library's own reader for the format, as a proxy.
  *
  * HIDDEN partitioning exports as Delta's GENERATED PARTITION
  * COLUMNS (round 14): the synthesized column stays in the exported
  * schema stamped with `delta.generationExpression` = graft's own
  * Spark SQL derivation — verbatim sound, since Delta writers
  * evaluate generation with the same Spark engine that computed
  * graft's values (bucket's `pmod(hash(c), n)` included, unlike the
  * Iceberg export where the foreign bucket hash differs). The
  * protocol declares minWriterVersion 4 so lesser writers refuse
  * instead of appending without the derivation; readers stay at 1.
  * [[convertFromDelta]] rebuilds the same hidden layout from the
  * metadata.
  *
  * DELETION VECTORS cross the boundary in BOTH directions (round
  * 15): exports render each vectored file's graft `_dv` pairs as
  * Delta's public encoding — portable roaring bitmaps, Z85, inline
  * or packed `deletion_vector_<uuid>.bin` blobs (see [[DeltaDv]] /
  * [[dvDescriptors]]; built on executors, joined into the add
  * render by path) under a reader-3/writer-7 table-features
  * protocol — and [[convertFromDelta]] decodes foreign descriptors
  * back into graft pairs, so row-level deletes mirror and convert
  * with no purge on either side. Still refused loudly: column
  * mapping (graft stamps parquet field ids without Delta's
  * `delta.columnMapping.*` metadata) — the export names the
  * blocker. */
object DeltaExport {

  /** Render one stat bound per its column's DELTA stats type: graft
    * stores dates as epoch days and timestamps as epoch micros
    * (LogTable's comparable-form projection); Delta's stats schema
    * carries ISO-8601 strings for those types and JSON booleans for
    * boolean columns — an external reader doing stats-based skipping
    * would otherwise fail to parse the bound, or worse, compare a
    * raw long against a date literal and skip files it must scan.
    * Static (object-level) so the distributed export path calls it
    * from executors. */
  private[sources] def deltaStatValue(dt: Option[DataType],
                                      v: Any): JValue = (dt, v) match {
    case (Some(DateType), l: Long) =>
      JString(java.time.LocalDate.ofEpochDay(l).toString)
    case (Some(TimestampType), l: Long) =>
      JString(java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        java.time.Instant.EPOCH.plus(l,
          java.time.temporal.ChronoUnit.MICROS)))
    case (Some(TimestampNTZType), l: Long) =>
      // no zone suffix: NTZ bounds render as local date-times
      JString(java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(l, 1000000L),
        (Math.floorMod(l, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC).toString)
    case (Some(BooleanType), l: Long) => JBool(l != 0L)
    case (_, l: Long)                 => JLong(l)
    case (_, d: Double) if d.isNaN || d.isInfinite => JString(d.toString)
    case (_, d: Double)               => JDouble(d)
    case (_, s: String)               => JString(s)
    case (_, o)                       => JString(o.toString)
  }

  /** Delta stats JSON for one add — numRecords, min/maxValues (typed
    * per [[deltaStatValue]]), nullCount. Executor-safe. */
  private[sources] def statsJsonFor(a: AddFile,
      types: Map[String, DataType]): String = {
    def side(pick: ColStats => Option[Any]): JValue = JObject(
      a.stats.toList.flatMap { case (c, st) =>
        pick(st).map(v => c -> deltaStatValue(types.get(c), v)) })
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "numRecords" -> JLong(a.rows),
      "minValues" -> side(_.min), "maxValues" -> side(_.max),
      "nullCount" -> JObject(a.stats.toList.map { case (c, st) =>
        c -> (JLong(st.nulls): JValue) })))))
  }

  /** One rendered `add` action line. Executor-safe: the distributed
    * export maps this over the manifest. `dataChange` = false for
    * rewrite-only commits (OPTIMIZE/cluster) — the protocol's signal
    * that lets incremental/streaming followers skip the rewrite
    * instead of double-counting compacted rows. `dvJson`, when the
    * file carries row-level deletes, is its rendered
    * `deletionVector` descriptor (see [[DeltaDv]] / [[dvDescriptors]]
    * — built where the pair files live, joined in by path). */
  private[sources] def addActionLine(a: AddFile,
      types: Map[String, DataType], modTime: Long,
      dataChange: Boolean = true,
      dvJson: Option[String] = None): String =
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "add" -> JObject(List(
        "path" -> JString(encodePath(a.path)),
        "partitionValues" -> JObject(a.partitionValues.toList
          .map { case (k, pv) => k -> (JString(pv): JValue) }),
        "size" -> JLong(a.bytes),
        "modificationTime" -> JLong(modTime),
        "dataChange" -> JBool(dataChange),
        "stats" -> JString(statsJsonFor(a, types))) ++
        dvJson.map(s =>
          "deletionVector" -> JsonMethods.parse(s)).toList)))))

  private def removeActionLine(path: String, ts: Long,
                               dataChange: Boolean = true): String =
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "remove" -> JObject(List(
        "path" -> JString(encodePath(path)),
        "deletionTimestamp" -> JLong(ts),
        "dataChange" -> JBool(dataChange)))))))

  private def commitInfoLine(ts: Long, op: String): String =
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "commitInfo" -> JObject(List(
        "timestamp" -> JLong(ts), "operation" -> JString(op)))))))

  /** The SPEC-SHAPED checkpoint schema — never inferred: JSON schema
    * inference would type `add.partitionValues` as a struct keyed by
    * the partition-column names (and DROP it entirely on an
    * unpartitioned table, along with metaData.format.options /
    * configuration, since inference prunes empty objects). Delta's
    * checkpoint contract is `map<string,string>` with the empty map
    * present — a strict reader starting at `_last_checkpoint` (the
    * exact post-log-cleanup scenario exportCheckpoint exists for)
    * reads these columns by that contract. */
  private val checkpointSchema: StructType = {
    val ss = MapType(StringType, StringType, valueContainsNull = true)
    StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("description", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", ss)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", ss),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", ss),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType))))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType))))))
  }

  /** Checkpoint rows carry `dataChange = false` on BOTH add and
    * remove actions, whatever the originating commit said (the
    * protocol's checkpoint rule): a checkpoint reconstructs STATE,
    * not change — a strict incremental consumer bootstrapping from
    * it must not double-count the whole snapshot as fresh changes. */
  private def neutralizeDataChange(df: DataFrame): DataFrame = df
    .withColumn("add", when(col("add").isNotNull,
      col("add").withField("dataChange", lit(false))))
    .withColumn("remove", when(col("remove").isNotNull,
      col("remove").withField("dataChange", lit(false))))

  /** Protocol action. Legacy versions while the state allows:
    * minWriterVersion 4 when the schema carries generated columns
    * (Delta's gate for the feature — a lesser writer must not append
    * without maintaining the derivation), readers at 1 (partition
    * values serve from the log, generation only binds writers).
    * DELETION VECTORS force the table-features form — reader 3 /
    * writer 7 with explicit `readerFeatures`/`writerFeatures` lists
    * (the spec's only spelling of the feature), so a DV-blind reader
    * refuses cleanly instead of serving deleted rows. */
  private def protocolLine(generated: Boolean,
                           dv: Boolean = false,
                           mapped: Boolean = false,
                           constrained: Boolean = false): String =
    if (dv) {
      // table-features form: every active feature named explicitly
      val reader = List("deletionVectors") ++
        (if (mapped) List("columnMapping") else Nil)
      val writer = reader ++
        (if (generated) List("generatedColumns") else Nil) ++
        (if (constrained) List("checkConstraints") else Nil)
      JsonMethods.compact(JsonMethods.render(JObject(List(
        "protocol" -> JObject(List(
          "minReaderVersion" -> JInt(3),
          "minWriterVersion" -> JInt(7),
          "readerFeatures" -> JArray(reader.map(JString(_))),
          "writerFeatures" -> JArray(writer.map(JString(_)))))))))
    } else JsonMethods.compact(JsonMethods.render(JObject(List(
      "protocol" -> JObject(List(
        // legacy encodings: column mapping is (2, 5) — which also
        // covers generated columns' writer-4 floor and CHECK
        // constraints' writer-3 floor (the legacy ladder is
        // cumulative) — generated alone is (1, 4), constraints
        // alone (1, 3), plain (1, 2)
        "minReaderVersion" -> JInt(if (mapped) 2 else 1),
        "minWriterVersion" -> JInt(
          if (mapped) 5 else if (generated) 4
          else if (constrained) 3 else 2)))))))

  private def metaDataLine(schema: StructType, partCols: Seq[String],
                           createdTime: Long, id: String,
                           config: Map[String, String] = Map.empty)
      : String =
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "metaData" -> JObject(List(
        "id" -> JString(id),
        "format" -> JObject(List("provider" -> JString("parquet"),
          "options" -> JObject(Nil))),
        "schemaString" -> JString(schema.json),
        "partitionColumns" -> JArray(partCols.toList.map(JString(_))),
        "configuration" -> JObject(config.toList.toList
          .sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
        "createdTime" -> JLong(createdTime)))))))

  /** The log's STABLE table id: Delta's `metaData.id` identifies the
    * table across its whole history — a reader following the log
    * aborts if it changes ("table was replaced"). Resolved from the
    * earliest exported commit carrying a metaData action, falling
    * back to the checkpoint; None on a fresh log (the first export
    * mints one). */
  private def existingMetaId(spark: SparkSession,
                             dir: File): Option[String] = {
    val commits = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
    // STREAM the commit — metaData sits in the first lines, and a
    // full-export commit is the fattest file in the log (one add
    // per live file); never readString it onto the driver
    def idIn(f: File): Option[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines()
        .filter(_.contains("\"metaData\""))
        .flatMap(l => JsonMethods.parse(l) \ "metaData" \ "id" match {
          case JString(id) => Some(id); case _ => None
        }).nextOption()
      finally src.close()
    }
    val fromCommit = commits.iterator.flatMap(idIn(_)).nextOption()
    fromCommit.orElse {
      val ckpts = Option(dir.listFiles()).getOrElse(Array.empty)
        .map(_.getName)
        .filter(_.matches(
          "\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet"))
        .map(_.take(20).toLong)
      ckpts.sorted.lastOption.flatMap { cv =>
        val df = spark.read.parquet(ckptParts(dir, cv): _*)
        if (!df.columns.contains("metaData")) None
        else df.filter(col("metaData").isNotNull)
          .select(col("metaData.id")).collect()
          .headOption.map(_.getString(0))
      }
    }
  }

  /** Delta paths are URL-ENCODED relative paths (PROTOCOL.md):
    * encode graft's on-disk relative path for the log, decode a
    * foreign log's path back to the filesystem form. URI-style
    * percent escaping (spaces etc.), never form encoding ('+').
    * Encoding goes through a "./" prefix so a first segment
    * containing ':' never parses as a scheme (a bare
    * `new URI(null,null,"a:b",null).getRawPath` is null). */
  private[graft] def encodePath(p: String): String =
    new java.net.URI(null, null, "./" + p, null)
      .getRawPath.stripPrefix("./")
      // ':' is a legal pchar the URI encoder leaves raw, but a raw
      // colon in the FIRST segment would parse as a scheme on
      // decode — escape it everywhere (decode restores it)
      .replace(":", "%3A")

  /** Decode a log path. A FULLY-QUALIFIED URI (the spec allows
    * absolute `scheme://…` paths, e.g. after a clone) is returned
    * VERBATIM — stripping its scheme/authority would silently remap
    * it to a same-named local path; consumers that cannot serve
    * cross-root URIs gate via [[hasUriScheme]] instead. */
  private[graft] def decodePath(p: String): String =
    scala.util.Try(new java.net.URI(p)).toOption match {
      case Some(u) if u.getScheme != null => p
      case Some(u) if u.getPath != null   => u.getPath
      case _                              => p
    }

  /** Is this log path a fully-qualified URI (has a scheme)? */
  private[graft] def hasUriScheme(p: String): Boolean =
    scala.util.Try(new java.net.URI(p)).toOption
      .exists(_.getScheme != null)

  /** Parse `_last_checkpoint`: (version, declared part count). */
  private def lastCheckpointInfo(dir: File)
      : Option[(Long, Option[Int])] = {
    val last = new File(dir, "_last_checkpoint")
    if (!last.isFile) None
    else {
      val j = JsonMethods.parse(Files.readString(last.toPath))
      val v = (j \ "version") match {
        case JInt(i) => Some(i.toLong); case JLong(l) => Some(l)
        case _       => None
      }
      val parts = (j \ "parts") match {
        case JInt(i) => Some(i.toInt); case JLong(l) => Some(l.toInt)
        case _       => None
      }
      v.map(_ -> parts)
    }
  }

  /** Resolve a checkpoint's parquet files — the single-part name or
    * the spec's multi-part `%020d.checkpoint.%010d.%010d.parquet`
    * form (what real Delta writers emit past their part threshold,
    * and what [[exportCheckpoint]] writes above `partRows`). */
  private def ckptParts(dir: File, cv: Long): Seq[String] = {
    val single = new File(dir, f"$cv%020d.checkpoint.parquet")
    if (single.isFile) Seq(single.getPath)
    else Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches(f"$cv%020d" +
        "\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
      .sortBy(_.getName).map(_.getPath).toSeq
  }

  /** Does ANY checkpoint (either name form) exist at `cv`? */
  private def hasCkpt(dir: File, cv: Long): Boolean =
    ckptParts(dir, cv).nonEmpty

  /** Delta's generated-column metadata key (PROTOCOL.md): a column
    * whose values writers must derive from this Spark SQL
    * expression. Graft hidden partitioning exports as exactly this —
    * Delta's own idiom for derived partition columns. */
  private[sources] val GenerationExprKey = "delta.generationExpression"

  /** Delta's column-mapping metadata keys (PROTOCOL.md). */
  private[sources] val ConstraintKeyPrefix = "delta.constraints."

  private[sources] val MappingModeKey = "delta.columnMapping.mode"
  private[sources] val MappingMaxIdKey = "delta.columnMapping.maxColumnId"
  private[sources] val MappingIdKey = "delta.columnMapping.id"
  private[sources] val MappingNameKey = "delta.columnMapping.physicalName"

  /** Schema / layout gates shared by both export modes, returning
    * the exported schema plus the table `configuration` entries it
    * demands. HIDDEN partitioning maps to Delta's generated
    * partition columns: the synthesized column stays in the exported
    * schema, stamped with `delta.generationExpression` = graft's own
    * Spark SQL derivation (VERBATIM sound — Delta writers evaluate
    * generation with the same Spark engine that computed graft's
    * values, so even bucket's `pmod(hash(c), n)` matches, unlike the
    * Iceberg export's foreign-hash refusal). A COLUMN-MAPPED
    * snapshot (round 15) exports as Delta's ID-mode column mapping:
    * each field carries `delta.columnMapping.id` = graft's stamped
    * parquet field id plus the spec-required `physicalName`, and the
    * configuration declares `mode = id` with `maxColumnId` from the
    * field-id high-water (never a reused id). Every graft data file
    * of a mapped table carries the ids, so an id-resolving Delta
    * reader serves renames correctly; `physicalName` is the field's
    * CURRENT name (graft files store the name current at each file's
    * write time — a reader falling back to name resolution on
    * id-less files has no such files to fall back on). */
  private def gateMetadata(log: LogTable, v: Long)
      : (StructType, Map[String, String]) = {
    val schema0 = log.schemaAt(v)
    val mapped = schema0.fields.exists(
      _.metadata.contains(LogTable.FieldIdKey))
    val schema1 =
      if (!mapped) schema0
      else StructType(schema0.fields.map { f =>
        val id = f.metadata.getLong(LogTable.FieldIdKey)
        f.copy(metadata = new org.apache.spark.sql.types
          .MetadataBuilder().withMetadata(f.metadata)
          .putLong(MappingIdKey, id)
          .putString(MappingNameKey, f.name).build())
      })
    val config: Map[String, String] = {
      val mapping: Map[String, String] =
        if (!mapped) Map.empty
        else {
          val maxId = log.propertiesAt(v)
            .get(LogTable.PropFieldIdHighWater).map(_.toLong)
            .getOrElse(schema0.fields
              .map(_.metadata.getLong(LogTable.FieldIdKey)).max)
          Map(MappingModeKey -> "id", MappingMaxIdKey -> maxId.toString)
        }
      // CHECK constraints cross verbatim: graft stores Spark SQL
      // boolean expressions and Delta's `delta.constraints.<name>`
      // configuration carries exactly that dialect (writers enforce
      // with the same engine that validated graft's commits)
      mapping ++ log.constraintsAt(v).map { case (n, e) =>
        s"$ConstraintKeyPrefix$n" -> e }
    }
    val transforms = log.partitionTransformsAt(v)
    val schema =
      if (transforms.isEmpty) schema1
      else StructType(schema1.fields.map { f =>
        transforms.get(f.name) match {
          case Some(spec) =>
            val t = PartitionTransforms.parse(spec).getOrElse(
              throw new IllegalStateException(
                s"unparseable partition transform '$spec'"))
            require(t.kind != "iceberg_bucket",
              s"cannot export transform '$spec' to Delta — its " +
                "generation expression is graft's own " +
                "graft_iceberg_bucket, which external Delta writers " +
                "cannot evaluate; use bucket(n, c) (Spark's hash) " +
                "for Delta-facing layouts")
            val src = schema1.fields.find(_.name == t.source).getOrElse(
              throw new IllegalStateException(
                s"transform source '${t.source}' missing from schema"))
            f.copy(metadata = new org.apache.spark.sql.types
              .MetadataBuilder().withMetadata(f.metadata)
              .putString(GenerationExprKey, t.exprFor(src)).build())
          case None => f
        }
      })
    (schema, config)
  }

  private def gateAdds(adds: Seq[AddFile], what: String): Unit =
    require(adds.forall(!_.path.startsWith("/")),
      s"cannot export $what — it references absolute paths outside " +
        "this table root (a shallow clone)")

  /** The exact URI Spark's `_metadata.file_path` renders for a local
    * absolute path — graft DV pair files join on this string at scan
    * time, so pairs an import writes must match it byte-for-byte.
    * [[convertFromDelta]] verifies the rendering against one real
    * scan per convert (O(1)) and fails loudly on drift — a silent
    * mismatch would serve deleted rows. */
  private[sources] def scanUriOf(abs: String): String =
    new java.net.URI("file", null, abs, null).toString

  /** (path, dvPath, dvRows) frame of a bounded inline add set — the
    * driver-Seq twin of the distributed manifest projection
    * [[dvDescriptors]] consumes. */
  private def dvdFrameOf(spark: SparkSession,
                         adds: Seq[AddFile]): DataFrame = {
    import spark.implicits._
    adds.flatMap(a => a.dv.map(d => (a.path, d.path, d.rows)))
      .toDF("path", "dvPath", "dvRows")
  }

  /** Delta `deletionVector` descriptors for every DV-bearing file of
    * the given (path, dvPath, dvRows) frame — ONE Spark job,
    * distributed end-to-end: the graft pair dirs scan as parquet,
    * each file's pairs (keyed to ITS OWN dir, so a stale subset in a
    * shared older dir never doubles in) group and serialize as a
    * portable roaring bitmap on executors, vectors at or under
    * [[DeltaDv.InlineMaxBytes]] inline into the descriptor, bigger
    * ones pack into executor-written `deletion_vector_<uuid>.bin`
    * blobs (one per shuffle partition, the spec's multi-DV frame
    * layout) — returning (table-relative path, descriptor JSON)
    * rows. The driver holds the DV DIRECTORY list (one per
    * merge-on-read commit), never the vectored-file list. Each
    * export pass that renders DV state writes fresh blobs;
    * superseded ones stay referenced by the older commits that named
    * them and reclaim under standard Delta vacuum semantics. */
  private def dvDescriptors(spark: SparkSession, root: String,
      dvd: DataFrame, knownDirs: Option[Seq[String]] = None)
      : org.apache.spark.sql.Dataset[(String, String)] = {
    import org.apache.spark.sql.{Encoders => E}
    val rootAbs = new File(root).getAbsolutePath
    val enc2 = E.tuple(E.STRING, E.STRING)
    // callers holding a driver-side add set already KNOW the pair
    // dirs (one per MOR commit) — skip the distinct+collect job for
    // them; the distributed-manifest caller still derives dirs with
    // a job, as it must
    val dirs = knownDirs.getOrElse(dvd.select(col("dvPath")).distinct()
      .collect().map(_.getString(0)).toSeq)
    if (dirs.isEmpty)
      return spark.createDataset(Seq.empty[(String, String)])(enc2)
    val pairsRaw = spark.read
      .parquet(dirs.map(d => s"$rootAbs/$d"): _*)
      .select(col("file").cast("string"),
        col("idx").cast("long"),
        col("_metadata.file_path"))
    // executor-side normalization: pair URI → table-relative data
    // path, pair part file → its _dv/<uuid> dir
    val rel = pairsRaw
      .as[(String, Long, String)](
        E.tuple(E.STRING, E.scalaLong, E.STRING))
      .map { case (uri, idx, part) =>
        def absOf(u: String): String =
          if (u.startsWith("file:"))
            new File(new java.net.URI(u)).getAbsolutePath
          else new File(u).getAbsolutePath
        val abs = absOf(uri)
        require(abs.startsWith(rootAbs + "/"),
          s"DV pair references a file outside the table root: $abs")
        val dirAbs = new File(absOf(part)).getParent
        require(dirAbs.startsWith(rootAbs + "/"),
          s"DV pair dir outside the table root: $dirAbs")
        (abs.substring(rootAbs.length + 1),
          dirAbs.substring(rootAbs.length + 1), idx)
      }(E.tuple(E.STRING, E.STRING, E.scalaLong))
      .toDF("p", "d", "i")
    val wanted = dvd.select(col("path").as("__wp"),
      col("dvPath").as("__wd"), col("dvRows").as("__wr"))
    rel.join(wanted, col("p") === col("__wp") &&
        col("d") === col("__wd"))
      .select(col("p"), col("i"), col("__wr"))
      .as[(String, Long, Long)](
        E.tuple(E.STRING, E.scalaLong, E.scalaLong))
      .groupByKey(_._1)(E.STRING)
      .mapGroups { (p, it0) =>
        val rows = it0.toArray
        val card = rows.head._3
        val pos = rows.map(_._2).sorted.distinct
        if (pos.length.toLong != card)
          throw new IllegalStateException(
            s"file $p decodes ${pos.length} DV positions but the " +
              s"manifest declares $card — refusing to export a " +
              "wrong vector")
        (p, DeltaDv.serialize(pos), card)
      }(E.tuple(E.STRING, E.BINARY, E.scalaLong))
      .mapPartitions { it =>
        var w: DeltaDv.DvFileWriter = null
        var uuidEnc: String = null
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, String)]
        try {
          it.foreach { case (p, bytes, card) =>
            val d =
              if (bytes.length <= DeltaDv.InlineMaxBytes)
                DeltaDv.Descriptor("i", DeltaDv.z85Encode(bytes),
                  None, bytes.length, card)
              else {
                if (w == null) {
                  val u = UUID.randomUUID()
                  uuidEnc = DeltaDv.encodeUuid(u)
                  w = new DeltaDv.DvFileWriter(new File(rootAbs,
                    s"deletion_vector_$u.bin"))
                }
                DeltaDv.Descriptor("u", uuidEnc,
                  Some(w.append(bytes)), bytes.length, card)
              }
            out += ((p,
              JsonMethods.compact(JsonMethods.render(d.json))))
          }
        } finally if (w != null) w.close()
        out.iterator
      }(enc2)
  }

  /** Render a manifest Dataset's add actions as JSON lines on
    * executors, in manifest order, `deletionVector` descriptors
    * joined in by path when the set carries any — the shared kernel
    * of the full export, the by-reference tail render, and the
    * checkpoint. */
  private def renderAddLines(spark: SparkSession, log: LogTable,
      ds: org.apache.spark.sql.Dataset[CkptAdd], anyDv: Boolean,
      types: Map[String, DataType], mt: Long, dc: Boolean)
      : org.apache.spark.sql.Dataset[String] = {
    val enc = org.apache.spark.sql.Encoders.STRING
    if (!anyDv)
      ds.orderBy(col("idx"))
        .map(c => addActionLine(LogCodec.decodeCkptAdd(c), types, mt,
          dc))(enc)
    else {
      val desc = dvDescriptors(spark, log.path,
        ds.toDF().filter(col("dvPath").isNotNull)
          .select(col("path"), col("dvPath"), col("dvRows")))
      ds.joinWith(desc, ds("path") === desc("_1"), "left_outer")
        .orderBy(col("_1.idx"))
        .map { case (c, d) =>
          addActionLine(LogCodec.decodeCkptAdd(c), types, mt, dc,
            Option(d).map(_._2))
        }(enc)
    }
  }

  /** Export the FULL snapshot at `version` (default: current) into
    * `<table>/_delta_log/`. First export only — a log that already
    * holds commits must be followed with [[exportTail]] (a second
    * full commit would resurrect files the in-between commits
    * removed for a reader replaying from the oldest commit). Returns
    * the commit file path. */
  def exportDeltaLog(spark: SparkSession, log: LogTable,
                     version: Option[Long] = None,
                     withCheckpoint: Boolean = true): String = {
    val v = version.orElse(log.currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at ${log.path}"))
    val (schema, config) = gateMetadata(log, v)
    val partCols = log.partitionColsAt(v)
    val dir = new File(log.path, "_delta_log")
    val prior = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches(
        "\\d{20}\\.(json|checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet)"))
    require(prior.isEmpty,
      s"the Delta log at ${log.path} already holds " +
        s"${prior.map(_.getName).sorted.headOption.getOrElse("")}… — " +
        "a second full export would resurrect removed files for " +
        "replaying readers; mirror incrementally with exportTail")
    // contiguity: at v > 0 a strict reader needs a replay START —
    // either version 0 (absent by construction here) or a
    // checkpoint named by _last_checkpoint
    require(v == 0L || withCheckpoint,
      s"exporting version $v without a checkpoint leaves a Delta " +
        "log with no version 0 and no _last_checkpoint — no " +
        "contiguous replay start; pass withCheckpoint = true (or " +
        "export at version 0 and follow with exportTail)")
    dir.mkdirs()

    // file-state gates answered WHERE THE MANIFEST LIVES: above the
    // parquet-checkpoint threshold one tiny aggregate job, never a
    // driver materialization
    val dist =
      if (log.addsMaterializedAt(Some(v))) None
      else log.distributedManifest(spark, v)
    val anyDv: Boolean = dist match {
      case Some(_) =>
        val (dv0, anyAbs, _) = log.fileStateFacts(spark, Some(v))
        require(!anyAbs,
          "cannot export a shallow clone — its snapshot references " +
            "absolute paths outside this table root")
        dv0
      case None =>
        val adds0 = log.liveAdds(Some(v))
        gateAdds(adds0, "a snapshot")
        adds0.exists(_.dv.isDefined)
    }

    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val mt = log.commitTime(v)
    val commit = new File(dir, f"$v%020d.json")
    val tmp = new File(dir, s".tmp-${UUID.randomUUID()}")
    var nActions = 2L
    val w = Files.newBufferedWriter(tmp.toPath)
    try {
      w.write(protocolLine(schema.fields.exists(
        _.metadata.contains(GenerationExprKey)), anyDv,
        mapped = config.contains(MappingModeKey),
        constrained = config.keys
          .exists(_.startsWith(ConstraintKeyPrefix)))); w.write("\n")
      w.write(metaDataLine(schema, partCols, mt,
        UUID.randomUUID().toString, config)); w.write("\n")
      dist match {
        case Some(ds) =>
          // render the add actions ON EXECUTORS, in manifest order,
          // then stream the part files into the commit — bounded
          // driver memory at any file count
          val txt = new File(dir, s".tmp-txt-${UUID.randomUUID()}")
          try {
            renderAddLines(spark, log, ds, anyDv, types, mt,
              dc = true).write.text(txt.getPath)
            Option(txt.listFiles()).getOrElse(Array.empty)
              .filter(_.getName.startsWith("part-")).sortBy(_.getName)
              .foreach { p =>
                val src = scala.io.Source.fromFile(p)
                try src.getLines().foreach { l =>
                  if (l.nonEmpty) { w.write(l); w.write("\n"); nActions += 1 }
                } finally src.close()
              }
          } finally LogTable.deleteRecursive(txt)
        case None =>
          val adds0 = log.liveAdds(Some(v))
          val descMap: Map[String, String] =
            if (!anyDv) Map.empty
            else dvDescriptors(spark, log.path,
              dvdFrameOf(spark, adds0),
              Some(adds0.flatMap(_.dv.map(_.path)).distinct))
              .collect().toMap
          adds0.foreach { a =>
            w.write(addActionLine(a, types, mt, dataChange = true,
              dvJson = descMap.get(a.path)))
            w.write("\n")
            nActions += 1
          }
      }
    } finally w.close()
    Files.move(tmp.toPath, commit.toPath,
      StandardCopyOption.ATOMIC_MOVE)

    if (withCheckpoint) writeCheckpoint(spark, dir, v, nActions)
    commit.getPath
  }

  /** Mirror graft commits `[fromVersion, toVersion]` as one Delta
    * commit each — adds, removes, commitInfo, metaData when the
    * commit changed it — refusing any numbering gap so the exported
    * log stays contiguously replayable. Per-commit driver cost is
    * bounded by the commit's own INLINE action count: a
    * by-reference commit (a CONVERT's million-file seed) renders
    * its sidecar's add actions on executors and streams them into
    * the commit file, exactly like the full export. Returns the
    * commit file paths. */
  def exportTail(spark: SparkSession, log: LogTable,
                 fromVersion: Long, toVersion: Long): Seq[String] = {
    require(fromVersion <= toVersion,
      s"exportTail range [$fromVersion, $toVersion] is empty")
    val dir = new File(log.path, "_delta_log")
    require(fromVersion == 0L ||
      new File(dir, f"${fromVersion - 1}%020d.json").isFile ||
      hasCkpt(dir, fromVersion - 1),
      s"exportTail($fromVersion, $toVersion) would leave a GAP: the " +
        s"Delta log at ${log.path} has neither commit " +
        s"${fromVersion - 1} nor a checkpoint there — a strict " +
        "reader replays contiguously; export the base snapshot " +
        "first (exportDeltaLog) or start the tail where the log ends")
    dir.mkdirs()
    // the table id is STABLE across the log's whole history — a
    // changed id reads as "table was replaced" to followers
    lazy val tableId = existingMetaId(spark, dir)
      .getOrElse(UUID.randomUUID().toString)
    (fromVersion to toVersion).map { cv =>
      val (schema, config) = gateMetadata(log, cv)
      // by-reference commits (a CONVERT's million-file seed) keep
      // their add set as a DATASET: gates answer as one aggregate,
      // action lines render on executors — the driver holds only
      // the commit's inline actions
      val (adds, refDs) = log.addedFilesDs(spark, cv)
      gateAdds(adds, s"commit $cv")
      val refAnyDv: Boolean = refDs.exists { ds =>
        val g = ds.toDF().agg(
          org.apache.spark.sql.functions.max(
            col("dvPath").isNotNull),
          org.apache.spark.sql.functions.max(
            col("path").startsWith("/"))).collect().head
        require(g.getAs[Any](1) != true,
          s"cannot export commit $cv — it references absolute " +
            "paths outside this table root (a shallow clone)")
        g.getAs[Any](0) == true
      }
      val dvdInline = adds.filter(_.dv.isDefined)
      val commitHasDv = dvdInline.nonEmpty || refAnyDv
      // inline descriptors: bounded by the commit's own action count
      val descMap: Map[String, String] =
        if (dvdInline.isEmpty) Map.empty
        else dvDescriptors(spark, log.path,
          dvdFrameOf(spark, dvdInline),
          Some(dvdInline.flatMap(_.dv.map(_.path)).distinct))
          .collect().toMap
      val removes = log.removedPaths(cv)
      val mt = log.commitTime(cv)
      val types = schema.fields.map(f => f.name -> f.dataType).toMap
      val commit = new File(dir, f"$cv%020d.json")
      require(!commit.isFile,
        s"commit $cv is already exported at ${log.path}")
      val tmp = new File(dir, s".tmp-${UUID.randomUUID()}")
      val w = Files.newBufferedWriter(tmp.toPath)
      try {
        val generated = schema.fields.exists(
          _.metadata.contains(GenerationExprKey))
        val mapped = config.contains(MappingModeKey)
        val constrained = config.keys
          .exists(_.startsWith(ConstraintKeyPrefix))
        if (cv == 0L) {
          w.write(protocolLine(generated, commitHasDv, mapped,
            constrained))
          w.write("\n")
        } else if (commitHasDv ||
            ((mapped || constrained) &&
              log.commitChangedMetadata(cv))) {
          // protocol UPGRADE mid-mirror — idempotent on replay
          // (latest protocol wins): the first DV-bearing commit must
          // raise the log to reader 3 / writer 7 with the feature
          // named (a mirror whose base exported (1, 2) would
          // otherwise let a DV-blind reader serve deleted rows), and
          // a metadata change on a COLUMN-MAPPED table re-emits so
          // the enable-mapping commit itself carries reader 2+
          // (likewise a constraint ADD raises the writer floor)
          w.write(protocolLine(generated, commitHasDv, mapped,
            constrained))
          w.write("\n")
        }
        if (cv == 0L || log.commitChangedMetadata(cv)) {
          w.write(metaDataLine(schema, log.partitionColsAt(cv), mt,
            tableId, config))
          w.write("\n")
        }
        val op = log.commitOp(cv)
        w.write(commitInfoLine(mt, op)); w.write("\n")
        // rewrite-only commits mirror with dataChange = false (the
        // protocol's rule): OPTIMIZE moves rows between files, it
        // does not change table data — a follower that counted the
        // re-added files would double-count every compacted row
        val dc = op != "optimize"
        removes.foreach { p =>
          w.write(removeActionLine(p, mt, dc)); w.write("\n") }
        adds.foreach { a =>
          w.write(addActionLine(a, types, mt, dc,
            descMap.get(a.path)))
          w.write("\n")
        }
        refDs.foreach { ds =>
          // same executor-render-and-stream pattern as the full
          // export: bounded driver memory at any file count
          val txt = new File(dir, s".tmp-txt-${UUID.randomUUID()}")
          try {
            renderAddLines(spark, log, ds, refAnyDv, types, mt, dc)
              .write.text(txt.getPath)
            Option(txt.listFiles()).getOrElse(Array.empty)
              .filter(_.getName.startsWith("part-")).sortBy(_.getName)
              .foreach { p =>
                val src = scala.io.Source.fromFile(p)
                try src.getLines().foreach { l =>
                  if (l.nonEmpty) { w.write(l); w.write("\n") }
                } finally src.close()
              }
          } finally LogTable.deleteRecursive(txt)
        }
      } finally w.close()
      Files.move(tmp.toPath, commit.toPath,
        StandardCopyOption.ATOMIC_MOVE)
      commit.getPath
    }
  }

  /** Write the spec checkpoint for version `v` of an
    * ALREADY-EXPORTED contiguous Delta log, built from the GRAFT
    * manifest (not a replay of the exported commits): protocol +
    * metaData + one add per live file, rendered as JSON lines on
    * executors above the parquet-checkpoint threshold, landed as a
    * single-part checkpoint below `partRows` actions and as the
    * spec's MULTI-PART form (`%020d.checkpoint.%010d.%010d.parquet`,
    * `_last_checkpoint` carrying `parts`) above it. This is what
    * lets a long-lived [[exportTail]] mirror stay replayable after
    * Delta-style log cleanup deletes old commits: a strict reader
    * starts at `_last_checkpoint` and never needs the dropped
    * files. */
  def exportCheckpoint(spark: SparkSession, log: LogTable,
                       version: Option[Long] = None,
                       partRows: Long = 500000L): String = {
    val v = version.orElse(log.currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at ${log.path}"))
    val (schema, config) = gateMetadata(log, v)
    val dir = new File(log.path, "_delta_log")
    require(new File(dir, f"$v%020d.json").isFile,
      s"version $v is not exported yet — checkpoint only an " +
        "exported commit (exportDeltaLog / exportTail first)")
    val dist =
      if (log.addsMaterializedAt(Some(v))) None
      else log.distributedManifest(spark, v)
    val anyDv: Boolean = dist match {
      case Some(_) =>
        val (dv0, anyAbs, _) = log.fileStateFacts(spark, Some(v))
        require(!anyAbs,
          "cannot checkpoint a shallow clone — its snapshot " +
            "references absolute paths outside this table root")
        dv0
      case None =>
        val adds0 = log.liveAdds(Some(v))
        gateAdds(adds0, s"version $v")
        adds0.exists(_.dv.isDefined)
    }
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val mt = log.commitTime(v)
    val tableId = existingMetaId(spark, dir)
      .getOrElse(UUID.randomUUID().toString)
    val enc = org.apache.spark.sql.Encoders.STRING
    val header = spark.createDataset(Seq(
      protocolLine(schema.fields.exists(
        _.metadata.contains(GenerationExprKey)), anyDv,
        mapped = config.contains(MappingModeKey),
        constrained = config.keys
          .exists(_.startsWith(ConstraintKeyPrefix))),
      metaDataLine(schema, log.partitionColsAt(v), mt, tableId,
        config)))(enc)
    val addLines = dist match {
      case Some(ds) =>
        renderAddLines(spark, log, ds, anyDv, types, mt, dc = true)
      case None =>
        val adds0 = log.liveAdds(Some(v))
        val descMap: Map[String, String] =
          if (!anyDv) Map.empty
          else dvDescriptors(spark, log.path,
            dvdFrameOf(spark, adds0),
            Some(adds0.flatMap(_.dv.map(_.path)).distinct))
            .collect().toMap
        spark.createDataset(adds0.map(a =>
          addActionLine(a, types, mt, dataChange = true,
            dvJson = descMap.get(a.path))))(enc)
    }
    // render the action lines ONCE (executor-side above the
    // threshold) into a temp text dir; the count and the
    // schema-inferred parquet write both read the cheap text back
    // instead of re-rendering the manifest
    val txt = new File(dir, s".tmp-ckpttxt-${UUID.randomUUID()}")
    header.unionAll(addLines).write.text(txt.getPath)
    val (nActions, df) =
      try {
        val lines = spark.read.textFile(txt.getPath)
        // EXPLICIT spec schema — see [[checkpointSchema]]; inference
        // would mistype partitionValues and drop empty maps
        (lines.count(),
          neutralizeDataChange(
            spark.read.schema(checkpointSchema).json(lines)))
      } catch { case e: Throwable => LogTable.deleteRecursive(txt); throw e }
    val tmp = new File(dir, s".tmp-ckpt-${UUID.randomUUID()}")
    val nParts = math.max(1L, (nActions + partRows - 1) / partRows).toInt
    val moved = scala.collection.mutable.ArrayBuffer.empty[File]
    val named =
      try {
        df.repartition(nParts).write.mode("overwrite")
          .parquet(tmp.getPath)
        val parts = tmp.listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val targets =
          if (nParts == 1)
            Seq(new File(dir, f"$v%020d.checkpoint.parquet"))
          else parts.indices.map(i => new File(dir,
            f"$v%020d.checkpoint.${i + 1}%010d.$nParts%010d.parquet"))
        parts.zip(targets).foreach { case (p, target) =>
          Files.move(p.toPath, target.toPath,
            StandardCopyOption.ATOMIC_MOVE)
          moved += target
        }
        targets
      } catch {
        case e: Throwable =>
          // no stranded tmp dirs and no PARTIAL part set left behind
          // (a partial set would read as a complete checkpoint to
          // ckptParts-based probes)
          moved.foreach(_.delete())
          LogTable.deleteRecursive(tmp); LogTable.deleteRecursive(txt)
          throw e
      }
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    LogTable.deleteRecursive(txt)
    Files.writeString(new File(dir, "_last_checkpoint").toPath,
      JsonMethods.compact(JsonMethods.render(JObject(List(
        "version" -> JLong(v), "size" -> JLong(nActions)) ++
        (if (nParts > 1) List("parts" -> JInt(nParts)) else Nil)))))
    named.head.getPath
  }

  /** One-call INCREMENTAL MIRROR: bring `<table>/_delta_log` up to
    * the table's current version — a fresh root gets the full
    * export, an existing mirror gets `exportTail` from where it
    * ends, and every `checkpointEvery` commits a checkpoint lands so
    * log cleanup never strands a strict reader. Returns the range of
    * versions newly exported (empty when already current). */
  def mirrorDelta(spark: SparkSession, log: LogTable,
                  checkpointEvery: Int = 10): Seq[Long] = {
    val v = log.currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at ${log.path}"))
    val dir = new File(log.path, "_delta_log")
    val exported = Option(dir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong)
    val lastCkpt = Option(dir.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .filter(_.matches("\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet"))
      .map(_.take(20).toLong).sorted.lastOption
    // the mirror's head is the newest commit OR checkpoint: after
    // Delta-style log cleanup only the checkpoint remains, and that
    // log is still a live mirror to follow — never a fresh root
    val head: Option[Long] = (exported ++ lastCkpt).maxOption
    val newly: Seq[Long] = head match {
      case None => exportDeltaLog(spark, log); Seq(v)
      case Some(h) if h >= v => Seq.empty
      case Some(h) => exportTail(spark, log, h + 1, v); (h + 1) to v
    }
    val anchor = lastCkpt.getOrElse(-1L)
    if (newly.nonEmpty && v - anchor >= checkpointEvery &&
        !hasCkpt(dir, v))
      exportCheckpoint(spark, log, Some(v))
    newly
  }

  /** The spec's checkpoint: one parquet file whose rows each carry
    * exactly one top-level action column (`protocol` / `metaData` /
    * `add`), plus the `_last_checkpoint` pointer `{version, size}`.
    * Built by reading the just-written commit back through Spark's
    * JSON reader (a distributed read — the action lines never sit
    * in driver memory), so the struct schema mirrors the actions
    * verbatim — single part, spec name. */
  private def writeCheckpoint(spark: SparkSession, dir: File, v: Long,
                              nActions: Long): Unit = {
    // EXPLICIT spec schema (see [[checkpointSchema]]), and the
    // commit's commitInfo line — schemaless under it — drops: the
    // spec excludes commitInfo from checkpoints, and an all-null
    // action row is garbage to a strict reader
    val df = neutralizeDataChange(spark.read.schema(checkpointSchema)
      .json(new File(dir, f"$v%020d.json").getPath)
      .filter(col("protocol").isNotNull || col("metaData").isNotNull ||
        col("add").isNotNull || col("remove").isNotNull ||
        col("txn").isNotNull))
    val tmp = new File(dir, s".tmp-ckpt-${UUID.randomUUID()}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet"))
      .head
    val target = new File(dir, f"$v%020d.checkpoint.parquet")
    Files.move(part.toPath, target.toPath,
      StandardCopyOption.ATOMIC_MOVE)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    val last = new File(dir, "_last_checkpoint")
    Files.writeString(last.toPath, JsonMethods.compact(
      JsonMethods.render(JObject(List("version" -> JLong(v),
        "size" -> JLong(nActions))))))
    ()
  }

  /** Reader features this import serves correctly —
    * `deletionVectors` ([[DeltaDv]] subtracts them) and
    * `columnMapping` (id mode translates to graft's parquet
    * field-id stamps; NAME mode refuses at the metadata layer) —
    * both round 15. A protocol-3 log demanding anything else
    * refuses, never half-reads. */
  private[sources] val ImportReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping")

  /** The shared protocol gate of every Delta import surface: legacy
    * reader 1 (plain parquet) and reader 2 (legacy column mapping —
    * the metadata layer then refuses NAME mode by name) pass;
    * reader 3 (table features) passes iff its declared
    * `readerFeatures` are all within [[ImportReaderFeatures]]; a
    * reader-3 log with no feature list (malformed per the spec)
    * refuses. */
  private def gateProtocolIn(tableRoot: String, mr: Long,
                             features: Set[String]): Unit = {
    if (mr == 3 && features.nonEmpty &&
        features.subsetOf(ImportReaderFeatures)) return
    if (mr > 2) throw new IllegalStateException(
      s"the Delta log at $tableRoot requires minReaderVersion $mr" +
        (if (features.nonEmpty)
          s" with readerFeatures ${features.toSeq.sorted.mkString(", ")}"
        else "") +
        " — this import reads protocols 1-2 and protocol 3 with " +
        s"${ImportReaderFeatures.toSeq.sorted.mkString(", ")} " +
        "only; refusing to half-read")
  }

  /** Apply a foreign log's column-mapping declaration to its schema:
    * ID mode translates each field's `delta.columnMapping.id` to
    * graft's parquet field-id stamp (the reader resolution graft
    * already speaks — renames keep serving), NAME mode refuses
    * (graft resolves parquet columns by name-or-id, never by a
    * physical-name indirection), no mode passes through. */
  private def applyMappingIn(tableRoot: String, schema: StructType,
                             config: Map[String, String]): StructType =
    config.getOrElse(MappingModeKey, "none") match {
      case "none" => schema
      case "id" => StructType(schema.fields.map { f =>
        require(f.metadata.contains(MappingIdKey),
          s"the Delta table at $tableRoot declares id-mode column " +
            s"mapping but column '${f.name}' carries no " +
            s"$MappingIdKey — refusing to half-map")
        val id = f.metadata.getLong(MappingIdKey)
        f.copy(metadata = new org.apache.spark.sql.types
          .MetadataBuilder().withMetadata(f.metadata)
          .remove(MappingIdKey).remove(MappingNameKey)
          .putLong(LogTable.FieldIdKey, id).build())
      })
      case other => throw new IllegalStateException(
        s"the Delta table at $tableRoot uses columnMapping mode " +
          s"'$other' — this import reads id mode only (graft cannot " +
          "resolve physical-name indirection); refusing to half-read")
    }

  /** Read a `_delta_log/` directory back into (schema, partition
    * columns, live files as (path, size, deletionVector descriptor
    * JSON when present)): THIS library's reader for the exported
    * format — the round-trip proxy (no external Delta reader exists
    * here), and a one-way metadata-level import for plain-parquet
    * Delta tables (minReaderVersion 1, plus protocol-3 logs whose
    * only reader feature is deletionVectors). Resolves
    * `_last_checkpoint` when present — folding the checkpoint
    * DISTRIBUTED through a slim (path, size, dv) projection, never a
    * full-row collect — then replays the JSON commit tail with
    * latest-wins add/remove. The schema, partition columns and the
    * protocol GATE come from [[readDeltaMeta]] before any file state
    * is read: an unknown minReaderVersion or reader feature refuses,
    * never half-reads. */
  def readDeltaSnapshot(spark: SparkSession, tableRoot: String)
      : (StructType, Seq[String],
         Seq[(String, Long, Option[String])]) = {
    // protocol gate and metadata FIRST — never half-read a too-new log
    val (schema, partCols, ckptV, _) = readDeltaMeta(spark, tableRoot)
    val dir = new File(tableRoot, "_delta_log")
    val live = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Option[String])]
    ckptV.foreach { cv =>
      val df = spark.read.parquet(ckptParts(dir, cv): _*)
      def has(c: String) = df.columns.contains(c)
      // the file-state folds through a SLIM projection: the driver
      // holds (path, size, dv-descriptor) tuples, never
      // stats-fattened action rows
      if (has("add")) {
        val addT = df.schema("add").dataType.asInstanceOf[StructType]
        val dvCol =
          if (addT.fieldNames.contains("deletionVector"))
            to_json(col("add.deletionVector"))
          else lit(null).cast("string")
        df.filter(col("add").isNotNull)
          .select(col("add.path"), col("add.size").cast("long"),
            dvCol)
          .collect().foreach(r =>
            live(decodePath(r.getString(0))) =
              (r.getLong(1), Option(r.getString(2))))
      }
      if (has("remove"))
        df.filter(col("remove").isNotNull).select(col("remove.path"))
          .collect().foreach(r => {
            live.remove(decodePath(r.getString(0))); () })
    }
    tailActions(dir, ckptV.map(_ + 1).getOrElse(0L)).foreach { j =>
      (j \ "add") match {
        case JNothing => ()
        case add =>
          // Delta paths are URL-encoded relative paths — decode back
          // to the filesystem form
          val size = (add \ "size") match {
            case JInt(i) => i.toLong; case JLong(v) => v; case _ => 0L
          }
          val dv = (add \ "deletionVector") match {
            case JNothing | JNull => None
            case d => Some(JsonMethods.compact(JsonMethods.render(d)))
          }
          live(decodePath((add \ "path").asInstanceOf[JString].s)) =
            (size, dv)
      }
      (j \ "remove" \ "path") match {
        case JString(p) => live.remove(decodePath(p)); ()
        case _ => ()
      }
    }
    (schema, partCols, live.toSeq.map { case (p, (sz, dv)) => (p, sz, dv) })
  }

  /** Reverse of [[deltaStatValue]]: one Delta-rendered stat bound
    * back to graft's internal encoding (ISO date/timestamp strings →
    * epoch days/micros, booleans → 0/1, numerics per the column's
    * Spark type). Unparseable bounds drop (stats only ever PRUNE —
    * absent is sound). */
  private def graftStatValue(dt: Option[DataType],
                             j: JValue): Option[Any] = {
    def num: Option[BigDecimal] = j match {
      case JInt(i)     => Some(BigDecimal(i))
      case JLong(l)    => Some(BigDecimal(l))
      case JDouble(d)  => Some(BigDecimal(d))
      case JDecimal(d) => Some(d)
      case _           => None
    }
    (dt, j) match {
      case (_, JNull) | (_, JNothing) => None
      case (Some(DateType), JString(s)) =>
        scala.util.Try(
          java.time.LocalDate.parse(s).toEpochDay).toOption
      case (Some(TimestampType), JString(s)) =>
        scala.util.Try {
          val i = java.time.Instant.parse(s)
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        }.toOption
      case (Some(TimestampNTZType), JString(s)) =>
        scala.util.Try {
          val ldt = java.time.LocalDateTime.parse(s)
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            ldt.getNano / 1000L
        }.toOption
      case (Some(BooleanType), JBool(b)) => Some(if (b) 1L else 0L)
      case (Some(ByteType | ShortType | IntegerType | LongType), _) =>
        num.map(_.toLong)
      case (Some(FloatType | DoubleType), _) => num.map(_.toDouble)
      case (Some(StringType), JString(s))    => Some(s)
      case (None, JString(s))                => Some(s)
      case (None, _)                         => num.map(_.toLong)
      case _                                 => None
    }
  }

  /** Delta stats JSON string back to (rows, graft ColStats map).
    * rows = -1 when numRecords is absent (the caller backfills from
    * parquet footers). */
  private def parseDeltaStats(statsJson: Option[String],
      types: Map[String, DataType]): (Long, Map[String, ColStats]) =
    statsJson.filter(_.nonEmpty) match {
      case None => (-1L, Map.empty)
      case Some(s) =>
        val j = scala.util.Try(JsonMethods.parse(s))
          .getOrElse(JNothing)
        val rows = (j \ "numRecords") match {
          case JInt(i) => i.toLong; case JLong(l) => l; case _ => -1L
        }
        def obj(k: String): Map[String, JValue] = (j \ k) match {
          case JObject(fs) => fs.toMap; case _ => Map.empty
        }
        val mins = obj("minValues"); val maxs = obj("maxValues")
        val nulls = obj("nullCount")
        val cols = (mins.keySet ++ maxs.keySet ++ nulls.keySet)
          .filter(types.contains)
        (rows, cols.map { c =>
          val dt = types.get(c)
          c -> ColStats(
            graftStatValue(dt, mins.getOrElse(c, JNothing)),
            graftStatValue(dt, maxs.getOrElse(c, JNothing)),
            (nulls.getOrElse(c, JNothing) match {
              case JInt(i) => i.toLong; case JLong(l) => l; case _ => 0L
            }))
        }.toMap)
    }

  /** Percent-decoded `partitionValues` JSON object → string map. */
  private def partMapOf(j: JValue): Map[String, String] = j match {
    case JObject(fs) => fs.collect {
      case (k, JString(v)) => k -> v }.toMap
    case _ => Map.empty
  }

  /** Exact row count from ONE parquet footer (a metadata read, no
    * data scan) — static so the convert fold's executors backfill
    * numRecords-less adds in place. */
  private def footerRowCount(p: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(p),
        new org.apache.hadoop.conf.Configuration())
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try rd.getRecordCount finally rd.close()
  }

  /** Every action line of the JSON commits at version >= `from`,
    * parsed, in commit order (files are read lazily, one at a time). */
  private def tailActions(dir: File, from: Long): Iterator[JValue] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("\\d{20}\\.json"))
      .map(f => f.getName.stripSuffix(".json").toLong -> f)
      .filter(_._1 >= from).sortBy(_._1).iterator
      .flatMap { case (_, f) =>
        Files.readString(f.toPath).linesIterator.filter(_.nonEmpty)
          .map(JsonMethods.parse(_))
      }

  /** Protocol-gated schema/partition metadata of a foreign Delta log
    * — the METADATA-ONLY half of [[readDeltaSnapshot]]: checkpoint
    * `protocol`/`metaData` columns (tiny collects) plus the JSON
    * tail's latest metaData. The file state is never touched, so the
    * cost is O(metadata) at any table size. Returns (schema,
    * partition columns, checkpoint version if one serves). */
  private def readDeltaMeta(spark: SparkSession, tableRoot: String)
      : (StructType, Seq[String], Option[Long], Map[String, String]) = {
    val dir = new File(tableRoot, "_delta_log")
    require(dir.isDirectory, s"no _delta_log under $tableRoot")
    val lastInfo = lastCheckpointInfo(dir)
    val ckptV: Option[Long] = lastInfo.map(_._1)
    var schema: Option[StructType] = None
    var partCols: Seq[String] = Seq.empty
    var config: Map[String, String] = Map.empty
    def applyMeta(schemaString: String, parts: Seq[String],
                  conf: Map[String, String]): Unit = {
      schema = Some(org.apache.spark.sql.types.DataType
        .fromJson(schemaString).asInstanceOf[StructType])
      partCols = parts
      config = conf
    }
    ckptV.foreach { cv =>
      val paths = ckptParts(dir, cv)
      require(paths.nonEmpty,
        s"_last_checkpoint names version $cv but no checkpoint " +
          s"parquet exists under $dir")
      // a declared multi-part checkpoint must be COMPLETE — reading
      // a subset would silently drop live files (half-read)
      lastInfo.flatMap(_._2).foreach(parts =>
        require(paths.length == parts,
          s"checkpoint $cv declares $parts parts but " +
            s"${paths.length} exist — refusing to half-read"))
      val df = spark.read.parquet(paths: _*)
      def has(c: String) = df.columns.contains(c)
      if (has("protocol")) {
        val pT = df.schema("protocol").dataType
          .asInstanceOf[StructType]
        val featCol =
          if (pT.fieldNames.contains("readerFeatures"))
            col("protocol.readerFeatures")
          else lit(null).cast("array<string>")
        df.filter(col("protocol").isNotNull)
          .select(col("protocol.minReaderVersion").cast("long"),
            featCol)
          .collect().foreach(r => gateProtocolIn(tableRoot,
            r.getLong(0),
            Option(r.getSeq[String](1)).map(_.toSet)
              .getOrElse(Set.empty)))
      }
      if (has("metaData"))
        df.filter(col("metaData").isNotNull)
          .select(col("metaData.schemaString"),
            col("metaData.partitionColumns"),
            // JSON-normalized like partitionValues: writers differ
            // on map-vs-struct checkpoint encodings
            to_json(col("metaData.configuration")))
          .collect().headOption.foreach { r =>
            applyMeta(r.getString(0),
              Option(r.getSeq[String](1)).map(_.toSeq)
                .getOrElse(Seq.empty),
              Option(r.getString(2))
                .map(c => partMapOf(JsonMethods.parse(c)))
                .getOrElse(Map.empty))
          }
    }
    tailActions(dir, ckptV.map(_ + 1).getOrElse(0L)).foreach { j =>
      if ((j \ "protocol") != JNothing)
        gateProtocolIn(tableRoot,
          (j \ "protocol" \ "minReaderVersion") match {
            case JInt(i) => i.toLong; case JLong(v) => v
            case _       => 1L
          },
          (j \ "protocol" \ "readerFeatures") match {
            case JArray(a) =>
              a.collect { case JString(s) => s }.toSet
            case _ => Set.empty[String]
          })
      if ((j \ "metaData") != JNothing)
        applyMeta(
          (j \ "metaData" \ "schemaString")
            .asInstanceOf[JString].s,
          (j \ "metaData" \ "partitionColumns") match {
            case JArray(arr) => arr.collect { case JString(s) => s }
            case _           => Seq.empty
          },
          partMapOf(j \ "metaData" \ "configuration"))
    }
    (applyMappingIn(tableRoot, schema.getOrElse(
      throw new IllegalStateException(
        s"the Delta log at $tableRoot has no metaData action")),
      config),
      partCols, ckptV, config)
  }

  /** Reverse of [[gateMetadata]]'s generation stamping: one Delta
    * `delta.generationExpression` back to the graft partition
    * transform that renders exactly that Spark SQL — how CONVERT
    * rebuilds hidden partitioning from a mirrored log. None for
    * derivations graft cannot maintain. */
  private def exprToTransform(expr: String)
      : Option[PartitionTransform] = expr.trim match {
    case s"year(`$c`)" => Some(PartitionTransform("years", c, None))
    case s"date_trunc('MONTH', `$c`)" =>
      Some(PartitionTransform("months", c, None))
    case s"CAST(`$c` AS DATE)" =>
      Some(PartitionTransform("days", c, None))
    case s"date_trunc('HOUR', `$c`)" =>
      Some(PartitionTransform("hours", c, None))
    case s"pmod(hash(`$c`), $n)" =>
      n.toIntOption.map(i => PartitionTransform("bucket", c, Some(i)))
    case s"left(`$c`, $w)" =>
      w.toIntOption.map(i => PartitionTransform("truncate", c, Some(i)))
    case s"`$c` - pmod(`$c2`, ${w}L)" if c == c2 =>
      w.toIntOption.map(i => PartitionTransform("truncate", c, Some(i)))
    case _ => None
  }

  /** CONVERT FROM DELTA (metadata-only — Delta's own CONVERT shape
    * in reverse): fold the `_delta_log` at `tableRoot`, parse every
    * live add's stats back into graft's encoding, create a graft
    * LogTable IN PLACE at the same root and register the files BY
    * REFERENCE — zero data movement at any table size, file-skipping
    * stats preserved, and the result is a full read-write graft
    * table (time travel, DML, OPTIMIZE all work; the `_delta_log`
    * stays behind as history). The foreign CHECKPOINT folds as a
    * SPARK JOB — path decode, type-aware stats re-encode and footer
    * backfill all run on executors, and the add set commits through
    * [[LogTable.registerFilesFrom]]'s by-reference sidecar, so the
    * driver never holds the file list (the round-13 driver
    * LinkedHashMap fold is gone); only the bounded JSON tail (at
    * most one Delta checkpoint interval of commits) folds
    * driver-side. Foreign DELETION VECTORS convert (round 15): each
    * descriptor decodes through [[DeltaDv]] on executors into
    * graft's `_dv` pair form — keyed by the scan-URI rendering,
    * verified against one real scan per convert so drift fails
    * loudly — and the files register with their vectors attached,
    * so converted row-level deletes keep subtracting with no purge
    * on either side. Refuses fully-qualified URIs and a root that
    * already holds a graft log. */
  def convertFromDelta(spark: SparkSession,
                       tableRoot: String): LogTable = {
    val pre = new LogTable(tableRoot)
    require(pre.currentVersion.isEmpty,
      s"a graft log table already exists at $tableRoot")
    val (schema, partCols, ckptV, foreignConfig) =
      readDeltaMeta(spark, tableRoot)
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    // GENERATED partition columns rebuild as graft hidden
    // partitioning: the generation expression parses back to the
    // transform that renders it, the column leaves the user schema,
    // and its partition values re-key to graft's derived-column
    // name. A generated partition column whose derivation graft
    // cannot maintain refuses — converted writes would silently
    // stop computing it.
    val transforms: Seq[(String, PartitionTransform)] =
      partCols.flatMap { c =>
        schema.fields.find(_.name == c)
          .filter(_.metadata.contains(GenerationExprKey))
          .map { f =>
            val expr = f.metadata.getString(GenerationExprKey)
            val t = exprToTransform(expr).getOrElse(
              throw new IllegalArgumentException(
                s"partition column '$c' of the Delta table at " +
                  s"$tableRoot is generated by '$expr' — not a " +
                  "derivation this import can maintain; converted " +
                  "writes would stop computing it"))
            require(schema.fieldNames.contains(t.source),
              s"generated partition column '$c' derives from " +
                s"'${t.source}', which is not in the schema")
            if (types(t.source) == TimestampType &&
                Set("years", "months", "days", "hours")(t.kind))
              require(scala.util.Try(java.time.ZoneId
                  .of(spark.sessionState.conf.sessionLocalTimeZone)
                  .normalized()).toOption
                  .contains(java.time.ZoneOffset.UTC),
                s"cannot import time-derived partition column '$c' " +
                  "over a session-zoned TIMESTAMP under session " +
                  s"zone '${spark.sessionState.conf
                    .sessionLocalTimeZone}' — the derivation is " +
                  "zone-dependent; set spark.sql.session.timeZone " +
                  "to UTC")
            (c, t)
          }
      }
    val tmap = transforms.toMap
    val userSchema = StructType(
      schema.fields.filterNot(f => tmap.contains(f.name)))
    val partitionBy = partCols.map(c =>
      tmap.get(c).map(_.spec).getOrElse(c))
    // foreign generated-column name → graft hidden-column name
    val pvRename: Map[String, String] =
      transforms.map { case (c, t) => c -> t.hiddenCol }.toMap
    val dir = new File(tableRoot, "_delta_log")
    // ONE graft pair dir holds every imported vector (the convert is
    // one commit, so one dir is the exact MOR-commit shape)
    val dvRel = s"_dv/${UUID.randomUUID()}"
    def uriMsg(p: String) =
      s"the Delta table at $tableRoot references a fully-qualified " +
        s"URI ($p) — this import registers table-relative paths " +
        "only; co-locate the files under the table root first"
    def dvOf(dvJson: Option[String]): Option[Dv] = dvJson.map { s =>
      Dv(dvRel, DeltaDv.parseDescriptor(JsonMethods.parse(s))
        .cardinality)
    }
    def addOf(path: String, size: Long, pv: Map[String, String],
              statsJson: Option[String],
              dvJson: Option[String]): AddFile = {
      val (rows, st) = parseDeltaStats(statsJson, types)
      AddFile(path, rows, size, st,
        pv.map { case (k, v) => pvRename.getOrElse(k, k) -> v },
        dv = dvOf(dvJson))
    }

    // JSON tail (bounded: at most one Delta checkpoint interval of
    // commits) — latest wins; REMOVES kept as tombstones so the
    // distributed base can be filtered by the touched set. Each
    // alive entry carries its foreign DV descriptor JSON for the
    // pair-generation job below.
    val tail = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[(AddFile, Option[String])]]
    tailActions(dir, ckptV.map(_ + 1).getOrElse(0L)).foreach { j =>
      (j \ "add") match {
        case JNothing => ()
        case a =>
          val dvJson = (a \ "deletionVector") match {
            case JNothing | JNull => None
            case d => Some(JsonMethods.compact(
              JsonMethods.render(d)))
          }
          val p =
            decodePath((a \ "path").asInstanceOf[JString].s)
          val size = (a \ "size") match {
            case JInt(i) => i.toLong; case JLong(l2) => l2
            case _       => 0L
          }
          tail.remove(p)
          tail(p) = Some((addOf(p, size,
            partMapOf(a \ "partitionValues"),
            (a \ "stats") match {
              case JString(s) => Some(s); case _ => None
            }, dvJson), dvJson))
      }
      (j \ "remove" \ "path") match {
        case JString(p0) =>
          val p = decodePath(p0)
          tail.remove(p); tail(p) = None
        case _ => ()
      }
    }
    val tailAlive0 = tail.values.flatten.toSeq
    tailAlive0.find(a => hasUriScheme(a._1.path)).foreach(a =>
      throw new IllegalArgumentException(uriMsg(a._1.path)))
    // tail backfill: tiny (bounded) footer job for stats-less adds
    val backfilled: Map[String, Long] = {
      val missing = tailAlive0.filter(_._1.rows < 0L).map(a =>
        new File(tableRoot, a._1.path).getPath)
      if (missing.isEmpty) Map.empty
      else spark.sparkContext.parallelize(missing,
        math.min(missing.size, 64))
        .map(p => p -> footerRowCount(p)).collect().toMap
    }
    val tailAlive: Seq[AddFile] = tailAlive0.map { case (a, _) =>
      if (a.rows >= 0L) a
      else a.copy(rows =
        backfilled(new File(tableRoot, a.path).getPath))
    }
    val tailDvRows: Seq[(String, String)] = tailAlive0.collect {
      case (a, Some(dvJson)) => (a.path, dvJson)
    }

    val rootAbs = new File(tableRoot).getAbsolutePath
    val enc2 = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.STRING)

    /** Decode foreign DV descriptors into graft's `_dv` pair form —
      * one distributed job, run BEFORE any commit references
      * `dvRel`: each (table-relative path, descriptor JSON) row
      * explodes to (scan URI, row index) pairs on executors (the
      * bin-file/inline read and the roaring decode both happen where
      * the row lands), landed as the pair parquet dvAwareRead
      * anti-joins at read time. The pair key must match Spark's
      * `_metadata.file_path` byte-for-byte, so the rendering is
      * verified against ONE real scan first (O(1)) — drift refuses
      * instead of silently serving deleted rows. */
    def writeDvPairs(
        dvRows: org.apache.spark.sql.Dataset[(String, String)]): Boolean = {
      val sample = dvRows.take(1)
      if (sample.isEmpty) return false
      val sampleAbs = new File(rootAbs, sample.head._1).getPath
      val actual = spark.read.parquet(sampleAbs)
        .select(col("_metadata.file_path")).limit(1)
        .collect().headOption.map(_.getString(0))
      val expected = scanUriOf(sampleAbs)
      require(actual.contains(expected),
        s"scan-URI rendering drift: _metadata.file_path gives " +
          s"'${actual.orNull}' where this import would key pairs " +
          s"on '$expected' — refusing to import deletion vectors " +
          "that would silently not subtract")
      val rootB = rootAbs
      val pairs = dvRows.flatMap { case (rel, dvJson) =>
        val d = DeltaDv.parseDescriptor(JsonMethods.parse(dvJson))
        val uri = scanUriOf(new File(rootB, rel).getPath)
        DeltaDv.positions(rootB, d).iterator.map(i => (uri, i))
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong))
        .toDF("file", "idx")
      pairs.repartition(col("file")).write
        .parquet(s"$tableRoot/$dvRel")
      true
    }

    val t = new LogTable(tableRoot)
    // an id-mapped foreign table converts COLUMN-MAPPED: the stamps
    // came through applyMappingIn, and the foreign maxColumnId seeds
    // graft's field-id high-water so later ADD COLUMNS never reuse a
    // dropped foreign id
    val createProps: Map[String, String] =
      foreignConfig.get(MappingMaxIdKey)
        .map(m => Map(LogTable.PropFieldIdHighWater -> m))
        .getOrElse(Map.empty)
    // foreign CHECK constraints convert verbatim (the same Spark SQL
    // dialect both sides enforce) — the converted table keeps
    // refusing the rows the Delta writers refused; an expression
    // graft cannot analyze refuses the convert loudly at create
    val foreignChecks: Map[String, String] = foreignConfig
      .collect { case (k, v) if k.startsWith(ConstraintKeyPrefix) =>
        k.stripPrefix(ConstraintKeyPrefix) -> v }
    ckptV match {
      case None =>
        // no foreign checkpoint: the whole log IS the bounded tail —
        // the driver Seq is small by construction
        if (tailDvRows.nonEmpty)
          writeDvPairs(spark.createDataset(tailDvRows)(enc2))
        t.create(userSchema, partitionBy = partitionBy,
          checkConstraints = foreignChecks, properties = createProps)
        if (tailAlive.nonEmpty) t.registerFiles(tailAlive, op = "convert")
      case Some(cv) =>
        // DISTRIBUTED fold: checkpoint add rows → CkptAdd manifest
        // rows on executors → by-reference commit; the driver holds
        // only the bounded tail and O(1) aggregates
        val df = spark.read.parquet(ckptParts(dir, cv): _*)
        val enc = org.apache.spark.sql.Encoders.product[CkptAdd]
        val hasAdd = df.columns.contains("add")
        val addT: Option[StructType] =
          if (!hasAdd) None
          else Some(df.schema("add").dataType.asInstanceOf[StructType])
        val hasDv = addT.exists(_.fieldNames.contains("deletionVector"))
        val dvRelB = dvRel
        val base: org.apache.spark.sql.Dataset[CkptAdd] =
          if (!hasAdd)
            spark.createDataset(Seq.empty[CkptAdd])(enc)
          else {
            // URI gate as ONE aggregate: collect at most one
            // offender, never the path list
            val offender = df.filter(col("add").isNotNull)
              .filter(col("add.path")
                .rlike("^[a-zA-Z][a-zA-Z0-9+.\\-]*:"))
              .select(col("add.path")).limit(1).collect()
            offender.headOption.foreach(r =>
              throw new IllegalArgumentException(uriMsg(r.getString(0))))
            val hasStats = addT.get.fieldNames.contains("stats")
            // partitionValues normalizes to a JSON STRING whatever
            // the writer's checkpoint encoding (spec map, or the
            // struct-keyed form JSON-inferring writers emit)
            val hasPv = addT.get.fieldNames.contains("partitionValues")
            val typesB = types // stable closure capture
            val pvRenameB = pvRename
            val rootPath = new File(tableRoot).getPath
            import spark.implicits._
            df.filter(col("add").isNotNull).select(
              col("add.path").as("p"),
              col("add.size").cast("long").as("size"),
              (if (!hasPv) lit(null).cast("string")
               else to_json(col("add.partitionValues"))).as("pv"),
              (if (hasStats) col("add.stats")
               else lit(null).cast("string")).as("stats"),
              (if (hasDv) to_json(col("add.deletionVector"))
               else lit(null).cast("string")).as("dvj"))
              .withColumn("idx", monotonically_increasing_id())
              .as[(String, Long, String, String, String, Long)]
              .map { case (p0, size, pvJson, statsJson, dvJson, idx) =>
                val dp = decodePath(p0)
                // belt-and-braces for a scheme that only appears
                // after percent-decoding (the agg above gated the
                // raw form)
                if (hasUriScheme(dp))
                  throw new IllegalArgumentException(
                    s"fully-qualified URI after decode: $dp")
                val pv = Option(pvJson)
                  .map(s => partMapOf(JsonMethods.parse(s)))
                  .getOrElse(Map.empty[String, String])
                  .map { case (k, v) =>
                    pvRenameB.getOrElse(k, k) -> v }
                val (rows0, st) =
                  parseDeltaStats(Option(statsJson), typesB)
                val rows =
                  if (rows0 >= 0L) rows0
                  else footerRowCount(
                    new File(rootPath, dp).getPath)
                val card = Option(dvJson).map(s =>
                  DeltaDv.parseDescriptor(JsonMethods.parse(s))
                    .cardinality)
                CkptAdd(idx, dp, rows, size,
                  LogCodec.encodeStats(st), pv,
                  card.map(_ => dvRelB), card, None)
              }(enc)
          }
        // stitch the bounded tail on top: drop every touched path
        // from the base (latest wins), append the alive tail entries
        // ABOVE the base's monotonic-id range so normalization keeps
        // their order last
        val touched = tail.keys.toSeq
        def dropTouched(frame: DataFrame): DataFrame =
          if (touched.isEmpty) frame
          else if (touched.size <= 1000)
            frame.filter(!col("path").isin(touched: _*))
          else {
            import spark.implicits._
            frame.join(broadcast(touched.toDF("path")),
              Seq("path"), "left_anti")
              .select(frame.columns.map(col).toIndexedSeq: _*)
          }
        val kept = dropTouched(base.toDF())
        // the pair-generation inputs: the base's still-live
        // descriptors (tail-touched paths excluded — latest wins)
        // plus the tail's own
        // short-circuit on SCHEMA, not a scan: a foreign table whose
        // checkpoint never declared deletionVector (the overwhelming
        // case) and whose tail carries none must not pay a single
        // extra job for the DV machinery
        if (hasDv || tailDvRows.nonEmpty) {
          val baseDvRows: org.apache.spark.sql.Dataset[(String, String)] =
            if (!hasDv)
              spark.createDataset(Seq.empty[(String, String)])(enc2)
            else dropTouched(
              df.filter(col("add").isNotNull &&
                col("add.deletionVector").isNotNull)
                .select(col("add.path").as("path"),
                  to_json(col("add.deletionVector")).as("dvj")))
              .as[(String, String)](enc2)
              .map { case (p0, j) => (decodePath(p0), j) }(enc2)
          writeDvPairs(baseDvRows.unionAll(
            spark.createDataset(tailDvRows)(enc2)))
        }
        val tailDs = spark.createDataset(
          tailAlive.zipWithIndex.map { case (a, i) =>
            LogCodec.encodeCkptAdd(Long.MaxValue - tailAlive.size + i, a)
          })(enc)
        t.create(userSchema, partitionBy = partitionBy,
          checkConstraints = foreignChecks, properties = createProps)
        t.registerFilesFrom(spark,
          kept.unionByName(tailDs.toDF()).as[CkptAdd](enc),
          op = "convert")
    }
    t
  }

  /** Snapshot DataFrame over an imported Delta log — the round-trip
    * read: resolve the live files, scan them with the logged schema
    * (hive partition discovery when partitioned), files carrying
    * deletion vectors served MINUS their deleted rows (descriptors
    * decode through [[DeltaDv]], positions anti-join on the scan's
    * own provenance). PROXY READER ONLY: the plan splats one
    * driver-held path per live file and decodes vectors driver-side,
    * so for big (>10k-file) foreign tables the documented route is
    * [[convertFromDelta]] then a LogTable scan — distributed
    * manifest, file-skipping, no path splat. */
  def loadDelta(spark: SparkSession, tableRoot: String): DataFrame = {
    val (schema, partCols, files) = readDeltaSnapshot(spark, tableRoot)
    files.find(f => hasUriScheme(f._1)).foreach(f =>
      throw new IllegalStateException(
        s"the Delta log at $tableRoot references a fully-qualified " +
          s"URI (${f._1}) — this reader resolves table-relative " +
          "paths only"))
    if (files.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    // an id-mapped log's schema carries parquet field-id stamps —
    // Spark resolves by id only under the session conf (same
    // sticky-flag rationale as LogTable.enableFieldIds)
    if (schema.fields.exists(_.metadata.contains(LogTable.FieldIdKey)))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    def absOf(p: String) = new File(tableRoot, p).getPath
    def reader = {
      val r = spark.read.schema(schema)
      if (partCols.isEmpty) r
      else r.option("basePath", s"$tableRoot/data")
    }
    val (dvd, clean) = files.partition(_._3.isDefined)
    val cleanDf =
      if (clean.isEmpty) None
      else Some(reader.parquet(clean.map(f => absOf(f._1)): _*))
    val dvdDf =
      if (dvd.isEmpty) None
      else {
        val scanned = reader.parquet(dvd.map(f => absOf(f._1)): _*)
          .withColumn("__file", col("_metadata.file_path"))
          .withColumn("__idx", col("_metadata.row_index"))
        // positions key on the scan's OWN file URIs (collected once,
        // O(#dv'd files)) — no synthesized rendering to drift
        val uriByAbs = scanned.select(col("__file")).distinct()
          .collect().map(_.getString(0))
          .map(u => LogTable.provPath(u) -> u).toMap
        import spark.implicits._
        val pos = dvd.flatMap { case (p, _, dvJson) =>
          val d = DeltaDv.parseDescriptor(
            JsonMethods.parse(dvJson.get))
          val uri = uriByAbs(new File(absOf(p)).getAbsolutePath)
          DeltaDv.positions(tableRoot, d).map(i => (uri, i))
        }.toDF("__pf", "__pi")
        Some(scanned.join(broadcast(pos),
          col("__file") === col("__pf") &&
            col("__idx") === col("__pi"), "left_anti")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*))
      }
    (cleanDf, dvdDf) match {
      case (Some(c), Some(d)) => c.unionByName(d)
      case (Some(c), None)    => c
      case (None, Some(d))    => d
      case (None, None) => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
  }
}
