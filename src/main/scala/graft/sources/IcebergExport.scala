package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID

import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One-way EXPORT of a [[LogTable]] snapshot as Apache Iceberg
  * TABLE METADATA, per Iceberg's PUBLIC table spec (format-version
  * 2, iceberg.apache.org/spec): `metadata/vN.metadata.json` with the
  * spec's required fields (schemas with field ids, partition specs,
  * sort orders, snapshots, snapshot-log), a manifest-list Avro file
  * and a manifest Avro file carrying the spec's `manifest_file` /
  * `manifest_entry` records (field-id-annotated Avro schemas), and
  * the HadoopCatalog `version-hint.text` pointer — written with the
  * RAW avro-1.12 API already on Spark's classpath (no spark-avro,
  * no Iceberg runtime; both absent in this offline environment, so
  * conformance is verified structurally plus a round-trip through
  * [[IcebergExport.readIcebergSnapshot]], this library's own reader
  * for the format).
  *
  * Data files are referenced IN PLACE by absolute path (Iceberg's
  * own convention), so an external Iceberg reader pointed at the
  * table location consumes the parquet bytes graft wrote. graft's
  * parquet carries no field ids (unless column-mapped, in which case
  * the EXISTING ids are reused), so the metadata sets the spec's
  * `schema.name-mapping.default` property — the standard fallback
  * Iceberg readers apply to id-less files.
  *
  * Sequential exports MIRROR the table: each call writes the next
  * `vN.metadata.json`, carrying the previous snapshots and
  * snapshot-log forward, so the Iceberg history follows graft's.
  *
  * Nested columns (struct/list/map) export per the spec's nested
  * type JSON with deterministically-allocated field/element/key/
  * value ids and a nested name mapping; column STATS stay
  * top-level-primitive (graft collects none for nested columns —
  * absent bounds only cost skipping, never correctness).
  *
  * HIDDEN partitioning exports as the spec's transforms (round 14):
  * `years/months/days/hours` map to Iceberg's `year/month/day/hour`
  * with value conversion (calendar year → years-since-1970,
  * truncated timestamps → month/hour ordinals, dates → epoch days)
  * and `truncate(w, c)` maps verbatim (identical semantics for
  * strings and floor-mod integers); the exported schema is the USER
  * schema — hidden columns are derived partition fields, never data
  * columns.
  *
  * DELETION VECTORS export as the spec's own row-level encoding
  * (round 15): each DV-bearing snapshot writes v2 POSITION DELETE
  * files — (file_path, pos) parquet with the reserved field ids,
  * sorted per file, global (unpartitioned-spec) with file_path
  * bounds for per-data-file pruning — in a content=1 delete
  * manifest; [[convertFromIceberg]] decodes foreign position
  * deletes back into graft `_dv` pair form (equality deletes
  * refuse).
  *
  * Refused loudly (state an Iceberg reader would misread):
  * equality deletes on import, `bucket`
  * transforms (graft buckets by Spark's Murmur3; Iceberg's bucket
  * hash differs — recomputed pruning would skip the wrong files),
  * session-zoned TIMESTAMP time transforms pinned to a non-UTC zone
  * (Iceberg's transforms are UTC-defined), and identity partition
  * columns outside {string, int, long, date}. */
object IcebergExport {

  /** Iceberg primitive type name for a Spark type — the spec's
    * string forms. Nested types render as objects via
    * [[icebergTypeJson]]; exotic types refuse by column name. */
  private def icebergType(name: String, dt: DataType): String =
    dt match {
      case ByteType | ShortType | IntegerType => "int"
      case LongType                           => "long"
      case FloatType                          => "float"
      case DoubleType                         => "double"
      case BooleanType                        => "boolean"
      case StringType                         => "string"
      case BinaryType                         => "binary"
      case DateType                           => "date"
      case TimestampType                      => "timestamptz"
      case TimestampNTZType                   => "timestamp"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => throw new IllegalArgumentException(
        s"cannot export column '$name': Iceberg metadata export " +
          s"handles primitive and struct/list/map columns, not " +
          s"${other.simpleString}")
    }

  /** One column type as Iceberg schema JSON: primitives as the
    * spec's string forms, struct/list/map as the spec's nested
    * objects with field/element/key/value ids resolved by dotted
    * PATH through `idOf` (see [[assignFieldIds]] for the assignment
    * rules — carried forward across exports, never reused). */
  private def icebergTypeJson(path: String, dt: DataType,
                              idOf: String => Int): JValue = dt match {
    case st: StructType => JObject(List(
      "type" -> JString("struct"),
      "fields" -> JArray(st.fields.toList.map { f =>
        val fp = s"$path.${f.name}"
        JObject(List("id" -> JInt(idOf(fp)), "name" -> JString(f.name),
          "required" -> JBool(false),
          "type" -> icebergTypeJson(fp, f.dataType, idOf)))
      })))
    case at: ArrayType =>
      JObject(List("type" -> JString("list"),
        "element-id" -> JInt(idOf(s"$path.element")),
        "element" -> icebergTypeJson(s"$path.element",
          at.elementType, idOf),
        "element-required" -> JBool(!at.containsNull)))
    case mt: MapType =>
      JObject(List("type" -> JString("map"),
        "key-id" -> JInt(idOf(s"$path.key")),
        "key" -> icebergTypeJson(s"$path.key", mt.keyType, idOf),
        "value-id" -> JInt(idOf(s"$path.value")),
        "value" -> icebergTypeJson(s"$path.value", mt.valueType,
          idOf),
        "value-required" -> JBool(!mt.valueContainsNull)))
    case prim => JString(icebergType(path, prim))
  }

  /** Field-id assignment for the whole schema tree, keyed by dotted
    * path (`a`, `a.b`, `a.element`, `a.key`, `a.value`): top-level
    * columns first, then nested members depth-first per column — the
    * same deterministic order first exports have always used.
    * Resolution per path: a parquet field-id STAMP (column-mapped
    * tables — the ids must match the data files) wins, then the
    * PRIOR export's assignment for the same path, then a FRESH id
    * strictly above `priorLastColumnId` and every carried id. The
    * carry-forward is the spec's evolution contract: ids are
    * immutable per column and NEVER reused — without it a
    * rename/drop between exports would re-deal positional ids and
    * the carried schema history would bind the same id to different
    * columns across entries. */
  private def assignFieldIds(schema: StructType,
      prior: Map[String, Int], priorLastColumnId: Int)
      : Map[String, Int] = {
    val stamped: Map[String, Int] = schema.fields.iterator.collect {
      case f if f.metadata.contains(LogTable.FieldIdKey) =>
        f.name -> f.metadata.getLong(LogTable.FieldIdKey).toInt
    }.toMap
    var next = math.max(priorLastColumnId,
      (stamped.values ++ prior.values).maxOption.getOrElse(0))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def fresh(): Int = { next += 1; next }
    schema.fields.foreach { f =>
      out(f.name) = stamped.getOrElse(f.name,
        prior.getOrElse(f.name, fresh()))
    }
    def walk(path: String, dt: DataType): Unit = dt match {
      case st: StructType => st.fields.foreach { f =>
        val fp = s"$path.${f.name}"
        out(fp) = prior.getOrElse(fp, fresh())
        walk(fp, f.dataType)
      }
      case at: ArrayType =>
        out(s"$path.element") =
          prior.getOrElse(s"$path.element", fresh())
        walk(s"$path.element", at.elementType)
      case mt: MapType =>
        out(s"$path.key") = prior.getOrElse(s"$path.key", fresh())
        out(s"$path.value") = prior.getOrElse(s"$path.value", fresh())
        walk(s"$path.key", mt.keyType)
        walk(s"$path.value", mt.valueType)
      case _ => ()
    }
    schema.fields.foreach(f => walk(f.name, f.dataType))
    out.toMap
  }

  /** The inverse walk of [[icebergTypeJson]]: one schema JSON back
    * to its path → id assignment — how the PRIOR export's ids carry
    * into [[assignFieldIds]]. */
  private def schemaAssignment(schemaJ: JValue): Map[String, Int] = {
    val out = scala.collection.mutable.Map.empty[String, Int]
    def intOf(j: JValue): Option[Int] = j match {
      case JInt(i)  => Some(i.toInt)
      case JLong(l) => Some(l.toInt)
      case _        => None
    }
    def walkType(path: String, t: JValue): Unit = (t \ "type") match {
      case JString("struct") => (t \ "fields") match {
        case JArray(fs) => fs.foreach { f =>
          val fp = s"$path.${(f \ "name").asInstanceOf[JString].s}"
          intOf(f \ "id").foreach(out(fp) = _)
          walkType(fp, f \ "type")
        }
        case _ => ()
      }
      case JString("list") =>
        intOf(t \ "element-id").foreach(out(s"$path.element") = _)
        walkType(s"$path.element", t \ "element")
      case JString("map") =>
        intOf(t \ "key-id").foreach(out(s"$path.key") = _)
        intOf(t \ "value-id").foreach(out(s"$path.value") = _)
        walkType(s"$path.key", t \ "key")
        walkType(s"$path.value", t \ "value")
      case _ => () // primitive (string node has no \ "type")
    }
    (schemaJ \ "fields") match {
      case JArray(fs) => fs.foreach { f =>
        val p = (f \ "name").asInstanceOf[JString].s
        intOf(f \ "id").foreach(out(p) = _)
        walkType(p, f \ "type")
      }
      case _ => ()
    }
    out.toMap
  }

  /** Every field id a rendered schema JSON assigned — the
    * `last-column-id` input (nested ids included). */
  private def maxFieldId(j: JValue): Int = {
    def walk(v: JValue): Seq[Int] = v match {
      case JObject(fs) => fs.flatMap {
        case (k, JInt(i)) if k == "id" || k == "element-id" ||
          k == "key-id" || k == "value-id" => Seq(i.toInt)
        case (_, sub) => walk(sub)
      }
      case JArray(a) => a.flatMap(walk)
      case _         => Seq.empty
    }
    walk(j).maxOption.getOrElse(0)
  }

  /** One Iceberg schema-JSON type back to Spark — string primitives
    * via [[sparkType]], nested struct/list/map objects recursively
    * (the readback half of [[icebergTypeJson]]). */
  private def sparkTypeOf(j: JValue): DataType = j match {
    case JString(s) => sparkType(s)
    case obj: JObject => (obj \ "type") match {
      case JString("struct") => StructType((obj \ "fields") match {
        case JArray(fs) => fs.map(f => StructField(
          (f \ "name").asInstanceOf[JString].s,
          sparkTypeOf(f \ "type")))
        case _ => Nil
      })
      case JString("list") => ArrayType(sparkTypeOf(obj \ "element"),
        containsNull = (obj \ "element-required") != JBool(true))
      case JString("map") => MapType(sparkTypeOf(obj \ "key"),
        sparkTypeOf(obj \ "value"),
        valueContainsNull = (obj \ "value-required") != JBool(true))
      case other => throw new IllegalStateException(
        s"unknown nested Iceberg type in exported metadata: $other")
    }
    case other => throw new IllegalStateException(
      s"unreadable Iceberg type node: $other")
  }

  private def sparkType(t: String): DataType = t match {
    case "int"         => IntegerType
    case "long"        => LongType
    case "float"       => FloatType
    case "double"      => DoubleType
    case "boolean"     => BooleanType
    case "string"      => StringType
    case "binary"      => BinaryType
    case "date"        => DateType
    case "timestamptz" => TimestampType
    case "timestamp"   => TimestampNTZType
    case d if d.startsWith("decimal") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
        .split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other => throw new IllegalStateException(
      s"unknown Iceberg type in exported metadata: $other")
  }

  private def icebergSchemaJson(schema: StructType,
                                idOf: Map[String, Int],
                                schemaId: Int = 0): JValue =
    JObject(List(
      "type" -> JString("struct"), "schema-id" -> JInt(schemaId),
      "fields" -> JArray(schema.fields.toList.map { f =>
        JObject(List("id" -> JInt(idOf(f.name)),
          "name" -> JString(f.name),
          "required" -> JBool(false),
          "type" -> icebergTypeJson(f.name, f.dataType, idOf)))
      })))

  /** Name mapping derived from the RENDERED schema JSON (so nested
    * ids match the schema's allocation): struct members nest under
    * `fields`, list/map members map as the spec's `element` /
    * `key` / `value` names. */
  private def nameMappingJson(schemaJson: JValue): JValue = {
    def ofType(t: JValue): List[JValue] = t match {
      case JString(_) => Nil
      case obj => (obj \ "type") match {
        case JString("struct") => (obj \ "fields") match {
          case JArray(fs) => fs.map(ofField)
          case _          => Nil
        }
        case JString("list") =>
          List(JObject(List("field-id" -> (obj \ "element-id"),
            "names" -> JArray(List(JString("element")))) ++
            nested(obj \ "element")))
        case JString("map") =>
          List(JObject(List("field-id" -> (obj \ "key-id"),
            "names" -> JArray(List(JString("key")))) ++
            nested(obj \ "key")),
            JObject(List("field-id" -> (obj \ "value-id"),
              "names" -> JArray(List(JString("value")))) ++
              nested(obj \ "value")))
        case _ => Nil
      }
    }
    def nested(t: JValue): List[(String, JValue)] = {
      val sub = ofType(t)
      if (sub.isEmpty) Nil else List("fields" -> JArray(sub))
    }
    def ofField(f: JValue): JValue =
      JObject(List("field-id" -> (f \ "id"),
        "names" -> JArray(List(f \ "name"))) ++ nested(f \ "type"))
    (schemaJson \ "fields") match {
      case JArray(fs) => JArray(fs.map(ofField))
      case _          => JArray(Nil)
    }
  }

  /** One partition field of the exported spec: the Iceberg
    * transform string, the manifest partition struct's Avro type
    * fragment, and the graft hive-string → typed Iceberg value
    * mapping. Built by [[icePartFields]] for identity AND hidden
    * (transform) partition columns. */
  private final case class IcePartField(name: String,
      transform: String, sourceId: Int, avroType: String,
      toTyped: String => AnyRef)

  /** Is this zone id UTC-equivalent? Iceberg's time transforms are
    * UTC-defined while graft's session-zoned TIMESTAMP transforms
    * render in the pinned table zone — only UTC makes the two
    * agree, so anything else refuses at export. */
  private def isUtc(z: String): Boolean =
    scala.util.Try(java.time.ZoneId.of(z).normalized()).toOption
      .contains(java.time.ZoneOffset.UTC)

  /** graft pv strings store RAW hive dir names — timestamps carry
    * the dir escaping (`10%3A00%3A00`); decode before parsing. */
  private def ldtOfPv(s: String): java.time.LocalDateTime =
    java.time.LocalDateTime.parse(s.replace("%3A", ":"),
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Resolve the table's partition columns — identity AND hidden
    * transforms — to the Iceberg spec model. Bucket refuses (graft
    * buckets by Spark's Murmur3, Iceberg's bucket transform is a
    * different hash — a foreign reader pruning by recomputed
    * buckets would skip the WRONG files); session-zoned TIMESTAMP
    * time transforms require the pinned zone be UTC (Iceberg's
    * transforms are UTC-defined; any other zone would export
    * shifted partition values). */
  private def icePartFields(partCols: Seq[String],
      transforms: Map[String, String],
      ids: Seq[(StructField, Int)],
      tableTz: Option[String], sessionTz: String): Seq[IcePartField] =
    partCols.map { c =>
      transforms.get(c) match {
        case None =>
          val (f, id) = ids.find(_._1.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"partition column '$c' is not in the schema"))
          IcePartField(c, "identity", id,
            partAvroType(icebergType(c, f.dataType)),
            v => typedPartValue(f.dataType, v))
        case Some(spec) =>
          val t = PartitionTransforms.parse(spec).getOrElse(
            throw new IllegalStateException(
              s"unparseable partition transform '$spec'"))
          val (sf, sid) = ids.find(_._1.name == t.source).getOrElse(
            throw new IllegalArgumentException(
              s"transform source column '${t.source}' is not in " +
                "the schema"))
          require(t.kind != "bucket",
            s"cannot export bucket transform '$spec' — graft's " +
              "plain bucket uses Spark's Murmur3 hash, Iceberg's " +
              "bucket transform a different one; an external reader " +
              "pruning by recomputed buckets would skip the WRONG " +
              "files. Use iceberg_bucket(n, c) for layouts that " +
              "must cross this boundary, or OPTIMIZE to an " +
              "identity/time-transform layout")
          if (sf.dataType == TimestampType && t.kind != "truncate" &&
              t.kind != "iceberg_bucket") {
            val z = tableTz.getOrElse(sessionTz)
            require(isUtc(z),
              s"cannot export transform '$spec' over a " +
                s"session-zoned TIMESTAMP pinned to '$z' — " +
                "Iceberg's time transforms are UTC-defined, so a " +
                "non-UTC zone would export shifted partition " +
                "values; rewrite under UTC or use TIMESTAMP_NTZ")
          }
          t.kind match {
            case "years" => IcePartField(c, "year", sid, "\"int\"",
              s => Integer.valueOf(s.toInt - 1970))
            case "months" => IcePartField(c, "month", sid, "\"int\"",
              s => { val d = ldtOfPv(s)
                Integer.valueOf((d.getYear - 1970) * 12 +
                  (d.getMonthValue - 1)) })
            case "days" => IcePartField(c, "day", sid,
              "{\"type\":\"int\",\"logicalType\":\"date\"}",
              s => Integer.valueOf(
                java.time.LocalDate.parse(s).toEpochDay.toInt))
            case "hours" => IcePartField(c, "hour", sid, "\"int\"",
              s => Integer.valueOf((ldtOfPv(s)
                .toEpochSecond(java.time.ZoneOffset.UTC) / 3600L)
                .toInt))
            // iceberg_bucket computes the SPEC's own hash
            // (Appendix B murmur3, seed 0 — graft.plans.
            // IcebergBucketHash), so the exported transform string
            // is the real `bucket[N]`: a foreign reader recomputing
            // buckets prunes to exactly the right files
            case "iceberg_bucket" => IcePartField(c,
              s"bucket[${t.param.get}]", sid, "\"int\"",
              s => Integer.valueOf(s.toInt))
            case "truncate" => sf.dataType match {
              case StringType => IcePartField(c,
                s"truncate[${t.param.get}]", sid, "\"string\"",
                s => s)
              case ByteType | ShortType | IntegerType =>
                IcePartField(c, s"truncate[${t.param.get}]", sid,
                  "\"int\"", s => Integer.valueOf(s.toInt))
              case _ => IcePartField(c, s"truncate[${t.param.get}]",
                sid, "\"long\"", s => java.lang.Long.valueOf(s.toLong))
            }
            case other => throw new IllegalArgumentException(
              s"unsupported partition transform kind '$other'")
          }
      }
    }

  /** Partition-spec fields JSON from the resolved model and the
    * EXPLICIT field-ids (assigned by [[assignSpecFieldIds]] — first
    * export counts from 1000, the spec's floor; later exports carry
    * each field's prior id and mint fresh ones above
    * last-partition-id, never reusing an id across spec history). */
  private def specFieldsJsonOf(fields: Seq[IcePartField],
                               fieldIds: Seq[Int]): JValue =
    JArray(fields.toList.zip(fieldIds).map { case (f, id) =>
      JObject(List("name" -> JString(f.name),
        "transform" -> JString(f.transform),
        "source-id" -> JInt(f.sourceId), "field-id" -> JInt(id)))
    })

  /** Partition-spec field-id assignment with carry-forward: a field
    * matching a PRIOR spec's (name, transform, source-id) keeps that
    * id; fresh fields take ids strictly above last-partition-id and
    * the spec floor (999). Mirrors [[assignFieldIds]]' never-reuse
    * rule on the partition side. */
  private def assignSpecFieldIds(fields: Seq[IcePartField],
      priorSpecs: List[JValue], priorLastPartitionId: Int): Seq[Int] = {
    def intOf(j: JValue): Option[Int] = j match {
      case JInt(i)  => Some(i.toInt)
      case JLong(l) => Some(l.toInt)
      case _        => None
    }
    val prior: Map[(String, String, Int), Int] = priorSpecs.flatMap(s =>
      (s \ "fields") match {
        case JArray(fs) => fs.flatMap { f =>
          for {
            sid <- intOf(f \ "source-id")
            fid <- intOf(f \ "field-id")
            name <- (f \ "name") match {
              case JString(n) => Some(n); case _ => None
            }
            tr <- (f \ "transform") match {
              case JString(t) => Some(t); case _ => None
            }
          } yield (name, tr, sid) -> fid
        }
        case _ => Nil
      }).toMap
    var next = math.max(math.max(999, priorLastPartitionId),
      prior.values.maxOption.getOrElse(0))
    fields.map { f =>
      prior.getOrElse((f.name, f.transform, f.sourceId),
        { next += 1; next })
    }
  }

  /** Avro type (JSON fragment) for a partition value of an Iceberg
    * primitive — nullable union, logicalType on date. */
  private def partAvroType(iceType: String): String = iceType match {
    case "int"    => "\"int\""
    case "long"   => "\"long\""
    case "string" => "\"string\""
    case "date"   => "{\"type\":\"int\",\"logicalType\":\"date\"}"
    case other => throw new IllegalArgumentException(
      s"partition columns of Iceberg type '$other' are not " +
        "exportable — supported: string, int, long, date")
  }

  private def partitionAvroFields(fields: Seq[IcePartField],
                                  fieldIds: Seq[Int]): String =
    fields.zip(fieldIds).map { case (f, id) =>
      s"""{"name":"${f.name}","type":["null",${f.avroType}],""" +
        s""""default":null,"field-id":$id}"""
    }.mkString(",")

  /** An Iceberg map with non-string keys renders in Avro as an
    * array of key/value records with `logicalType: map` (the spec's
    * Avro appendix) — the shape of null_value_counts (110) and the
    * single-value-serialized lower/upper bounds (125/128). */
  private def kvMapAvro(name: String, keyId: Int, valueType: String,
                        valueId: Int): String =
    s"""["null",{"type":"array","logicalType":"map",
      "items":{"type":"record","name":"$name","fields":[
        {"name":"key","type":"int","field-id":$keyId},
        {"name":"value","type":$valueType,"field-id":$valueId}]}}]"""

  private def manifestEntrySchema(
      partFields: Seq[IcePartField],
      partFieldIds: Seq[Int]): org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int","field-id":0},
        {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
        {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
        {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
        {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
          {"name":"content","type":"int","field-id":134},
          {"name":"file_path","type":"string","field-id":100},
          {"name":"file_format","type":"string","field-id":101},
          {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[${partitionAvroFields(partFields, partFieldIds)}]}},
          {"name":"record_count","type":"long","field-id":103},
          {"name":"file_size_in_bytes","type":"long","field-id":104},
          {"name":"value_counts","type":${kvMapAvro("k119_v120", 119, "\"long\"", 120)},"default":null,"field-id":109},
          {"name":"null_value_counts","type":${kvMapAvro("k121_v122", 121, "\"long\"", 122)},"default":null,"field-id":110},
          {"name":"lower_bounds","type":${kvMapAvro("k126_v127", 126, "\"bytes\"", 127)},"default":null,"field-id":125},
          {"name":"upper_bounds","type":${kvMapAvro("k129_v130", 129, "\"bytes\"", 130)},"default":null,"field-id":128}
        ]}}
      ]}""")

  /** Iceberg single-value serialization (spec Appendix D) of one
    * graft-internal stat bound, typed by the column's Spark type:
    * little-endian fixed width for numerics/date/timestamps, one
    * byte for boolean, raw UTF-8 for strings. None for types graft
    * stats never carry (the bound is simply omitted — absent bounds
    * only ever cost skipping, never correctness). */
  private def boundBytes(dt: DataType, v: Any)
      : Option[java.nio.ByteBuffer] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n)
      .order(ByteOrder.LITTLE_ENDIAN)
    val buf: Option[ByteBuffer] = (dt, v) match {
      case (ByteType | ShortType | IntegerType | DateType, l: Long) =>
        Some(le(4).putInt(l.toInt))
      case (LongType | TimestampType | TimestampNTZType, l: Long) =>
        Some(le(8).putLong(l))
      case (BooleanType, l: Long) =>
        Some(ByteBuffer.wrap(Array[Byte](if (l != 0L) 1 else 0)))
      // Iceberg bounds exclude NaN; graft exports no non-finite bound
      case (FloatType | DoubleType, d: Double)
          if d.isNaN || d.isInfinite => None
      case (FloatType, d: Double)  => Some(le(4).putFloat(d.toFloat))
      case (DoubleType, d: Double) => Some(le(8).putDouble(d))
      case (StringType, s: String) => Some(ByteBuffer.wrap(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    }
    buf.map { b => b.rewind(); b }
  }

  /** Reverse of [[boundBytes]]: one single-value-serialized bound
    * back to graft's internal stat encoding. Foreign TRUNCATED
    * string bounds stay sound verbatim (Iceberg writers increment a
    * truncated upper bound so it still upper-bounds). Unknown or
    * short payloads decode to None — absent prunes nothing. */
  private def boundValue(dt: DataType, bytes: Array[Byte])
      : Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case ByteType | ShortType | IntegerType | DateType =>
        if (bytes.length < 4) None else Some(le.getInt.toLong)
      case LongType | TimestampType | TimestampNTZType =>
        if (bytes.length < 8) None else Some(le.getLong)
      case BooleanType =>
        bytes.headOption.map(b => if (b != 0) 1L else 0L)
      case FloatType =>
        if (bytes.length < 4) None else Some(le.getFloat.toDouble)
      case DoubleType =>
        if (bytes.length < 8) None else Some(le.getDouble)
      case StringType => Some(new String(bytes,
        java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }
  }

  private val manifestFileSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        {"name":"manifest_path","type":"string","field-id":500},
        {"name":"manifest_length","type":"long","field-id":501},
        {"name":"partition_spec_id","type":"int","field-id":502},
        {"name":"content","type":"int","field-id":517},
        {"name":"sequence_number","type":"long","field-id":515},
        {"name":"min_sequence_number","type":"long","field-id":516},
        {"name":"added_snapshot_id","type":"long","field-id":503},
        {"name":"added_files_count","type":"int","field-id":504},
        {"name":"existing_files_count","type":"int","field-id":505},
        {"name":"deleted_files_count","type":"int","field-id":506},
        {"name":"added_rows_count","type":"long","field-id":512},
        {"name":"existing_rows_count","type":"long","field-id":513},
        {"name":"deleted_rows_count","type":"long","field-id":514}
      ]}""")

  /** A partition value string (graft stores hive-style strings) to
    * the TYPED Avro value the manifest's partition struct carries. */
  private def typedPartValue(dt: DataType, v: String): AnyRef =
    dt match {
      case ByteType | ShortType | IntegerType =>
        Integer.valueOf(v.toInt)
      case LongType   => java.lang.Long.valueOf(v.toLong)
      case StringType => v
      case DateType   => Integer.valueOf(
        java.time.LocalDate.parse(v).toEpochDay.toInt)
      case other => throw new IllegalArgumentException(
        s"partition value of type ${other.simpleString} is not " +
          "exportable to Iceberg metadata")
    }

  /** The spec's reserved field ids for position delete file columns
    * (Int.MaxValue - 101 / - 102): every Iceberg reader resolves
    * delete parquet columns by THESE ids, so the written files stamp
    * them explicitly. */
  private[sources] val DeleteFilePathFieldId = 2147483546
  private[sources] val DeletePosFieldId = 2147483545

  /** Graft deletion-vector state rendered as Iceberg v2 POSITION
    * DELETE files — parquet of (`file_path`, `pos`) with the spec's
    * reserved field ids, rows sorted by (file_path, pos) within each
    * file, written under `<table>/_ice_deletes/<uuid>/` (outside
    * `data/`, so graft's own vacuum never mistakes them for
    * unregistered data files). ONE distributed pipeline: the graft
    * `_dv` pair dirs scan as parquet, pairs normalize and key to
    * THEIR OWN dir on executors (a stale subset in a shared older
    * dir never doubles in), per-file cardinality is validated
    * against the manifest's declared `dv.rows` as one bounded
    * aggregate, and the sorted pairs land directly as the delete
    * parquet — no roaring re-encoding, the pair form IS the spec's
    * delete-file form. The deletes are written GLOBAL (an
    * unpartitioned spec): spec-legal for any table layout, and the
    * returned per-delete-file `file_path` lower/upper bounds let a
    * foreign reader prune delete files per data file, which is what
    * keeps global deletes cheap at scale (partition-scoped deletes
    * are a foreign-writer optimization, not a correctness
    * requirement). Returns one manifest-entry row per written
    * delete file: (absolute path, rows, bytes, min file_path,
    * max file_path) — O(#delete files), bounded by the write's
    * shuffle partitioning, never O(deleted rows). */
  private def writePositionDeletes(spark: SparkSession, root: String,
      dvd: DataFrame, knownDirs: Option[Seq[String]] = None)
      : Seq[(String, Long, Long, String, String)] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.functions.{concat, count, lit, max, min}
    val rootAbs = new File(root).getAbsolutePath
    // a caller holding the adds driver-side already KNOWS the pair
    // dirs (one per MOR commit) — skip the distinct+collect job; the
    // distributed-manifest caller still derives them with a job
    val dirs = knownDirs.getOrElse(dvd.select(col("dvPath")).distinct()
      .collect().map(_.getString(0)).toSeq)
    if (dirs.isEmpty) return Nil
    val pairsRaw = spark.read
      .parquet(dirs.map(d => s"$rootAbs/$d"): _*)
      .select(col("file").cast("string"),
        col("idx").cast("long"),
        col("_metadata.file_path"))
    // executor-side normalization: pair URI → table-relative data
    // path, pair part file → its _dv/<uuid> dir (same kernel as
    // DeltaExport.dvDescriptors)
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
    val pairs = rel.join(wanted, col("p") === col("__wp") &&
        col("d") === col("__wd"))
      .select(col("p"), col("i"), col("__wr"))
    // cardinality gate, ONE bounded aggregate: each file's pair
    // count must equal the manifest's declared dv.rows — refusing
    // beats exporting a wrong vector a foreign reader would trust
    val bad = pairs.groupBy(col("p"), col("__wr"))
      .agg(count(col("i")).as("n"))
      .filter(col("n") =!= col("__wr")).limit(1).collect()
    bad.headOption.foreach { r =>
      throw new IllegalStateException(
        s"file ${r.getString(0)} decodes ${r.getLong(2)} DV " +
          s"positions but the manifest declares ${r.getLong(1)} — " +
          "refusing to export a wrong delete file")
    }
    val outRel = s"_ice_deletes/${UUID.randomUUID()}"
    val fpMeta = new MetadataBuilder()
      .putLong("parquet.field.id", DeleteFilePathFieldId.toLong).build()
    val posMeta = new MetadataBuilder()
      .putLong("parquet.field.id", DeletePosFieldId.toLong).build()
    val deleteRows = pairs
      .select(concat(lit(rootAbs + "/"), col("p"))
          .as("file_path", fpMeta),
        col("i").as("pos", posMeta))
    // the spec's sort contract: rows sorted by file_path then pos
    // WITHIN each delete file; repartition by file_path keeps one
    // data file's positions together without a global sort
    val fieldIdKey = "spark.sql.parquet.fieldId.write.enabled"
    val saved = spark.conf.getOption(fieldIdKey)
    spark.conf.set(fieldIdKey, "true")
    try deleteRows.repartition(col("file_path"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .write.parquet(s"$rootAbs/$outRel")
    finally saved match {
      case Some(s) => spark.conf.set(fieldIdKey, s)
      case None    => spark.conf.unset(fieldIdKey)
    }
    // per-delete-file manifest facts, one bounded aggregate over
    // the written files (counts + file_path bounds)
    spark.read.parquet(s"$rootAbs/$outRel")
      .groupBy(col("_metadata.file_path").as("part"))
      .agg(count(lit(1)).as("n"),
        min(col("file_path")).as("lo"), max(col("file_path")).as("hi"))
      .collect().toSeq
      .map { r =>
        val abs =
          if (r.getString(0).startsWith("file:"))
            new File(new java.net.URI(r.getString(0))).getAbsolutePath
          else new File(r.getString(0)).getAbsolutePath
        (abs, r.getLong(1), new File(abs).length(),
          r.getString(2), r.getString(3))
      }
  }

  /** Export the snapshot at `version` (default: current) as the next
    * Iceberg metadata version under `<table>/metadata/`. Returns the
    * metadata JSON path. Sequential calls mirror the table (previous
    * snapshots carry forward; `keepSnapshots` caps how many — the
    * expire-snapshots analog a long-lived mirror needs to stay
    * bounded). Re-exporting the already-current snapshot is a no-op
    * returning the existing metadata path. */
  def exportIcebergMetadata(spark: SparkSession, log: LogTable,
                            version: Option[Long] = None,
                            keepSnapshots: Int = Int.MaxValue)
      : String = {
    val v = version.orElse(log.currentVersion).getOrElse(
      throw new IllegalStateException(s"no log table at ${log.path}"))
    // HIDDEN partitioning exports as the spec's transforms: the
    // Iceberg schema is the USER schema (hidden columns are derived
    // partition fields, never data columns), and each transform
    // maps to its Iceberg form with value conversion — see
    // [[icePartFields]] (bucket and non-UTC session-zoned time
    // transforms refuse by name there)
    val transforms = log.partitionTransformsAt(v)
    val schema = log.userSchemaAt(v)
    val partCols = log.partitionColsAt(v)

    // file-state facts answered where the manifest lives (the same
    // discipline as DeltaExport); DV-bearing snapshots export their
    // vectors as v2 POSITION DELETE files (see
    // [[writePositionDeletes]]) instead of refusing
    val dist =
      if (log.addsMaterializedAt(Some(v))) None
      else log.distributedManifest(spark, v)
    val anyDv = dist match {
      case Some(_) => log.fileStateFacts(spark, Some(v))._1
      case None    => log.liveAdds(Some(v)).exists(_.dv.isDefined)
    }

    val metaDir = new File(log.path, "metadata")
    metaDir.mkdirs()
    val root = new File(log.path).getAbsolutePath
    val prevN: Int = {
      val hint = new File(metaDir, "version-hint.text")
      if (hint.isFile) Files.readString(hint.toPath).trim.toInt else 0
    }
    val n = prevN + 1
    // the previous metadata JSON, read ONCE — uuid, snapshot carry,
    // schema/spec history and the duplicate-export check all come
    // from it
    val prevMeta: Option[JValue] =
      if (prevN == 0) None
      else Some(JsonMethods.parse(Files.readString(
        new File(metaDir, s"v$prevN.metadata.json").toPath)))
    // re-exporting the snapshot the mirror already ends on is a
    // NO-OP (never a duplicate snapshot-id in the snapshots array —
    // Iceberg readers treat ids as unique); mirrorIceberg leans on
    // this idempotence
    prevMeta.foreach { prev =>
      val already = (prev \ "current-snapshot-id") match {
        case JInt(i)  => i.toLong == v
        case JLong(l) => l == v
        case _        => false
      }
      if (already)
        return new File(metaDir, s"v$prevN.metadata.json").getPath
    }
    def idIn(j: JValue, key: String): Int = (j \ key) match {
      case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => 0
    }
    // FIELD IDS carry forward from the previous export (see
    // [[assignFieldIds]]): unchanged columns keep their ids, new
    // columns mint strictly above last-column-id — an evolved
    // schema can never rebind an id the carried history already
    // assigned to a different column (Iceberg forbids field-id
    // reuse, and the single current name-mapping would misbind old
    // snapshots for foreign readers).
    val prevSchemas: List[JValue] = prevMeta.toList.flatMap(p =>
      (p \ "schemas") match { case JArray(a) => a; case _ => Nil })
    val priorAssign: Map[String, Int] = prevMeta.map { p =>
      val cur = idIn(p, "current-schema-id")
      prevSchemas.find(s => idIn(s, "schema-id") == cur)
        .map(schemaAssignment).getOrElse(Map.empty[String, Int])
    }.getOrElse(Map.empty)
    val idMap = assignFieldIds(schema, priorAssign,
      prevMeta.map(idIn(_, "last-column-id")).getOrElse(0))
    val ids: Seq[(StructField, Int)] =
      schema.fields.toSeq.map(f => f -> idMap(f.name))
    // render the schema once up front — the render IS the type
    // validation (exotic types refuse by column name)
    val mySchemaRender = icebergSchemaJson(schema, idMap)
    val partFields = icePartFields(partCols, transforms, ids,
      log.tzAt(v), spark.sessionState.conf.sessionLocalTimeZone)
    val prevSpecs: List[JValue] = prevMeta.toList.flatMap(p =>
      (p \ "partition-specs") match { case JArray(a) => a; case _ => Nil })
    val partFieldIds = assignSpecFieldIds(partFields, prevSpecs,
      prevMeta.map(idIn(_, "last-partition-id")).getOrElse(0))
    // table-uuid is STABLE across metadata versions (the spec's
    // identity check — a refreshing reader throws on a changed
    // uuid): carry the previous metadata's forward
    val tableUuid: String =
      prevMeta.flatMap(prev => (prev \ "table-uuid") match {
        case JString(u) => Some(u); case _ => None
      }).getOrElse(UUID.randomUUID().toString)
    // honest snapshot summary.operation per the spec's vocabulary —
    // incremental-append consumers skip or refuse non-append
    // snapshots, so a delete exported as "append" double-counts.
    // A snapshot may cover SEVERAL graft commits (sequential mirror
    // calls can skip versions), so the operation folds over every
    // commit since the previously exported version: any row-removing
    // commit makes the whole span "overwrite", a rewrite-only span
    // is "replace", and an unknowable span (expired commits) is
    // conservatively "overwrite" — never a false "append".
    val prevExportedV: Option[Long] =
      prevMeta.flatMap(prev => (prev \ "current-snapshot-id") match {
        case JInt(i) => Some(i.toLong); case JLong(l) => Some(l)
        case _       => None
      })
    val operation: String = {
      val span = prevExportedV.map(p => (p + 1) to v)
        .getOrElse(v to v)
      val retained = log.versions.toSet
      if (!span.forall(retained.contains)) "overwrite"
      else {
        val ops = span.map(log.commitOp).toSet
        def appendLike(o: String) = Set("append", "create", "convert",
          "ref", "protocol", "properties", "schema", "analyze")(o)
        if (ops.forall(appendLike)) "append"
        else if (ops.forall(o => appendLike(o) || o == "optimize") &&
          ops.contains("optimize") && !ops.contains("append"))
          "replace"
        else "overwrite"
      }
    }
    val snapshotId = v
    val seq = n.toLong
    val ts = log.commitTime(v)

    // SCHEMA / PARTITION-SPEC HISTORY (the spec's evolution
    // contract): prior schemas and specs carry FORWARD with their
    // ids; the current shape — rendered with CARRIED field ids, so
    // an unchanged shape is bit-identical — reuses a matching prior
    // id or claims the next one, and each snapshot is stamped with
    // the schema-id current at ITS export time — a time-travel
    // reader resolves historical snapshots against their own
    // schema, never today's.
    val myFields = mySchemaRender \ "fields"
    val schemaId: Int = prevSchemas
      .find(s => (s \ "fields") == myFields)
      .map(idIn(_, "schema-id"))
      .getOrElse(prevSchemas.map(idIn(_, "schema-id"))
        .maxOption.map(_ + 1).getOrElse(0))
    val schemasJson: List[JValue] =
      if (prevSchemas.exists(s => (s \ "fields") == myFields))
        prevSchemas
      else prevSchemas :+ icebergSchemaJson(schema, idMap, schemaId)
    val mySpecFields = specFieldsJsonOf(partFields, partFieldIds)
    val specId: Int = prevSpecs
      .find(s => (s \ "fields") == mySpecFields)
      .map(idIn(_, "spec-id"))
      .getOrElse(prevSpecs.map(idIn(_, "spec-id"))
        .maxOption.map(_ + 1).getOrElse(0))
    val specsJson: List[JValue] =
      if (prevSpecs.exists(s => (s \ "fields") == mySpecFields))
        prevSpecs
      else prevSpecs :+ JObject(List("spec-id" -> JInt(specId),
        "fields" -> mySpecFields))
    val lastColumnId = (maxFieldId(mySchemaRender) +:
      prevMeta.toList.map(idIn(_, "last-column-id"))).max
    val lastPartitionId =
      (math.max(999, partFieldIds.maxOption.getOrElse(999)) +:
        prevMeta.toList.map(idIn(_, "last-partition-id"))).max

    // ---- manifest Avro: one entry per live file, STREAMED from the
    // distributed manifest when one serves (toLocalIterator — the
    // driver holds one partition of rows at a time, never the list)
    val entrySchema = manifestEntrySchema(partFields, partFieldIds)
    val manifestFile = new File(metaDir, s"${UUID.randomUUID()}-m0.avro")
    var nFiles = 0L
    var nRows = 0L
    val mw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](entrySchema))
    mw.setMeta("schema", JsonMethods.compact(
      JsonMethods.render(icebergSchemaJson(schema, idMap, schemaId))))
    mw.setMeta("partition-spec", JsonMethods.compact(
      JsonMethods.render(mySpecFields)))
    mw.setMeta("partition-spec-id", specId.toString)
    mw.setMeta("format-version", "2")
    mw.setMeta("content", "data")
    mw.create(entrySchema, manifestFile)
    try {
      val it: Iterator[AddFile] = dist match {
        case Some(ds) =>
          import scala.jdk.CollectionConverters._
          ds.orderBy(org.apache.spark.sql.functions.col("idx"))
            .toLocalIterator().asScala.map(LogCodec.decodeCkptAdd)
        case None => log.liveAdds(Some(v)).iterator
      }
      it.foreach { a =>
        val df = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        df.put("content", Integer.valueOf(0))
        df.put("file_path",
          if (a.path.startsWith("/")) a.path else s"$root/${a.path}")
        df.put("file_format", "PARQUET")
        val part = new GenericData.Record(
          entrySchema.getField("data_file").schema()
            .getField("partition").schema())
        partFields.foreach { f =>
          part.put(f.name, a.partitionValues.get(f.name)
            .map(f.toTyped).orNull)
        }
        df.put("partition", part)
        df.put("record_count", java.lang.Long.valueOf(a.rows))
        df.put("file_size_in_bytes", java.lang.Long.valueOf(a.bytes))
        // column stats ride the manifest (Iceberg's skipping
        // surface): per-field-id null counts plus single-value-
        // serialized lower/upper bounds — what lets a FOREIGN
        // Iceberg reader (and convertFromIceberg's round trip)
        // prune files from the metadata alone
        val dfSch = entrySchema.getField("data_file").schema()
        def itemsOf(field: String): org.apache.avro.Schema =
          dfSch.getField(field).schema().getTypes.get(1)
            .getElementType
        def kvRec(sch: org.apache.avro.Schema, id: Int,
                  value: AnyRef): GenericRecord = {
          val r = new GenericData.Record(sch)
          r.put("key", Integer.valueOf(id)); r.put("value", value); r
        }
        val (vSch, nSch, loSch, upSch) = (itemsOf("value_counts"),
          itemsOf("null_value_counts"),
          itemsOf("lower_bounds"), itemsOf("upper_bounds"))
        val vals = new java.util.ArrayList[GenericRecord]()
        val nulls = new java.util.ArrayList[GenericRecord]()
        val lows = new java.util.ArrayList[GenericRecord]()
        val ups = new java.util.ArrayList[GenericRecord]()
        a.stats.toSeq
          .flatMap { case (c, st) =>
            ids.find(_._1.name == c).map(p => (p._2, p._1, st)) }
          .sortBy(_._1)
          .foreach { case (id, f, st) =>
            // value_counts = values INCLUDING nulls (the spec's
            // definition): the file's row count per top-level column
            vals.add(kvRec(vSch, id, java.lang.Long.valueOf(a.rows)))
            nulls.add(kvRec(nSch, id, java.lang.Long.valueOf(st.nulls)))
            st.min.flatMap(boundBytes(f.dataType, _))
              .foreach(b => lows.add(kvRec(loSch, id, b)))
            st.max.flatMap(boundBytes(f.dataType, _))
              .foreach(b => ups.add(kvRec(upSch, id, b)))
          }
        df.put("value_counts", if (vals.isEmpty) null else vals)
        df.put("null_value_counts", if (nulls.isEmpty) null else nulls)
        df.put("lower_bounds", if (lows.isEmpty) null else lows)
        df.put("upper_bounds", if (ups.isEmpty) null else ups)
        val e = new GenericData.Record(entrySchema)
        e.put("status", Integer.valueOf(1)) // ADDED
        e.put("snapshot_id", java.lang.Long.valueOf(snapshotId))
        e.put("sequence_number", java.lang.Long.valueOf(seq))
        e.put("file_sequence_number", java.lang.Long.valueOf(seq))
        e.put("data_file", df)
        mw.append(e)
        nFiles += 1; nRows += a.rows
      }
    } finally mw.close()

    // ---- v2 position delete files + their DELETE manifest: the
    // snapshot's deletion vectors cross the boundary as the spec's
    // own row-level delete encoding — global (unpartitioned-spec)
    // deletes with per-file file_path bounds, see
    // [[writePositionDeletes]]
    val delEntries: Seq[(String, Long, Long, String, String)] =
      if (!anyDv) Nil
      else {
        import org.apache.spark.sql.{Encoders => E2}
        val (dvd: DataFrame, knownDirs: Option[Seq[String]]) =
          dist match {
            case Some(ds) => (ds.toDF()
              .filter(col("dvPath").isNotNull)
              .select(col("path"), col("dvPath"), col("dvRows")), None)
            case None =>
              val rows = log.liveAdds(Some(v))
                .flatMap(a => a.dv.map(d => (a.path, d.path, d.rows)))
              (spark.createDataset(rows)(
                E2.tuple(E2.STRING, E2.STRING, E2.scalaLong))
                .toDF("path", "dvPath", "dvRows"),
                Some(rows.map(_._2).distinct))
          }
        writePositionDeletes(spark, log.path, dvd, knownDirs)
      }
    // the delete manifest's spec is the UNPARTITIONED one — reuse a
    // prior metadata's empty-fields spec id or mint the next (for an
    // unpartitioned table it IS the data spec); global deletes apply
    // to every data file, pruned by their file_path bounds
    val (specsJsonAll, deleteSpecId) =
      if (delEntries.isEmpty || partFields.isEmpty) (specsJson, specId)
      else specsJson.find(s => (s \ "fields") == JArray(Nil)) match {
        case Some(s) => (specsJson, idIn(s, "spec-id"))
        case None =>
          val nid = specsJson.map(idIn(_, "spec-id")).max + 1
          (specsJson :+ JObject(List("spec-id" -> JInt(nid),
            "fields" -> JArray(Nil))), nid)
      }
    val delManifest: Option[(File, Long, Long)] =
      if (delEntries.isEmpty) None
      else {
        val dSchema = manifestEntrySchema(Nil, Nil)
        val dFile = new File(metaDir, s"${UUID.randomUUID()}-d0.avro")
        val dw = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](dSchema))
        dw.setMeta("schema", JsonMethods.compact(
          JsonMethods.render(icebergSchemaJson(schema, idMap, schemaId))))
        dw.setMeta("partition-spec", "[]")
        dw.setMeta("partition-spec-id", deleteSpecId.toString)
        dw.setMeta("format-version", "2")
        dw.setMeta("content", "deletes")
        dw.create(dSchema, dFile)
        var dRows = 0L
        try delEntries.foreach { case (abs, rows, bytes, lo, hi) =>
          val df = new GenericData.Record(
            dSchema.getField("data_file").schema())
          df.put("content", Integer.valueOf(1)) // POSITION_DELETES
          df.put("file_path", abs)
          df.put("file_format", "PARQUET")
          df.put("partition", new GenericData.Record(
            dSchema.getField("data_file").schema()
              .getField("partition").schema()))
          df.put("record_count", java.lang.Long.valueOf(rows))
          df.put("file_size_in_bytes", java.lang.Long.valueOf(bytes))
          val dfSch = dSchema.getField("data_file").schema()
          def itemsOf(field: String): org.apache.avro.Schema =
            dfSch.getField(field).schema().getTypes.get(1)
              .getElementType
          // file_path bounds (the reserved delete-file field id):
          // what lets a foreign reader prune delete files per data
          // file instead of opening every global delete
          def kv(sch: org.apache.avro.Schema,
                 s: String): java.util.ArrayList[GenericRecord] = {
            val r = new GenericData.Record(sch)
            r.put("key", Integer.valueOf(DeleteFilePathFieldId))
            r.put("value", java.nio.ByteBuffer.wrap(
              s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            val l = new java.util.ArrayList[GenericRecord](); l.add(r); l
          }
          df.put("lower_bounds", kv(itemsOf("lower_bounds"), lo))
          df.put("upper_bounds", kv(itemsOf("upper_bounds"), hi))
          df.put("value_counts", null)
          df.put("null_value_counts", null)
          val e = new GenericData.Record(dSchema)
          e.put("status", Integer.valueOf(1)) // ADDED
          e.put("snapshot_id", java.lang.Long.valueOf(snapshotId))
          e.put("sequence_number", java.lang.Long.valueOf(seq))
          e.put("file_sequence_number", java.lang.Long.valueOf(seq))
          e.put("data_file", df)
          dw.append(e)
          dRows += rows
        } finally dw.close()
        Some((dFile, delEntries.size.toLong, dRows))
      }

    // ---- manifest-list Avro
    val listFile = new File(metaDir,
      s"snap-$snapshotId-1-${UUID.randomUUID()}.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestFileSchema))
    lw.setMeta("format-version", "2")
    lw.create(manifestFileSchema, listFile)
    try {
      val m = new GenericData.Record(manifestFileSchema)
      m.put("manifest_path", manifestFile.getAbsolutePath)
      m.put("manifest_length",
        java.lang.Long.valueOf(manifestFile.length()))
      m.put("partition_spec_id", Integer.valueOf(specId))
      m.put("content", Integer.valueOf(0)) // data
      m.put("sequence_number", java.lang.Long.valueOf(seq))
      m.put("min_sequence_number", java.lang.Long.valueOf(seq))
      m.put("added_snapshot_id", java.lang.Long.valueOf(snapshotId))
      m.put("added_files_count", Integer.valueOf(nFiles.toInt))
      m.put("existing_files_count", Integer.valueOf(0))
      m.put("deleted_files_count", Integer.valueOf(0))
      m.put("added_rows_count", java.lang.Long.valueOf(nRows))
      m.put("existing_rows_count", java.lang.Long.valueOf(0L))
      m.put("deleted_rows_count", java.lang.Long.valueOf(0L))
      lw.append(m)
      // the DELETE manifest rides the same list with content=1 and
      // the unpartitioned spec; its sequence number equals the data
      // manifest's, and the spec applies position deletes to data
      // files of seq ≤ the delete's — equal included, so the
      // snapshot's vectors subtract from its own files
      delManifest.foreach { case (dFile, dFiles, dRows) =>
        val dm = new GenericData.Record(manifestFileSchema)
        dm.put("manifest_path", dFile.getAbsolutePath)
        dm.put("manifest_length", java.lang.Long.valueOf(dFile.length()))
        dm.put("partition_spec_id", Integer.valueOf(deleteSpecId))
        dm.put("content", Integer.valueOf(1)) // deletes
        dm.put("sequence_number", java.lang.Long.valueOf(seq))
        dm.put("min_sequence_number", java.lang.Long.valueOf(seq))
        dm.put("added_snapshot_id", java.lang.Long.valueOf(snapshotId))
        dm.put("added_files_count", Integer.valueOf(dFiles.toInt))
        dm.put("existing_files_count", Integer.valueOf(0))
        dm.put("deleted_files_count", Integer.valueOf(0))
        dm.put("added_rows_count", java.lang.Long.valueOf(dRows))
        dm.put("existing_rows_count", java.lang.Long.valueOf(0L))
        dm.put("deleted_rows_count", java.lang.Long.valueOf(0L))
        lw.append(dm)
      }
    } finally lw.close()

    // ---- vN.metadata.json: previous snapshots + snapshot-log carry
    // forward so the Iceberg history mirrors graft's
    val (prevSnaps, prevLog) =
      if (prevN == 0) (Nil, Nil)
      else {
        val prev = JsonMethods.parse(Files.readString(
          new File(metaDir, s"v$prevN.metadata.json").toPath))
        ((prev \ "snapshots") match {
          case JArray(a) => a; case _ => Nil
        }, (prev \ "snapshot-log") match {
          case JArray(a) => a; case _ => Nil
        })
      }
    val snapJson = JObject(List(
      "snapshot-id" -> JLong(snapshotId),
      "timestamp-ms" -> JLong(ts),
      "sequence-number" -> JLong(seq),
      "summary" -> JObject(List(
        "operation" -> JString(operation),
        "graft-version" -> JString(v.toString))),
      "manifest-list" -> JString(listFile.getAbsolutePath),
      "schema-id" -> JInt(schemaId)))
    val carriedSnaps: List[JValue] = (prevSnaps :+ snapJson)
      .takeRight(math.max(1, keepSnapshots))
    // graft TAGS export as the spec's named refs (plus the required
    // `main` branch at the current snapshot) — by-name time travel
    // for foreign readers. Only tags whose pinned version is among
    // the CARRIED snapshots export (a ref to a snapshot the
    // metadata does not hold would refuse to load); graft BRANCHES
    // stay behind — their heads live on their own logs, and a
    // branch ref pinned at the fork point would misreport the
    // branch as having no commits of its own.
    val carriedIds: Set[Long] = carriedSnaps.map(s =>
      (s \ "snapshot-id") match {
        case JInt(i) => i.toLong; case JLong(l) => l; case _ => -1L
      }).toSet
    val refsJson = JObject(
      ("main" -> (JObject(List(
        "snapshot-id" -> JLong(snapshotId),
        "type" -> JString("branch"))): JValue)) ::
        log.refsAt(v).toList.sortBy(_._1).collect {
          case (name, ("tag", ver)) if carriedIds.contains(ver) =>
            name -> (JObject(List(
              "snapshot-id" -> JLong(ver),
              "type" -> JString("tag"))): JValue)
        })
    val meta = JObject(List(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(tableUuid),
      "location" -> JString(root),
      "last-sequence-number" -> JLong(seq),
      "last-updated-ms" -> JLong(ts),
      "last-column-id" -> JInt(lastColumnId),
      "current-schema-id" -> JInt(schemaId),
      "schemas" -> JArray(schemasJson),
      "default-spec-id" -> JInt(specId),
      "partition-specs" -> JArray(specsJsonAll),
      "last-partition-id" -> JInt(lastPartitionId),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(List(
        "order-id" -> JInt(0), "fields" -> JArray(Nil))))),
      "properties" -> JObject(List(
        "schema.name-mapping.default" -> JString(JsonMethods.compact(
          JsonMethods.render(nameMappingJson(mySchemaRender)))))),
      "current-snapshot-id" -> JLong(snapshotId),
      "refs" -> refsJson,
      "snapshots" -> JArray(carriedSnaps),
      "snapshot-log" -> JArray((prevLog :+ JObject(List(
        "timestamp-ms" -> JLong(ts),
        "snapshot-id" -> JLong(snapshotId))))
        .takeRight(math.max(1, keepSnapshots))),
      "metadata-log" -> JArray(Nil)))
    val target = new File(metaDir, s"v$n.metadata.json")
    val tmp = new File(metaDir, s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp.toPath,
      JsonMethods.pretty(JsonMethods.render(meta)))
    Files.move(tmp.toPath, target.toPath,
      StandardCopyOption.ATOMIC_MOVE)
    Files.writeString(new File(metaDir, "version-hint.text").toPath,
      n.toString)
    target.getPath
  }

  /** One-call INCREMENTAL MIRROR of the table as Iceberg metadata —
    * the [[DeltaExport.mirrorDelta]] analog: exports the current
    * snapshot when the mirror is behind (idempotent — a current
    * mirror is a no-op), then applies RETENTION so a FOLLOWED mirror
    * stays bounded: at most `keepSnapshots` snapshots carry in the
    * new metadata (the expire-snapshots analog), at most
    * `keepMetadata` `vN.metadata.json` files stay on disk (the
    * `write.metadata.previous-versions-max` analog), and Avro
    * manifest-lists/manifests that no RETAINED metadata references
    * sweep as orphans. Returns the newly exported metadata path,
    * None when the mirror was already current. */
  def mirrorIceberg(spark: SparkSession, log: LogTable,
                    keepMetadata: Int = 10,
                    keepSnapshots: Int = 100): Option[String] = {
    require(keepMetadata >= 1 && keepSnapshots >= 1,
      "mirrorIceberg retention needs keepMetadata/keepSnapshots >= 1")
    val metaDir = new File(log.path, "metadata")
    val hint = new File(metaDir, "version-hint.text")
    val prevN: Int =
      if (hint.isFile) Files.readString(hint.toPath).trim.toInt else 0
    val p = exportIcebergMetadata(spark, log,
      keepSnapshots = keepSnapshots)
    val exported =
      Files.readString(hint.toPath).trim.toInt != prevN
    // metadata-file retention: keep the newest `keepMetadata`
    val metas = Option(metaDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
      .map(f => f.getName.stripPrefix("v")
        .stripSuffix(".metadata.json").toInt -> f)
    val keepNs = metas.map(_._1).sorted
      .takeRight(keepMetadata).toSet
    metas.filterNot(m => keepNs.contains(m._1)).foreach(_._2.delete())
    // orphan sweep: an Avro file survives iff SOME retained
    // metadata's snapshot chain references it (manifest-list
    // directly, manifest through its list) — expired snapshots'
    // manifests reclaim, exactly like data-file vacuum
    val referenced = scala.collection.mutable.Set.empty[String]
    // delete-file dirs (`_ice_deletes/<uuid>/`) referenced by any
    // RETAINED delete manifest stay; superseded exports' dirs
    // reclaim below, exactly like orphan manifests
    val referencedDelDirs = scala.collection.mutable.Set.empty[String]
    metas.filter(m => keepNs.contains(m._1)).foreach { case (_, f) =>
      (JsonMethods.parse(Files.readString(f.toPath)) \
        "snapshots") match {
        case JArray(ss) => ss.foreach { s =>
          (s \ "manifest-list") match {
            case JString(lp) =>
              val lf = new File(lp)
              referenced += lf.getCanonicalPath
              if (lf.isFile) {
                val lr = new DataFileReader[GenericRecord](lf,
                  new GenericDatumReader[GenericRecord]())
                try while (lr.hasNext) {
                  val entry = lr.next()
                  val mf = new File(entry.get("manifest_path").toString)
                  referenced += mf.getCanonicalPath
                  val content =
                    if (entry.getSchema.getField("content") == null) 0
                    else Option(entry.get("content")).map(
                      _.asInstanceOf[Number].intValue()).getOrElse(0)
                  if (content == 1 && mf.isFile) {
                    val dr = new DataFileReader[GenericRecord](mf,
                      new GenericDatumReader[GenericRecord]())
                    try while (dr.hasNext) {
                      val df = dr.next().get("data_file")
                        .asInstanceOf[GenericRecord]
                      referencedDelDirs += new File(
                        df.get("file_path").toString)
                        .getParentFile.getCanonicalPath
                    } finally dr.close()
                  }
                } finally lr.close()
              }
            case _ => ()
          }
        }
        case _ => ()
      }
    }
    Option(metaDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".avro") &&
        !referenced.contains(f.getCanonicalPath))
      .foreach(_.delete())
    val delRoot = new File(log.path, "_ice_deletes")
    Option(delRoot.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        !referencedDelDirs.contains(d.getCanonicalPath))
      .foreach { d =>
        def rm(f: File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(d)
      }
    if (exported) Some(p) else None
  }

  /** One manifest-entry partition value back to graft's hive-style
    * string form, typed by its Avro field schema (date logical type
    * → ISO date; everything else via toString). */
  private def partValueString(
      fieldSchema: org.apache.avro.Schema, v: AnyRef): Option[String] = {
    if (v == null) return None
    import scala.jdk.CollectionConverters._
    val nn =
      if (fieldSchema.getType == org.apache.avro.Schema.Type.UNION)
        fieldSchema.getTypes.asScala
          .find(_.getType != org.apache.avro.Schema.Type.NULL)
          .getOrElse(fieldSchema)
      else fieldSchema
    if (Option(nn.getLogicalType).exists(_.getName == "date"))
      Some(java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Number].longValue()).toString)
    else Some(v.toString)
  }

  /** Read exported Iceberg metadata back: version-hint → metadata
    * JSON → current snapshot → manifest list → manifests → live
    * files. THIS library's reader for the format (no Iceberg runtime
    * exists here) — the round-trip proxy. */
  private final case class IceSpecFieldIn(name: String,
      transform: String, sourceId: Int)

  /** Driver-side METADATA read of an Iceberg table: version-hint →
    * current metadata JSON → current snapshot's manifest list —
    * O(#manifests), per-file entries never touched. Returns (schema
    * fields with their Iceberg field ids, the DEFAULT partition
    * spec's fields, manifest paths). Refuses DELETE manifests from
    * the list's own `content` field (v2 position/equality deletes —
    * ignoring them would resurrect rows). */
  private def readIcebergMeta(tableRoot: String)
      : (Seq[(StructField, Int)], Seq[IceSpecFieldIn], Seq[String],
         Seq[String]) = {
    val metaDir = new File(tableRoot, "metadata")
    val hint = new File(metaDir, "version-hint.text")
    require(hint.isFile, s"no metadata/version-hint.text under $tableRoot")
    val n = Files.readString(hint.toPath).trim.toInt
    val meta = JsonMethods.parse(Files.readString(
      new File(metaDir, s"v$n.metadata.json").toPath))
    (meta \ "format-version") match {
      case JInt(fv) if fv <= 2 => ()
      case other => throw new IllegalStateException(
        s"the Iceberg metadata at $tableRoot declares format-version " +
          s"$other — this import reads v1/v2 only; refusing to " +
          "half-read")
    }
    val curId = (meta \ "current-snapshot-id") match {
      case JInt(i) => i.toLong; case JLong(l) => l
      case _ => throw new IllegalStateException("no current-snapshot-id")
    }
    val curSchemaId = (meta \ "current-schema-id") match {
      case JInt(i) => i.toInt; case _ => 0
    }
    val schemaJ = (meta \ "schemas") match {
      case JArray(ss) => ss.find(s => (s \ "schema-id") ==
        JInt(BigInt(curSchemaId))).getOrElse(ss.head)
      case _ => throw new IllegalStateException("no schemas array")
    }
    val fields: Seq[(StructField, Int)] = (schemaJ \ "fields") match {
      case JArray(fs) => fs.map { f =>
        val id = (f \ "id") match {
          case JInt(i) => i.toInt; case JLong(l) => l.toInt
          case _       => -1
        }
        StructField((f \ "name").asInstanceOf[JString].s,
          sparkTypeOf(f \ "type")) -> id
      }
      case _ => Nil
    }
    // the DEFAULT spec, by id — after partition evolution the specs
    // array holds history and the head is not necessarily current
    val defaultSpecId = (meta \ "default-spec-id") match {
      case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => 0
    }
    val specFields: Seq[IceSpecFieldIn] =
      (meta \ "partition-specs") match {
        case JArray(specs) => specs
          .find(s => (s \ "spec-id") == JInt(BigInt(defaultSpecId)))
          .orElse(specs.headOption).toList.flatMap(s =>
            (s \ "fields") match {
              case JArray(fs) => fs.map { f =>
                val sid = (f \ "source-id") match {
                  case JInt(i) => i.toInt; case JLong(l) => l.toInt
                  case _       => -1
                }
                IceSpecFieldIn((f \ "name").asInstanceOf[JString].s,
                  (f \ "transform") match {
                    case JString(t) => t; case _ => "identity"
                  }, sid)
              }
              case _ => Nil
            })
        case _ => Nil
      }
    val snap = (meta \ "snapshots") match {
      case JArray(ss) => ss.find { s =>
        (s \ "snapshot-id") match {
          case JInt(i)  => i.toLong == curId
          case JLong(l) => l == curId
          case _        => false
        }
      }.getOrElse(throw new IllegalStateException(
        s"current-snapshot-id $curId not in snapshots"))
      case _ => throw new IllegalStateException("no snapshots array")
    }
    val listPath = (snap \ "manifest-list").asInstanceOf[JString].s
    val manifests = scala.collection.mutable.ArrayBuffer.empty[String]
    val delManifests = scala.collection.mutable.ArrayBuffer.empty[String]
    val lr = new DataFileReader[GenericRecord](new File(listPath),
      new GenericDatumReader[GenericRecord]())
    try while (lr.hasNext) {
      val m = lr.next()
      // content 1 = a DELETE manifest (v2 position/equality
      // deletes) — returned separately: [[convertFromIceberg]]
      // decodes POSITION deletes into graft `_dv` pair form
      // (equality deletes refuse at entry-read time); callers that
      // cannot subtract ([[loadIceberg]], [[readIcebergSnapshot]])
      // refuse on a non-empty delete list, never half-read. (v1
      // manifests lack the field: data by definition.)
      val content =
        if (m.getSchema.getField("content") == null) 0
        else Option(m.get("content")).map(
          _.asInstanceOf[Number].intValue()).getOrElse(0)
      if (content == 0) manifests += m.get("manifest_path").toString
      else delManifests += m.get("manifest_path").toString
    } finally lr.close()
    (fields, specFields, manifests.toSeq, delManifests.toSeq)
  }

  /** The proxy readers cannot subtract delete files — refuse, never
    * half-read (resurrecting deleted rows would be silent wrong
    * results). [[convertFromIceberg]] is the route that CAN. */
  private def requireNoDeletes(tableRoot: String,
                               delManifests: Seq[String]): Unit =
    if (delManifests.nonEmpty) throw new IllegalStateException(
      s"the Iceberg table at $tableRoot carries DELETE manifests " +
        "(v2 position/equality deletes) — this reader cannot " +
        "subtract them; use convertFromIceberg (which decodes " +
        "position deletes) and read the graft table")

  /** One DELETE manifest's live entries — (delete file path,
    * record_count). POSITION deletes only: an equality delete
    * (content=2) refuses — its predicate-based semantics cannot be
    * decoded into positions without scanning data; a content=0
    * entry inside a delete manifest is malformed and refuses too. */
  private def readDeleteManifestEntries(tableRoot: String,
      mp: String): Seq[(String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long)]
    val mr = new DataFileReader[GenericRecord](new File(mp),
      new GenericDatumReader[GenericRecord]())
    try while (mr.hasNext) {
      val e = mr.next()
      val status = e.get("status").asInstanceOf[Integer].intValue()
      if (status != 2) { // 2 = DELETED
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val content =
          if (df.getSchema.getField("content") == null) 0
          else Option(df.get("content")).map(
            _.asInstanceOf[Number].intValue()).getOrElse(0)
        content match {
          case 1 => out += ((df.get("file_path").toString,
            df.get("record_count").asInstanceOf[java.lang.Long]
              .longValue()))
          case 2 => throw new IllegalStateException(
            s"the Iceberg table at $tableRoot carries EQUALITY " +
              "delete files — predicate deletes cannot be decoded " +
              "into positions without scanning data; compact the " +
              "table Iceberg-side first, refusing to half-read")
          case other => throw new IllegalStateException(
            s"malformed delete manifest $mp: entry content=$other")
        }
      }
    } finally mr.close()
    out.toSeq
  }

  /** One typed manifest partition value back to the HIVE STRING
    * graft stores for the corresponding (identity or hidden)
    * partition column — the inverse of [[icePartFields]]' toTyped.
    * Static + string-dispatched so executor tasks carry no closures
    * beyond a string map. */
  private def pvString(transform: String,
      fieldSchema: org.apache.avro.Schema, v: AnyRef)
      : Option[String] =
    if (v == null) None
    else transform match {
      case "identity" => partValueString(fieldSchema, v)
      case "year" =>
        Some((1970 + v.asInstanceOf[Number].intValue()).toString)
      case "month" =>
        val m = v.asInstanceOf[Number].intValue()
        val y = 1970 + java.lang.Math.floorDiv(m, 12)
        val mo = java.lang.Math.floorMod(m, 12) + 1
        Some(f"$y%04d-$mo%02d-01 00%%3A00%%3A00")
      case "day" => Some(java.time.LocalDate
        .ofEpochDay(v.asInstanceOf[Number].longValue()).toString)
      case "hour" =>
        val h = v.asInstanceOf[Number].longValue()
        Some(java.time.LocalDateTime
          .ofEpochSecond(h * 3600L, 0, java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))
          .replace(":", "%3A"))
      case t if t.startsWith("truncate") => Some(v.toString)
      case t if t.startsWith("bucket") => Some(v.toString)
      case other => throw new IllegalStateException(
        s"unsupported partition transform in foreign metadata: $other")
    }

  /** One manifest's live entries — (file_path, record_count,
    * file_size_in_bytes, typed partition values, graft stats decoded
    * from null counts + single-value bounds). STATIC and
    * per-manifest so [[convertFromIceberg]] fans the read out to
    * executors; [[readIcebergSnapshot]] walks the same code on the
    * driver for the proxy reader. `typeOfId` resolves bound keys. */
  private def readManifestEntries(tableRoot: String, mp: String,
      typeOfId: Map[Int, (String, DataType)],
      pvConv: Map[String, (String, String)])
      : Seq[(String, Long, Long, Map[String, String],
             Map[String, ColStats])] = {
    import scala.jdk.CollectionConverters._
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Map[String, String],
              Map[String, ColStats])]
    val mr = new DataFileReader[GenericRecord](new File(mp),
      new GenericDatumReader[GenericRecord]())
    try while (mr.hasNext) {
      val e = mr.next()
      val status = e.get("status").asInstanceOf[Integer].intValue()
      if (status != 2) { // 2 = DELETED
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val fileContent =
          if (df.getSchema.getField("content") == null) 0
          else Option(df.get("content")).map(
            _.asInstanceOf[Number].intValue()).getOrElse(0)
        if (fileContent != 0) throw new IllegalStateException(
          s"the Iceberg table at $tableRoot carries delete FILES " +
            "(data_file.content != 0) — this reader cannot " +
            "subtract them; refusing to half-read")
        // partition values come from the TYPED manifest struct —
        // never re-parsed from the path (non-hive layouts and
        // escaped values would mislead)
        val pvRec = Option(df.get("partition"))
          .map(_.asInstanceOf[GenericRecord])
        val pv: Map[String, String] = pvRec.map { r =>
          r.getSchema.getFields.asScala.flatMap { f =>
            pvConv.get(f.name()).toSeq.flatMap {
              case (graftName, transform) =>
                pvString(transform, f.schema(), r.get(f.name()))
                  .map(graftName -> _)
            }
          }.toMap
        }.getOrElse(Map.empty)
        // decode the skipping stats the manifest carries: absent
        // fields (v1 writers, truncating writers) just mean fewer
        // prunable columns
        def kvMap(field: String): Map[Int, AnyRef] =
          if (df.getSchema.getField(field) == null) Map.empty
          else Option(df.get(field)) match {
            case Some(arr: java.util.Collection[_]) =>
              arr.asScala.map { r0 =>
                val r = r0.asInstanceOf[GenericRecord]
                r.get("key").asInstanceOf[Number].intValue() ->
                  r.get("value").asInstanceOf[AnyRef]
              }.toMap
            case Some(m: java.util.Map[_, _]) =>
              // string-keyed Avro map form some writers emit
              m.asScala.map { case (k, v) =>
                k.toString.toInt -> v.asInstanceOf[AnyRef] }.toMap
            case _ => Map.empty
          }
        def bytesOf(v: AnyRef): Array[Byte] = v match {
          case b: java.nio.ByteBuffer =>
            val d = b.duplicate(); val a = new Array[Byte](d.remaining())
            d.get(a); a
          case a: Array[Byte] => a
          case other => other.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        val nullsBy = kvMap("null_value_counts").map { case (k, v) =>
          k -> v.asInstanceOf[Number].longValue() }
        val lowsBy = kvMap("lower_bounds")
        val upsBy = kvMap("upper_bounds")
        val stats: Map[String, ColStats] =
          (lowsBy.keySet ++ upsBy.keySet ++ nullsBy.keySet)
            .flatMap(id => typeOfId.get(id).map { case (name, dt) =>
              name -> ColStats(
                lowsBy.get(id).flatMap(b => boundValue(dt, bytesOf(b))),
                upsBy.get(id).flatMap(b => boundValue(dt, bytesOf(b))),
                nullsBy.getOrElse(id, 0L))
            })
            .filter(s => s._2.min.isDefined || s._2.max.isDefined ||
              s._2.nulls > 0L)
            .toMap
        out += ((df.get("file_path").toString,
          df.get("record_count").asInstanceOf[java.lang.Long]
            .longValue(),
          Option(df.get("file_size_in_bytes"))
            .map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
          pv, stats))
      }
    } finally mr.close()
    out.toSeq
  }

  /** Resolve the default spec's fields to (graft partition column
    * name, transform) per foreign spec-field name, plus the
    * partitionBy entries a graft re-creation of the layout needs.
    * Bucket refuses (hash incompatibility — graft writes would
    * bucket by a DIFFERENT hash than the foreign values, making
    * the column's stats a mix of two functions: unsound skipping);
    * timestamptz time transforms require a UTC session (graft pins
    * the session zone at create; only UTC agrees with Iceberg's
    * UTC-defined transforms). */
  private def graftPartLayout(tableRoot: String,
      ids: Seq[(StructField, Int)], specFields: Seq[IceSpecFieldIn],
      sessionTz: String)
      : (Seq[String], Map[String, (String, String)]) = {
    val byId = ids.map { case (f, id) => id -> f }.toMap
    val resolved = specFields.map { sf =>
      val src = byId.getOrElse(sf.sourceId,
        throw new IllegalStateException(
          s"partition field '${sf.name}' references unknown " +
            s"source-id ${sf.sourceId}"))
      def requireUtc(): Unit =
        if (src.dataType == TimestampType)
          require(isUtc(sessionTz),
            s"cannot import transform '${sf.transform}' over " +
              s"timestamptz column '${src.name}' under session " +
              s"zone '$sessionTz' — Iceberg's time transforms are " +
              "UTC-defined and graft pins the session zone at " +
              "create; set spark.sql.session.timeZone to UTC")
      sf.transform match {
        case "identity" =>
          (src.name, sf.name -> (src.name, "identity"))
        case "year" => requireUtc()
          (s"years(${src.name})",
            sf.name -> (s"${src.name}_year", "year"))
        case "month" => requireUtc()
          (s"months(${src.name})",
            sf.name -> (s"${src.name}_month", "month"))
        case "day" => requireUtc()
          (s"days(${src.name})",
            sf.name -> (s"${src.name}_day", "day"))
        case "hour" => requireUtc()
          (s"hours(${src.name})",
            sf.name -> (s"${src.name}_hour", "hour"))
        case t if t.startsWith("truncate[") =>
          val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
          (s"truncate($w,${src.name})",
            sf.name -> (s"${src.name}_trunc_$w", t))
        case t if t.startsWith("bucket[") =>
          // rebuilt as graft's iceberg_bucket transform: future
          // graft writes compute the SPEC's hash (IcebergBucketHash)
          // for the same column, so the hidden column's stats stay
          // ONE hash function — sound skipping on both sides
          val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
          (s"iceberg_bucket($n,${src.name})",
            sf.name -> (s"${src.name}_ibucket_$n", t))
        case other => throw new IllegalArgumentException(
          s"unsupported Iceberg partition transform '$other' at " +
            s"$tableRoot")
      }
    }
    (resolved.map(_._1), resolved.map(_._2).toMap)
  }

  /** Normalize one foreign manifest `file_path` to the table-relative
    * form graft registers. Real Iceberg writers emit absolute paths
    * or full URIs: a `file:`-scheme URI decodes to its filesystem
    * form (URI-parsed when well-formed, scheme-stripped when the
    * writer skipped percent-encoding) and then relativizes like any
    * absolute path; any OTHER scheme (s3://, hdfs://) refuses —
    * falling through would register the URI verbatim as a
    * table-relative path, a dangling reference; an absolute path
    * outside the table root refuses. Static + executor-safe (the
    * convert fans manifest reads out as a Spark job). */
  private[graft] def relativizeForeignPath(root: String,
                                           p0: String): String = {
    val p =
      if (p0.startsWith("file:"))
        scala.util.Try(
          new File(new java.net.URI(p0)).getAbsolutePath)
          .getOrElse(new File(p0.stripPrefix("file:")).getAbsolutePath)
      else if (DeltaExport.hasUriScheme(p0))
        throw new IllegalArgumentException(
          s"the Iceberg table at $root references a fully-qualified " +
            s"URI ($p0) — this import registers table-relative paths " +
            "only; co-locate the files under the table root first")
      else p0
    if (p.startsWith(root + "/")) p.substring(root.length + 1)
    else if (p.startsWith("/"))
      throw new IllegalArgumentException(
        s"the Iceberg table at $root references a file outside the " +
          s"table root ($p) — this import registers table-relative " +
          "paths only; co-locate the files first")
    else p
  }

  def readIcebergSnapshot(spark: SparkSession, tableRoot: String)
      : (StructType, Seq[String],
         Seq[(String, Long, Map[String, String])]) = {
    val (ids, specFields, manifests, delManifests) =
      readIcebergMeta(tableRoot)
    requireNoDeletes(tableRoot, delManifests)
    val typeOfId = ids.map { case (f, id) =>
      id -> (f.name, f.dataType) }.toMap
    val (_, pvConv) = graftPartLayout(tableRoot, ids, specFields,
      spark.sessionState.conf.sessionLocalTimeZone)
    val files = manifests.flatMap(mp =>
      readManifestEntries(tableRoot, mp, typeOfId, pvConv)
        .map(e => (e._1, e._2, e._4)))
    (StructType(ids.map(_._1)), specFields.map(_.name), files)
  }

  /** CONVERT FROM ICEBERG metadata (the reverse of
    * [[exportIcebergMetadata]], Iceberg's own `add_files`/migrate
    * shape): resolve the current snapshot's manifests, fan the
    * per-file entry read out as a SPARK JOB (one task per manifest
    * group — the driver holds the manifest PATH list, never the
    * file list), and register the files BY REFERENCE through
    * [[LogTable.registerFilesFrom]] — zero data movement. Rows come
    * from the manifests' `record_count`, sizes from the
    * spec-required `file_size_in_bytes` (no filesystem call per
    * file), and column bounds decode from the manifests'
    * single-value-serialized `lower_bounds`/`upper_bounds` (+
    * `null_value_counts`), so a converted table PRUNES from commit
    * one. Partition values come typed from the manifest struct.
    * V2 POSITION DELETES convert too: delete manifests' parquet
    * files decode on executors into graft `_dv` pair form
    * (de-duplicated — the spec allows the same position in several
    * delete files), and each vectored file registers with its pair
    * reference + cardinality through the same distributed fold.
    * EQUALITY deletes refuse by name.
    * Refuses a root that already holds a graft log, and file paths
    * that do not live under the table root (silently re-rooting
    * them would register dangling references); `file:`-scheme URIs
    * (what real Iceberg writers emit) decode to their filesystem
    * form first, any other scheme (s3://, hdfs://) refuses. */
  def convertFromIceberg(spark: SparkSession,
                         tableRoot: String): LogTable = {
    val pre = new LogTable(tableRoot)
    require(pre.currentVersion.isEmpty,
      s"a graft log table already exists at $tableRoot")
    val (ids, specFields, manifests, delManifests) =
      readIcebergMeta(tableRoot)
    val schema = StructType(ids.map(_._1))
    val typeOfId = ids.map { case (f, id) =>
      id -> (f.name, f.dataType) }.toMap
    // TRANSFORM layouts re-create as graft hidden partitioning: the
    // partitionBy specs rebuild the same transforms, and the foreign
    // manifests' typed partition values convert to the hive strings
    // graft stores for the hidden columns (bucket refuses — hash
    // incompatibility; see graftPartLayout)
    val (partitionBy, pvConv) = graftPartLayout(tableRoot, ids,
      specFields, spark.sessionState.conf.sessionLocalTimeZone)
    val partSet = pvConv.values.map(_._1).toSet
    val root = new File(tableRoot).getAbsolutePath
    val rootB = root // stable closure capture
    val t = new LogTable(tableRoot)
    t.create(schema, partitionBy = partitionBy)

    // foreign POSITION DELETES decode into graft `_dv` pair form
    // BEFORE any commit references the pair dir (the DeltaExport DV
    // import discipline): the driver holds the delete-FILE path
    // list (one string per delete file — row-level content streams
    // through executors), the pair key is verified against ONE real
    // scan, and (rel, uri, idx) rows de-duplicate — the spec allows
    // the same position in several delete files, graft's per-file
    // cardinality must count it once. Deletes referencing files the
    // current snapshot no longer carries leave harmless unmatched
    // pairs (the read-side anti-join never sees their URI).
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.functions.{count, lit}
    val dvState: Option[(String, DataFrame)] =
      if (delManifests.isEmpty) None
      else {
        val delFiles = delManifests.flatMap(mp =>
          readDeleteManifestEntries(rootB, mp))
        val absDel = delFiles.map { case (p0, _) =>
          new File(rootB, relativizeForeignPath(rootB, p0)).getPath }
        val raw =
          if (absDel.isEmpty) None
          else Some(spark.read.parquet(absDel: _*)
            .select(col("file_path").cast("string"),
              col("pos").cast("long")))
        val sample = raw.toSeq
          .flatMap(_.select(col("file_path")).limit(1).collect())
        if (sample.isEmpty) None
        else {
          val sampleAbs = new File(rootB,
            relativizeForeignPath(rootB, sample.head.getString(0)))
            .getPath
          val actual = spark.read.parquet(sampleAbs)
            .select(col("_metadata.file_path")).limit(1)
            .collect().headOption.map(_.getString(0))
          val expected = DeltaExport.scanUriOf(sampleAbs)
          require(actual.contains(expected),
            s"scan-URI rendering drift: _metadata.file_path gives " +
              s"'${actual.orNull}' where this import would key " +
              s"pairs on '$expected' — refusing to import position " +
              "deletes that would silently not subtract")
          val dvRel = s"_dv/${UUID.randomUUID()}"
          val rootC = rootB // stable closure capture
          val pairs = raw.get
            .as[(String, Long)](E.tuple(E.STRING, E.scalaLong))
            .map { case (fp, pos) =>
              val r = relativizeForeignPath(rootC, fp)
              (r, DeltaExport.scanUriOf(
                new File(rootC, r).getPath), pos)
            }(E.tuple(E.STRING, E.STRING, E.scalaLong))
            .toDF("rel", "file", "idx")
            .distinct()
          pairs.select(col("file"), col("idx"))
            .repartition(col("file"))
            .write.parquet(s"$rootB/$dvRel")
          // per-data-file cardinalities from the WRITTEN pairs (the
          // small side — never a second pass over the foreign
          // delete files), keyed back to table-relative form
          val counts = spark.read.parquet(s"$rootB/$dvRel")
            .select(col("file").cast("string"))
            .as[String](E.STRING)
            .map { uri =>
              val abs =
                if (uri.startsWith("file:"))
                  new File(new java.net.URI(uri)).getAbsolutePath
                else new File(uri).getAbsolutePath
              require(abs.startsWith(rootC + "/"),
                s"imported DV pair outside the table root: $abs")
              abs.substring(rootC.length + 1)
            }(E.STRING)
            .toDF("rel")
            .groupBy(col("rel")).agg(count(lit(1)).as("__dvn"))
          Some((dvRel, counts))
        }
      }

    if (manifests.nonEmpty) {
      val enc = org.apache.spark.sql.Encoders.product[CkptAdd]
      val perManifest = 1L << 40 // entry-index spacing per manifest
      val ds = spark.createDataset(
        spark.sparkContext.parallelize(
          manifests.zipWithIndex,
          math.min(manifests.size, 64))
          .flatMap { case (mp, mi) =>
            readManifestEntries(rootB, mp, typeOfId, pvConv).iterator
              .zipWithIndex.map { case ((p0, n, bytes, pv, st), i) =>
                val rel = relativizeForeignPath(rootB, p0)
                CkptAdd(mi * perManifest + i, rel, n, bytes,
                  LogCodec.encodeStats(st),
                  pv.view.filterKeys(partSet.contains).toMap,
                  None, None, None)
              }
          })(enc)
      // vectored files take their pair-dir reference + cardinality
      // through the SAME distributed fold (never a driver pass)
      val ds2 = dvState match {
        case None => ds
        case Some((dvRel, counts)) =>
          val dvRelB = dvRel
          ds.joinWith(counts,
              ds("path") === counts("rel"), "left_outer")
            .map { case (a, c) =>
              if (c == null) a
              else {
                val nDel = c.getAs[Long]("__dvn")
                if (nDel > a.rows)
                  throw new IllegalStateException(
                    s"file ${a.path} carries $nDel delete positions " +
                      s"but only ${a.rows} rows — malformed foreign " +
                      "deletes, refusing to convert")
                a.copy(dvPath = Some(dvRelB), dvRows = Some(nDel))
              }
            }(enc)
      }
      t.registerFilesFrom(spark, ds2, op = "convert")
    }
    t
  }

  /** Snapshot DataFrame over exported Iceberg metadata — the
    * round-trip read (hive partition discovery when partitioned).
    * PROXY READER ONLY: the plan splats one driver-held path per
    * live file, so for big (>10k-file) foreign tables the
    * documented route is [[convertFromIceberg]] then a LogTable
    * scan — distributed manifest, file-skipping, no path splat. */
  def loadIceberg(spark: SparkSession, tableRoot: String): DataFrame = {
    val (ids, specFields, manifests, delManifests) =
      readIcebergMeta(tableRoot)
    requireNoDeletes(tableRoot, delManifests)
    val schema = StructType(ids.map(_._1))
    val typeOfId = ids.map { case (f, id) =>
      id -> (f.name, f.dataType) }.toMap
    val (_, pvConv) = graftPartLayout(tableRoot, ids, specFields,
      spark.sessionState.conf.sessionLocalTimeZone)
    val paths = manifests.flatMap(mp =>
      readManifestEntries(tableRoot, mp, typeOfId, pvConv).map(_._1))
    if (paths.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val hasTransform = specFields.exists(_.transform != "identity")
    val identityCols = specFields.filter(_.transform == "identity")
    // a TRANSFORM layout's schema columns all live IN the data files
    // (the hive dirs hold derived values) — read the paths directly,
    // no partition discovery; identity layouts recover their
    // partition columns from the dirs as before. A MIXED layout
    // cannot do both in one proxy scan — convert-then-scan serves it.
    require(!(hasTransform && identityCols.nonEmpty),
      s"the Iceberg table at $tableRoot mixes identity and " +
        "transform partition fields — this proxy reader cannot " +
        "recover identity values and skip derived dirs in one " +
        "scan; use convertFromIceberg and read the graft table")
    val reader = spark.read.schema(schema)
    if (identityCols.isEmpty) reader.parquet(paths: _*)
    else reader.option("basePath", s"$tableRoot/data")
      .parquet(paths: _*)
  }
}
