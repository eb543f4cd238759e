package graft.sources

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One action of a [[LogTable]] commit — one JSONL line of
  * `_log/%020d.json`, in the shape of Delta's PROTOCOL.md actions
  * (Armbrust et al., VLDB 2020). A commit is a `Seq[LogAction]`;
  * [[LogCodec]] is the one place that knows each action's JSON. */
sealed trait LogAction

object LogAction {
  /** The commit's own line: in-commit timestamp, operation, the
    * change-feed directory it wrote (if any) and its idempotent-txn
    * tag `(appId, batchId)`. */
  final case class CommitInfo(ts: Long, op: String,
                              cdf: Option[String] = None,
                              txn: Option[(String, Long)] = None)
    extends LogAction
  final case class Add(file: AddFile) extends LogAction
  final case class Remove(path: String) extends LogAction
  /** A by-reference add set ([[AddsRef]]): a parquet sidecar of
    * manifest rows instead of one inline `add` line per file. */
  final case class AddByRef(ref: AddsRef) extends LogAction

  /** A metadata action carries the FULL post-change value of one
    * metadata key: replay keeps the latest wholesale
    * ([[TableMeta.fold]]). */
  sealed trait Meta extends LogAction
  final case class SetSchema(schema: StructType) extends Meta
  final case class SetPartition(cols: Seq[String]) extends Meta
  final case class SetBloom(cols: Seq[String]) extends Meta
  final case class SetConstraints(checks: Map[String, String]) extends Meta
  final case class SetGenerated(exprs: Map[String, String]) extends Meta
  final case class SetRetired(names: Set[String]) extends Meta
  final case class SetTz(zone: String) extends Meta
  final case class SetIdentity(cols: Map[String, IdentitySpec]) extends Meta
  final case class SetDefaults(exprs: Map[String, String]) extends Meta
  final case class SetProperties(props: Map[String, String]) extends Meta
  final case class SetTransforms(specs: Map[String, String]) extends Meta
  final case class SetRefs(refs: Map[String, String]) extends Meta
  final case class SetProtocol(protocol: Protocol) extends Meta
}

/** The metadata state of a [[LogTable]] version — everything a
  * snapshot knows except its file list. Replay folds metadata
  * actions into it; a checkpoint header stores it whole. */
final case class TableMeta(schema: Option[StructType] = None,
                           partitionCols: Seq[String] = Seq.empty,
                           bloomCols: Seq[String] = Seq.empty,
                           constraints: Map[String, String] = Map.empty,
                           generated: Map[String, String] = Map.empty,
                           retiredNames: Set[String] = Set.empty,
                           tz: Option[String] = None,
                           identity: Map[String, IdentitySpec] = Map.empty,
                           defaults: Map[String, String] = Map.empty,
                           properties: Map[String, String] = Map.empty,
                           transforms: Map[String, String] = Map.empty,
                           refs: Map[String, String] = Map.empty,
                           protocol: Option[Protocol] = None) {
  import LogAction._

  /** One action per non-empty key: the commit that sets this state
    * on a fresh table. */
  def actions: Seq[Meta] =
    (schema.map(SetSchema).toSeq ++ Seq(SetPartition(partitionCols),
      SetBloom(bloomCols), SetConstraints(constraints),
      SetGenerated(generated), SetRetired(retiredNames)) ++
      tz.map(SetTz) ++ Seq(SetIdentity(identity), SetDefaults(defaults),
        SetProperties(properties), SetTransforms(transforms),
        SetRefs(refs)) ++ protocol.map(SetProtocol))
      .filter(a => TableMeta.fold(TableMeta(), a) != TableMeta())
}

object TableMeta {
  import LogAction._

  /** Apply one action: metadata replaces its key, every other action
    * leaves the metadata as it is. */
  def fold(m: TableMeta, a: LogAction): TableMeta = a match {
    case SetSchema(s)       => m.copy(schema = Some(s))
    case SetPartition(c)    => m.copy(partitionCols = c)
    case SetBloom(c)        => m.copy(bloomCols = c)
    case SetConstraints(c)  => m.copy(constraints = c)
    case SetGenerated(g)    => m.copy(generated = g)
    case SetRetired(r)      => m.copy(retiredNames = r)
    case SetTz(z)           => m.copy(tz = Some(z))
    case SetIdentity(i)     => m.copy(identity = i)
    case SetDefaults(d)     => m.copy(defaults = d)
    case SetProperties(p)   => m.copy(properties = p)
    case SetTransforms(t)   => m.copy(transforms = t)
    case SetRefs(r)         => m.copy(refs = r)
    case SetProtocol(p)     => m.copy(protocol = Some(p))
    case _: CommitInfo | _: Add | _: Remove | _: AddByRef => m
  }
}

/** A checkpoint header (`_log/%020d.ckpt.json`): the version's whole
  * metadata plus where its file-state sidecar lives — `addsFormat`
  * `parquet` (a multi-part directory named by `addsPath`) or `jsonl`
  * (`%020d.ckpt.adds.jsonl`, one [[LogCodec.encodeAddFile]] per
  * line). */
final case class CheckpointHeader(meta: TableMeta, addsFormat: String,
                                  addsPath: Option[String] = None)

/** The JSON codec of the [[LogTable]] log: commit lines, checkpoint
  * headers and their adds sidecars, the `_last_checkpoint` pointer and
  * the per-file stats rendering. Every rendering is compact json4s;
  * a commit's lines come out in one canonical order whatever order
  * the actions were given in. */
object LogCodec {
  import LogAction._

  private def compact(j: JValue): String =
    JsonMethods.compact(JsonMethods.render(j))

  private def long(j: JValue): Option[Long] = j match {
    case JInt(i) => Some(i.toLong); case JLong(l) => Some(l)
    case _       => None
  }

  private def strs(j: JValue): List[String] = j match {
    case JArray(a) => a.collect { case JString(s) => s }
    case _         => Nil
  }

  private def strMap(j: JValue): Map[String, String] = j match {
    case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
    case _           => Map.empty
  }

  private def renderMap(m: Map[String, String]): JValue =
    JObject(m.toList.map { case (k, v) => k -> JString(v) })

  /** Line order within a commit: the commit line, metadata, removes,
    * then the by-reference set BEFORE inline adds — a same-commit
    * inline re-add of a sidecar path wins, since line order is fold
    * order in every replay. */
  private def rank(a: LogAction): Int = a match {
    case _: CommitInfo     => 0
    case _: SetSchema      => 1
    case _: SetPartition   => 2
    case _: SetBloom       => 3
    case _: SetConstraints => 4
    case _: SetGenerated   => 5
    case _: SetRetired     => 6
    case _: SetTz          => 7
    case _: SetIdentity    => 8
    case _: SetDefaults    => 9
    case _: SetProperties  => 10
    case _: SetTransforms  => 11
    case _: SetRefs        => 12
    case _: SetProtocol    => 13
    case _: Remove         => 14
    case _: AddByRef       => 15
    case _: Add            => 16
  }

  private def field(a: LogAction): JField = a match {
    case CommitInfo(ts, op, cdf, txn) =>
      "commit" -> JObject(List("ts" -> JLong(ts), "op" -> JString(op)) ++
        cdf.map("cdf" -> JString(_)) ++
        txn.toList.flatMap { case (app, batch) =>
          List("txnApp" -> JString(app), "txnBatch" -> JLong(batch)) })
    case SetSchema(s)      => "schema" -> JString(s.json)
    case SetPartition(c)   => "partition" -> JArray(c.toList.map(JString(_)))
    case SetBloom(c)       => "bloom" -> JArray(c.toList.map(JString(_)))
    case SetConstraints(m) => "constraints" -> renderMap(m)
    case SetGenerated(m)   => "generated" -> renderMap(m)
    case SetRetired(r)     =>
      "retired" -> JArray(r.toList.sorted.map(JString(_)))
    case SetTz(z)          => "tz" -> JString(z)
    case SetIdentity(m)    => "identity" -> JObject(m.toList.map {
      case (c, s) => c -> JObject(List("start" -> JLong(s.start),
        "step" -> JLong(s.step)) ++ s.highWater.map("highWater" -> JLong(_)))
    })
    case SetDefaults(m)    => "defaults" -> renderMap(m)
    case SetProperties(m)  => "properties" -> renderMap(m)
    case SetTransforms(m)  => "transforms" -> renderMap(m)
    case SetRefs(m)        => "refs" -> renderMap(m)
    case SetProtocol(p)    => "protocol" -> JObject(List(
      "minReader" -> JInt(p.minReader), "minWriter" -> JInt(p.minWriter),
      "readerFeatures" -> JArray(p.readerFeatures.toList.sorted.map(JString(_))),
      "writerFeatures" -> JArray(p.writerFeatures.toList.sorted.map(JString(_)))))
    case Remove(p)         => "remove" -> JObject(List("path" -> JString(p)))
    case AddByRef(r)       => "addsRef" -> JObject(List(
      "path" -> JString(r.path), "count" -> JLong(r.count),
      "rows" -> JLong(r.rows), "bytes" -> JLong(r.bytes),
      "anyDv" -> JBool(r.anyDv)) ++ r.rowIdBasis.map("rowIdBasis" -> JLong(_)))
    case Add(f)            => "add" -> addJson(f)
  }

  private def unfield(key: String, j: JValue): LogAction = key match {
    case "commit" =>
      CommitInfo(long(j \ "ts").getOrElse(0L),
        (j \ "op").asInstanceOf[JString].s,
        (j \ "cdf") match { case JString(s) => Some(s); case _ => None },
        ((j \ "txnApp"), long(j \ "txnBatch")) match {
          case (JString(app), Some(batch)) => Some((app, batch))
          case _                           => None
        })
    // a commit line carries the schema as a JSON string, a checkpoint
    // header as the JSON object itself
    case "schema" => SetSchema(DataType.fromJson(j match {
      case JString(s) => s
      case obj        => compact(obj)
    }).asInstanceOf[StructType])
    case "partition"   => SetPartition(strs(j))
    case "bloom"       => SetBloom(strs(j))
    case "constraints" => SetConstraints(strMap(j))
    case "generated"   => SetGenerated(strMap(j))
    case "retired"     => SetRetired(strs(j).toSet)
    case "tz"          => SetTz(j.asInstanceOf[JString].s)
    case "identity"    => SetIdentity(j match {
      case JObject(fs) => fs.map { case (c, v) =>
        c -> IdentitySpec(long(v \ "start").getOrElse(1L),
          long(v \ "step").getOrElse(1L), long(v \ "highWater"))
      }.toMap
      case _ => Map.empty
    })
    case "defaults"    => SetDefaults(strMap(j))
    case "properties"  => SetProperties(strMap(j))
    case "transforms"  => SetTransforms(strMap(j))
    case "refs"        => SetRefs(strMap(j))
    case "protocol"    => SetProtocol(Protocol(
      long(j \ "minReader").map(_.toInt).getOrElse(1),
      long(j \ "minWriter").map(_.toInt).getOrElse(1),
      strs(j \ "readerFeatures").toSet, strs(j \ "writerFeatures").toSet))
    case "remove"      => Remove((j \ "path").asInstanceOf[JString].s)
    case "addsRef"     => AddByRef(AddsRef((j \ "path").asInstanceOf[JString].s,
      long(j \ "count").getOrElse(0L), long(j \ "rows").getOrElse(0L),
      long(j \ "bytes").getOrElse(0L), (j \ "anyDv") == JBool(true),
      long(j \ "rowIdBasis")))
    case "add"         => Add(addOf(j))
    case other         => throw new IllegalStateException(
      s"unknown log action '$other'")
  }

  /** One action as its commit line. */
  def encode(a: LogAction): String = compact(JObject(List(field(a))))

  def decode(line: String): LogAction = JsonMethods.parse(line) match {
    case JObject(List((key, j))) => unfield(key, j)
    case other => throw new IllegalStateException(
      s"a log line holds exactly one action, got: ${compact(other)}")
  }

  /** A commit file's text: one line per action, canonical order. */
  def encodeCommit(actions: Seq[LogAction]): String =
    actions.sortBy(rank).map(encode).mkString("\n")

  def decodeCommit(text: String): Seq[LogAction] =
    text.linesIterator.filter(_.nonEmpty).map(decode).toSeq

  /** Metadata keys of a checkpoint header, in header order. */
  private val HeaderKeys = Seq("schema", "partition", "bloom",
    "constraints", "generated", "retired", "tz", "identity", "defaults",
    "properties", "transforms", "refs")

  private val MetaKeys = HeaderKeys.toSet + "protocol"

  /** Every key is written, empty or not; the schema as a JSON object
    * and a missing zone as `"tz":null`. */
  def encodeHeader(h: CheckpointHeader): String = {
    val m = h.meta
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      "a checkpoint header needs a schema"))
    val keyed = Seq(SetPartition(m.partitionCols), SetBloom(m.bloomCols),
      SetConstraints(m.constraints), SetGenerated(m.generated),
      SetRetired(m.retiredNames), SetIdentity(m.identity),
      SetDefaults(m.defaults), SetProperties(m.properties),
      SetTransforms(m.transforms), SetRefs(m.refs)).map(field).toMap +
      ("schema" -> JsonMethods.parse(schema.json)) +
      ("tz" -> m.tz.map(JString(_)).getOrElse(JNull))
    compact(JObject(HeaderKeys.map(k => k -> keyed(k)).toList ++
      List("addsFormat" -> JString(h.addsFormat)) ++
      m.protocol.map(p => field(SetProtocol(p))) ++
      h.addsPath.map("addsPath" -> JString(_))))
  }

  /** A missing `addsFormat` decodes as "" — the reader names the
    * header file when it refuses it. */
  def decodeHeader(text: String): CheckpointHeader = {
    val fields = JsonMethods.parse(text) match {
      case JObject(fs) => fs
      case _           => Nil
    }
    val meta = fields.foldLeft(TableMeta()) {
      case (m, (k, j)) if MetaKeys(k) && j != JNull =>
        TableMeta.fold(m, unfield(k, j))
      case (m, _) => m
    }
    def str(k: String): Option[String] = fields.collectFirst {
      case (`k`, JString(s)) => s }
    CheckpointHeader(meta, str("addsFormat").getOrElse(""), str("addsPath"))
  }

  private def addJson(a: AddFile): JValue =
    JObject(List("path" -> JString(a.path), "rows" -> JLong(a.rows),
      "bytes" -> JLong(a.bytes), "stats" -> statsJson(a.stats)) ++
      (if (a.partitionValues.isEmpty) Nil
       else List("partitionValues" -> renderMap(a.partitionValues))) ++
      a.dv.map(d => "dv" -> JObject(List(
        "path" -> JString(d.path), "rows" -> JLong(d.rows)))) ++
      a.baseRowId.map("baseRowId" -> JLong(_)))

  private def addOf(j: JValue): AddFile = AddFile(
    (j \ "path").asInstanceOf[JString].s,
    long(j \ "rows").getOrElse(0L), long(j \ "bytes").getOrElse(0L),
    statsOf(j \ "stats"), strMap(j \ "partitionValues"),
    (j \ "dv") match {
      case JObject(_) => Some(Dv((j \ "dv" \ "path").asInstanceOf[JString].s,
        long(j \ "dv" \ "rows").getOrElse(0L)))
      case _ => None
    },
    long(j \ "baseRowId"))

  /** One line of a JSONL checkpoint sidecar: the bare add object. */
  def encodeAddFile(a: AddFile): String = compact(addJson(a))
  def decodeAddFile(line: String): AddFile = addOf(JsonMethods.parse(line))

  /** Key of the JSON object a NaN or ±Infinity double bound renders
    * as, e.g. `{"double": "NaN"}`. */
  private val NonFiniteDouble = "double"

  private def statsJson(stats: Map[String, ColStats]): JValue =
    JObject(stats.toList.map { case (c, st) =>
      def side(v: Option[Any]): JValue = v match {
        case None            => JNull
        case Some(l: Long)   => JLong(l)
        // JSON has no NaN/Infinity: a typed marker keeps them Double
        case Some(d: Double) if d.isNaN || d.isInfinite =>
          JObject(NonFiniteDouble -> JString(d.toString))
        case Some(d: Double) => JDouble(d)
        case Some(s: String) => JString(s)
        case Some(other) =>
          throw new IllegalStateException(s"bad stat value: $other")
      }
      c -> JObject(List("min" -> side(st.min), "max" -> side(st.max),
        "nulls" -> JLong(st.nulls)))
    })

  private def statsOf(j: JValue): Map[String, ColStats] = j match {
    case JObject(fields) => fields.map { case (c, v) =>
      def side(k: String): Option[Any] = (v \ k) match {
        case JNothing | JNull => None
        case JInt(i)          => Some(i.toLong)
        case JLong(l)         => Some(l)
        case JDouble(d)       => Some(d)
        case JDecimal(d)      => Some(d.toDouble)
        case JString(s)       => Some(s)
        case JBool(b)         => Some(if (b) 1L else 0L)
        case JObject(List((NonFiniteDouble, JString(d)))) =>
          Some(d.toDouble)
        case other => throw new IllegalStateException(s"bad stat: $other")
      }
      c -> ColStats(side("min"), side("max"), long(v \ "nulls").getOrElse(0L))
    }.toMap
    case _ => Map.empty
  }

  /** The per-column stats rendering ([[CkptAdd.statsJson]]). Pure and
    * static, so executors encode and decode manifest rows without a
    * [[LogTable]] in the closure. */
  def encodeStats(stats: Map[String, ColStats]): String =
    compact(statsJson(stats))
  def decodeStats(json: String): Map[String, ColStats] =
    statsOf(JsonMethods.parse(json))

  /** An [[AddFile]] as the `idx`-th row of a parquet manifest. */
  private[graft] def encodeCkptAdd(idx: Long, a: AddFile): CkptAdd =
    CkptAdd(idx, a.path, a.rows, a.bytes, encodeStats(a.stats),
      a.partitionValues, a.dv.map(_.path), a.dv.map(_.rows), a.baseRowId)

  private[graft] def decodeCkptAdd(c: CkptAdd): AddFile =
    AddFile(c.path, c.rows, c.bytes, decodeStats(c.statsJson),
      c.partitionValues, c.dvPath.map(p => Dv(p, c.dvRows.getOrElse(0L))),
      c.baseRowId)

  /** The advisory `_last_checkpoint` pointer. */
  def encodeCheckpointPointer(v: Long): String =
    compact(JObject(List("version" -> JLong(v))))
  def decodeCheckpointPointer(text: String): Option[Long] =
    long(JsonMethods.parse(text) \ "version")

  /** ANALYZE's per-column results, the JSON value of the
    * [[LogTable.PropStatsCols]] property. */
  def encodeAnalyzedCols(cols: Map[String, AnalyzedCol]): String =
    compact(JObject(cols.toList.sortBy(_._1).map { case (n, c) =>
      n -> JObject(List("ndv" -> JLong(c.ndv), "nulls" -> JLong(c.nulls)) ++
        c.min.map("min" -> JString(_)) ++ c.max.map("max" -> JString(_)) ++
        c.avgLen.map("avgLen" -> JLong(_)) ++
        c.maxLen.map("maxLen" -> JLong(_)) ++
        c.histogram.map(h => "hist" -> JArray(h.toList.map(JDouble(_)))))
    }))

  def decodeAnalyzedCols(json: String): Map[String, AnalyzedCol] =
    JsonMethods.parse(json) match {
      case JObject(fields) => fields.map { case (n, v) =>
        def js(k: String): Option[String] = (v \ k) match {
          case JString(s) => Some(s); case _ => None
        }
        val hist = (v \ "hist") match {
          case JArray(a) => Some(a.collect {
            case JDouble(d)  => d
            case JInt(i)     => i.toDouble
            case JLong(l)    => l.toDouble
            case JDecimal(d) => d.toDouble
          }.toVector)
          case _ => None
        }
        n -> AnalyzedCol(long(v \ "ndv").getOrElse(0L),
          long(v \ "nulls").getOrElse(0L), js("min"), js("max"),
          long(v \ "avgLen"), long(v \ "maxLen"), hist)
      }.toMap
      case _ => Map.empty
    }
}
