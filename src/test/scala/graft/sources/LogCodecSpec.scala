package graft.sources

import java.io.File
import java.nio.file.Files

import graft.sources.LogAction._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** The [[LogCodec]]: golden lines of every action kind, every
  * metadata key and both checkpoint-header formats, as graft's log
  * writer wrote them before the codec existed (fixed clock), which
  * the codec must render byte for byte and decode back; a round-trip
  * property over random action lists and headers; and the refusal of
  * a header whose file-state format is missing or unknown. No Spark
  * session — the codec is pure. */
class LogCodecSpec extends AnyFunSuite {

  private def field(name: String, dt: DataType, id: Option[Long] = None) =
    StructField(name, dt, nullable = true, id.fold(Metadata.empty)(i =>
      new MetadataBuilder().putLong(LogTable.FieldIdKey, i).build()))

  private val schemaA = StructType(Seq(field("k", LongType),
    field("v", StringType), field("x", DoubleType),
    field("ts", TimestampType), field("d", DateType),
    field("id", LongType), field("p", StringType)))

  private val schemaB = StructType(Seq(field("k", LongType),
    field("v", StringType), field("k_bucket_4", IntegerType)))

  private def stat(min: Any, max: Any) = ColStats(Some(min), Some(max), 0L)

  private val golden: Seq[(String, LogAction)] = Seq(
    """{"commit":{"ts":1001,"op":"merge","cdf":"_cdf/6a965a02-a9de-438b-aa54-db571ce21c22","txnApp":"mv1","txnBatch":3}}""" ->
      CommitInfo(1001L, "merge",
        Some("_cdf/6a965a02-a9de-438b-aa54-db571ce21c22"), Some(("mv1", 3L))),
    """{"commit":{"ts":1004,"op":"append","txnApp":"app1","txnBatch":7}}""" ->
      CommitInfo(1004L, "append", None, Some(("app1", 7L))),
    """{"schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"parquet.field.id\":1}},{\"name\":\"w\",\"type\":\"string\",\"nullable\":true,\"metadata\":{\"parquet.field.id\":2}}]}"}""" ->
      SetSchema(StructType(Seq(field("k", LongType, Some(1L)),
        field("w", StringType, Some(2L))))),
    """{"partition":["p"]}""" -> SetPartition(Seq("p")),
    """{"bloom":["k"]}""" -> SetBloom(Seq("k")),
    """{"constraints":{"pos":"k >= 0"}}""" ->
      SetConstraints(Map("pos" -> "k >= 0")),
    """{"generated":{"d":"CAST(ts AS DATE)"}}""" ->
      SetGenerated(Map("d" -> "CAST(ts AS DATE)")),
    """{"retired":["v"]}""" -> SetRetired(Set("v")),
    """{"tz":"UTC"}""" -> SetTz("UTC"),
    """{"identity":{"id":{"start":1,"step":1,"highWater":2}}}""" ->
      SetIdentity(Map("id" -> IdentitySpec(1L, 1L, Some(2L)))),
    """{"identity":{"id":{"start":1,"step":1}}}""" ->
      SetIdentity(Map("id" -> IdentitySpec(1L, 1L))),
    """{"defaults":{"v":"'zz'"}}""" -> SetDefaults(Map("v" -> "'zz'")),
    """{"properties":{"owner":"ü-team"}}""" ->
      SetProperties(Map("owner" -> "ü-team")),
    """{"transforms":{"k_bucket_4":"bucket(4,k)"}}""" ->
      SetTransforms(Map("k_bucket_4" -> "bucket(4,k)")),
    """{"refs":{"t1":"tag:5"}}""" -> SetRefs(Map("t1" -> "tag:5")),
    """{"protocol":{"minReader":1,"minWriter":1,"readerFeatures":["rowTracking"],"writerFeatures":["checkConstraints","columnDefaults","generatedColumns","identityColumns","rowTracking"]}}""" ->
      SetProtocol(Protocol(1, 1, Set("rowTracking"), Set("checkConstraints",
        "columnDefaults", "generatedColumns", "identityColumns",
        "rowTracking"))),
    """{"remove":{"path":"data/p=p1/f-f4eb3f89-0.parquet"}}""" ->
      Remove("data/p=p1/f-f4eb3f89-0.parquet"),
    """{"addsRef":{"path":"addsref.d7a7d8f3.parquet","count":2,"rows":20,"bytes":1024,"anyDv":false,"rowIdBasis":1}}""" ->
      AddByRef(AddsRef("addsref.d7a7d8f3.parquet", 2L, 20L, 1024L,
        anyDv = false, Some(1L))),
    """{"add":{"path":"data/p=p1/f-f4eb3f89-0.parquet","rows":1,"bytes":1614,"stats":{"x":{"min":{"double":"NaN"},"max":{"double":"NaN"},"nulls":0},"ts":{"min":1704164645000000,"max":1704164645000000,"nulls":0},"v":{"min":"é","max":"é","nulls":0},"id":{"min":1,"max":1,"nulls":0},"p":{"min":"p1","max":"p1","nulls":0},"k":{"min":1,"max":1,"nulls":0},"d":{"min":19724,"max":19724,"nulls":0}},"partitionValues":{"p":"p1"}}}""" ->
      Add(AddFile("data/p=p1/f-f4eb3f89-0.parquet", 1L, 1614L, Map(
        "x" -> stat(Double.NaN, Double.NaN),
        "ts" -> stat(1704164645000000L, 1704164645000000L),
        "v" -> stat("é", "é"), "id" -> stat(1L, 1L),
        "p" -> stat("p1", "p1"), "k" -> stat(1L, 1L),
        "d" -> stat(19724L, 19724L)), Map("p" -> "p1"))),
    """{"add":{"path":"data/p=p1/f-0ccb67ad-0.parquet","rows":2,"bytes":479,"stats":{"k":{"min":1,"max":2,"nulls":0},"p":{"min":"p1","max":"p1","nulls":0}},"partitionValues":{"p":"p1"},"dv":{"path":"_dv/2b6b266f-6bd0-429b-ad2d-82cb0e01cd3e","rows":1},"baseRowId":0}}""" ->
      Add(AddFile("data/p=p1/f-0ccb67ad-0.parquet", 2L, 479L,
        Map("k" -> stat(1L, 2L), "p" -> stat("p1", "p1")), Map("p" -> "p1"),
        Some(Dv("_dv/2b6b266f-6bd0-429b-ad2d-82cb0e01cd3e", 1L)), Some(0L))))

  /** NaN never equals itself; compare NaN bounds by a marker. */
  private def comparable(a: LogAction): LogAction = a match {
    case Add(f) =>
      def m(v: Option[Any]) = v.map {
        case d: Double if d.isNaN => Symbol("NaN")
        case other                => other
      }
      Add(f.copy(stats = f.stats.map { case (c, s) =>
        c -> s.copy(min = m(s.min), max = m(s.max)) }))
    case other => other
  }

  test("every action kind renders the line the log writer wrote and " +
    "decodes back to the same action") {
    golden.foreach { case (line, action) =>
      assert(LogCodec.encode(action) == line)
      assert(comparable(LogCodec.decode(line)) == comparable(action), line)
    }
    // line order is canonical whatever order the actions come in
    val oneOfEach = golden.map(_._2).distinctBy(_.getClass)
    assert(LogCodec.encodeCommit(scala.util.Random.shuffle(oneOfEach)) ==
      LogCodec.encodeCommit(oneOfEach))
    assert(LogCodec.encodeCommit(golden.map(_._2)) ==
      golden.map(_._1).mkString("\n"))
  }

  test("a JSONL checkpoint sidecar line is the bare add object") {
    val line = """{"path":"data/p=p2/f-c6b06b0c-0.parquet","rows":1,"bytes":1643,"stats":{"x":{"min":1.5,"max":1.5,"nulls":0},"ts":{"min":1704337445000000,"max":1704337445000000,"nulls":0},"v":{"min":"c","max":"c","nulls":0},"id":{"min":3,"max":3,"nulls":0},"p":{"min":"p2","max":"p2","nulls":0},"k":{"min":3,"max":3,"nulls":0},"d":{"min":19726,"max":19726,"nulls":0}},"partitionValues":{"p":"p2"}}"""
    val add = AddFile("data/p=p2/f-c6b06b0c-0.parquet", 1L, 1643L, Map(
      "x" -> stat(1.5, 1.5),
      "ts" -> stat(1704337445000000L, 1704337445000000L),
      "v" -> stat("c", "c"), "id" -> stat(3L, 3L), "p" -> stat("p2", "p2"),
      "k" -> stat(3L, 3L), "d" -> stat(19726L, 19726L)), Map("p" -> "p2"))
    assert(LogCodec.encodeAddFile(add) == line)
    assert(LogCodec.decodeAddFile(line) == add)
  }

  test("jsonl and parquet checkpoint headers render as written and " +
    "decode back, object-form schema and \"tz\":null included") {
    val jsonl = """{"schema":{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}},{"name":"v","type":"string","nullable":true,"metadata":{}},{"name":"x","type":"double","nullable":true,"metadata":{}},{"name":"ts","type":"timestamp","nullable":true,"metadata":{}},{"name":"d","type":"date","nullable":true,"metadata":{}},{"name":"id","type":"long","nullable":true,"metadata":{}},{"name":"p","type":"string","nullable":true,"metadata":{}}]},"partition":["p"],"bloom":["k"],"constraints":{"pos":"k >= 0"},"generated":{"d":"CAST(ts AS DATE)"},"retired":[],"tz":"UTC","identity":{"id":{"start":1,"step":1,"highWater":3}},"defaults":{"v":"'zz'"},"properties":{"owner":"ü-team"},"transforms":{},"refs":{},"addsFormat":"jsonl","protocol":{"minReader":1,"minWriter":1,"readerFeatures":[],"writerFeatures":["checkConstraints","columnDefaults","generatedColumns","identityColumns"]}}"""
    val jsonlHeader = CheckpointHeader(TableMeta(Some(schemaA), Seq("p"),
      Seq("k"), Map("pos" -> "k >= 0"), Map("d" -> "CAST(ts AS DATE)"),
      tz = Some("UTC"),
      identity = Map("id" -> IdentitySpec(1L, 1L, Some(3L))),
      defaults = Map("v" -> "'zz'"), properties = Map("owner" -> "ü-team"),
      protocol = Some(Protocol(1, 1, Set.empty, Set("checkConstraints",
        "columnDefaults", "generatedColumns", "identityColumns")))),
      "jsonl")
    val parquet = """{"schema":{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}},{"name":"v","type":"string","nullable":true,"metadata":{}},{"name":"k_bucket_4","type":"integer","nullable":true,"metadata":{}}]},"partition":["k_bucket_4"],"bloom":[],"constraints":{},"generated":{"k_bucket_4":"pmod(hash(`k`), 4)"},"retired":[],"tz":null,"identity":{},"defaults":{},"properties":{"graft.checkpoint.parquetThreshold":"1"},"transforms":{"k_bucket_4":"bucket(4,k)"},"refs":{},"addsFormat":"parquet","protocol":{"minReader":1,"minWriter":1,"readerFeatures":["hiddenPartitioning"],"writerFeatures":["generatedColumns","hiddenPartitioning"]},"addsPath":"00000000000000000002.ckpt.31f575aa.parquet"}"""
    val parquetHeader = CheckpointHeader(TableMeta(Some(schemaB),
      Seq("k_bucket_4"),
      generated = Map("k_bucket_4" -> "pmod(hash(`k`), 4)"),
      properties = Map("graft.checkpoint.parquetThreshold" -> "1"),
      transforms = Map("k_bucket_4" -> "bucket(4,k)"),
      protocol = Some(Protocol(1, 1, Set("hiddenPartitioning"),
        Set("generatedColumns", "hiddenPartitioning")))),
      "parquet", Some("00000000000000000002.ckpt.31f575aa.parquet"))
    Seq(jsonl -> jsonlHeader, parquet -> parquetHeader).foreach {
      case (text, header) =>
        assert(LogCodec.encodeHeader(header) == text)
        assert(LogCodec.decodeHeader(text) == header)
    }
  }

  // ---------------------------------------------------------------
  // round trip over random input

  private val genStr: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf("é", "ü-ß", "日本", "😀", "\"", "\\", "\n", "\t", " ",
      "=", "/", "{", "'"))).map(_.mkString)

  private val genMap: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(genStr, genStr))

  private val genBound: Gen[Any] = Gen.oneOf(
    Gen.long,
    Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -1.5e-300, 1.0e300),
    Gen.double,
    genStr)

  private val genStats: Gen[Map[String, ColStats]] = Gen.mapOf(Gen.zip(
    genStr, Gen.zip(Gen.option(genBound), Gen.option(genBound),
      Gen.choose(0L, Long.MaxValue)).map((ColStats.apply _).tupled)))

  private val genAddFile: Gen[AddFile] = for {
    path <- genStr; rows <- Gen.long; bytes <- Gen.long
    stats <- genStats; pv <- genMap
    dv <- Gen.option(Gen.zip(genStr, Gen.long).map((Dv.apply _).tupled))
    base <- Gen.option(Gen.long)
  } yield AddFile(path, rows, bytes, stats, pv, dv, base)

  private val genSchema: Gen[StructType] = for {
    n <- Gen.choose(1, 4)
    names <- Gen.listOfN(n, genStr).map(_.distinct.filter(_.nonEmpty))
    fields <- Gen.sequence[List[StructField], StructField](names.map(nm =>
      for {
        dt <- Gen.oneOf[DataType](LongType, StringType, DoubleType, DateType,
          TimestampType, ArrayType(IntegerType),
          StructType(Seq(StructField("a", BinaryType))), DecimalType(12, 2))
        nullable <- Gen.oneOf(true, false)
        id <- Gen.option(Gen.choose(1L, 1000L))
      } yield field(nm, dt, id).copy(nullable = nullable)))
  } yield StructType(fields)

  private val genProtocol: Gen[Protocol] = for {
    r <- Gen.choose(0, 9); w <- Gen.choose(0, 9)
    rf <- Gen.containerOf[Set, String](genStr)
    wf <- Gen.containerOf[Set, String](genStr)
  } yield Protocol(r, w, rf, wf)

  private val genIdentity: Gen[Map[String, IdentitySpec]] =
    Gen.mapOf(Gen.zip(genStr, Gen.zip(Gen.long, Gen.long,
      Gen.option(Gen.long)).map((IdentitySpec.apply _).tupled)))

  private val genMeta: Gen[TableMeta] = for {
    schema <- genSchema
    part <- Gen.listOf(genStr); bloom <- Gen.listOf(genStr)
    cons <- genMap; gen <- genMap
    retired <- Gen.containerOf[Set, String](genStr)
    tz <- Gen.option(genStr); ids <- genIdentity
    defs <- genMap; props <- genMap; trans <- genMap; refs <- genMap
    proto <- Gen.option(genProtocol)
  } yield TableMeta(Some(schema), part, bloom, cons, gen, retired, tz, ids,
    defs, props, trans, refs, proto)

  /** A commit's actions in the codec's canonical line order: the
    * commit line, some metadata, removes, a by-reference set, adds. */
  private val genCommit: Gen[Seq[LogAction]] = for {
    info <- Gen.zip(Gen.long, genStr, Gen.option(genStr),
      Gen.option(Gen.zip(genStr, Gen.long)))
      .map((CommitInfo.apply _).tupled)
    meta <- genMeta
    keep <- Gen.listOfN(13, Gen.oneOf(true, false))
    metaActions = Seq(SetSchema(meta.schema.get),
      SetPartition(meta.partitionCols), SetBloom(meta.bloomCols),
      SetConstraints(meta.constraints), SetGenerated(meta.generated),
      SetRetired(meta.retiredNames), SetTz(meta.tz.getOrElse("UTC")),
      SetIdentity(meta.identity), SetDefaults(meta.defaults),
      SetProperties(meta.properties), SetTransforms(meta.transforms),
      SetRefs(meta.refs), SetProtocol(meta.protocol.getOrElse(
        Protocol(1, 1, Set.empty, Set.empty))))
      .zip(keep).collect { case (a, true) => a }
    removes <- Gen.listOf(genStr.map(Remove))
    ref <- Gen.option(for {
      p <- genStr; c <- Gen.long; r <- Gen.long; b <- Gen.long
      dv <- Gen.oneOf(true, false); basis <- Gen.option(Gen.long)
    } yield AddByRef(AddsRef(p, c, r, b, dv, basis)))
    adds <- Gen.listOf(genAddFile.map(Add))
  } yield (info +: metaActions) ++ removes ++ ref ++ adds

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(200).withMaxSize(16), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("decode(encode(actions)) == actions over random commits: NaN and " +
    "±Inf bounds, non-ASCII strings, empty maps") {
    check(Prop.forAll(genCommit) { xs =>
      LogCodec.decodeCommit(LogCodec.encodeCommit(xs)).map(comparable) ==
        xs.map(comparable)
    })
  }

  test("decode(encode(header)) == header over random table metadata") {
    check(Prop.forAll(genMeta, Gen.oneOf("parquet", "jsonl"),
        Gen.option(genStr)) { (meta, fmt, addsPath) =>
      val h = CheckpointHeader(meta, fmt, addsPath)
      LogCodec.decodeHeader(LogCodec.encodeHeader(h)) == h
    })
  }

  test("a checkpoint header with a missing or unknown addsFormat is " +
    "refused with the header file and the format named") {
    Seq(None, Some("embedded")).foreach { fmt =>
      val dir = Files.createTempDirectory("graft_badckpt").toString
      val t = new LogTable(dir)
      t.create(StructType(Seq(field("k", LongType))))              // v0
      // the shape of the old embedded-array header: the file-state
      // inline, no (or a foreign) addsFormat
      val header = """{"schema":{"type":"struct","fields":[{"name":"k",""" +
        """"type":"long","nullable":true,"metadata":{}}]},"partition":[]""" +
        fmt.fold("")(f => s""","addsFormat":"$f"""") + ""","adds":[]}"""
      val file = new File(dir, "_log/00000000000000000000.ckpt.json")
      Files.writeString(file.toPath, header)
      val e = intercept[IllegalStateException](new LogTable(dir).schema)
      assert(e.getMessage.contains(file.getPath), e.getMessage)
      assert(e.getMessage.contains(s"'${fmt.getOrElse("")}'"), e.getMessage)
    }
  }
}
