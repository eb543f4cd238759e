package graftbench

import graft.operators.{Clustering, Decontam, Dedup, TextAnalysis}
import graft.sources.{LogTable, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `corpus_curation`: the training-data path as one op — quality gate,
  * exact dedup, MinHash-LSH near-dup pairs, duplicate clusters,
  * decontamination of the cluster representatives against a
  * benchmark set, BPE token counts, and one `LogTable.append` of the
  * curated documents into a fresh table.
  *
  * The corpus is built in blocks of 8 ids. 60% of blocks hold 8
  * unrelated documents, 2% of which are too short to pass the quality
  * gate and 1% of the rest are copied into the benchmark set
  * (contaminated). 20% of blocks are 8 identical copies (an exact
  * family) and 20% are 8 variants of one text, each with one word
  * substituted (a near-duplicate family, pairwise 3-shingle Jaccard
  * about 0.8). Words are drawn from a Zipf-like vocabulary, 50-59
  * per document (about 300 characters). A correct pass keeps every
  * clean unrelated document and exactly the lowest id of each
  * family. */
final class CorpusCuration(spark: SparkSession, probe: Probe, seed: Long,
                           docs: Int = 8000, vocab: Int = 5000)
    extends Workload {
  val name = "corpus_curation"

  private var base: String = _
  private var input: String = _
  private var inputBytes = 0L
  private var expectedIds: Array[Long] = Array.empty
  private var contaminated: Set[Long] = Set.empty
  private var pass = 0
  private var bytesWritten = 0L
  private var bytesLive = 0L
  private var bytesIn = 0L
  // traced-run extras
  private val precisions = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val kernelRates = scala.collection.mutable.ArrayBuffer.empty[Double]

  def warm(dir: String): Unit = {
    val w = new CorpusCuration(spark, probe, seed + 7919, docs = 400)
    w.setup(dir)
    w.step(traced = false).after()
  }

  def setup(dir: String): Unit = {
    base = dir
    input = s"$dir/corpus"
    val g = generate()
    g.select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.parquet(s"$input/documents.parquet")
    g.filter(col("contam"))
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat_ws(" ", slice(col("words"), 6, 20)).as("text"))
      .coalesce(1).write.parquet(s"$input/bench.parquet")
    val truth = g.select(col("doc_id"), col("keep"), col("contam")).collect()
    expectedIds = truth.filter(_.getBoolean(1)).map(_.getLong(0)).sorted
    contaminated = truth.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    inputBytes = Gen.dataBytesUnder(s"$input/documents.parquet")
    pass = 0
    bytesWritten = 0L
    bytesLive = 0L
    bytesIn = 0L
  }

  private def generate(): DataFrame = {
    val id = col("doc_id")
    val blk = col("blk")
    val btype = col("btype")
    val base = col("base")
    // Zipf-like rank: floor(V^u) for uniform u, rendered base-36
    def word(j: Column): Column = lower(conv(
      (floor(pow(lit(vocab.toDouble), Gen.unit(seed, base, j, lit("w"))))
        * 7919 + 104729).cast("string"), 10, 36))
    spark.range(docs).toDF("doc_id")
      .withColumn("blk", (id / 8).cast("long"))
      .withColumn("btype", Gen.pick(seed, 10, blk, lit("blk")))
      .withColumn("base", when(btype < 6, id).otherwise(blk * 8))
      .withColumn("variant", when(btype >= 8, pmod(id, lit(8))).otherwise(0L))
      .withColumn("lowq", btype < 6 && Gen.pick(seed, 50, id, lit("lq")) === 0)
      .withColumn("contam", btype < 6 && !col("lowq") &&
        Gen.pick(seed, 100, id, lit("ct")) === 0)
      .withColumn("len", (Gen.pick(seed, 10, base, lit("len")) + 50).cast("int"))
      .withColumn("subpos", pmod(xxhash64(lit(seed), base, col("variant"),
        lit("pos")), col("len").cast("long")))
      .withColumn("words", transform(sequence(lit(0), col("len") - 1), j =>
        when(col("variant") > 0 && j === col("subpos"),
          concat(lit("zzq"), col("variant").cast("string"), lit("x"),
            base.cast("string")))
          .otherwise(word(j))))
      .withColumn("text", when(col("lowq"),
        concat_ws(" ", slice(col("words"), 1, 3)))
        .otherwise(concat_ws(" ", col("words"))))
      .withColumn("lang", lit("en"))
      .withColumn("source", element_at(array(lit("web"), lit("books"),
        lit("code"), lit("papers")),
        (Gen.pick(seed, 4, id, lit("src")) + 1).cast("int")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("keep", (btype < 6 && !col("lowq") && !col("contam")) ||
        (btype >= 6 && pmod(id, lit(8)) === 0))
  }

  def step(traced: Boolean): Op = {
    pass += 1
    val out = new LogTable(s"$base/curated-$pass")
    def stage(span: String)(df: => DataFrame): DataFrame =
      if (traced) probe.span(span)(Main.materialize(df)) else df
    val docsDf = Tables.load(spark, input, "documents")
    val bench = spark.read.parquet(s"$input/bench.parquet")
    val kept = stage("textanalysis.quality_gate")(docsDf.filter(
      TextAnalysis.qualityFilter(col("text"), minWords = 5, maxPunctRatio = 0.25)))
    // the curated base feeds the pair join, the cluster vertices and
    // the representatives: persisted once, as the registered
    // corpus_curation query does
    val uniq = stage("dedup.exact")(kept.join(
      Dedup.exact(kept).select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi").persist(StorageLevel.MEMORY_AND_DISK))
    val pairs = stage("dedup.minhash_lsh")(Dedup.minhashLsh(uniq, threshold = 0.5))
    val clusters = stage("clustering.dup_clusters")(
      Clustering.dupClusters(uniq.select(col("doc_id")), "doc_id", pairs))
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    val reps = clusters.filter(col("is_representative"))
      .join(sizes, "cluster_id").select(col("doc_id"), col("n_members"))
      .join(uniq, "doc_id")
    val clean = stage("decontam.decontaminate")(Decontam.decontaminate(reps, bench))
    val curated = clean.select(col("doc_id"), col("n_members"),
      TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
      col("text"))
    if (traced) probe.span("logtable.append_curated")(out.append(curated))
    else out.append(curated)
    Op("pass", docs, after = () => {
      if (traced) traceProbes(uniq, pairs)
      check(out)
    })
  }

  /** Trace-only probes, outside the op's time: the MinHash kernel
    * alone (rows per executor CPU-second) and LSH precision (verified
    * pairs per banded candidate pair). */
  private def traceProbes(uniq: DataFrame, pairs: DataFrame): Unit = {
    // a fresh leaf: on `uniq` itself the kernel's plan would match the
    // signatures `minhashLsh` persisted, and read them from the cache
    val docs = uniq.select(col("doc_id"), col("text")).localCheckpoint()
    val sigs = probe.span("plans.minhash_kernel")(Main.materialize(
      Dedup.minhashSignatures(docs, "doc_id", "text", 3, 128)))
    val k = probe.closedSpans.last
    kernelRates += sigs.count() / (k.work.cpuNs / 1e9)
    val cands = Dedup.lshCandidates(sigs, "doc_id", 32, 4).count()
    precisions += pairs.count().toDouble / cands
  }

  private def check(out: LogTable): Unit = {
    try {
      val got = out.load(spark).select("doc_id", "n_bpe_tokens").collect()
      val ids = got.map(_.getLong(0)).sorted
      val leaked = ids.filter(contaminated.contains)
      require(leaked.isEmpty, s"contaminated docs survived: ${leaked.take(5).mkString(",")}")
      require(ids.sameElements(expectedIds),
        s"curated ${ids.length} docs, expected ${expectedIds.length}: " +
          s"missing ${expectedIds.diff(ids).take(5).mkString(",")} " +
          s"extra ${ids.diff(expectedIds).take(5).mkString(",")}")
      require(got.forall(_.getLong(1) > 0), "a curated doc has no BPE tokens")
      bytesWritten += Gen.bytesUnder(out.path)
      bytesLive += out.liveAdds().map(_.bytes).sum
      bytesIn += inputBytes
    } finally Gen.rmrf(out.path)
  }

  override def minOps: Int = 2

  def amplification: (Double, Double) =
    (bytesWritten.toDouble / bytesIn, bytesLive.toDouble / bytesIn)

  def report(ops: Seq[Timed]): Seq[(String, Double, String)] = {
    val t = ops.map(_.seconds)
    Seq(
      ("curation_docs_per_s", ops.map(_.rows).sum / t.sum, "1/s"),
      ("curation_pass_p50_s", Main.median(t), "s"),
      ("passes", t.length.toDouble, "count"),
      ("docs", docs.toDouble, "count"),
      ("expected_survivors", expectedIds.length.toDouble, "count"))
  }

  override def layerExtras: Seq[(String, Double)] = Seq(
    "dedup.minhash_lsh.lsh_precision" -> mean(precisions.toSeq),
    "plans.minhash_kernel.rows_per_core_s" -> mean(kernelRates.toSeq))

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
