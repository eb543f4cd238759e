package graft.operators

import graft.functions._
import graft.plans.FloatVectorExpressions.{floatDot, floatNorm}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines.
  *
  * Scale design: every variant is linear-per-document plus one
  * key-partitioned shuffle — never a cross join. Candidate
  * generation (LSH bands / simhash chunks) buckets documents so only
  * same-bucket pairs are compared; verification then computes the
  * true similarity on candidates only. This is the standard
  * MinHash-LSH construction (Broder '97; as popularised for LLM data
  * dedup) and survives 100 TB: signatures are a map-side pass,
  * bucket joins shuffle |docs|·bands rows, and skewed buckets can be
  * salted or capped.
  */
object Dedup {

  /** Default pair budget for the declared-quadratic exact routes
    * ([[embeddingNearDup]]): 2³³ ≈ 8.6e9 pairs. */
  val DefaultPairsBudget: Long = 1L << 33

  /** Exact dedup: keep the smallest id per identical text.
    *
    * Groups by `(length(text), xxhash64(text))` instead of the raw
    * text so the aggregation shuffle carries 16 bytes per row rather
    * than the corpus itself — at 100 TB the difference between
    * shuffling everything and shuffling a fingerprint. A 64-bit
    * collision needs two different texts of identical length hashing
    * identically (~2^-64 per same-length pair); corpora where that
    * risk matters can re-verify groups against the text afterwards. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(length(col(textCol)).as("__len"),
        xxhash64(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Quality-aware exact dedup: per duplicate group keep the BEST
    * representative by a caller-supplied score (tie-broken by max
    * id), not the arbitrary lowest id — curation pipelines keep the
    * longest / highest-quality copy. Same 16-byte fingerprint
    * shuffle as `exact`; the argmax is `max(struct(score, id))`, a
    * partial-aggregable one-pass reduction (no per-group sort). */
  def exactKeepBest(docs: DataFrame, scoreCol: String,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    docs.groupBy(length(col(textCol)).as("__len"),
        xxhash64(col(textCol)).as("__h"))
      .agg(max(struct(col(scoreCol).as("s"), col(idCol).as("i")))
        .as("__best"),
        count(lit(1)).as("n_copies"))
      .select(col("__best.i").as("keep_id"),
        col("__best.s").as("best_score"), col("n_copies"))

  /** Non-overlapping k-word segments per document — the unit for
    * paragraph/line-level dedup on corpora without newline structure
    * (for real corpora, substitute a `split(text, "\n")` segmenter;
    * everything downstream only sees segment hashes). Returns
    * (idCol, seg_idx, seg). */
  def wordChunkSegments(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val toks = wordTokens(col(textCol))
    val nChunks = greatest(ceil(size(toks).cast("double") / k), lit(1))
      .cast("int")
    docs.select(col(idCol), posexplode(
        transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(toks, i * k + 1, lit(k)))))
      .as(Seq("seg_idx", "seg")))
  }

  /** Corpus-level duplicated-segment profile per document: how much
    * of each doc is made of segments that appear elsewhere in the
    * corpus (boilerplate headers, repeated paragraphs, licence
    * blocks). (idCol, n_segs, n_dup_segs, dup_frac).
    *
    * Scale design: segments reduce to 8-byte hashes before any
    * shuffle, and every aggregation partial-aggregates map-side —
    * deliberately NOT a count window over `seg_h`: a window puts
    * every occurrence of a hot segment (empty lines, licence
    * boilerplate — guaranteed in web corpora) on ONE reducer with no
    * map-side combine. Here the hot segment contributes one row per
    * task to the frequency shuffle, and the frequency⋈occurrence
    * join is AQE-skew-splittable. */
  def segmentDupStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 8,
                      hotSegmentThreshold: Long = 1000000L,
                      salts: Int = 16): DataFrame = {
    val segs = wordChunkSegments(docs, idCol, textCol, k)
      .select(col(idCol), xxhash64(col("seg")).as("seg_h"))
    // per-(doc, segment) occurrence counts: one partial-agged shuffle
    val perDoc = segs.groupBy(col(idCol), col("seg_h"))
      .agg(count(lit(1)).as("k"))
    // corpus-wide frequency per segment: partial-agged, skew-immune
    val freq = perDoc.groupBy(col("seg_h"))
      .agg(sum(col("k")).as("n"))
    // DEFAULT-ON skew guard on the frequency⋈occurrence join: a
    // segment appearing in more than hotSegmentThreshold docs (empty
    // lines, licence boilerplate — guaranteed at web scale) would
    // land every occurrence on ONE reducer; the hot set is already in
    // `freq` (no extra pre-pass), so only those keys salt/replicate —
    // cold segments join plain. Row-identical (asserted in SkewSpec).
    val hot = freq.filter(col("n") >= hotSegmentThreshold)
      .select(col("seg_h"))
    graft.operators.Skew
      .saltedJoinWithHotSet(perDoc, freq, Seq("seg_h"), salts,
        col(idCol), hot)
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_segs"),
        sum(when(col("n") > 1, col("k")).otherwise(0L)).as("n_dup_segs"))
      .withColumn("dup_frac",
        round(col("n_dup_segs").cast("double") / col("n_segs"), 6))
  }

  /** MinHash signatures via the fused native kernel — tokenize stays
    * declarative (codegen'd split), shingling + hashing is one pass
    * over a joined byte buffer with no per-shingle allocation (see
    * plans.TextHash). A pure map-side projection, no shuffle.
    * Returns (idCol, sig: array<long>). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleWords: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol),
      graft.plans.TextHashExpressions.shingleMinHash(
        wordTokens(col(textCol)), shingleWords, numHashes).as("sig"))

  /** Candidate pairs via LSH banding: hash each band of the
    * signature, bucket-join docs sharing any (band, bucket).
    *
    * `maxBucket > 0` drops (band, bucket) groups larger than that
    * before the self-join — a degenerate bucket of B members (mass-
    * produced boilerplate: every member hashes a band identically)
    * generates B² candidate pairs on one join key, and at web scale
    * such buckets exist by construction. The cap is a documented
    * approximation (pairs inside dropped buckets can still surface
    * via their other bands) and the standard industrial guard. The
    * oversized set is found by a partial-agged count (skew-immune)
    * and is tiny by definition, so the guard itself is a broadcast
    * anti-join — map-side. */
  def lshCandidates(sigs: DataFrame, idCol: String,
                    bands: Int, rows: Int, maxBucket: Int = 0): DataFrame = {
    val banded0 = sigs.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)))
      .as(Seq("band", "bucket")))
    val banded =
      if (maxBucket <= 0) banded0
      else {
        // renamed guard columns: the oversized set derives from the
        // SAME frame, and a using-columns self-anti-join would
        // resolve both sides to one attribute (trivially true) and
        // drop every row
        val oversized = banded0.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucket)
          .select(col("band").as("__oband"), col("bucket").as("__obucket"))
        banded0.join(broadcast(oversized),
          col("band") === col("__oband") &&
            col("bucket") === col("__obucket"), "left_anti")
      }
    val a = banded.toDF("id_a", "band", "bucket")
    val b = banded.toDF("id_b", "band", "bucket")
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: candidates verified by exact
    * shingle-set Jaccard ≥ threshold. */
  def minhashLsh(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", shingleWords: Int = 3,
                 numHashes: Int = 128, bands: Int = 32,
                 threshold: Double = 0.8, maxBucket: Int = 0): DataFrame = {
    // both kernel outputs are persisted: each is consumed by TWO
    // join legs whose keys differ (the banding self-join; the id_a /
    // id_b verify attaches), so no exchange reuse applies and the
    // un-persisted plan ran the tokenize+shingle kernels FOUR times
    // over the full corpus (plan-verified: 2× shingleminhash,
    // 2× shinglehashes, zero ReusedExchange). The cached relations
    // are compact (id, sig[numHashes]) / (id, shingle hashes ∝
    // words) rows; MEMORY_AND_DISK spills, never OOMs.
    val sigs = minhashSignatures(docs, idCol, textCol, shingleWords,
      numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidates(sigs, idCol, bands, numHashes / bands, maxBucket)
    // verify on sorted hashed shingle sets: the merge-scan intersect
    // is one compiled pass per pair (vs hash-set array_intersect),
    // and jaccard is unchanged modulo 64-bit hash collisions
    val shingled = docs.select(col(idCol).as("__id"),
      graft.plans.TextHashExpressions.shingleHashes(
        wordTokens(col(textCol)), shingleWords).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c = graft.plans.FloatVectorExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double")
    cands
      .join(shingled.toDF("id_a", "sh_a"), "id_a")
      .join(shingled.toDF("id_b", "sh_b"), "id_b")
      .withColumn("jaccard", c / (size(col("sh_a")) + size(col("sh_b")) - c))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental near-dup admission — the batch form of the
    * streaming LSH index (streaming/Streams.LshIndexProcessor) and
    * the operational pattern of a GROWING corpus: an arriving batch
    * is deduplicated against the existing corpus WITHOUT re-pairing
    * the corpus against itself. The corpus side contributes only its
    * banded bucket memberships (in production a persisted index
    * table, bucketed by (band, bucket) so probes co-locate — never
    * recomputed per batch); batch docs band with the same kernel,
    * candidate pairs are (corpus ⋈ batch on shared buckets) ∪
    * (intra-batch self-join), and every candidate is verified by the
    * exact merge-scan jaccard. Per batch doc: `dup_of` = the SMALLEST
    * matching prior id (corpus, or an earlier-id batch doc — the
    * deterministic admission rule), `admitted` iff no match.
    * Corpus-side work per ingest is one bucket join keyed by the
    * batch's buckets — proportional to the BATCH, not the corpus. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleWords: Int = 3, numHashes: Int = 128,
                       bands: Int = 32, threshold: Double = 0.5,
                       maxBucket: Int = 0): DataFrame = {
    val rows = numHashes / bands
    // the batch side's signature and the union's shingle relations
    // are each consumed by several join legs with distinct keys (no
    // exchange reuse applies — the minhashLsh rule): persist the
    // compact kernel outputs so each kernel runs once per ingest
    def banded(sigs: DataFrame, out: String): DataFrame = {
      val b0 = sigs
        .select(col(idCol).as(out), posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)))
          .as(Seq("band", "bucket")))
      // the boilerplate guard applies to BOTH sides of the
      // corpus×batch join: a degenerate bucket on the persisted
      // corpus index would otherwise pair against every batch
      // member on every ingest — exactly the B² blowup the
      // intra-batch guard already prevents
      if (maxBucket <= 0) b0
      else {
        val oversized = b0.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucket)
          .select(col("band").as("__oband"), col("bucket").as("__obucket"))
        b0.join(broadcast(oversized),
          col("band") === col("__oband") &&
            col("bucket") === col("__obucket"), "left_anti")
      }
    }
    // corpus×batch candidates on shared (band, bucket); ids are
    // disjoint with corpus < batch by contract of the caller's split.
    // The batch signatures feed the cross join AND both legs of the
    // intra-batch self-join (lshCandidates) — persisted, the minhash
    // kernel runs once over the batch instead of three times.
    val batchSigs = minhashSignatures(batch, idCol, textCol,
      shingleWords, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cross = banded(
      minhashSignatures(corpus, idCol, textCol, shingleWords, numHashes),
      "id_a")
      .join(banded(batchSigs, "id_b"), Seq("band", "bucket"))
      .select(col("id_a"), col("id_b")).distinct()
    val intra = lshCandidates(batchSigs, idCol, bands, rows, maxBucket)
    val shingled = corpus.unionByName(batch)
      .select(col(idCol).as("__id"),
        graft.plans.TextHashExpressions.shingleHashes(
          wordTokens(col(textCol)), shingleWords).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c = graft.plans.FloatVectorExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double")
    val verified = cross.unionByName(intra).distinct()
      .join(shingled.toDF("id_a", "sh_a"), "id_a")
      .join(shingled.toDF("id_b", "sh_b"), "id_b")
      .filter(c / (size(col("sh_a")) + size(col("sh_b")) - c) >= threshold)
      .select(col("id_a"), col("id_b"))
    batch.select(col(idCol))
      .join(verified.withColumnRenamed("id_b", idCol), Seq(idCol), "left")
      .groupBy(col(idCol))
      .agg(min(col("id_a")).as("dup_of"),
        count(col("id_a")).as("n_matches"))
      .withColumn("admitted", col("dup_of").isNull)
  }

  /** 64-bit SimHash per document: per-token hash bits vote ±1,
    * weighted by token occurrence; sign of each bit-sum forms the
    * fingerprint. Computed by the native one-pass kernel — a pure
    * map-side projection (the exploded 64-sum formulation shuffled
    * the whole token relation for the same numbers). */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              declarativeHash: Boolean = false): DataFrame = {
    val toks = wordTokens(col(textCol))
    // declarativeHash swaps the engine-private xxh64 token hash for
    // seeded+square-mixed modular char-polynomial folds an EXTERNAL
    // engine recomputes bit-for-bit — same vote semantics (one
    // codegen'd pass either way), which is what makes the simhash
    // pair set oracle-checkable
    val fp =
      if (declarativeHash)
        graft.plans.TextHashExpressions.simHashDecl(toks)
      else graft.plans.TextHashExpressions.simHash64(toks)
    docs.select(col(idCol), fp.as("simhash"))
  }

  /** Near-dup pairs by SimHash: band the 64-bit fingerprint into 4
    * 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk equal),
    * bucket-join, verify with bit_count(xor) ≤ maxHamming.
    * `maxBucket` guards degenerate chunk buckets exactly as in
    * `lshCandidates`. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3,
                   maxBucket: Int = 0,
                   declarativeHash: Boolean = false): DataFrame = {
    val fp = simhash(docs, idCol, textCol, declarativeHash)
    val chunked0 = fp.select(col(idCol), col("simhash"), posexplode(
      array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("chunk", "val")))
    val chunked =
      if (maxBucket <= 0) chunked0
      else {
        // renamed guard columns — see lshCandidates on the self-anti-
        // join trap
        val oversized = chunked0.groupBy(col("chunk"), col("val"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucket)
          .select(col("chunk").as("__ochunk"), col("val").as("__oval"))
        chunked0.join(broadcast(oversized),
          col("chunk") === col("__ochunk") &&
            col("val") === col("__oval"), "left_anti")
      }
    val a = chunked.toDF("id_a", "sim_a", "chunk", "val")
    val b = chunked.toDF("id_b", "sim_b", "chunk", "val")
    a.join(b, Seq("chunk", "val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Character n-gram Jaccard similarity join — exact, via AllPairs
    * prefix filtering (Bayardo et al., WWW'07; Xiao et al. PPJoin).
    *
    * Grams are hashed to longs and globally ordered by ascending
    * document frequency. A pair with jaccard ≥ t must share at least
    * one gram among each document's first `sz − ceil(t·sz) + 1`
    * rarest grams (the prefix) — so candidates are generated only
    * from prefix postings lists, which skews toward rare grams and
    * collapses the Σ df² pair space. Candidates are then verified
    * exactly with a single merge-scan intersect over the full sorted
    * gram sets (native codegen'd expression). No false negatives.
    *
    * At open-web scale Σ df² is dominated by stop-grams; `maxDf`
    * drops grams appearing in more than that many docs from the
    * gram space (a documented, consistent approximation: prefixes,
    * intersections and sizes are all computed over the filtered
    * space). `maxDf = 0` keeps everything (exact). The verify join
    * broadcasts gram sets when small; at corpus sizes beyond
    * broadcast range the same plan degrades to a shuffled join —
    * the Vernica et al. (SIGMOD'10) replicated-kernel layout is the
    * documented upgrade path. */
  def ngramJaccard(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", n: Int = 8,
                   threshold: Double = 0.5, maxDf: Long = 0L,
                   maxDfFraction: Double = 0.0,
                   minDfCap: Long = 50L): DataFrame = {
    // hash each doc's text ONCE into its sorted-distinct gram array
    // and persist the compact (id, grams) relation: both consumers
    // below (the df aggregate and the per-doc rarest-first regroup)
    // explode from the cached arrays instead of re-running the text
    // scan + n-gram hash kernel per consumer. MEMORY_AND_DISK: size
    // is ∝ the corpus's gram volume, spills fine.
    val docGrams = docs.select(col(idCol).as("__id"),
      graft.plans.TextHashExpressions.charNgramHashes(
        lower(col(textCol)), n).as("__gs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g0 = docGrams.select(col("__id"), explode(col("__gs")).as("g"))
    // df via groupBy + rejoin (measured faster than a count window:
    // partial aggregation shrinks the shuffle and avoids the
    // window's per-partition sort)
    val dfs = g0.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // `maxDfFraction` derives the stop-gram cap INSIDE the plan —
    // greatest(minDfCap, fraction·|docs|) as a broadcast one-row
    // scalar — so no driver-side count() adds a second corpus pass
    // (the count itself is parquet row-group metadata, not a scan).
    val dfsKept =
      if (maxDf > 0) dfs.filter(col("df") <= maxDf)
      else if (maxDfFraction > 0) {
        val cap = docs.groupBy().agg(greatest(lit(minDfCap),
          (count(lit(1)) * maxDfFraction).cast("long")).as("__cap"))
        dfs.crossJoin(broadcast(cap))
          .filter(col("df") <= col("__cap")).drop("__cap")
      } else dfs
    // one shuffle by doc: grams rarest-first (global (df, g) order).
    // SHUFFLE_HASH pins the df attach to a shuffled hash join: the
    // occurrence side is an EXPLODE whose size the planner badly
    // underestimates — left alone it broadcast the full exploded
    // relation (measured at the ×10 tier: tens of millions of rows
    // on the single-threaded broadcast build path, and a hard
    // failure past the 8 GB broadcast cap at real scale), while both
    // sides here shuffle compressed longs.
    val perDoc = g0.join(dfsKept.hint("shuffle_hash"), "g")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("byDf"))
    val prefLen = (size(col("byDf"))
      - ceil(lit(threshold) * size(col("byDf"))) + 1).cast("int")
    // consumed three times (candidate gen + both verify sides) with
    // no common exchange to reuse — persist instead of recomputing
    // the gram/df pipeline per consumer (MEMORY_AND_DISK: size is
    // proportional to the input's distinct-gram volume, spills fine)
    val docsets = perDoc.select(col("__id"),
      sort_array(transform(col("byDf"), x => x("g"))).as("set"),
      slice(col("byDf"), lit(1), prefLen).as("pref"),
      size(col("byDf")).as("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate pairs off prefix postings lists only, pruned by the
    // PPJoin length + positional filters (Xiao et al., WWW'08):
    //  - length: jaccard ≥ t forces t·sz_a ≤ sz_b ≤ sz_a/t;
    //  - positional: for the FIRST shared prefix gram (positions
    //    pa, pb in the global rarest-first order) the overlap is
    //    bounded by 1 + min(sz_a−pa, sz_b−pb), which must reach
    //    ceil(t/(1+t)·(sz_a+sz_b)) — the overlap a jaccard-t pair
    //    needs. Applied per shared-gram occurrence (OR over
    //    occurrences via distinct), which keeps the first-gram
    //    guarantee and so admits every true pair.
    // Explicit repartition pins the stage's parallelism (the pair
    // OUTPUT dwarfs the input, so AQE would coalesce it otherwise).
    val prefix = docsets.select(col("__id"), col("sz"),
      posexplode(col("pref")).as(Seq("p0", "pg")))
      .select(col("__id"), col("sz"), (col("p0") + 1).as("pos"),
        col("pg.g").as("g"))
    // one shuffle groups each gram's postings; pairs are generated
    // and filter-pruned by the native PpjoinPairs kernel inside the
    // same stage (no join, no materialized all-pairs intermediate)
    val cands = prefix
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("g"))
      .groupBy(col("g"))
      .agg(collect_list(struct(col("__id"), col("sz"), col("pos"))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .select(explode(graft.plans.TextHashExpressions
        .ppjoinPairs(col("xs"), threshold)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    // exact verify on full sorted gram sets: c/(|A|+|B|−c)
    val c = graft.plans.FloatVectorExpressions
      .sortedIntersectCount(col("set_a"), col("set_b")).cast("double")
    cands
      .join(docsets.select(col("__id").as("id_a"), col("set").as("set_a")), "id_a")
      .join(docsets.select(col("__id").as("id_b"), col("set").as("set_b")), "id_b")
      .withColumn("jaccard",
        c / (size(col("set_a")) + size(col("set_b")) - c))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Embedding near-dup: EXACT all-pairs with cosine ≥ threshold,
    * distributed as a tiled equi-join (the 1-Bucket-Theta pattern,
    * Okcan & Riedewald SIGMOD'11) instead of a CartesianProduct.
    *
    * Each vector is hashed into one of `blocks` blocks; the pair
    * space is the upper triangle of block×block tiles, and each side
    * replicates a row only to the tiles it participates in — so the
    * whole computation is ONE shuffle keyed by (tile_i, tile_j) whose
    * volume is (blocks+2)·|corpus| rows, followed by a hash/merge
    * equi-join. Every tile holds (n/blocks)² of the pair work, so
    * the O(n²) dot products spread evenly over blocks·(blocks+1)/2
    * tasks with no single-task nested loop and no per-pair partition
    * rescan (CartesianProduct's UnsafeCartesianRDD re-streams and
    * spills the right side per left partition).
    *
    * The quadratic FLOP count itself is irreducible for an exact
    * low-threshold cosine join on dense vectors (at threshold 0.4 a
    * random 64-d corpus holds essentially all pairs within the
    * candidate radius — no metric blocking can prune, and SRP-LSH
    * collision probability per bit is only 1−θ/π ≈ 0.63, far too
    * weak to band on). When the threshold is high (the actual
    * near-duplicate regime, ≥ ~0.8) use [[embeddingNearDupLsh]] —
    * sub-quadratic candidates, identical verify arithmetic.
    *
    * Norms are computed once per vector (not once per pair); per-pair
    * work is exactly dot/(na·nb), bit-identical to the naive form.
    *
    * SCALE-POLICY GATE (round-13): this is the DECLARED-QUADRATIC
    * exact baseline — a 100-TB user must not trip into n²/2 dot
    * products silently. One COLUMN-PRUNED count (ids only) estimates
    * the pair volume up front; past `maxPairsBudget` (default 2³³ ≈
    * 8.6e9 pairs, ~2 minutes of float-64d dots per 32 cores) the
    * call REFUSES, naming the sub-quadratic routes. The count
    * executes `emb`'s lineage once — persist the input first if it
    * is itself an expensive pipeline. Raise the budget explicitly
    * to opt into a bigger exact run. */
  def embeddingNearDup(emb: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       threshold: Double = 0.95,
                       blocks: Int = 16,
                       maxPairsBudget: Long = DefaultPairsBudget)
      : DataFrame = {
    val n = emb.select(col(idCol)).count()
    val pairVolume = BigInt(n) * BigInt(math.max(0L, n - 1)) / 2
    require(pairVolume <= maxPairsBudget,
      s"embeddingNearDup is the EXACT all-pairs baseline: $n vectors " +
        s"mean ~$pairVolume candidate pairs, past the " +
        s"$maxPairsBudget-pair budget. At this scale use " +
        "embeddingNearDupLsh (SRP-LSH candidates, the high-threshold " +
        "near-duplicate regime) or semanticDedup (SemDeDup cells), " +
        "or raise maxPairsBudget explicitly to opt into the " +
        "quadratic run")
    val e = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      floatNorm(col(vecCol)).as("__n"),
      pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("__g"))
    // a row in block g is the LEFT member of tiles (g, j ≥ g) and the
    // RIGHT member of tiles (i ≤ g, g); an unordered cross-block pair
    // therefore meets in exactly one tile (min block left, max block
    // right), and same-block pairs meet twice in their diagonal tile
    // (dropped below by the id ordering)
    val lhs = e.select(col("__id").as("id_a"), col("__v").as("v_a"),
      col("__n").as("n_a"), col("__g").as("__i"),
      explode(sequence(col("__g"), lit(blocks - 1))).as("__j"))
    val rhs = e.select(col("__id").as("id_b"), col("__v").as("v_b"),
      col("__n").as("n_b"), col("__g").as("__j"),
      explode(sequence(lit(0), col("__g"))).as("__i"))
    lhs.join(rhs, Seq("__i", "__j"))
      // diagonal tiles see both orientations of a pair — keep one;
      // off-diagonal tiles see exactly one (possibly id-reversed)
      .filter(col("__i") =!= col("__j") || col("id_a") < col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cos", floatDot(col("v_a"), col("v_b")) /
        (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("cos"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023):
    * cluster embeddings with spherical k-means, then find cosine
    * near-dups ONLY within each cluster and collapse each duplicate
    * group to its lowest-id representative. Returns a full mapping
    * (idCol, rep_id, cell): `rep_id == id` marks the kept rows, so
    * both "drop the dups" and "audit what merged" are one filter
    * away.
    *
    * Scale design: the cluster assignment is a compiled map-side
    * argmax (centroids are driver model state, trained on a sample at
    * real scale); the pair search is an equi-join keyed by cell —
    * blocking factor k bounds each join group at ~n/k vectors, so
    * choose k so cells fit a task (SemDeDup used k ≈ 11k for 5B
    * embeddings); duplicate groups collapse through the same
    * connected-components machinery as dup_clusters (near-dup graphs
    * are tiny vs their corpus). */
  def semanticDedup(emb: DataFrame, k: Int, threshold: Double = 0.95,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    iters: Int = 3,
                    sampleFraction: Double = 1.0): DataFrame =
    semanticCollapse(Similarity.kmeansAssign(emb, k, iters, idCol, vecCol,
      sampleFraction), threshold, idCol, vecCol)

  /** The collapse half of [[semanticDedup]], over an
    * ALREADY-ASSIGNED cells frame (`idCol`, `vecCol`, `cell`):
    * intra-cell cosine pairs at `threshold`, connected components,
    * min-label representative. Split out so a DETERMINISTIC cell
    * model (e.g. the per-label decimal-mean centroids kmeans_assign
    * uses) makes the whole pipeline declaratively recomputable by
    * an external oracle, while Lloyd's-trained cells ride the same
    * code path. */
  def semanticCollapse(cells: DataFrame, threshold: Double,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val e = cells.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      floatNorm(col(vecCol)).as("__n"), col("cell"))
    val pairs = e.toDF("id_a", "v_a", "n_a", "cell")
      .join(e.toDF("id_b", "v_b", "n_b", "cell"), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(floatDot(col("v_a"), col("v_b")) /
        (col("n_a") * col("n_b")) >= threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    Clustering.withComponentLabel(cells.select(col(idCol), col("cell")),
        idCol, pairs, "rep_id")
      .select(col(idCol), col("rep_id"), col("cell"))
  }

  /** Sub-quadratic embedding near-dup for the HIGH-threshold regime
    * (actual near-duplicates, cosine ≥ ~0.8): sign-random-projection
    * LSH buckets generate candidates, the exact cosine verifies them
    * — same arithmetic and output schema as [[embeddingNearDup]],
    * linear signature pass plus bucket-keyed shuffles, no all-pairs
    * anywhere.
    *
    * Recall is the standard SRP bound: a pair at angle θ collides in
    * one table with p = (1−θ/π)^bits, and is a candidate with
    * 1−(1−p)^tables — at cosine 0.9 the defaults give ≥ 0.9999; at
    * cosine 0.4 the same formula is ≈ 0.02 per table, which is why
    * the exact tiled join exists for low thresholds. `maxBucket`
    * guards degenerate buckets (mass-duplicated vectors) exactly as
    * in [[lshCandidates]]. */
  def embeddingNearDupLsh(emb: DataFrame, idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          threshold: Double = 0.95,
                          bits: Int = 8, tables: Int = 8,
                          maxBucket: Int = 0): DataFrame = {
    import graft.plans.FloatVectorExpressions.srpBuckets
    val bucketed0 = emb.select(col(idCol).as("__id"),
      posexplode(srpBuckets(col(vecCol), bits, tables)).as(Seq("t", "b")))
    val bucketed =
      if (maxBucket <= 0) bucketed0
      else {
        // renamed guard columns — see lshCandidates on the self-anti-
        // join trap
        val oversized = bucketed0.groupBy(col("t"), col("b"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucket)
          .select(col("t").as("__ot"), col("b").as("__ob"))
        bucketed0.join(broadcast(oversized),
          col("t") === col("__ot") && col("b") === col("__ob"), "left_anti")
      }
    val cands = bucketed.toDF("id_a", "t", "b")
      .join(bucketed.toDF("id_b", "t", "b"), Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val vecs = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      floatNorm(col(vecCol)).as("__n"))
    cands
      .join(vecs.toDF("id_a", "v_a", "n_a"), "id_a")
      .join(vecs.toDF("id_b", "v_b", "n_b"), "id_b")
      .withColumn("cos", floatDot(col("v_a"), col("v_b")) /
        (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }
}
