package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Structured-Streaming twins of the batch operators: the same
  * logical transforms bound to `readStream` sources. The reference's
  * pipeline is batch-only; these give the engine an incremental-
  * ingest path (the lakehouse "bronze append → silver merge" loop as
  * a stream instead of scheduled jobs).
  */
object Streams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class UserState(user_id: Long, event_type: String,
                       last_ts: java.sql.Timestamp)

  /** Tumbling-window count/sum per event type with a watermark —
    * identical semantics to Analytics.windowedEvents on a bounded
    * input (proved in tests via MemoryStream). */
  def windowedAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      // group by window(...) itself, NOT window(...).start: extracting
      // the field before the aggregate strips the event-time watermark
      // metadata from the group key, silently disabling append-mode
      // emission and state eviction
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Span load per hour, streaming — the watermark-safe sibling of
    * Analytics.concurrencyProfile: each span [start, end) explodes
    * STATELESSLY into the hour windows it overlaps (spans are
    * clamped to `maxSpanHours`, so the explode factor is bounded and
    * a malformed open-ended span cannot fan out unboundedly), then a
    * standard watermarked window count. Reports spans OPEN DURING
    * each hour — the window-bucketed load profile; the batch sweep
    * line refines it to the exact within-hour peak. Append-mode
    * safe: the watermark is declared on the exploded window-hour
    * column itself (grouping on a derived column would otherwise
    * strip event-time metadata — same pitfall as windowedAgg's).
    * Zero/negative-length spans are dropped. */
  def spanLoadPerHour(spans: DataFrame, startCol: String,
                      endCol: String, latenessHours: Int = 1,
                      maxSpanHours: Int = 6): DataFrame =
    spans
      .select(col(startCol).as("__s"),
        least(col(endCol),
          col(startCol) + expr(s"INTERVAL $maxSpanHours HOURS")).as("__e"))
      .where(col("__e") > col("__s"))
      .withColumn("__h", explode(sequence(
        date_trunc("hour", col("__s")),
        date_trunc("hour", col("__e") - expr("INTERVAL 1 MICROSECOND")),
        expr("INTERVAL 1 HOUR"))))
      // the exploded hours REACH BACK up to maxSpanHours behind the
      // span's arrival-driving start time, so the watermark delay
      // must cover lateness + span horizon: a lateness-only delay
      // silently drops the early hours of a long span that arrives
      // after shorter same-era spans advanced the watermark
      .withWatermark("__h", s"${latenessHours + maxSpanHours} hours")
      .groupBy(window(col("__h"), "1 hour"))
      .agg(count(lit(1)).as("n_open_spans"))
      .select(col("window.start").as("hour"), col("n_open_spans"))

  /** Streaming SCD1: last-writer-wins current state per user via
    * mapGroupsWithState — the incremental form of Scd.scd1Upsert /
    * the reference's MERGE loop. Emits the updated current row per
    * key per micro-batch. */
  def streamingScd1(events: Dataset[Event]): Dataset[UserState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) =>
          val latest = batch.reduceOption { (a, b) =>
            if (b.ts.after(a.ts) ||
              (b.ts.equals(a.ts) && b.event_id > a.event_id)) b else a
          }
          val merged = (state.getOption, latest) match {
            case (Some(s), Some(e)) if e.ts.after(s.last_ts) =>
              UserState(userId, e.event_type, e.ts)
            case (Some(s), _) => s
            case (None, Some(e)) => UserState(userId, e.event_type, e.ts)
            case (None, None) => UserState(userId, null, null)
          }
          state.update(merged)
          merged
      }
  }

  case class SessionState(start: java.sql.Timestamp,
                          last: java.sql.Timestamp, n: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long)

  /** Streaming sessionization: per-user sessions closed after `gap`
    * of event-time silence, via flatMapGroupsWithState with an
    * event-time timeout — the incremental twin of
    * Analytics.sessionize (which lag/sums over bounded data).
    *
    * State is one small record per ACTIVE user, evicted by the
    * timeout as the watermark passes session_end + gap — bounded by
    * concurrently-active users, not history, which is what makes it
    * run forever at ingest scale. Sessions that close within a
    * single micro-batch (two events > gap apart) are emitted
    * immediately without waiting for the timeout. */
  def streamingSessionize(events: Dataset[Event], gapMinutes: Int = 30,
                          watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start, s.last, s.n))
          } else {
            val ts = batch.map(_.ts).toArray.sortBy(_.getTime)
            var cur = state.getOption
            val closed = scala.collection.mutable.ListBuffer[SessionOut]()
            ts.foreach { t =>
              cur = cur match {
                case Some(s) if t.getTime - s.last.getTime > gapMs =>
                  // gap inside the batch: close and start a new one
                  closed += SessionOut(uid, s.start, s.last, s.n)
                  Some(SessionState(t, t, 1L))
                case Some(s) => Some(SessionState(s.start, t, s.n + 1))
                case None => Some(SessionState(t, t, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last.getTime + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Windowed approximate distinct counts with a watermark — the
    * streaming twin of Analytics.approxDistinctCounts. State per
    * (window, group) is one mergeable HyperLogLog++ sketch, so
    * memory is bounded by active windows × groups × sketch size
    * regardless of ingest volume — an exact streaming distinct
    * would hold every seen key. */
  def windowedApproxDistinct(events: DataFrame,
                             watermark: String = "2 hours",
                             rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", watermark)
      // window(...) kept whole through the aggregate — see windowedAgg
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_users"), col("n_events"))

  /** Streaming exact dedup on a key column with state TTL via
    * dropDuplicatesWithinWatermark — bounded state at 100 TB/day
    * ingest rates (unbounded dropDuplicates state would OOM). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** First-occurrence dedup with a per-key TTL, on the Spark 4
    * `transformWithState` arbitrary-state API: the first row per
    * (user_id, event_type) passes, repeats are dropped, and the
    * key's dedup record EXPIRES after `ttl` of processing time
    * (TTLConfig on the ValueState — the store evicts it, no timer
    * bookkeeping here). `dropDuplicates` state grows with every key
    * ever seen and `dropDuplicatesWithinWatermark` needs event time;
    * this bounds state to arrival-rate × ttl on processing time — the
    * right contract for an always-on ingest dedup at corpus scale.
    * Requires the RocksDB state store provider (transformWithState's
    * native store). Note: in ProcessingTime mode the engine keeps
    * scheduling batches to advance TTL time even with no new data —
    * fine for an always-on query, but bounded test/batch harnesses
    * should drive it with Trigger.Once per step (processAllAvailable
    * never quiesces). */
  class TtlDedupProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[(Long, String), Event, Event] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, TTLConfig(ttl))
    override def handleInputRows(key: (Long, String),
                                 rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Event] =
      if (seen.exists() || !rows.hasNext) Iterator.empty
      else { seen.update(true); Iterator.single(rows.next()) }
  }

  /** Streaming dedup on (user_id, event_type) with TTL'd state — see
    * [[TtlDedupProcessor]]. */
  def streamingDedupTtl(events: Dataset[Event],
                        ttl: java.time.Duration): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new TtlDedupProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** One banded-signature probe of the streaming LSH index: the doc's
    * sorted hashed shingle set rides along for exact verification. */
  case class BucketProbe(bucket: Long, doc_id: Long, sh: Array[Long])

  /** A bucket member held in store state. */
  case class LshMember(doc_id: Long, sh: Array[Long])

  /** A verified near-duplicate pair (id_a < id_b), same contract as
    * the batch `Dedup.minhashLsh` output. */
  case class NearDupPair(id_a: Long, id_b: Long, jaccard: Double)

  /** The streaming LSH bucket index: per (band, bucket) key, a TTL'd
    * ListState of recent members. Every arriving probe verifies
    * against each seen member by exact merge-scan jaccard on the
    * sorted shingle-hash sets — the same arithmetic as the batch
    * verify kernel — and emits pairs at or above the threshold.
    * Bucket membership is capped at `maxBucket` (the degenerate-
    * boilerplate guard; batch drops such buckets, the stream stops
    * enrolling into them) and evicted after `ttl`. */
  class LshIndexProcessor(ttl: java.time.Duration, maxBucket: Int,
                          threshold: Double)
      extends StatefulProcessor[Long, BucketProbe, NearDupPair] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[LshMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[LshMember]("members",
        Encoders.product[LshMember], TTLConfig(ttl))

    private def jaccard(a: Array[Long], b: Array[Long]): Double = {
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      c.toDouble / (a.length + b.length - c)
    }

    override def handleInputRows(key: Long, rows: Iterator[BucketProbe],
                                 tv: TimerValues): Iterator[NearDupPair] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[LshMember]
      members.get().foreach(buf += _)
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
      rows.foreach { p =>
        var i = 0
        while (i < buf.length) {
          val m = buf(i)
          if (m.doc_id != p.doc_id) {
            val j = jaccard(m.sh, p.sh)
            if (j >= threshold)
              out += NearDupPair(math.min(m.doc_id, p.doc_id),
                math.max(m.doc_id, p.doc_id),
                math.rint(j * 1e6) / 1e6)
          }
          i += 1
        }
        if (buf.length < maxBucket) {
          val mem = LshMember(p.doc_id, p.sh)
          buf += mem
          members.appendValue(mem)
        }
      }
      out.iterator
    }
  }

  /** A document offered to the streaming budget gate. */
  case class BudgetDoc(stratum: String, doc_id: Long, tokens: Long)

  /** Per-stratum running token total as ValueState: documents are
    * admitted while the stratum's cumulative tokens stay within its
    * budget, then the stratum closes — "stop ingesting English at
    * 50 B tokens" enforced at ingest time instead of by a batch
    * re-pass. Within a micro-batch, rows are admitted in the same
    * deterministic hash order the batch sampler uses (mille, mille2,
    * id), so reruns of a batch admit the same prefix; across batches
    * the admission order is arrival order, which IS the streaming
    * contract (the batch `tokenBudgetSample` re-ranks globally
    * instead — twins, not clones). State is ONE long per stratum. */
  class BudgetGateProcessor(budgets: Map[String, Long], default: Long)
      extends StatefulProcessor[String, BudgetDoc, BudgetDoc] {
    @transient private var used: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      used = getHandle.getValueState[Long]("used",
        Encoders.scalaLong, TTLConfig.NONE)

    private def mille(id: Long, pre: Long, mult: Long): Long =
      ((id % pre) * mult) % 1000L

    override def handleInputRows(key: String, rows: Iterator[BudgetDoc],
                                 tv: TimerValues): Iterator[BudgetDoc] = {
      val budget = budgets.getOrElse(key, default)
      var cum = if (used.exists()) used.get() else 0L
      val ordered = rows.toArray.sortBy(d =>
        (mille(d.doc_id, 1000003L, 2654435761L),
          mille(d.doc_id, 999983L, 2246822519L), d.doc_id))
      val out = ordered.iterator.flatMap { d =>
        if (cum + d.tokens <= budget) { cum += d.tokens; Some(d) }
        else None
      }.toArray
      used.update(cum)
      out.iterator
    }
  }

  /** Streaming token-budget gate — see [[BudgetGateProcessor]].
    * Expects (stratumCol, idCol, tokenCol) columns. */
  def streamingBudgetGate(docs: DataFrame, stratumCol: String,
                          idCol: String, tokenCol: String,
                          budgets: Map[String, Long],
                          defaultBudget: Long = Long.MaxValue)
      : Dataset[BudgetDoc] = {
    import docs.sparkSession.implicits._
    docs.select(col(stratumCol).cast("string").as("stratum"),
        col(idCol).cast("long").as("doc_id"),
        col(tokenCol).cast("long").as("tokens"))
      .as[BudgetDoc]
      .groupByKey(_.stratum)
      .transformWithState(new BudgetGateProcessor(budgets, defaultBudget),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming near-duplicate detection ON INGEST: the batch
    * minhash-LSH pipeline with its bucket index as store state. Each
    * arriving document is banded exactly as in `Dedup.lshCandidates`
    * (same signature kernel, band slicing and bucket hash), probes
    * the TTL'd index, and emits exact-jaccard-verified pairs
    * immediately — duplicate detection with ingest-time latency
    * instead of a nightly batch, state bounded by
    * arrival-rate × ttl × bands. A pair found through several bands
    * emits once per band; the batch plan ends the same way and
    * resolves it with `.distinct()` — sinks do the same here.
    * Over a bounded input the distinct pair set equals
    * `Dedup.minhashLsh` (asserted in tests). */
  def streamingNearDup(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", shingleWords: Int = 3,
                       numHashes: Int = 128, bands: Int = 32,
                       threshold: Double = 0.8, maxBucket: Int = 10000,
                       ttl: java.time.Duration =
                         java.time.Duration.ofHours(24)): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    val rows = numHashes / bands
    val toks = graft.functions.wordTokens(col(textCol))
    val probes = docs
      .select(col(idCol).cast("long").as("doc_id"),
        graft.plans.TextHashExpressions.shingleHashes(toks, shingleWords)
          .as("sh"),
        graft.plans.TextHashExpressions
          .shingleMinHash(toks, shingleWords, numHashes).as("__sig"))
      .select(col("doc_id"), col("sh"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * rows + 1, lit(rows)), b)))
          .as("bucket"))
      .as[BucketProbe]
    probes.groupByKey(_.bucket)
      .transformWithState(new LshIndexProcessor(ttl, maxBucket, threshold),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Windowed trending terms — the streaming twin of
    * TextAnalysis.approxVocabTopK: per tumbling window, the custom
    * mergeable Misra-Gries summary (graft.plans.ApproxTopKAggregate)
    * runs as the streaming aggregate, so state per window is ONE
    * capacity-bounded counter table no matter how many distinct
    * terms flow through — an exact streaming top-k would hold every
    * term ever seen in the window. Same sketch guarantees as batch:
    * counts are lower bounds, heavy-hitter membership certain. */
  def windowedTrendingTerms(docs: DataFrame, k: Int = 10,
                            capacity: Int = 128,
                            watermark: String = "2 hours",
                            tsCol: String = "ts",
                            textCol: String = "text"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(graft.functions.wordTokens(col(textCol)))
        .as("term"))
      .filter(col("term") =!= "")
      // window(...) kept whole through the aggregate — see windowedAgg
      .groupBy(window(col(tsCol), "1 hour"))
      .agg(graft.plans.ApproxTopKAggregate
        .approxTopK(col("term"), k, capacity).as("top"))
      .select(col("window.start").as("win_start"), col("top"))

  /** Per-user session aggregates via the BUILT-IN `session_window` —
    * the declarative twin of [[streamingSessionize]] (same gap-merge
    * semantics, state managed by Spark's session-window operator
    * instead of hand-rolled flatMapGroupsWithState). Exists as a
    * cross-check: both formulations must emit identical closed
    * sessions (asserted in StreamsSpec), and at scale the built-in
    * benefits from the state-store's native session merge without
    * timeout bookkeeping. Works identically over a batch frame. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30,
                       watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"))

  /** Streaming ingest with incremental manifest maintenance — the
    * lakehouse WRITE path of `Tables.buildManifest`/`pruneFiles`,
    * without a table format: each micro-batch lands its rows in an
    * isolated `batch=N` directory and commits per-file min/max
    * manifest rows derived by scanning ONLY the files that batch
    * wrote — per-commit metadata work ∝ the batch, never the table,
    * exactly Iceberg's snapshot-append discipline. BOTH writes are
    * `batch=N`-overwrites, so a micro-batch replay after a crash
    * between the data commit and the checkpoint commit rewrites the
    * same directories instead of duplicating rows (a plain manifest
    * append would double-count exactly that batch). Range queries
    * prune with the accumulated manifest while ingestion continues;
    * StreamsSpec asserts the incremental manifest equals a full
    * rebuild and that a range read skips other batches' files. */
  def ingestWithManifest(stream: DataFrame, dataDir: String,
                         manifestDir: String, keyCol: String,
                         checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val dir = s"$dataDir/batch=$batchId"
          batch.write.mode("overwrite").parquet(dir)
          graft.sources.Tables.buildManifest(batch.sparkSession, dir, keyCol)
            .write.mode("overwrite").parquet(s"$manifestDir/batch=$batchId")
          ()
        }
      }
      .start()

  /** Incremental dimension maintenance from a stream: each
    * micro-batch runs the batch pipeline's stage + SCD merge against
    * the dimension held in `log` and commits the new state — the
    * reference's scheduled MERGE loop as a continuously-running
    * stream (reference: notebooks/pipeline_core.py:274-296).
    *
    * The batch timestamp is data-derived (max of `tsCol` in the
    * batch), so replays after checkpoint recovery produce identical
    * dimensions. Each batch is one log commit, so readers never see
    * a half-merged dimension. */
  def sinkToDim(stream: DataFrame, cfg: graft.operators.Pipeline.TableConfig,
                tsCol: String, log: graft.sources.LogTable,
                checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val batchTs = new java.sql.Timestamp(
            batch.agg(max(col(tsCol))).head.getTimestamp(0).getTime)
          graft.operators.Pipeline.runIncrementInto(
            log, batch, cfg, s"stream:batch$batchId", batchTs)
          ()
        }
      }
      .start()

  /** Path-bound convenience overload: the dimension is the log table
    * at `dimPath`. */
  def sinkToDim(stream: DataFrame, cfg: graft.operators.Pipeline.TableConfig,
                tsCol: String, dimPath: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sinkToDim(stream, cfg, tsCol, new graft.sources.LogTable(dimPath),
      checkpointDir)

  /** Continuously-maintained materialized aggregate — the streaming
    * face of [[graft.sources.MaterializedAgg]]: each micro-batch
    * lands in the base log table through the exactly-once
    * idempotent-txn append (a batch the engine replays after
    * checkpoint recovery is DROPPED at the commit layer, not
    * double-counted), then the view advances by reading ONLY the new
    * commits off the base's change feed (refresh is exactly-once
    * under the same txn machinery, so a crash between append and
    * refresh self-heals on the next batch). End-to-end invariant:
    * the view equals a from-scratch aggregate of everything ever
    * ingested, at a per-batch cost ∝ the batch — the lakehouse
    * "bronze append → silver aggregate" loop as one stream. The
    * base table and view must exist ([[graft.sources
    * .MaterializedAgg.create]]) before the query starts. */
  def maintainAggregate(stream: DataFrame, basePath: String,
                        mvPath: String, app: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        new graft.sources.LogTable(basePath).appendStreamBatch(
          org.apache.spark.sql.GraftPlanReset.freshLeaf(batch), app,
          batchId)
        graft.sources.MaterializedAgg.refresh(spark, mvPath)
        ()
      }
      .start()

  /** Point-in-time enrichment of a stream against a static SCD2
    * dimension: each fact joins the dimension version whose
    * [valid_from, valid_to) interval covers its timestamp — the
    * streaming twin of Temporal.intervalJoin. A stream-static join
    * is stateless on the stream side (no watermark needed); the dim
    * is broadcast, so enrichment is map-side at any ingest rate. Dim
    * columns are aliased up front: both sides often derive from the
    * same lineage, and un-aliased self-references break silently. */
  def enrichWithScd2(facts: DataFrame, factKey: String, factTs: String,
                     dim: DataFrame, dimKey: String): DataFrame = {
    val d = dim.columns.foldLeft(dim) { (df, c) =>
      df.withColumnRenamed(c, s"__d_$c")
    }
    facts.join(
      org.apache.spark.sql.functions.broadcast(d),
      col(factKey) === col(s"__d_$dimKey") &&
        col(factTs) >= col("__d_valid_from") &&
        (col("__d_valid_to").isNull || col(factTs) < col("__d_valid_to")))
      .drop(s"__d_$dimKey", "__d_valid_from", "__d_valid_to",
        "__d_is_current")
      .withColumnsRenamed(
        d.columns.filter(c => !Set(s"__d_$dimKey", "__d_valid_from",
          "__d_valid_to", "__d_is_current").contains(c))
          .map(c => c -> c.stripPrefix("__d_")).toMap)
  }

  /** Point-in-time stream enrichment against a VERSIONED dimension,
    * safe under concurrent dimension commits: each micro-batch pins
    * the log's current version ONCE and enriches against that
    * immutable snapshot — a writer committing version N+1 mid-batch
    * can never tear the batch (data files are immutable and a version
    * is fixed by its log entry), which is exactly the snapshot
    * isolation Delta/Iceberg give stream-static joins and a plain
    * parquet dir cannot. Successive batches pick up new dimension
    * versions as they commit. Enriched rows append to `outPath`.
    * (reference's scheduled-merge dims consumed by downstream jobs:
    * notebooks/pipeline_core.py:274-296) */
  def enrichAgainstVersionedDim(facts: DataFrame, factKey: String,
                                factTs: String,
                                log: graft.sources.LogTable,
                                dimKey: String, outPath: String,
                                checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one head resolution per batch pins the snapshot; record
        // which version enriched the batch for lineage/audit
        log.currentVersion.foreach { v =>
          val dim = log.load(batch.sparkSession, Some(v))
          enrichWithScd2(batch, factKey, factTs, dim, dimKey)
            .withColumn("dim_version", lit(v))
            .write.mode("append").parquet(outPath)
        }
      }
      .start()

  /** Stream-stream attribution join: purchase events matched to the
    * view events that preceded them within `attributionWindow`, per
    * user. Both sides carry watermarks and the join condition bounds
    * the event-time distance, so each side's state is evicted once
    * the watermark passes the bound — the state store holds a sliding
    * window of events, not history. Returns one row per (view,
    * purchase) pair inside the window. */
  def attributionJoin(events: DataFrame,
                      attributionWindow: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(
          s"INTERVAL $attributionWindow"))
      .select(col("p_user").as("user_id"), col("view_id"),
        col("purchase_id"), col("view_ts"), col("purchase_ts"),
        col("value"))
  }

  /** LEFT-OUTER stream-stream join — the abandonment-detection dual
    * of [[attributionJoin]]: every view pairs with its in-window
    * purchase when one arrives, and a view with NO purchase inside
    * the attribution window emits with null purchase columns — but
    * only once the watermark passes the window end, when the engine
    * can PROVE no match can still arrive. This is the semantics the
    * inner join cannot express (an unmatched row must be held in
    * state until provably unmatchable, then emitted exactly once —
    * Spark's outer stream-stream state eviction); the time-bound
    * join condition is what keeps that state finite: each view is
    * droppable `attributionWindow` past its event time. */
  def abandonmentJoin(events: DataFrame,
                      attributionWindow: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(
          s"INTERVAL $attributionWindow"),
      "leftOuter")
      .select(col("v_user").as("user_id"), col("view_id"),
        col("purchase_id"), col("view_ts"), col("purchase_ts"),
        col("value"), col("purchase_id").isNull.as("abandoned"))
  }

  /** Streaming benchmark decontamination: drop stream documents that
    * share any k-word shingle with a STATIC eval corpus — the
    * streaming twin of Decontam.decontaminate, restructured to be
    * completely STATELESS (no watermark, no state store, no
    * streaming aggregation): the eval set is reduced ONCE at plan
    * construction — it is static and small by definition — to a
    * Bloom filter plus its exact sorted hash set, both shipped as
    * BROADCASTS (a plan literal would ride in every task binary;
    * at benchmark scale that is tens of MB per task —
    * [[graft.plans.BroadcastConst]] ships them once per executor).
    * Per document the probe is then map-side: a Bloom membership
    * test per shingle (no false negatives), and only Bloom-flagged
    * docs pay the exact merge-scan verify against the sorted set —
    * so output is EXACTLY the clean subset, at Bloom speed. */
  def decontaminateStream(docs: DataFrame, bench: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          n: Int = 13,
                          expectedBenchShingles: Long = 4000000L)
      : DataFrame = {
    val benchSh = graft.operators.Decontam
      .shingleHashSet(bench, idCol, textCol, n)
      .select(col("shingle_h")).distinct()
    val bloomBytes = benchSh
      .agg(graft.plans.BloomExpressions.bloomAgg(col("shingle_h"),
        expectedBenchShingles).as("b"))
      .head.getAs[Array[Byte]]("b")
    val exactSorted: Array[Long] = benchSh.orderBy(col("shingle_h"))
      .collect().map(_.getLong(0))
    val spark = docs.sparkSession
    val bloomBcHandle = spark.sparkContext.broadcast(bloomBytes)
    val exactBc = graft.plans.BroadcastExpressions
      .broadcastLongArray(spark, exactSorted)
    // shingleHashes returns the sorted distinct hash set per doc —
    // directly merge-scannable against the sorted eval set
    val sh = graft.plans.TextHashExpressions.shingleHashes(
      graft.functions.wordTokens(col(textCol)), n)
    val bloomHit = exists(col("__sh"),
      s => graft.plans.BloomExpressions
        .mightContainBroadcast(bloomBcHandle, s))
    val exactHit = graft.plans.FloatVectorExpressions
      .sortedIntersectCount(col("__sh"), exactBc) > 0
    docs.withColumn("__sh", sh)
      // && short-circuits in codegen: the exact verify only runs on
      // Bloom-flagged docs (~3% false positives + true hits)
      .filter(!(bloomHit && exactHit))
      .drop("__sh")
  }

  /** Map-only streaming curation: quality gate, PII redaction,
    * language guess and token count over a document stream. Every
    * transform is a stateless column expression (the same ones the
    * batch operators use), so the stream needs no watermark and
    * scales with ingest parallelism alone. */
  def curateStream(docs: DataFrame, textCol: String = "text",
                   minWords: Int = 5,
                   maxPunctRatio: Double = 0.25): DataFrame = {
    import graft.operators.TextAnalysis
    docs
      .filter(TextAnalysis.qualityFilter(col(textCol), minWords,
        maxPunctRatio))
      .withColumn("lang_guess", TextAnalysis.langId(col(textCol)))
      .withColumn("n_bpe_tokens",
        TextAnalysis.bpeTokenCount(col(textCol)).cast("long"))
      .withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
  }

  /** Streaming model scoring on ingest — the fit-offline /
    * score-online production shape: the hashed-linear quality score
    * ([[graft.operators.TextAnalysis.classifierCols]]) plus
    * tokenizer-faithful token counts under a PRE-TRAINED BPE merge
    * table ([[graft.operators.Bpe.train]] run offline; the table
    * rides into the codegen'd kernel as frozen model state).
    * Stateless and map-only — no watermark, no state store, append
    * mode at any rate; per-doc output is bit-identical to the batch
    * twin by construction (same column expressions). */
  def scoreStream(docs: DataFrame, merges: Seq[(String, String)],
                  modulus: Int = 1009, slope: Double = 4.0,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // full hyperparameter pass-through: a batch fit at non-default
    // (modulus, slope) must be reproducible on the stream
    val (_, quality) = graft.operators.TextAnalysis
      .classifierCols(col(textCol), modulus, slope)
    docs.select(col(idCol), col(textCol), quality.as("quality"),
      graft.plans.BpeExpressions.bpeTokenCount(col(textCol), merges)
        .as("n_bpe_tokens"))
  }

  /** A constraint-tagged event (streaming dead-letter record). */
  case class TaggedEvent(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double,
                         violation: String)

  /** Streaming bronze→silver constraint gate — the incremental twin
    * of `Pipeline.validateBatch`: every row is TAGGED (`null_field` /
    * `dup_key` / `ok`), never dropped, so one bad producer can't fail
    * an always-on ingest and quarantined rows stay auditable. The
    * validity check is stateless map-side; the dup check keys on the
    * business key with a TTL'd one-boolean ValueState — state is
    * bounded by arrival-rate × ttl, not by keys-ever-seen. Semantics
    * vs the batch gate: an append stream cannot retroactively re-tag
    * the FIRST copy of a key (the batch pass sees the whole batch and
    * tags all copies), so first-wins is the streaming contract —
    * exactly like `streamingDedupTtl`, but tagging instead of
    * dropping. Invalid rows bypass the dedup state entirely: a
    * malformed row must not burn its key's first-seen slot. */
  class QuarantineProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, Event, TaggedEvent] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, TTLConfig(ttl))

    private def tag(e: Event, v: String): TaggedEvent =
      TaggedEvent(e.event_id, e.ts, e.user_id, e.event_type, e.value, v)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[TaggedEvent] =
      rows.map { e =>
        if (e.event_type == null || e.event_type.isEmpty)
          tag(e, "null_field")
        else if (seen.exists()) tag(e, "dup_key")
        else { seen.update(true); tag(e, "ok") }
      }
  }

  /** Streaming constraint gate on event_id — see
    * [[QuarantineProcessor]]. Requires the RocksDB state store. */
  def streamingQuarantine(events: Dataset[Event],
                          ttl: java.time.Duration): Dataset[TaggedEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_id)
      .transformWithState(new QuarantineProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Output mode for the windowed agg sink. */
  val defaultOutputMode: OutputMode = OutputMode.Update()
}
