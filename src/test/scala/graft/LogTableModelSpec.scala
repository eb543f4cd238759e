package graft

import graft.sources.LogTable
import org.apache.spark.sql.functions._

/** Model-based check of the transaction-log table: a deterministic
  * pseudo-random sequence of append / delete / update (each both
  * copy-on-write and merge-on-read) / overwrite / restore /
  * optimize / cluster / purge operations runs against BOTH the
  * real table and an in-memory multiset model; after every step the
  * loaded snapshot must equal the model, and at the end every
  * committed version must equal the model state recorded when it was
  * committed (time travel over the whole history). This is the
  * whole-protocol invariant the per-feature tests can't state:
  * arbitrary interleavings of commit kinds never lose, duplicate or
  * corrupt a row. */
class LogTableModelSpec extends SparkSpec {
  import spark.implicits._

  private type Row2 = (Long, String)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Row2] =
    df.select("k", "v").as[Row2].collect().toSeq.sorted

  test("48 random mixed commits (incl. deletion-vector and REF ops): " +
    "table state tracks the model at " +
    "every step and every version stays exactly replayable") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logmodel").toString
    val rnd = new scala.util.Random(42)
    val t = new LogTable(s"$dir/t", checkpointInterval = 5)
    // the key column starts NARROW (int) and type-widens to long
    // mid-sequence — every earlier append conforms long→int at the
    // write choke point, every later op reads both file generations
    t.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType))),
      // round-11: force PARQUET checkpoints (file-state through a
      // Spark job) for the whole 48-op mix — every interleaving of
      // commit kinds must replay identically through them
      properties = Map("graft.checkpoint.parquetThreshold" -> "1"))

    var model = Vector.empty[Row2]
    // model state per committed version, index == log version
    // (version 0 is the empty explicit create)
    var snaps = Vector(Vector.empty[Row2])
    var nextId = 0L
    // ref-surface model: live tags → pinned version; at most one
    // open branch at a time, with the rows appended to it since the
    // fork (appends are disjoint from anything main does, so a merge
    // must ALWAYS succeed — content-aware rule — and land exactly
    // those rows on top of whatever main holds THEN)
    var modelTags = Map.empty[String, Long]
    var branch: Option[(String, LogTable)] = None
    var branchRows = Vector.empty[Row2]
    // ops whose commit metadata expiry later deletes still count
    // toward the op-mix sanity check — capture before the floor rises
    var opsPreExpiry = Set.empty[String]
    var opsIso = Set.empty[String]

    def freshBatch(): Vector[Row2] = {
      val n = 1 + rnd.nextInt(6)
      val b = (0 until n).map { _ =>
        // ~1/3 of keys collide with an earlier id to exercise
        // duplicate keys in the multiset
        val k = if (nextId > 2 && rnd.nextInt(3) == 0)
          rnd.nextLong(nextId) else { nextId += 1; nextId - 1 }
        (k, s"v${rnd.nextInt(1000)}")
      }.toVector
      b
    }

    def afterOp(step: Int): Unit = {
      val committed = t.currentVersion.map(_ + 1).getOrElse(0L)
      // every commit that happened since last check snapshots the
      // CURRENT model (ops that matched nothing commit nothing)
      while (snaps.size < committed) snaps :+= model
      assert(snaps.size == committed, s"version/snapshot drift")
      assert(sortedRows(t.load(spark)) == model.sorted,
        s"state diverged after ${snaps.size} commits")
      // ref state tracks the model too
      val live = if (t.exists) t.refs else Map.empty[String, (String, Long)]
      assert(live.collect { case (n, ("tag", v)) => n -> v } == modelTags,
        s"tag drift after ${snaps.size} commits")
      assert(live.collect { case (n, ("branch", _)) => n }.toSet ==
        branch.map(_._1).toSet,
        s"branch-ref drift after ${snaps.size} commits")
      // the two replays agree: a fresh handle's checkpoint-based
      // replay and a raw replay of every commit fold to the same
      // metadata and the same adds in the same order (until expiry
      // removes the commits a raw replay starts from)
      if (t.exists && t.earliestVersion.contains(0L)) {
        val v = t.currentVersion.get
        val viaCkpt = new LogTable(s"$dir/t")
        val raw = new LogTable(s"$dir/t")
        raw.ignoreCheckpointsForTest = true
        assert(raw.metaAt(v) == viaCkpt.metaAt(v),
          s"metadata replays diverge at v$v")
        assert(raw.liveAdds(Some(v)) == viaCkpt.liveAdds(Some(v)),
          s"file-state replays diverge at v$v")
      }
      // ROW TRACKING invariants (every few steps — an extra job):
      // live ids unique and strictly below the high-water, whatever
      // op mix ran — overwrites, restores to PRE-TRACKING versions,
      // hidden-partition epochs, branch merges included
      if (t.exists && t.rowTrackingEnabled() && step % 6 == 0) {
        val ids = t.loadWithRowIds(spark).select("_row_id")
          .as[Long].collect().toSeq
        assert(ids.distinct.size == ids.size,
          s"duplicate row ids after ${snaps.size} commits")
        val hw = t.tableProperties(LogTable.PropRowIdHighWater).toLong
        assert(ids.forall(_ < hw),
          s"row id at/above high-water after ${snaps.size} commits")
      }
    }

    (0 until 48).foreach { step =>
      try {
      rnd.nextInt(8) match {
        case 0 | 1 | 2 => // append (most common, as in real tables)
          val b = freshBatch()
          t.append(b.toDF("k", "v"))
          model = model ++ b
        case 3 => // range delete — copy-on-write or deletion-vector
          val lo = rnd.nextLong(math.max(nextId, 1L))
          val hi = lo + rnd.nextInt(5)
          if (t.exists) {
            val pred = col("k") >= lo && col("k") <= hi
            if (rnd.nextBoolean()) t.delete(spark, pred)
            else t.deleteMor(spark, pred)
            model = model.filterNot(r => r._1 >= lo && r._1 <= hi)
          }
        case 4 => // range update — copy-on-write or merge-on-read
          val lo = rnd.nextLong(math.max(nextId, 1L))
          val hi = lo + rnd.nextInt(5)
          if (t.exists) {
            val pred = col("k") >= lo && col("k") <= hi
            if (rnd.nextBoolean())
              t.update(spark, pred, Map("v" -> lit(s"u$step")))
            else t.updateMor(spark, pred, Map("v" -> lit(s"u$step")))
            model = model.map(r =>
              if (r._1 >= lo && r._1 <= hi) (r._1, s"u$step") else r)
          }
        case 5 => // overwrite or restore, evenly
          if (snaps.nonEmpty && rnd.nextBoolean()) {
            // restore targets only RETAINED versions: expiry (layered
            // at step 37) raises the floor and below-floor restores
            // rightly refuse — the model never asks for one
            val floor = if (t.exists)
              t.earliestVersion.getOrElse(0L).toInt else 0
            val v = floor + rnd.nextInt(snaps.size - floor)
            t.restore(v.toLong)
            model = snaps(v)
          } else {
            val b = freshBatch()
            // conform the frame to the CURRENT key width: an
            // overwrite replaces data, not the declared type — the
            // narrow→wide transition belongs to the widen commit
            val kt = if (t.exists) t.schema("k").dataType
              else org.apache.spark.sql.types.LongType
            t.overwrite(b.toDF("k", "v")
              .select(col("k").cast(kt).as("k"), col("v")))
            model = b
          }
        case 6 => // maintenance: layout-only / metadata-only commits
          if (t.exists && t.liveAdds().size > 1) {
            rnd.nextInt(6) match {
              case 0 => t.compactFiles(spark)
              case 1 => t.cluster(spark, Seq("k"), nFiles = 2)
              case 2 => t.purgeDeletes(spark)
              case 3 => t.setTableProperties(Map("step" -> s"$step"))
              case 5 =>
                // round-11 incremental clustering: layout-only like
                // cluster, plus the atomic epoch-marker property —
                // interleaving it through the mix proves the marker
                // survives every other commit kind and never
                // perturbs content or version accounting
                t.clusterIncremental(spark, Seq("k"), nFiles = 2)
              case 4 => // partition evolution: cycle the layout
                // through identity, HIDDEN-TRANSFORM (bucket) and
                // unpartitioned epochs — subsequent appends/rewrites
                // mix epochs in one snapshot, which every later op
                // must read correctly and must never leak the
                // hidden column through
                t.setPartitionColumns(
                  if (t.partitionCols == Seq("v")) Seq("bucket(4,k)")
                  else if (t.partitionCols.isEmpty) Seq("v")
                  else Seq.empty)
            }
          }
        case 7 => // refs: tag / branch / branch-append / merge / drop
          if (t.exists) rnd.nextInt(4) match {
            case 0 => // tag the head; model pins its version
              val name = s"tag$step"
              t.createTag(name)
              modelTags += name -> t.resolveTag(name)
            case 1 => // open a branch, or keep working on the open one
              branch match {
                case None =>
                  val bt = t.createBranch(s"br$step")
                  branch = Some((s"br$step", bt))
                  branchRows = Vector.empty
                case Some((_, bt)) =>
                  val b = freshBatch()
                  bt.append(b.toDF("k", "v"))
                  branchRows ++= b
                  // branch commits never move main
                  assert(sortedRows(t.load(spark)) == model.sorted,
                    "a branch append leaked into main")
              }
            case 2 => // merge: branch appends are disjoint → succeeds
              branch.foreach { case (name, _) =>
                t.mergeBranch(name)
                model = model ++ branchRows
                branch = None; branchRows = Vector.empty
              }
            case 3 => // drop the oldest tag, if any
              modelTags.keys.toSeq.sorted.headOption.foreach { name =>
                t.dropRef(name); modelTags -= name
              }
          }
      }
      } catch { case e: Throwable =>
        println(s"STEP $step FAILED schema=" +
          (if (t.exists) t.schema.fieldNames.mkString(",") else "-") +
          " parts=" + t.partitionCols.mkString(",") +
          " transforms=" + t.partitionTransforms)
        throw e
      }
      // switch row tracking on MID-SEQUENCE (metadata-only backfill)
      // so the remaining ~40 steps run the whole op mix tracked
      if (step == 7 && t.exists && !t.rowTrackingEnabled())
        t.enableRowTracking()
      // round-10: a CLUSTER BY + AUTO COMPACTION epoch (steps 13–31):
      // every write in the window sorts by k at the staging choke
      // point and appends trigger scope-local auto-compaction commits
      // (extra state-preserving `optimize` versions the snapshot
      // accounting below must absorb) — the policies the r9 verbs
      // added, run against the full op mix
      if (step == 13 && t.exists)
        t.setTableProperties(Map(
          LogTable.PropClusterBy -> "k",
          LogTable.PropAutoCompact -> "true",
          LogTable.PropAutoCompactMinFiles -> "2"))
      if (step == 31 && t.exists &&
          t.tableProperties.contains(LogTable.PropClusterBy))
        t.unsetTableProperties(Seq(LogTable.PropClusterBy,
          LogTable.PropAutoCompact, LogTable.PropAutoCompactMinFiles))
      // TYPE-WIDEN the key mid-sequence (int → long, metadata-only):
      // every file written before this reads upcast, every op after
      // mixes the generations; a later restore may legitimately
      // narrow the schema back, and appends re-conform
      if (step == 19 && t.exists &&
          t.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
        t.widenColumnType(spark, "k", org.apache.spark.sql.types.LongType)
      // round-12: a SERIALIZABLE-isolation epoch (steps 23–29): the
      // strictest conflict rule must be a NO-OP for a sequential
      // writer — every commit kind in the mix (appends, CoW/MoR
      // row ops, restores, layout rebuilds, refs, auto-compaction)
      // runs under it unchanged; the rule's actual conflict
      // behavior is pinned by the forced-interleave test in
      // LogCoordinatorSpec
      if (step == 23 && t.exists)
        t.setTableProperties(
          Map(LogTable.PropIsolation -> "Serializable"))
      if (step == 29 && t.exists && t.tableProperties
          .get(LogTable.PropIsolation).contains("Serializable")) {
        opsIso += "Serializable"
        t.unsetTableProperties(Seq(LogTable.PropIsolation))
      }
      // round-10: EXPIRE SNAPSHOTS mid-sequence — the floor rises
      // (clamped by live tags/forks), below-floor time travel leaves
      // the model's reachable set, restores re-target the retained
      // window, and the final replay loop walks only what survived
      if (step == 37 && t.exists && t.versions.size > 10) {
        opsPreExpiry = t.versions.map(t.commitOp).toSet
        t.expireSnapshots(retainLast = 8)
      }
      afterOp(step)
    }

    // coda: the sanity mix below must include a MERGE whatever the
    // seeded trajectory drew — run one deterministically if the
    // random walk never got there (disjoint content ⇒ must succeed)
    if (!t.versions.map(t.commitOp).contains("merge")) {
      branch match {
        case Some((name, _)) =>
          t.mergeBranch(name)
          model = model ++ branchRows
        case None =>
          val bt = t.createBranch("coda")
          val b = freshBatch()
          bt.append(b.toDF("k", "v"))
          t.mergeBranch("coda")
          model = model ++ b
      }
      branch = None; branchRows = Vector.empty
      afterOp(48)
    }

    // the full history replays: every version equals the model state
    // recorded at its commit (through checkpoints, restores and
    // layout rebuilds)
    t.versions.foreach { v =>
      assert(sortedRows(t.load(spark, Some(v))) == snaps(v.toInt).sorted,
        s"version $v no longer replays its committed state")
    }
    // surviving tags still serve exactly their pinned model state
    modelTags.foreach { case (name, v) =>
      assert(sortedRows(t.load(spark, Some(t.resolveTag(name)))) ==
        snaps(v.toInt).sorted,
        s"tag '$name' no longer serves its pinned state")
    }
    // sanity: the sequence actually exercised the op mix — refs, a
    // merge, the widen, and the round-10 layered verbs: the policy
    // epoch's property commits ran and expiry actually raised the
    // floor (sub-floor metadata is gone, everything above replayed)
    val ops = t.versions.map(t.commitOp).toSet ++ opsPreExpiry
    assert(Set("append", "delete", "optimize", "ref", "merge", "widen",
      "tblproperties").subsetOf(ops), ops)
    assert(t.earliestVersion.exists(_ > 0L),
      s"expiry never raised the floor: ${t.earliestVersion}")
    assert(opsIso.contains("Serializable"),
      "the Serializable epoch never ran")

    // round-12 PROTOCOL gate against the full surviving history: a
    // FUTURE writer stamps an unknown reader feature — every read
    // surface then refuses BY NAME, while pre-injection versions
    // keep replaying their committed states through a fresh handle
    val headBefore = t.currentVersion.get
    while ((t.currentVersion.get + 1) % 5 == 0) // keep the injection
      t.append(freshBatch().toDF("k", "v"))     // off a ckpt boundary
    t.commitProtocol(graft.sources.Protocol(1, 1,
      Set("graftFutureFeature"), Set("graftFutureFeature")))
    val eGate = intercept[IllegalStateException](
      new LogTable(s"$dir/t").load(spark))
    assert(eGate.getMessage.contains("graftFutureFeature"),
      eGate.getMessage)
    val fresh = new LogTable(s"$dir/t")
    assert(sortedRows(fresh.load(spark, Some(headBefore))) ==
      snaps(headBefore.toInt).sorted,
      "pre-injection snapshots must keep replaying")
  }

  test("concurrent writers: racing threads of real mixed commits " +
    "serialize — every blind append lands exactly once and every " +
    "version replays") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lograce").toString
    val path = s"$dir/t"
    // seed rows the row-level writers contend on
    new LogTable(path).append(
      (0L until 4L).map(k => (k, "seed", -1L)).toDF("k", "v", "src"))

    val nAppenders = 5
    val perThread = 4
    val conflicts = new java.util.concurrent.atomic.AtomicInteger
    val threads =
      // blind appenders: unique rows tagged (src=thread, seq) — the
      // retry loop must land EVERY one, whatever it races against
      (0 until nAppenders).map { tid =>
        new Thread(() => {
          val t = new LogTable(path)
          (0 until perThread).foreach { i =>
            t.append(Seq((100L + tid * 10 + i, s"a$tid-$i", tid.toLong))
              .toDF("k", "v", "src"))
          }
        })
      } ++
      // row-level writers: stats-pruned rewrites of the contended
      // seed range; a true conflict (their file rewritten under
      // them) legitimately throws — count it, never lose data
      Seq(
        new Thread(() => {
          val t = new LogTable(path)
          (0 until perThread).foreach { i =>
            try t.update(spark, col("k") === (i % 4).toLong && col("src") === -1L,
              Map("v" -> lit(s"u$i")))
            catch { case _: java.util.ConcurrentModificationException =>
              conflicts.incrementAndGet() }
          }
        }),
        new Thread(() => {
          val t = new LogTable(path)
          (0 until perThread).foreach { i =>
            // contends on the SAME seed files as the other updater:
            // a lost rewrite race surfaces as the CME, never as data
            try t.update(spark,
              col("k") === (3L - i % 4) && col("src") === -1L,
              Map("v" -> lit(s"w$i")))
            catch { case _: java.util.ConcurrentModificationException =>
              conflicts.incrementAndGet() }
          }
        }))
    threads.foreach(_.start())
    threads.foreach(_.join(300000))

    val t = new LogTable(path)
    // contiguous version numbers: the claim primitive never burned
    // or double-assigned a slot
    assert(t.versions == (0L until t.versions.size.toLong))
    // every blind append landed exactly once
    val appended = t.load(spark).filter(col("src") >= 0)
      .select("v").as[String].collect().toSeq
    assert(appended.sorted == (for {
      tid <- 0 until nAppenders; i <- 0 until perThread
    } yield s"a$tid-$i").sorted,
      s"lost/duplicated appends (conflicts thrown: ${conflicts.get})")
    // seed rows: never lost, never duplicated — only updated in place
    val seeds = t.load(spark).filter(col("src") === -1L)
      .select("k").as[Long].collect().toSeq
    assert(seeds.sorted == Seq(0L, 1L, 2L, 3L))
    // per-thread appends serialized in program order, and every
    // version replays: thread t's rows appear monotonically
    var prev = Map.empty[Long, Int].withDefaultValue(0)
    t.versions.foreach { v =>
      val byThread = t.load(spark, Some(v)).filter(col("src") >= 0)
        .groupBy("src").count().as[(Long, Long)].collect()
        .map { case (s, c) => s -> c.toInt }.toMap.withDefaultValue(0)
      (0L until nAppenders.toLong).foreach { tid =>
        assert(byThread(tid) >= prev(tid),
          s"thread $tid rows regressed at version $v")
      }
      prev = byThread
    }
  }
}
