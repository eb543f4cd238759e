package graft

import java.io.File

import graft.sources.{LocalFsCommitCoordinator, LogCommitCoordinator, LogTable}

/** The storage contract behind the log-table commit protocol
  * ([[graft.sources.LogCommitCoordinator]]): one atomic
  * create-if-absent claim per slot. Proves both directions — the
  * protocol SURVIVES a forced commit race under the atomic local-FS
  * binding, and LOSES a committed version under a check-then-write
  * double (what a conditional-put-less object store would do) — so
  * the trait boundary is load-bearing, not decorative. */
class LogCoordinatorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_logproto").toString

  /** Object-store double WITHOUT conditional put: existence check,
    * then an unconditional PUT (rename-with-replace). The window
    * between the two is where a racing writer's commit vanishes;
    * `onWindow` forces that interleave deterministically. */
  private final class CheckThenWriteCoordinator(onWindow: () => Unit)
    extends LogCommitCoordinator {
    override def claim(tmp: File, target: File): Boolean =
      if (target.exists()) { tmp.delete(); false }
      else {
        onWindow() // another writer claims the slot RIGHT HERE
        java.nio.file.Files.move(tmp.toPath, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        true
      }
  }

  test("a check-then-write claim (no conditional put) loses a " +
    "racing writer's committed version — the conflict the " +
    "coordinator seam exists to prevent") {
    val path = s"${tmp()}/t"
    new LogTable(path).append(Seq((0L, "seed")).toDF("k", "v")) // v0
    var fired = false
    val broken = new LogTable(path,
      coordinator = new CheckThenWriteCoordinator(() => {
        if (!fired) {
          fired = true
          // the victim commits v1 inside the check-to-put window
          new LogTable(path).append(Seq((1L, "victim")).toDF("k", "v"))
        }
      }))
    broken.append(Seq((2L, "attacker")).toDF("k", "v"))
    // both writers reported success, but the victim's commit was
    // REPLACED: its row is gone from every readable snapshot even
    // though its data files sit in data/ — silent data loss
    val t = new LogTable(path)
    assert(t.currentVersion.contains(1L))
    val vs = t.load(spark).select("v").as[String].collect().toSet
    assert(vs == Set("seed", "attacker"), s"expected lost update, got $vs")
  }

  test("the atomic local-FS claim under the SAME forced interleave " +
    "keeps both commits: loser retries onto the next slot") {
    val path = s"${tmp()}/t"
    new LogTable(path).append(Seq((0L, "seed")).toDF("k", "v")) // v0
    var fired = false
    // the clock fires inside commitRetry after head resolution and
    // before the slot claim — the same window the double exploits
    val racer = new LogTable(path, clock = () => {
      if (!fired) {
        fired = true
        new LogTable(path).append(Seq((1L, "victim")).toDF("k", "v"))
      }
      System.currentTimeMillis()
    })
    racer.append(Seq((2L, "survivor")).toDF("k", "v"))
    val t = new LogTable(path)
    assert(t.versions == Seq(0L, 1L, 2L))
    assert(t.load(spark).select("v").as[String].collect().toSet ==
      Set("seed", "victim", "survivor"))
    // the losing attempt's temp file was cleaned up
    assert(Option(new File(path, "_log").listFiles()).toSeq.flatten
      .forall(!_.getName.startsWith(".tmp")))
  }

  /** Lands `first` (the same batch's first attempt) on the first
    * claim it is asked for, then claims as the local FS does — so
    * the caller's commit loses the slot to its own batch. */
  private final class OwnBatchFirst(first: () => Unit)
    extends LogCommitCoordinator {
    private var fired = false
    override def claim(tmp: File, target: File): Boolean = {
      if (!fired) { fired = true; first() }
      LocalFsCommitCoordinator.claim(tmp, target)
    }
  }

  /** Every file under `data/` and `_bloom/`, relative to the table. */
  private def dataAndBloomFiles(path: String): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new File(path).toPath
    Seq("data", "_bloom").flatMap(d => walk(new File(path, d)))
      .map(f => root.relativize(f.toPath).toString).toSet
  }

  test("a replayed txn batch that loses the claim to its own first " +
    "commit commits nothing and leaves no data or bloom file behind") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id STRING, v BIGINT")
    def batch(n: Long) = Seq((s"id-$n", n), (s"id-${n + 1}", n + 1))
      .toDF("id", "v")
    Seq("appendStreamBatch", "overwrite").foreach { op =>
      val path = s"${tmp()}/t"
      new LogTable(path).create(schema, bloomFilterBy = Seq("id")) // v0
      new LogTable(path).append(batch(0L))                        // v1
      def write(t: LogTable): Long =
        if (op == "overwrite") t.overwrite(batch(5L), Some(("app", 3L)))
        else t.appendStreamBatch(batch(5L), "app", 3L).getOrElse(-1L)
      val replay = new LogTable(path,
        coordinator = new OwnBatchFirst(() => {
          write(new LogTable(path)); ()
        }))
      assert(write(replay) == -1L, op)
      val t = new LogTable(path)
      assert(t.versions == Seq(0L, 1L, 2L), op)
      assert(t.lastCommittedBatch("app").contains(3L), op)
      val referenced = t.versions.flatMap(v => t.liveAdds(Some(v)))
        .map(_.path).toSet
      val names = referenced.map(p => new File(p).getName)
      val orphans = dataAndBloomFiles(path).filterNot(f =>
        if (f.startsWith("_bloom/"))
          names.exists(n => new File(f).getName.startsWith(n + "."))
        else referenced.contains(f))
      assert(orphans.isEmpty, s"$op left $orphans")
      assert(dataAndBloomFiles(path).exists(_.startsWith("_bloom/")), op)
    }
  }

  test("round-11 Serializable isolation: the SAME forced interleave " +
    "— a blind append racing a read-declaring commit — sails under " +
    "the default WriteSerializable and refuses under Serializable") {
    // default (WriteSerializable, Delta's level): RESTORE racing an
    // append retries onto the next slot and commits — the file-level
    // rule sees no conflict, and the racing append's rows survive
    // beside the restored snapshot (the write-serial order)
    val p1 = s"${tmp()}/t"
    new LogTable(p1).append(Seq((0L, "seed")).toDF("k", "v"))  // v0
    new LogTable(p1).append(Seq((1L, "later")).toDF("k", "v")) // v1
    var fired1 = false
    val ws = new LogTable(p1, clock = () => {
      if (!fired1) {
        fired1 = true
        new LogTable(p1).append(Seq((9L, "racer")).toDF("k", "v"))
      }
      System.currentTimeMillis()
    })
    ws.restore(0L)
    assert(new LogTable(p1).load(spark).select("v").as[String]
      .collect().toSet == Set("seed", "racer"))
    // Serializable (opt-in TBLPROPERTIES): the transaction declared
    // a read snapshot, so ANY commit landing after it — the blind
    // append included — conflicts: the outcome could depend on rows
    // the transaction never read. The caller re-reads and retries.
    val p2 = s"${tmp()}/t"
    new LogTable(p2).append(Seq((0L, "seed")).toDF("k", "v"))  // v0
    new LogTable(p2).setTableProperties(
      Map(LogTable.PropIsolation -> "Serializable"))           // v1
    new LogTable(p2).append(Seq((1L, "later")).toDF("k", "v")) // v2
    var fired2 = false
    val ser = new LogTable(p2, clock = () => {
      if (!fired2) {
        fired2 = true
        new LogTable(p2).append(Seq((9L, "racer")).toDF("k", "v"))
      }
      System.currentTimeMillis()
    })
    val e = intercept[java.util.ConcurrentModificationException](
      ser.restore(0L))
    assert(e.getMessage.contains("serializable isolation"),
      e.getMessage)
    // blind appends declare no read: conflict-free under BOTH levels
    new LogTable(p2).append(Seq((2L, "more")).toDF("k", "v"))
    assert(new LogTable(p2).load(spark).count() == 4L)
    // and a quiet retry of the refused restore succeeds
    val t2 = new LogTable(p2)
    t2.restore(0L)
    assert(t2.load(spark).select("v").as[String].collect().toSet
      == Set("seed"))
  }

  test("claim semantics at the unit level: winner publishes whole " +
    "content, loser's temp is cleaned and the slot is untouched") {
    val dir = new File(tmp())
    val won = new File(dir, ".tmp-w")
    java.nio.file.Files.writeString(won.toPath, "winner-content")
    val slot = new File(dir, "00000000000000000000.json")
    assert(LocalFsCommitCoordinator.claim(won, slot))
    assert(!won.exists())
    assert(java.nio.file.Files.readString(slot.toPath) == "winner-content")
    // a second claim of the same slot loses, cleans up, changes nothing
    val lost = new File(dir, ".tmp-l")
    java.nio.file.Files.writeString(lost.toPath, "loser-content")
    assert(!LocalFsCommitCoordinator.claim(lost, slot))
    assert(!lost.exists())
    assert(java.nio.file.Files.readString(slot.toPath) == "winner-content")
  }
}
