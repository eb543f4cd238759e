package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  InsertAction, InsertStarAction, MergeAction, MergeIntoTable, SubqueryAlias,
  UpdateAction, UpdateStarAction}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Executable ANSI `MERGE INTO` over graft's [[LogTable]] — the SQL
  * surface the reference's users write (reference:
  * notebooks/Load & SCD-Merge.py:24-38, Mini-ETL-Pipeline in
  * Databricks.py:55-66) without requiring Delta/Iceberg jars.
  *
  * The statement is parsed by SPARK'S OWN grammar
  * (`sessionState.sqlParser.parsePlan` → `MergeIntoTable`) — no
  * hand-rolled SQL dialect — and executed as one declarative plan:
  * target FULL OUTER JOIN source on the merge condition, a branch
  * label chosen per row by the first action whose condition holds
  * (ANSI action-order semantics), every output column a CASE over the
  * branch. [[mergeLog]] turns the join into change images and commits
  * them to a [[LogTable]] through [[LogTable.commitChanges]], the
  * row-level change executor DELETE and UPDATE share: at file
  * granularity (only files holding a changed row are rewritten, the
  * pre-merge version stays time-travel-readable), from one execution
  * of the join, its change-feed write;
  * [[mergeFrames]] returns it as a frame — the in-memory reference
  * the log path is checked against.
  *
  * Supported actions: WHEN MATCHED [AND c] THEN UPDATE SET .. or
  * DELETE, WHEN NOT MATCHED [AND c] THEN INSERT .., WHEN NOT MATCHED
  * BY SOURCE [AND c] THEN UPDATE SET .. or DELETE, plus the star forms
  * of UPDATE/INSERT — the full delete-quadrant surface (the MERGE
  * formulation of scd2_deletes).
  *
  * ANSI cardinality rule enforced: a target row matched by more than
  * one source row is an error, as in Delta/Iceberg/SQL:2003 — checked
  * by the feed write's tracker when the join has an equi key, by a
  * fused aggregate first when it has none.
  */
object SqlMerge {

  /** Outcome counters: rows entering each branch of the merge. */
  final case class MergeResult(updated: Long, deleted: Long,
                               inserted: Long, unchanged: Long)

  private case class Parsed(targetName: String, targetAlias: String,
                            sourceName: String, sourceAlias: String,
                            condition: Column,
                            matched: Seq[MergeAction],
                            notMatched: Seq[MergeAction],
                            notMatchedBySource: Seq[MergeAction])

  private def nameAndAlias(plan: org.apache.spark.sql.catalyst.plans
      .logical.LogicalPlan): (String, String) = plan match {
    case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
      (parts.mkString("."), id.name)
    case UnresolvedRelation(parts, _, _) =>
      (parts.mkString("."), parts.last)
    case other => throw new IllegalArgumentException(
      s"MERGE target/source must be a plain table reference, got $other")
  }

  private def parse(spark: SparkSession, sql: String): Parsed = {
    spark.sessionState.sqlParser.parsePlan(sql) match {
      case m: MergeIntoTable =>
        val (tn, ta) = nameAndAlias(m.targetTable)
        val (sn, sa) = nameAndAlias(m.sourceTable)
        Parsed(tn, ta, sn, sa, GraftColumnShim.column(m.mergeCondition),
          m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions)
      case other => throw new IllegalArgumentException(
        s"not a MERGE statement: ${other.getClass.getSimpleName}")
    }
  }

  private def actionCond(a: MergeAction): Column = a match {
    case UpdateAction(c, _, _) => c.map(GraftColumnShim.column).getOrElse(lit(true))
    case DeleteAction(c) => c.map(GraftColumnShim.column).getOrElse(lit(true))
    case InsertAction(c, _) => c.map(GraftColumnShim.column).getOrElse(lit(true))
    case _: UpdateStarAction => lit(true)
    case _: InsertStarAction => lit(true)
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  /** Column-name → value map of an action's assignments; `None` for
    * DELETE. Star actions assign every target column from the
    * same-named source column. */
  private def assignments(a: MergeAction, targetCols: Seq[String],
                          sourceAlias: String): Option[Map[String, Column]] =
    a match {
      case UpdateAction(_, as, _) => Some(asMap(as))
      case InsertAction(_, as) => Some(asMap(as))
      case _: UpdateStarAction | _: InsertStarAction =>
        Some(targetCols.map(c => c -> col(s"$sourceAlias.$c")).toMap)
      case DeleteAction(_) => None
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }

  private def asMap(as: Seq[Assignment]): Map[String, Column] =
    as.map { case Assignment(k, v) =>
      val name = k match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.last
        case other => throw new IllegalArgumentException(
          s"unsupported assignment key $other")
      }
      name -> GraftColumnShim.column(v)
    }.toMap

  /** The analyzed merge: everything [[mergeLog]] and [[mergeFrames]]
    * need. */
  private final case class Core(p: Parsed, target: DataFrame,
                                targetCols: Seq[String], labeled: DataFrame,
                                updates: Seq[Int], deletes: Seq[Int],
                                byIdx: Map[Int, Option[Map[String, Column]]]) {
    val tPresent: Column = col("__t_present").isNotNull
    val sPresent: Column = col("__s_present").isNotNull

    /** Post-merge rows projected to the target schema. */
    def next: DataFrame = {
      val keepExpr: Column = !col("__branch").isin(deletes :+ -2: _*)
      labeled.filter(keepExpr).select(outCols: _*)
    }

    /** Output columns: CASE over the branch per target column. */
    def outCols: Seq[Column] = targetCols.map { c =>
      val tField = target.schema(c)
      val base: Column = col(s"${p.targetAlias}.$c")
      val cased = byIdx.toSeq.sortBy(_._1).foldRight(base) {
        case ((i, Some(as)), acc) if as.contains(c) =>
          when(col("__branch") === i, as(c)).otherwise(acc)
        case ((i, Some(_)), acc) =>
          // column not assigned: UPDATE keeps target value, INSERT
          // fills NULL (ANSI) — distinguish by target presence
          when(col("__branch") === i && col("__t_present").isNull,
            lit(null)).otherwise(acc)
        case ((_, None), acc) => acc
      }
      cased.cast(tField.dataType).as(c)
    }

    /** ONE aggregate job over the labeled join yields the ANSI
      * cardinality check (max source matches per target row, via the
      * partial-agged per-`__tid` level), all four branch counters,
      * AND the distinct set of target files containing a changed row
      * — the join is never materialized just to validate it. The
      * per-`__tid` level carries the row's file (a target row lives
      * in exactly one file; null when the row is unchanged, and
      * always null when `fileCol` is), and the second level groups
      * those per-tid rows BY FILE. The driver folds the per-file
      * partials (exact long sums/max — order-free) and reads the
      * touched set off the non-null file keys; collected rows are
      * bounded by #touched files + 1. Throws on a cardinality
      * violation BEFORE anything is written. Two callers:
      * [[mergeFrames]], and [[mergeLog]] when its join has no equi
      * key (the feed write's per-task check would be unsound). */
    def statsAndTouched(fileCol: Column): (MergeResult, Set[String]) = {
      val isUpd = col("__branch").isin(updates.map(i => i: Any): _*)
      val isDel = col("__branch").isin(deletes.map(i => i: Any): _*)
      val perTid = labeled.groupBy(col("__tid")).agg(
        sum(when(tPresent && sPresent, 1L).otherwise(0L)).as("__nm"),
        sum(when(isUpd && tPresent, 1L).otherwise(0L)).as("__u"),
        sum(when(isDel, 1L).otherwise(0L)).as("__d"),
        sum(when(isUpd && !tPresent, 1L).otherwise(0L)).as("__i"),
        sum(when(col("__branch") === -1, 1L).otherwise(0L)).as("__k"),
        min(when(tPresent && (isUpd || isDel), fileCol)).as("__tf"))
      // the null-__tid group holds every insert row; all aggregates
      // are partial-agged so the "hot" null key never skews a reducer
      val rows = perTid.groupBy(col("__tf")).agg(
        max(when(col("__tid").isNotNull, col("__nm"))).as("max_match"),
        sum(col("__u")).as("updated"), sum(col("__d")).as("deleted"),
        sum(col("__i")).as("inserted"), sum(col("__k")).as("unchanged"))
        .collect()
      def l(r: org.apache.spark.sql.Row, n: String): Long = {
        val i = r.fieldIndex(n)
        if (r.isNullAt(i)) 0L else r.getLong(i)
      }
      if (rows.exists(r => l(r, "max_match") > 1L))
        throw MergeFeedTracker.cardinalityViolation()
      val touched = rows.iterator.filter(!_.isNullAt(0))
        .map(_.getString(0)).toSet
      (MergeResult(rows.map(l(_, "updated")).sum,
        rows.map(l(_, "deleted")).sum,
        rows.map(l(_, "inserted")).sum,
        rows.map(l(_, "unchanged")).sum), touched)
    }
  }

  /** Build the labeled-join [[Core]] for a target frame. `targetCols`
    * may be a subset of `target`'s columns — extra passthrough
    * columns (e.g. the log-merge `__file` lineage) ride along the
    * join without entering the output schema. */
  private def analyzeFrame(spark: SparkSession, p: Parsed,
                           target: DataFrame,
                           targetCols: Seq[String]): Core = {
    val source = spark.table(p.sourceName)

    // presence markers survive the full outer join where every data
    // column can legitimately be null
    val t = target.withColumn("__t_present", lit(true))
      .withColumn("__tid", monotonically_increasing_id())
      .alias(p.targetAlias)
    val s = source.withColumn("__s_present", lit(true)).alias(p.sourceAlias)
    val joined = t.join(s, p.condition, "full_outer")
    val tPresent = col("__t_present").isNotNull
    val sPresent = col("__s_present").isNotNull

    // branch label: first action (in statement order) whose clause
    // kind and condition hold; -1 = keep target row unchanged,
    // -2 = no-op insert miss (row vanishes)
    val actions: Seq[(Int, MergeAction, Column)] =
      (p.matched.map(a => (a, tPresent && sPresent && actionCond(a))) ++
        p.notMatched.map(a => (a, !tPresent && sPresent && actionCond(a))) ++
        p.notMatchedBySource.map(a => (a, tPresent && !sPresent &&
          actionCond(a)))).zipWithIndex.map { case ((a, c), i) =>
        (i, a, c)
      }
    val fallback = when(tPresent, lit(-1)).otherwise(lit(-2))
    val branch = actions.foldRight(fallback) { case ((i, _, c), acc) =>
      when(c, lit(i)).otherwise(acc)
    }
    val labeled = joined.withColumn("__branch", branch)

    val byIdx: Map[Int, Option[Map[String, Column]]] = actions.map {
      case (i, a, _) => i -> assignments(a, targetCols, p.sourceAlias)
    }.toMap
    // an assignment to a column the target doesn't have is a typo,
    // not a no-op — fail like Delta/ANSI instead of dropping it
    val unknown = byIdx.values.flatten.flatMap(_.keys)
      .filterNot(targetCols.contains).toSeq.distinct
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"MERGE assigns to column(s) not in the target: " +
        unknown.mkString(", "))
    val deletes = byIdx.collect { case (i, None) => i }.toSeq
    val updates = byIdx.collect { case (i, Some(_)) => i }.toSeq
    Core(p, target, targetCols, labeled, updates, deletes, byIdx)
  }

  /** File-granularity MERGE into a [[LogTable]] — Delta's actual
    * merge-on-write algorithm: capture each target row's source FILE
    * at scan time (`input_file_name`), run the same labeled join,
    * then rewrite ONLY the files that contain a row some action
    * changed (update/delete, matched or not-matched-by-source) plus
    * one new file set for the inserts; every untouched file carries
    * into the new version by reference. Write cost ∝ touched data +
    * inserts, never the table — the pay-once-proportionally point
    * Delta ships.
    *
    * ONE execution of the (never-materialized) join per MERGE: the
    * change-feed write of [[LogTable.commitChanges]]. Its
    * [[MergeFeedTracker]] counts the images, collects the touched
    * files and flags a target row seen in two matched pairs; the
    * executor refuses a cardinality violation before anything
    * commits and deletes the feed. Every matched pair counts toward the
    * cardinality rule, also one no action fires on: such a pair
    * writes a probe image that the tracker counts and the feed's
    * output writer drops ([[MergeFeedFormat]]). `unchanged` is the
    * snapshot's logical row count minus updated and deleted. The
    * rewrite derives from the feed read-back (survivors come off a
    * scan of just the touched files anti-joined on scan provenance).
    * The per-task check needs every match of a target row in one
    * task, which a shuffled equi-join gives; a join without an equi
    * key runs the fused aggregate ([[Core.statsAndTouched]]) first,
    * as a second execution. */
  def mergeLog(spark: SparkSession, mergeSql: String,
               log: LogTable): MergeResult =
    mergeLog(spark, mergeSql, log, txn = None)

  /** [[mergeLog]] with an idempotent-txn tag on the merge commit
    * (Delta's txnAppId/txnVersion riding a MERGE): the
    * exactly-once primitive [[MaterializedAgg]]'s refresh uses —
    * a crashed-and-replayed refresh whose merge already committed
    * is dropped by the commit layer, not double-applied.
    *
    * Identity-allocating merges (an insert pass on a table with
    * `GENERATED ALWAYS AS IDENTITY`) retry the WHOLE merge on an
    * allocation race, like identity appends: the feed's insert rows
    * hold ids drawn from a stale high-water mark and must be
    * re-planned (Delta's transaction-retry rule). */
  def mergeLog(spark: SparkSession, mergeSql: String, log: LogTable,
               txn: Option[(String, Long)]): MergeResult = {
    var attempts = 0
    while (true) {
      attempts += 1
      try return mergeLogOnce(spark, mergeSql, log, txn)
      catch {
        case _: IdentityAllocationConflict
          if attempts < 20 => () // reallocate against the new head
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def mergeLogOnce(spark: SparkSession, mergeSql: String,
                           log: LogTable,
                           txn: Option[(String, Long)]): MergeResult = {
    val p = parse(spark, mergeSql)
    // GENERATED ALWAYS AS IDENTITY: no merge action may mint or
    // rewrite identity values EXPLICITLY — an explicit assignment
    // breaks the uniqueness promise (Delta refuses the same way).
    // An insert that OMITS the identity column allocates, like an
    // append: the feed pass draws its values from the commit-basis
    // high-water mark, the rewrite takes the insert rows from the
    // feed read-back (so feed and table hold the SAME ids), and the
    // commit advances the mark under the allocation-race check — a
    // racing writer advancing it first re-plans this merge.
    val idSpecs = log.identityColumns
    val idCols = idSpecs.keySet
    if (idCols.nonEmpty) {
      def assigned(a: MergeAction): Set[String] = a match {
        case UpdateAction(_, as, _) => asMap(as).keySet
        case InsertAction(_, as) => asMap(as).keySet
        case _: UpdateStarAction | _: InsertStarAction => idCols
        case _ => Set.empty
      }
      (p.matched ++ p.notMatchedBySource).foreach { a =>
        val hit = assigned(a).intersect(idCols)
        require(hit.isEmpty,
          s"cannot UPDATE identity column(s) ${hit.mkString(", ")} — " +
            "GENERATED ALWAYS AS IDENTITY values are table-managed")
      }
      p.notMatched.foreach {
        case a: InsertAction =>
          val hit = asMap(a.assignments).keySet.intersect(idCols)
          require(hit.isEmpty,
            s"cannot INSERT explicit value(s) for identity " +
              s"column(s) ${hit.mkString(", ")} — GENERATED ALWAYS " +
              "AS IDENTITY values are table-managed; omit them and " +
              "the merge allocates from the high-water mark")
        case _: InsertStarAction =>
          throw new IllegalArgumentException(
            s"INSERT * into a table with identity column(s) " +
              s"${idCols.mkString(", ")} assigns them explicitly — " +
              "list the insert columns and omit the identity column")
        case other => throw new IllegalArgumentException(
          s"unsupported $other")
      }
    }
    // the commit basis: the target read, its row count and the
    // touched-file lookup all come from this one version
    val readVersion = log.currentVersion.getOrElse(
      throw new IllegalStateException(s"no log table at ${log.path}"))
    val adds = log.liveAdds(Some(readVersion))
    // scan-time file provenance (NOT input_file_name, which goes
    // empty after an exchange — and a deletion-vectored snapshot's
    // read plan contains an anti-join), deletion vectors subtracted.
    // Row-tracked targets read WITH their effective ids, so the
    // rewrite carries each surviving/updated row's identity into the
    // new files (merge-inserted rows id fresh at commit).
    val target = log.readAddsWithProvenance(spark, readVersion, adds)
    val tracked = target.columns.contains(LogTable.RowIdPhysCol)
    val snapCols = target.columns.toSeq.filterNot(c =>
      c == "__file" || c == "__idx" || c == LogTable.RowIdPhysCol)
    val core = analyzeFrame(spark, p, target, snapCols)

    // the change feed — the ONE execution of the (never-materialized)
    // join: each joined row emits its change images as an array of
    // structs and explodes (pre+post for updates, pre for deletes,
    // the insert image for unmatched source rows — Delta's merge CDF
    // shape), every image carrying the matched target row's scan
    // provenance (__file, __idx) as extra parquet columns. A matched
    // pair no action fires on emits a probe image, so the write's
    // tracker sees every matched pair. CDF readers load by explicit
    // schema (the pinned feed contract), so the extras are invisible
    // to them.
    val isUpd = col("__branch").isin(core.updates.map(i => i: Any): _*)
    val isDel = col("__branch").isin(core.deletes.map(i => i: Any): _*)
    val keep = !col("__branch").isin(core.deletes :+ -2: _*)
    val targetImage = snapCols.map(c =>
      col(s"${p.targetAlias}.$c").as(c))
    val provCols: Seq[Column] = Seq(
      col(s"${p.targetAlias}.__file").as("__file"),
      col(s"${p.targetAlias}.__idx").as("__idx")) ++
      (if (!tracked) Seq.empty
       else Seq(col(s"${p.targetAlias}.${LogTable.RowIdPhysCol}")
         .as(LogTable.RowIdPhysCol)))
    val nullProv: Seq[Column] = Seq(
      lit(null).cast("string").as("__file"),
      lit(null).cast("long").as("__idx")) ++
      (if (!tracked) Seq.empty
       else Seq(lit(null).cast("long").as(LogTable.RowIdPhysCol)))
    // identity-allocating inserts draw their ids in a projection
    // under the explode (base + step × monotonic id, the append
    // allocator), so the feed's insert images carry the ids the
    // rewrite commits
    val idCol = idSpecs.keys.map(c => c -> s"__id_$c").toMap
    val withIds = core.labeled.withColumns(idSpecs.map { case (c, spec) =>
      val base = spec.highWater.map(_ + spec.step).getOrElse(spec.start)
      idCol(c) -> when(!core.tPresent,
        lit(base) + lit(spec.step) * monotonically_increasing_id())
    })
    val insCols = snapCols.zip(core.outCols).map { case (c, o) =>
      idCol.get(c).fold(o)(n =>
        col(n).cast(core.target.schema(c).dataType).as(c))
    }
    def image(cols: Seq[Column], changeType: Column, prov: Seq[Column]) =
      struct(cols ++ (changeType.as("_change_type") +: prov): _*)
    val preImage = image(targetImage,
      when(isDel, lit("delete")).otherwise(lit("update_preimage")), provCols)
    // no filter sits above the join: a row with no image explodes
    // NULL, so the optimizer cannot narrow the FULL OUTER join to an
    // outer or inner join it could broadcast — the merge keys shuffle
    // both sides, and every match of a target row meets in one task
    val cdf = withIds.select(explode(
      when(core.tPresent && isUpd, array(preImage,
        image(core.outCols, lit("update_postimage"), provCols)))
        .when(core.tPresent && isDel, array(preImage))
        .when(core.tPresent && core.sPresent, array(
          image(targetImage, lit(MergeFeedTracker.Probe), provCols)))
        .when(!core.tPresent && keep, array(
          image(insCols, lit("insert"), nullProv)))).as("__c"))
      .select(col("__c.*"))
    // without an equi key the join plans as a nested loop that
    // spreads one target row's matches over tasks: check cardinality
    // (and early-out a no-op) with the fused aggregate first
    if (!matchesCoLocated(cdf)) {
      val (pre, touched) =
        core.statsAndTouched(col(s"${p.targetAlias}.__file"))
      if (touched.isEmpty && pre.inserted == 0L) return pre
    }
    val (_, feed) = log.commitChanges(spark, readVersion, adds, cdf, "merge",
      mor = false, txn = txn, identity = idSpecs)
    MergeResult(feed.updated, feed.deleted, feed.inserted,
      adds.map(_.logicalRows).sum - feed.updated - feed.deleted)
  }

  /** Whether every source match of one target row reaches the same
    * write task of `feed`: its topmost join — the merge join, which
    * the feed keeps FULL OUTER — is shuffled on equi keys
    * (sort-merge or shuffled hash; AQE neither broadcasts nor
    * skew-splits a full outer join). A join without an equi key
    * plans as a nested loop, which spreads a target row's matches
    * over tasks. */
  private def matchesCoLocated(feed: DataFrame): Boolean = {
    val plan = feed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    plan.collectFirst { case j: BaseJoinExec => j } match {
      case Some(j: SortMergeJoinExec) =>
        j.joinType == FullOuter && j.leftKeys.nonEmpty
      case Some(j: ShuffledHashJoinExec) =>
        j.joinType == FullOuter && j.leftKeys.nonEmpty
      case _ => false
    }
  }

  /** Resolve a log-table MERGE target from the statement's own
    * `catalog.table` name via the [[GraftTableCatalog]] warehouse
    * config — `MERGE INTO cat.t USING src ON ...` with no handles
    * passed. */
  def mergeLog(spark: SparkSession, mergeSql: String): MergeResult = {
    val p = parse(spark, mergeSql)
    val parts = p.targetName.split('.')
    require(parts.length >= 2,
      s"MERGE INTO a log table needs a catalog-qualified name " +
        s"(cat.table), got '${p.targetName}'")
    val wh = spark.conf.getOption(
      s"spark.sql.catalog.${parts.head}.warehouse").getOrElse(
      throw new IllegalArgumentException(
        s"'${parts.head}' is not a configured GraftTableCatalog"))
    mergeLog(spark, mergeSql,
      new LogTable((wh +: parts.tail.toSeq).mkString("/")))
  }

  /** In-memory MERGE for tests and pipelines that hold the dimension
    * as a frame — the reference [[mergeLog]] is checked against.
    * Returns the post-merge state persisted, so the labeled join runs
    * once more after the checked stats pass, not once per action. */
  def mergeFrames(spark: SparkSession, mergeSql: String,
                  target: DataFrame): DataFrame = {
    val core = analyzeFrame(spark, parse(spark, mergeSql), target,
      target.columns.toSeq)
    core.statsAndTouched(lit(null).cast("string"))
    val out = core.next
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }
}
