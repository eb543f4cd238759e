package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, LogicalPlan, MergeIntoTable, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

/** Native `spark.sql` dispatch for row-level DML on log tables —
  * `UPDATE cat.t SET ...` and `MERGE INTO cat.t ...` as plain
  * statements, no API entry point in sight.
  *
  * Spark's analyzer happily resolves `UpdateTable` / `MergeIntoTable`
  * over any DSv2 relation but its planner rejects them unless the
  * table implements the full `SupportsRowLevelOperations` machinery.
  * This strategy slots in front (via the PUBLIC
  * `spark.experimental.extraStrategies` hook, registered
  * automatically when a [[GraftTableCatalog]] initializes — no
  * session-build extensions needed, which matters because the driver
  * contract hands us an already-built session) and claims exactly
  * the plans whose target is a [[GraftLogTableV2]]:
  *
  *  - `UPDATE` executes [[LogTable.update]] — stats-pruned candidates,
  *    rewrite ∝ touched files;
  *  - `MERGE` re-drives the statement's own SQL text through
  *    [[SqlMerge.mergeLog]] — rewrite ∝ touched files + inserts.
  *
  * Both build change images and commit through one executor,
  * [[LogTable.commitChanges]]: one change-feed write, then a rewrite
  * of the files it touched.
  *
  * Everything else returns Nil and falls through to Spark's own
  * strategies untouched. */
object GraftRowLevelStrategy extends SparkStrategy {

  private def logOf(plan: LogicalPlan): Option[GraftLogTableV2] =
    plan.collectFirst {
      // before pushdown the relation is bare; by planning time the
      // optimizer has usually wrapped it in a ScanRelation
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftLogTableV2] =>
        r.table.asInstanceOf[GraftLogTableV2]
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation
          if s.relation.table.isInstanceOf[GraftLogTableV2] =>
        s.relation.table.asInstanceOf[GraftLogTableV2]
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case UpdateTable(rel, assignments, condition) =>
      logOf(rel).map(t =>
        GraftLogUpdateExec(t.logTable, assignments, condition))
        .toSeq
    case m: MergeIntoTable =>
      logOf(m.targetTable).map { t =>
        val text = m.origin.sqlText.getOrElse(
          throw new UnsupportedOperationException(
            "MERGE INTO a log table without statement text attached — " +
              "call graft.sources.SqlMerge.mergeLog(spark, mergeSql) " +
              "directly"))
        GraftLogMergeExec(t.logTable, text)
      }.toSeq
    case _ => Seq.empty
  }

  /** Idempotently hook the strategy into a LIVE session. */
  def register(spark: SparkSession): Unit = {
    val exp = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(GraftRowLevelStrategy))
        exp.extraStrategies = exp.extraStrategies :+ GraftRowLevelStrategy
    }
  }
}

/** Shared bits of the command-style exec nodes: no output rows, side
  * effect runs exactly once on execute (Spark's eager command
  * execution collects the node when `spark.sql` returns). */
private[sources] trait GraftDmlExec extends LeafExecNode {
  override def output: Seq[Attribute] = Seq.empty
  protected def run(spark: SparkSession): Unit
  override protected def doExecute(): RDD[InternalRow] = {
    run(SparkSession.active)
    sparkContext.emptyRDD[InternalRow]
  }
}

/** `UPDATE cat.t SET c = e [WHERE p]` → [[LogTable.update]].
  * The analyzed expressions carry THIS query's resolved attribute
  * ids; re-resolution happens against the table's own scan inside
  * `update`, so references are rebound by NAME first. */
case class GraftLogUpdateExec(@transient table: LogTable,
                              assignments: Seq[Assignment],
                              condition: Option[Expression])
  extends GraftDmlExec {

  private def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  override protected def run(spark: SparkSession): Unit = {
    val set = assignments.map { a =>
      val name = a.key match {
        case att: Attribute => att.name
        case other => throw new UnsupportedOperationException(
          s"UPDATE SET supports plain columns, got $other")
      }
      name -> GraftColumnShim.column(byName(a.value))
    }.toMap
    val pred = condition.map(c => GraftColumnShim.column(byName(c)))
      .getOrElse(lit(true))
    table.update(spark, pred, set)
    ()
  }
}

/** `MERGE INTO cat.t ...` → [[SqlMerge.mergeLog]] on the statement's
  * own text (the merge planner needs the full action list; the text
  * round-trip reuses its single battle-tested entry point). */
case class GraftLogMergeExec(@transient table: LogTable, mergeSql: String)
  extends GraftDmlExec {
  override protected def run(spark: SparkSession): Unit = {
    SqlMerge.mergeLog(spark, mergeSql, table)
    ()
  }
}
