package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst expressions and the public
  * Column API. `classic.ExpressionUtils` is private[sql] in Spark 4,
  * so the (tiny, API-stable) accessors are re-exported from inside
  * the package — the conventional pattern for Spark extension
  * libraries that build Columns from custom Expressions.
  */
object GraftColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Plan-truncation helper for iterative DataFrame algorithms.
  *
  * `Dataset.localCheckpoint` truncates LINEAGE but
  * `LogicalRDD.fromDataset` deliberately carries the origin plan's
  * cost statistics into the new leaf. In a loop whose body joins the
  * previous iteration's result with itself, those BigInt size
  * estimates MULTIPLY every round — after ~10 rounds the driver
  * spends whole seconds multiplying million-digit BigIntegers inside
  * stats estimation. Rebuilding the frame from the checkpointed RDD
  * through `internalCreateDataFrame` yields a leaf with default
  * stats, keeping per-round planning cost constant.
  */
object GraftPlanReset {
  /** Re-wrap a materialized (checkpointed/cached) DataFrame's RDD in
    * a fresh leaf with no inherited statistics. */
  def freshLeaf(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  // Lint capture: a checkpointed frame's plan EXECUTES during plan
  // construction, so a sweep over only the returned frame's plan
  // never sees the pre-checkpoint stages of iterative ops (CC,
  // PageRank, BPE). When a capture is active, every checkpointLeaf
  // records the plan it is about to execute — PlanLintSpec sweeps
  // those too. Zero overhead when no capture is active.
  private val capture = new java.util.concurrent.atomic.AtomicReference[
    java.util.concurrent.ConcurrentLinkedQueue[execution.SparkPlan]](null)

  /** Run `body`, returning its result plus the physical plans of
    * every [[checkpointLeaf]] it executed. Test-only surface. */
  def captureCheckpointPlans[T](body: => T): (T, Seq[execution.SparkPlan]) = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[
      execution.SparkPlan]()
    capture.set(q)
    try {
      val r = body
      val plans = Seq.newBuilder[execution.SparkPlan]
      q.forEach(p => plans += p)
      (r, plans.result())
    } finally capture.set(null)
  }

  /** The iterative-loop checkpoint idiom (CC loop, PageRank, BPE):
    * eager localCheckpoint to truncate lineage, then [[freshLeaf]]
    * to drop the inherited plan statistics. */
  def checkpointLeaf(df: DataFrame): DataFrame = checkpointLeafCounted(df)._1

  /** [[checkpointLeaf]] plus the frame's row count, taken from the
    * one job that materializes the checkpoint (what
    * `Dataset.localCheckpoint(eager = true)` runs, inside an SQL
    * execution of its own), so a caller that needs the count does
    * not pay a second job for it. */
  def checkpointLeafCounted(df: DataFrame): (DataFrame, Long) = {
    Option(capture.get).foreach(_.add(df.queryExecution.sparkPlan))
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      // the count caches every partition, which completes the local
      // checkpoint at the end of this same job
      val n = rdd.count()
      (cs.internalCreateDataFrame(rdd, df.schema, isStreaming = false), n)
    }
  }
}

/** Streaming-leaf bridge for v1 `Source` implementations: a
  * `Source.getBatch` DataFrame must carry `isStreaming = true` for
  * MicroBatchExecution to splice it into the streaming plan (the
  * same `internalCreateDataFrame` call FileStreamSource makes);
  * `internalCreateDataFrame` is private[sql], hence the bridge. */
object GraftStreamShim {
  def streamingFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }
}

/** Runtime registration of the graft_* SQL functions on a live
  * session (the extensions route only applies at session build). The
  * function registry is private[sql], hence registration lives here.
  */
object GraftSqlFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry
    graft.plans.GraftFunctions.all.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
