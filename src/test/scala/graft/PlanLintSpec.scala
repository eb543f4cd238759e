package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Fleet-wide plan lint: EVERY registered query's physical plan is
  * swept for the three classic scale-killers —
  *
  *   1. CartesianProduct (|A|·|B| work),
  *   2. BroadcastNestedLoopJoin (all-pairs against a broadcast side),
  *   3. Window over an empty partition spec (the whole input sorted
  *      on one reducer).
  *
  * A finding fails the build unless the query is allowlisted here
  * WITH a reason — so adding a quadratic plan to SparkEntry.queries
  * is a conscious, reviewed decision, never an accident. This is the
  * mechanical form of the per-operator plan assertions scattered in
  * DedupSpec/AnalyticsSpec/LayoutSpec, applied to the whole surface.
  */
class PlanLintSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** BNLJ whose broadcast side is a one-row aggregate (a scalar
    * subquery / global-stat broadcast) is a constant-size probe, not
    * an all-pairs join. */
  private val bnljAllow: Map[String, String] = Map(
    "ann_bruteforce" -> "broadcast of the ≤k-row query set — linear in corpus",
    "numeric_histogram" -> "one-row global (min,max) stats broadcast",
    "q11_revenue_share" -> "one-row global-total broadcast",
    "q22_idle_customers" -> "scalar avg(balance) subquery broadcast",
    "mixture_sample" -> "one-row global n_max broadcast",
    "tfidf_topk" -> "scalar corpus-doc-count broadcast",
    "unigram_score" -> "one-row corpus-token-total broadcast",
    "dsir_weight" -> "one-row corpus-totals + vocabulary-size broadcast",
    "bm25_topk" -> "one-row doc-count + token-total broadcasts",
    "join_blowup" -> "one-row grand-total broadcast for the share column",
    "source_overlap" ->
      ("self-pair of the ≤|sources|-row vocab-size table — model-state " +
        "scale (the token intersection itself is an equi-join)"))
  // (q15_top_supplier needs no allowlist: Catalyst rewrites its
  // crossJoin + equality filter into a Broadcast HASH join.)

  /** Global (empty-partition) windows over provably tiny inputs:
    * per-mille bucket tables (≤1000 rows) or final ≤k-row summaries. */
  private val globalWindowAllow: Map[String, String] = Map(
    "weighted_sample" -> "prefix offsets over ≤1000 bucket sums",
    "concurrency_profile" -> "carry-in scan over one row per hour")

  test("no registered query plan contains an unreviewed scale-killer") {
    val bnljSeen = scala.collection.mutable.Set.empty[String]
    val gwinSeen = scala.collection.mutable.Set.empty[String]
    val ckptCovered = scala.collection.mutable.Set.empty[String]
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // capture the pre-checkpoint stages too: an iterative op's
        // per-round plans execute DURING plan construction and would
        // otherwise escape the sweep entirely
        val (df, ckptPlans) = org.apache.spark.sql.GraftPlanReset
          .captureCheckpointPlans { fn(spark, sf) }
        if (ckptPlans.nonEmpty) ckptCovered += name
        val plans: Seq[SparkPlan] =
          df.queryExecution.sparkPlan +: ckptPlans
        plans.flatMap { plan =>
          val cart = plan.collect { case c: CartesianProductExec => c }
          val bnlj = plan.collect { case b: BroadcastNestedLoopJoinExec => b }
          val gwin = plan.collect {
            case w: WindowExec if w.partitionSpec.isEmpty => w
          }
          if (bnlj.nonEmpty) bnljSeen += name
          if (gwin.nonEmpty) gwinSeen += name
          val found = Seq(
            cart.headOption.map(_ => "CartesianProduct"),
            bnlj.headOption.filter(_ => !bnljAllow.contains(name))
              .map(_ => "BroadcastNestedLoopJoin"),
            gwin.headOption.filter(_ => !globalWindowAllow.contains(name))
              .map(_ => "global Window")).flatten
          found.map(f => s"$name: $f")
        }
    }
    // the iterative ops' checkpoint stages must actually be swept —
    // if a refactor stops them going through checkpointLeaf, this
    // coverage claim should fail loudly, not silently narrow
    val mustCapture = Seq("link_rank", "dup_clusters", "bpe_train")
    val missed = mustCapture.filterNot(ckptCovered)
    assert(missed.isEmpty,
      s"expected checkpoint-stage plans captured for: $missed")
    assert(violations.isEmpty,
      s"scale-killer nodes found (allowlist with a reason or fix):\n" +
        violations.mkString("\n"))
    // a stale allowlist entry would silently excuse a FUTURE
    // regression — every entry must still be earning its keep
    val staleBnlj = bnljAllow.keySet -- bnljSeen
    val staleGwin = globalWindowAllow.keySet -- gwinSeen
    assert(staleBnlj.isEmpty && staleGwin.isEmpty,
      s"allowlist entries no longer match any plan node — remove: " +
        s"bnlj=$staleBnlj gwin=$staleGwin")
  }
}
