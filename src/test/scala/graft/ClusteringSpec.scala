package graft

import graft.operators.{Clustering, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** PageRank over weighted edge sets ([[Clustering.pageRank]]) and the
  * event-navigation wrapper, plus the dataflow of the component-label
  * path that `dupClusters` and `Dedup.semanticCollapse` share (one
  * evaluation of the pairs, a map-side label join under the
  * local-solve gate, the same labels as the distributed loop). The
  * rest of CC is covered by TemporalSpec, DedupSpec, EdgeCasesSpec
  * and the dup_clusters oracle.
  */
class ClusteringSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Driver-side reference PageRank, same simplified formula (no
    * dangling redistribution), plain double arithmetic. */
  private def refRank(edges: Seq[(Int, Int)], iters: Int): Map[Int, Double] = {
    val cnt = edges.groupBy(identity).map { case (e, g) => (e, g.size.toDouble) }
    val out = cnt.groupBy(_._1._1).map { case (s, g) => (s, g.values.sum) }
    val w = cnt.map { case ((s, d), c) => ((s, d), c / out(s)) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size.toDouble
    var r = nodes.map(v => (v, 1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val contrib = w.toSeq
        .map { case ((s, d), wt) => (d, r(s) * wt) }
        .groupBy(_._1).map { case (d, g) => (d, g.map(_._2).sum) }
      r = nodes.map(v => (v, 0.15 / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    r.map { case (v, x) =>
      (v, BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  private def run(edges: Seq[(Int, Int)], iters: Int = 5): Map[Int, Double] =
    Clustering.pageRank(edges.toDF("src", "dst"), iters)
      .as[(Int, Double)].collect().toMap

  test("pageRank on a symmetric ring is uniform") {
    val ring = Seq((1, 2), (2, 3), (3, 1))
    assert(run(ring) == Map(1 -> 0.333333, 2 -> 0.333333, 3 -> 0.333333))
  }

  test("pageRank matches the driver-side reference on an asymmetric graph") {
    // star into a dangling hub plus a side chain and a repeated edge
    // (repeats weight the edge, exercising the cnt/outdeg path)
    val g = Seq((2, 1), (3, 1), (3, 1), (3, 4), (4, 2), (5, 2), (1, 5), (1, 5))
    val got = run(g)
    val want = refRank(g, 5)
    assert(got.keySet == want.keySet)
    for (v <- want.keySet)
      assert(math.abs(got(v) - want(v)) <= 1e-6, s"node $v: ${got(v)} vs ${want(v)}")
  }

  test("pageRank is invariant under input partitioning") {
    val g = Seq((2, 1), (3, 1), (3, 4), (4, 2), (5, 2), (1, 5))
    val base = run(g)
    val shuffled = Clustering.pageRank(
      g.reverse.toDF("src", "dst").repartition(7), iters = 5)
      .as[(Int, Double)].collect().toMap
    assert(shuffled == base)
  }

  test("navigationRank over events: a proper distribution up to dangling leak") {
    val events = graft.sources.Tables.load(spark,
      "/root/testdata/sf0.001", "events")
    val ranks = Clustering.navigationRank(events, iters = 5)
      .as[(Int, Double)].collect()
    assert(ranks.nonEmpty)
    val n = ranks.length.toDouble
    // teleport floor holds for every node; total mass ≤ 1 (dangling
    // nodes leak mass in the simplified formula, never add it)
    assert(ranks.forall { case (_, r) => r >= 0.15 / n - 1e-6 })
    val total = ranks.map(_._2).sum
    assert(total <= 1.0 + 1e-4 && total > 0.5, s"total mass $total")
  }

  // chain 1-2-3-4-5 (one edge reversed, one repeated), star 20 with
  // leaves 21..24, and 8 and 12 joined only through 7, which is not
  // an id; 30..32 are singletons
  private val fixtureIds: Seq[Long] = (1L to 5L) ++ Seq(8L, 12L) ++
    (20L to 24L) ++ (30L to 32L)
  private val fixtureEdges: Seq[(Long, Long)] = Seq((1L, 2L), (3L, 2L),
    (3L, 4L), (4L, 5L), (2L, 1L), (20L, 21L), (22L, 20L), (20L, 23L),
    (24L, 20L), (8L, 7L), (7L, 12L))

  /** id -> label of every `ids` row through the distributed loop
    * (`localSolveMaxEdges = 0`) over ids plus edge endpoints, joined
    * back with the same `coalesce(label, id)` rule. */
  private def distributedLabels(ids: DataFrame,
                                edges: DataFrame): Map[Long, Long] = {
    val vertices = ids.select(col("id"))
      .union(edges.select(col("src").as("id")))
      .union(edges.select(col("dst").as("id"))).distinct()
    val cc = Clustering.connectedComponents(vertices, edges,
      localSolveMaxEdges = 0L)
    ids.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")))
      .as[(Long, Long)].collect().toMap
  }

  test("dupClusters evaluates its pair frame once") {
    val calls = spark.sparkContext.longAccumulator("pair rows")
    val tap = udf { (x: Long) => calls.add(1); x }
    // a range, not a local Seq: a projection over a local relation
    // is evaluated by the optimizer at planning time
    val pairs = spark.range(0, 12, 2)
      .select(tap(col("id")).as("id_a"), (col("id") + 1).as("id_b"))
    val out = Clustering.dupClusters(spark.range(0, 14).toDF("doc_id"),
      "doc_id", pairs)
    assert(out.filter(!col("is_representative")).count() == 6)
    assert(calls.value == 6L, s"${calls.value} UDF calls for 6 pair rows")
  }

  test("under the local-solve gate dupClusters joins its labels " +
    "map-side: no shuffle over the ids") {
    val out = Clustering.dupClusters(spark.range(0, 40).toDF("doc_id"),
      "doc_id", Seq((1L, 2L), (2L, 3L), (9L, 5L)).toDF("id_a", "id_b"))
    assert(out.collect().count(_.getBoolean(2)) == 37)
    val plan = out.queryExecution.executedPlan
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, plan.toString)
  }

  test("dupClusters matches the distributed loop: chain, star, " +
    "singletons and a bridging vertex absent from the ids") {
    val ids = fixtureIds.toDF("id")
    val edges = fixtureEdges.toDF("src", "dst")
    val want = distributedLabels(ids, edges)
    assert(want(12L) == 7L && want(5L) == 1L && want(24L) == 20L &&
      want(31L) == 31L)
    val got = Clustering.dupClusters(ids.toDF("doc_id"), "doc_id",
      edges.toDF("id_a", "id_b")).as[(Long, Long, Boolean)].collect()
    assert(got.length == fixtureIds.length)
    assert(got.map(r => r._1 -> r._2).toMap == want)
    assert(got.forall { case (id, c, rep) => rep == (id == c) })
  }

  test("semanticCollapse matches the distributed loop on a chain, a " +
    "star and singletons") {
    // unit vectors 20 degrees apart pass cos >= 0.9 (cos 20° = 0.94),
    // 28 and 40 degrees apart do not (0.88, 0.77): in cell 0 a chain
    // of five at polar angles 0..80 in one plane, in cell 1 a star
    // of four leaves 20 degrees off its centre at azimuths 90 apart;
    // the singletons sit in cell 2 at right angles
    def polar(theta: Double, phi: Double = 0.0): Array[Float] = {
      val (t, p) = (math.toRadians(theta), math.toRadians(phi))
      Array((math.sin(t) * math.cos(p)).toFloat,
        (math.sin(t) * math.sin(p)).toFloat, math.cos(t).toFloat)
    }
    val chain = (1L to 5L).map(i => (i, polar(20.0 * (i - 1)), 0))
    val star = (20L, polar(0.0), 1) +:
      (21L to 24L).map(i => (i, polar(20.0, 90.0 * (i - 21)), 1))
    val single = Seq((30L, polar(0.0), 2), (31L, polar(90.0), 2),
      (32L, polar(90.0, 90.0), 2))
    val cells = (chain ++ star ++ single).toDF("vec_id", "embedding", "cell")
    val edges = (fixtureEdges.filter { case (a, b) => a != 7L && b != 7L })
      .toDF("src", "dst")
    val want = distributedLabels(
      (chain ++ star ++ single).map(_._1).toDF("id"), edges)
    val got = Dedup.semanticCollapse(cells, threshold = 0.9)
      .as[(Long, Long, Int)].collect()
    assert(got.map(r => r._1 -> r._2).toMap == want)
    assert(got.map(r => r._1 -> r._3).toMap ==
      (chain ++ star ++ single).map(r => r._1 -> r._3).toMap)
  }

  test("an int src / long dst edge frame still clusters") {
    val edges = Seq((1, 2L), (2, 3L), (7, 5L)).toDF("src", "dst")
    val cc = Clustering.connectedComponentsFromEdges(edges)
    assert(cc.orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 5L))
    val out = Clustering.dupClusters(Seq(1, 2, 3, 4, 5, 7).toDF("id"), "id",
      edges.toDF("id_a", "id_b")).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq((1, 1L, true), (2, 1L, false), (3, 1L, false),
      (4, 4L, true), (5, 5L, true), (7, 5L, false)))
  }
}
