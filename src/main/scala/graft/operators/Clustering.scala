package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanReset}
import org.apache.spark.sql.functions._

/** Graph clustering over near-duplicate pair sets: turning pairwise
  * "A ~ B" edges into duplicate CLUSTERS (keep one representative
  * per cluster) — the step after any Dedup.* pair generator in a
  * training-data pipeline.
  */
object Clustering {

  /** Edge-count gate of the in-memory union-find endgame (see
    * [[componentsOnSym]]). */
  private val LocalSolveMaxEdges = 2000000L

  /** Connected components by iterative min-label propagation (the
    * Pregel/GraphX formulation as DataFrame ops): every vertex
    * starts labelled with its own id; each round it adopts the
    * minimum label among itself and its neighbours, until a fixpoint.
    *
    * The driver loop is control flow only — each iteration is one
    * distributed join + aggregate, O(|E|) per round, ≤ diameter
    * rounds (near-dup clusters are shallow, so a handful). Lineage
    * is truncated per round with localCheckpoint so plans don't
    * grow unboundedly.
    *
    * @param vertices one column `id`
    * @param edges    columns `src`, `dst` (undirected; either order)
    * @return (id, cluster_id) where cluster_id = min id in component
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 20,
                          localSolveMaxEdges: Long = LocalSolveMaxEdges)
      : DataFrame = {
    val (sym, edgeCount) = symmetrized(edges)
    componentsOnSym(vertices, sym, edgeCount, maxIter, localSolveMaxEdges)
  }

  /** Connected components where the vertex set IS the edge-touched
    * set: vertices are derived from the checkpointed, symmetrized
    * edge relation, so `edges` (often a whole pair pipeline: LSH
    * signatures, bucket join, verify) is evaluated once, by that
    * checkpoint, and never again to list the endpoint ids. */
  def connectedComponentsFromEdges(edges: DataFrame,
                                   maxIter: Int = 20,
                                   localSolveMaxEdges: Long =
                                     LocalSolveMaxEdges): DataFrame = {
    val (sym, edgeCount) = symmetrized(edges)
    componentsOnSym(touched(sym), sym, edgeCount, maxIter,
      localSolveMaxEdges)
  }

  /** `rows` plus `labelCol`: the component label (min vertex id) of
    * `rows(idCol)` in the undirected graph `edges` (`src`, `dst`), or
    * the id itself when no edge touches it. `edges` is evaluated once,
    * by the symmetrizing checkpoint. Under the local-solve gate the
    * labels are the union-find map, broadcast, so `rows` is labelled
    * by a map-side join and never shuffles; above it the distributed
    * loop labels the edge-touched vertices and `rows` joins those.
    * The one label path of [[dupClusters]] and
    * `Dedup.semanticCollapse`. */
  private[operators] def withComponentLabel(rows: DataFrame, idCol: String,
                                            edges: DataFrame,
                                            labelCol: String): DataFrame = {
    val (sym, edgeCount) = symmetrized(edges)
    val labels =
      if (edgeCount <= LocalSolveMaxEdges) unionFindLabels(sym)
      else componentsOnSym(touched(sym), sym, edgeCount, maxIter = 20,
        LocalSolveMaxEdges)
    labelBy(rows, idCol, labels, labelCol)
  }

  /** The undirected edge set as a deduplicated, checkpointed
    * (`src`, `dst`) relation holding both orientations, plus its row
    * count. One scan of `edges`: each edge emits both orientations
    * through a generator (a `union` of the two orientations would
    * evaluate `edges` twice). Both endpoints take the type `union`
    * widens them to, so mixed int/long edge frames keep working. The
    * count comes from the checkpoint's own materialization. */
  private def symmetrized(edges: DataFrame): (DataFrame, Long) = {
    val t = edges.select(col("src")).union(edges.select(col("dst")))
      .schema.head.dataType
    val (s, d) = (col("src").cast(t), col("dst").cast(t))
    GraftPlanReset.checkpointLeafCounted(edges
      .select(explode(array(struct(s.as("src"), d.as("dst")),
        struct(d.as("src"), s.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct())
  }

  /** The edge-touched vertices of a symmetrized edge relation. */
  private def touched(sym: DataFrame): DataFrame =
    sym.select(col("src").as("id")).distinct()

  /** `rows` plus `labelCol` = the `lbl` of `rows(idCol)` in `labels`
    * (`id`, `lbl`), or the id itself where `labels` has no row. */
  private def labelBy(rows: DataFrame, idCol: String, labels: DataFrame,
                      labelCol: String): DataFrame =
    rows.join(labels.toDF("__cc_id", "__cc_lbl"),
        col(idCol) === col("__cc_id"), "left")
      .select(rows.columns.map(c => rows(c)) :+
        coalesce(col("__cc_lbl"), col(idCol)).as(labelCol): _*)

  // ckpt truncates lineage AND plan statistics: localCheckpoint
  // alone carries the origin plan's BigInt size estimates into the
  // new leaf, and in a self-joining loop those multiply per round
  // until the driver stalls inside stats estimation (see
  // GraftPlanReset).
  private def ckpt(df: DataFrame): DataFrame =
    GraftPlanReset.checkpointLeaf(df)

  private def componentsOnSym(vertices: DataFrame, sym: DataFrame,
                              edgeCount: Long, maxIter: Int,
                              localSolveMaxEdges: Long): DataFrame = {
    val spark = vertices.sparkSession
    // Endgame fast path, gated by the checkpoint's edge count (no
    // extra job): a near-dup pair graph is a vanishing fraction of
    // its corpus — at 2M (deduplicated, symmetrized) edges ×16 B it
    // fits in driver memory, and one collect + union-find replaces
    // ~25 tiny distributed jobs of pure scheduling overhead. This is
    // the same measured-size gating as the broadcast hint below: the
    // distributed propagate/contract loop is the >2M-edge path (at
    // 100 TB, one contraction round usually shrinks the label graph
    // under the gate, after which THIS path finishes it).
    if (edgeCount <= localSolveMaxEdges)
      return labelBy(vertices.select(col("id")), "id", unionFindLabels(sym),
        "cluster_id")
    var labels = ckpt(vertices.select(col("id"), col("id").as("lbl")))
    // Size the loop's materialized frames to the graph, not the
    // session default: each round is several shuffles over |E'| rows,
    // and fixed per-partition overhead dominates when the dup graph
    // is far smaller than the corpus (the common case). Applied as
    // per-plan `repartition(parts, key)` on the frames the loop
    // re-reads — NOT a session-level shuffle.partitions mutation,
    // which would leak to concurrent queries on the same session.
    val vertexCount = labels.count()
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      edgeCount / 100000 + 1)).toInt
    // The stats truncation above also wipes the row estimates that
    // would let Catalyst broadcast the (usually tiny) label table on
    // its own — so the hint is explicit, gated by the measured
    // vertex count (~24 B/row ⇒ 3M vertices ≈ 72 MB broadcast).
    // Broadcasting labels makes each propagate round a map-side join
    // over the edge relation: the |E| rows are never shuffled.
    val small = vertexCount < 3000000L
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var iter = 0
    var converged = false
    var edges0 = sym
    def runLoop(): Unit = while (iter < maxIter && !converged) {
      val neighborMin = edges0
        .join(maybeB(labels.withColumnRenamed("id", "src")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("lbl")).as("nlbl"))
      // checkpoint BEFORE the self-join: the jump references this
      // frame twice, and without materialization the whole O(|E|)
      // propagate subtree would execute once per reference
      val updated = ckpt(labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (col("nlbl").isNotNull && col("nlbl") < col("lbl")).as("__chg"))
        .repartition(parts, col("id")))
      // pointer jumping: lbl ← lbl(lbl). Labels are themselves vertex
      // ids, so one self-join halves the remaining path length each
      // round — convergence in O(log diameter) instead of O(diameter).
      // (measured: extra jumps per round do NOT reduce rounds on
      // near-dup graphs — label chains are already shallow — so one
      // jump is the sweet spot; more just add fixed per-job cost)
      val jumped = updated.as("a")
        .join(maybeB(updated.select(col("id").as("lbl"),
          col("lbl").as("lbl2"))).as("b"), Seq("lbl"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("b.lbl2"), col("lbl")).as("lbl"),
          col("a.__chg").as("__chg"))
      val next = ckpt(jumped.repartition(parts, col("id")))
      converged = next.filter(col("__chg")).isEmpty
      labels = next.select(col("id"), col("lbl"))
      // contraction: rewrite edges into label space (lbl(u), lbl(v))
      // and drop intra-cluster loops. Connectivity of the LABEL
      // graph is preserved, so min-label propagation on the
      // contracted edges reaches the same fixpoint — but the edge
      // relation collapses multiplicatively as clusters form, so
      // late rounds shuffle thousands of label-edges instead of all
      // of |E| every round.
      val lbls = maybeB(labels)
      edges0 = ckpt(edges0
        .join(lbls.toDF("src", "ls"), "src")
        .join(lbls.toDF("dst", "ld"), "dst")
        .filter(col("ls") =!= col("ld"))
        .select(col("ls").as("src"), col("ld").as("dst"))
        .distinct()
        .repartition(parts, col("src")))
      iter += 1
    }
    runLoop()
    // contraction leaves non-representative vertices pointer hops
    // behind their (now settled) representatives; pointer paths
    // cannot exceed the round count, and each settle jump halves
    // them, so ⌈log₂(maxIter)⌉+1 jumps compose the final mapping
    var out = labels
    val settles = 1 + (64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1, iter).toLong)).toInt
    (0 until settles).foreach { _ =>
      out = ckpt(out.as("a")
        .join(out.select(col("id").as("lbl"), col("lbl").as("lbl2")).as("b"),
          Seq("lbl"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("b.lbl2"), col("lbl")).as("lbl")))
    }
    out.withColumnRenamed("lbl", "cluster_id")
  }

  /** Union-find over a collected edge set — the endgame solver for
    * graphs under the `localSolveMaxEdges` gate. Path-halving +
    * union-by-min keeps the min-id-as-cluster-id contract of the
    * distributed loop (results are identical). Returns (`id`, `lbl`)
    * for every vertex whose label is not itself (a root never
    * enters the map; [[labelBy]]'s coalesce labels it), hinted for
    * broadcast: tiny by the gate, so the side it labels never
    * shuffles and downstream plans stay distributed. */
  private def unionFindLabels(symEdges: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) {
        val p = parent.getOrDefault(r, r)
        parent.put(r, parent.getOrDefault(p, p)) // path halving
        r = parent.getOrDefault(p, p)
      }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // min root wins: cluster_id = min vertex id in component
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    symEdges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().foreach(r => union(r.getLong(0), r.getLong(1)))
    val labels = parent.keySet.toArray(Array.empty[java.lang.Long])
      .map(id => (id.longValue, find(id.longValue)))
    val spark = symEdges.sparkSession
    import spark.implicits._
    broadcast(spark.createDataset(labels.toSeq).toDF("id", "lbl"))
  }

  /** Duplicate clusters from a near-dup pair set: cluster ids plus
    * the per-cluster representative choice (min id survives).
    *
    * Only edge-touched vertices are clustered — near-dup pairs are a
    * vanishing fraction of a 100 TB corpus, so labelling every
    * document would move the whole id set for nothing; an id no pair
    * touches is its own cluster. The pair frame (often a whole LSH
    * pipeline) is evaluated once, by the symmetrizing checkpoint;
    * under the local-solve gate `ids` gets its labels by a map-side
    * join against the broadcast union-find map, with no shuffle. */
  def dupClusters(ids: DataFrame, idCol: String,
                  pairs: DataFrame): DataFrame =
    withComponentLabel(ids.select(col(idCol).as(idCol)), idCol,
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
        "cluster_id")
      .withColumn("is_representative", col(idCol) === col("cluster_id"))

  /** PageRank over a weighted directed edge set — the crawl-graph
    * centrality a web-corpus pipeline uses to weight sources (the
    * same family of signal Common Crawl publishes as harmonic
    * centrality). Fixed `iters` power iterations of the standard
    * update r'(v) = (1-d)/N + d·Σ_u r(u)·w(u,v) with w(u,v) =
    * cnt(u,v)/outdeg(u); dangling mass is not redistributed (the
    * usual simplified form — both engines of the oracle pair compute
    * the identical formula).
    *
    * Determinism: each edge's contribution r(u)·w(u,v) is an
    * independent double expression, and the per-vertex fold sums
    * those doubles through DECIMAL(38,18) — so the result is
    * bit-identical under any partitioning or join order (the
    * `unigramSurprisal` decimal-fold rule).
    *
    * Scale shape: per iteration, one keyed shuffle of the edge set
    * joined to the (|V|-row) rank vector — AQE broadcasts the rank
    * side when it fits, so the big edge relation never reshuffles —
    * plus one dst-keyed partial-aggregated reduce. The weighted edge
    * set is checkpointed ONCE (lineage and plan-stats truncation,
    * same rationale as the CC loop's ckpt); the rank vector only
    * checkpoints every `ckptEvery` rounds. Unlike the CC loop, an
    * iteration joins the PREVIOUS rank against the static ckpt'd
    * edge leaf — no self-join of growing plans — so depth (and
    * stats) grow linearly and a short fixed-iteration run executes
    * as ONE lazy job instead of paying a per-round materialization
    * (measured 6× on the bench fixture). `ckptEvery <= 0` disables
    * the rank checkpoint entirely. */
  def pageRank(edges: DataFrame, iters: Int = 5,
               damping: Double = 0.85, ckptEvery: Int = 10): DataFrame = {
    // (1 - damping) computed in DECIMAL string space: the double
    // `1.0 - 0.85` is 0.15000000000000002, one ulp off the double
    // an oracle SQL literal `0.15` parses to — folding through
    // BigDecimal makes both engines start from the identical double
    val teleport = (BigDecimal(1) - BigDecimal(damping.toString)).toDouble
    val cnts = edges.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
    val outdeg = cnts.groupBy(col("src"))
      .agg(sum(col("cnt")).cast("double").as("od"))
    val w = ckpt(cnts.join(outdeg, Seq("src"))
      .select(col("src"), col("dst"),
        (col("cnt").cast("double") / col("od")).as("wt")))
    val nodes = w.select(col("src").as("node"))
      .union(w.select(col("dst").as("node"))).distinct()
    // The vertex set checkpoints FIRST and one count over the
    // materialized leaf feeds BOTH the `n` column (as a literal —
    // count < 2^53 so the double is exact, bit-identical to the old
    // in-plan count(…).cast("double")) and the broadcast gate below.
    // This replaces the old crossJoin of a broadcast one-row
    // aggregate (a BNLJ + BroadcastExchange inside the ckpt build)
    // with a projection over the leaf; `nodes` still computes
    // exactly once and the gate still costs one cached-leaf count.
    val nn0 = ckpt(nodes)
    val nVerts = nn0.count()
    val nn = nn0.withColumn("n", lit(nVerts.toDouble))
    // measured-size broadcast gate (the CC loop's rule): the rank
    // vector is |V| rows (~28 B each) — under ~3M vertices (~84 MB)
    // broadcast it AND the per-iteration contrib vector, so each
    // power iteration is a map-side join over the (never reshuffled)
    // edge leaf plus ONE dst-keyed partial-aggregated reduce — 3
    // exchanges per iteration become 1; past the gate the
    // shuffled-join shape stands (AQE still converts what fits).
    // Identical results either way: join strategy moves no values,
    // and the decimal(38,18) fold is order-independent bitwise.
    val small = nVerts < 3000000L
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var rank = nn.select(col("node"), col("n"),
      (lit(1.0) / col("n")).as("rank"))
    for (i <- 1 to iters) {
      val contrib = w
        .join(maybeB(rank.select(col("node").as("src"), col("rank"))),
          Seq("src"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum((col("rank") * col("wt")).cast("decimal(38,18)"))
          .cast("double").as("contrib"))
      val next = nn
        .join(maybeB(contrib), col("node") === col("cnode"), "left")
        .select(col("node"), col("n"),
          (lit(teleport) / col("n") +
            lit(damping) * coalesce(col("contrib"), lit(0.0)))
            .as("rank"))
      rank = if (ckptEvery > 0 && i % ckptEvery == 0) ckpt(next) else next
    }
    rank.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** [[pageRank]] over the event-navigation graph: per user, each
    * consecutive pair of visited items (`props.k`, ordered by time
    * with `event_id` as the unique tie-break) is a directed edge.
    * Events without a numeric `k` are dropped BEFORE the lag pairing
    * (a malformed event must not appear as either endpoint, and a
    * NULL node would silently swallow its inbound rank mass). */
  def navigationRank(events: DataFrame, iters: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val seq = events.select(col("user_id"),
      expr("try_cast(get_json_object(props, '$.k') AS int)").as("dst"),
      col("ts"), col("event_id"))
      .where(col("dst").isNotNull)
      .withColumn("src", lag(col("dst"), 1).over(byUser))
    pageRank(seq.where(col("src").isNotNull)
      .select(col("src"), col("dst")), iters)
  }
}
