package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fixed.{r4, r6}
import graft.sources.Tables

/** Graph analytics over the co-purchase part graph (the capped basket
  * pairs of Analytics.copurchase, taken as undirected edges).
  *
  * The reference has no graph surface; this is the scale-additions
  * family's iterative-algorithm flagship alongside Dedup.dedupClusters:
  * where the clusters loop propagates MIN labels (converging in O(log d)
  * rounds), PageRank iterates a fixed-point — a fixed number of
  * synchronous rounds, each one equi-join + one partial-agg groupBy.
  */
object Graph {

  /** Fixed iteration count (the oracle unrolls exactly this many CTE
    * rounds). A fixed-K power iteration is the standard batch form —
    * convergence thresholds make the ROUND COUNT data-dependent, which
    * an oracle cannot mirror; K=5 is deep enough that ranks separate.
    */
  val PrIters = 5

  /** Damping/teleport as parsed literals on both engines (the
    * BackoffAlpha2 lesson: runtime 1−0.85 is not the literal 0.15).
    */
  val PrDamping = 0.85
  val PrTeleport = 0.15
  val PrTopK = 20

  /** Minimum co-purchase support for an edge. Support-1 pairs are
    * co-incidence, not signal (at sf0.1: 1.19 M of 1.20 M pairs are
    * support-1 — 99.7% noise edges), and pruning them BEFORE the
    * iteration is the step that makes a fixed-point loop affordable:
    * the rounds run over the signal graph, not the quadratic basket
    * fan-out. The same thresholding any co-occurrence-graph recommender
    * applies. Single-sourced into the oracle SQL.
    */
  val PrMinSupport = 2

  /** pagerank: the top-[[PrTopK]] parts of the co-purchase graph by
    * PageRank (Page et al. 1999) — "products bought alongside
    * well-connected products rank high", the recommender-centrality
    * counterpart of copurchase's pairwise lift.
    *
    *   pr⁰(v) = 1/N
    *   prᵏ(v) = 0.15/N + 0.85 · Σ_{u→v} prᵏ⁻¹(u)/deg(u)
    *
    * Scale shape: each round is one equi-join of the edge list against
    * the current rank frame (shuffle on src) + one partial-agg groupBy
    * on dst — the dedup_clusters loop shape, localCheckpoint-ed per
    * round so lineage stays flat. No driver-side state at all: even N
    * rides as a 1-row broadcast. The undirected edge set guarantees
    * every node has in-edges, so no dangling-mass correction term is
    * needed. Top-k is TakeOrdered.
    *
    * Parity: each contribution pr/deg rounds to 6dp and accumulates in
    * DECIMAL (exact under any partitioning — a raw double sum would be
    * partition-order dependent); the damped update is a fixed-order
    * double expression re-rounded to 6dp, so every round's frame is
    * bit-identical across engines and rounding error cannot compound
    * differently.
    */
  /** The support-pruned undirected co-purchase pair set, one canonical
    * (pa < pb) row per edge — shared by [[pagerank]], [[graphStats]]
    * and [[copurchaseClusters]]. PERSISTED once per corpus behind the
    * IndexStore registry (the dedup pair-set posture, r8): the basket
    * self-join + support agg is the dominant shared stage (measured
    * ~2/3 of copurchase_clusters at the 10× probe), and every graph
    * consumer re-paid it per invocation; now run 1 builds, every
    * consumer reads the sorted edge parquet.
    */
  def edgesIndexPath(dir: String): String =
    IndexStore.path("copurchase-edges-v1", dir)

  def buildCopurchaseEdges(spark: SparkSession, dir: String,
      path: String): Unit = {
    val capped = Analytics.cappedBaskets(spark, dir)
    val a = capped.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = capped.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val edges = a.join(b, Seq("l_orderkey")).filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("s"))
      .filter(col("s") >= PrMinSupport)
      .select(col("pa"), col("pb"))
    graft.sources.Sinks.writeSortedParquet(edges, path, Seq("pa", "pb"))
  }

  private def prunedPairs(spark: SparkSession, dir: String): DataFrame = {
    val path = edgesIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildCopurchaseEdges(spark, dir, path))
    Tables.read(spark, path)
  }

  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val e0 = prunedPairs(spark, dir)
    val edges = e0.select(col("pa").as("src"), col("pb").as("dst"))
      .union(e0.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // deg is static across rounds: fold it into the edge list ONCE, so
    // each iteration is one edge⋈rank join + one agg, not two joins
    val edgesD = edges.join(deg, Seq("src")).localCheckpoint(false)
    // the 1-row node count is consumed by EVERY round's teleport term:
    // checkpoint it, or each round's job re-derives the whole pair
    // self-join chain just to count nodes (measured 2 s × 5 rounds)
    val nn = broadcast(edgesD.select(col("src")).distinct()
      .agg(count(lit(1)).as("n")).localCheckpoint(false))
    var pr = edgesD.select(col("src")).distinct().crossJoin(nn)
      .select(col("src").as("node"), r6(lit(1.0) / col("n")).as("pr"))
      .localCheckpoint(false)
    for (_ <- 1 to PrIters) {
      pr = edgesD.join(pr, col("node") === col("src"))
        .select(col("dst"),
          r6(col("pr") / col("deg")).cast("decimal(18,6)").as("part"))
        .groupBy(col("dst"))
        .agg(sum(col("part")).as("s"))
        .crossJoin(nn)
        .select(col("dst").as("node"),
          r6(lit(PrTeleport) / col("n") +
            lit(PrDamping) * col("s").cast("double")).as("pr"))
        .localCheckpoint(false)
    }
    val top = pr.orderBy(col("pr").desc, col("node")).limit(PrTopK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("pr").desc, col("node"))))
      .select(col("node").as("part"), col("pr"), col("rank"))
  }

  /** graph_stats: the one-row shape summary of the co-purchase graph —
    * node/edge counts, degree moments, triangle count, and the global
    * clustering coefficient 3·triangles / wedges (transitivity). The
    * standing before/after gauge for any change to the basket cap or
    * support threshold, and the graph twin of cluster_stats' dedup
    * audit.
    *
    * Scale shape: triangles enumerate via the canonical-pair 2-path
    * join — e(a,b) ⋈ e(b,c) on the shared middle node, closed by a semi
    * join against e(a,c); with a < b < c each triangle counts exactly
    * once, and the per-node fan-out is bounded by the pruned degree
    * (the support threshold is what keeps this join affordable — on the
    * raw support-1 graph the 2-path set would be quadratic in the hot
    * parts' degrees). Wedges Σ deg·(deg−1)/2 come from the degree
    * partial agg in exact integer arithmetic.
    */
  def graphStats(spark: SparkSession, dir: String): DataFrame = {
    val e0 = prunedPairs(spark, dir).localCheckpoint(false)
    val deg = e0.select(col("pa").as("v")).union(e0.select(col("pb")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"),
      sum(col("deg")).as("degsum"),
      // 2×wedges: deg·(deg−1) stays integer (a /2 here would go double);
      // the transitivity ratio folds the halving into 6·tri/wedges2
      sum(col("deg") * (col("deg") - 1)).as("wedges2"))
    val ab = e0.select(col("pa").as("a"), col("pb").as("b"))
    val bc = e0.select(col("pa").as("b"), col("pb").as("c"))
    val tri = ab.join(bc, Seq("b"))
      .join(e0.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    e0.agg(count(lit(1)).as("n_edges"))
      .crossJoin(degStats)
      .crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        r4(col("degsum").cast("double") / col("n_nodes")).as("avg_degree"),
        col("n_triangles"),
        r4(lit(6) * col("n_triangles").cast("double") / col("wedges2"))
          .as("transitivity"))
  }

  /** copurchase_clusters: PRODUCT COMMUNITIES — connected components of
    * the support-pruned co-purchase graph (the cluster face of the
    * recommender triple: copurchase ranks pairs, pagerank ranks nodes,
    * this partitions the catalog into co-bought families — the
    * substitutable/complementary product groups a merchandiser or
    * basket-analysis pipeline consumes). One row per part; parts off
    * the signal graph label themselves (singleton = its own family,
    * the dedup_clusters convention).
    *
    * Scale shape: the IDENTICAL pointer-jumping min-label loop as
    * dedup_clusters (Dedup.ccLabels — O(log diameter) rounds, each one
    * equi-join + partial agg, only a convergence scalar on the driver),
    * over the same pruned edge list pagerank iterates; the part
    * universe joins back once at the end.
    */
  def copurchaseClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = graft.operators.Dedup.ccLabels(
      prunedPairs(spark, dir).select(col("pa").as("id_a"),
        col("pb").as("id_b")))
    Tables.part(spark, dir).select(col("p_partkey"))
      .join(labels.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("lbl", "l1"), col("p_partkey") === col("d1"),
        "left")
      .select(col("p_partkey"),
        coalesce(col("l1"), col("p_partkey")).as("cluster"))
      .orderBy(col("p_partkey"))
  }

  /** k_core parameters: the core degree threshold and the bounded peel
    * depth. [[CorePeelRounds]] = 8 fully converges on every gate corpus
    * (the survivor set is stable rounds before the cap); at larger
    * scale a non-converged round leaves only nodes whose degree still
    * ≥ K within the current subgraph — a superset of the true core,
    * shrinking monotonically — so the bound degrades gracefully rather
    * than wrongly.
    */
  val CoreK = 3
  val CorePeelRounds = 8

  /** k_core: the [[CoreK]]-core of the co-purchase graph — the maximal
    * subgraph where every product keeps ≥ K co-purchase partners after
    * everything weaker is iteratively peeled away (Seidman's k-core;
    * the standard "dense backbone" extraction that separates structural
    * hubs from long-tail attachments — pagerank ranks influence,
    * copurchase_clusters finds components, this finds the cohesive
    * core).
    *
    * Scale shape: consumes the persisted support-pruned edge artifact
    * (the pagerank posture); each peel round is one partial-agg degree
    * count + two semi-joins, checkpointed per round so no round
    * re-derives its predecessors (the pointer-jumping CC rule). All
    * joins key on node id. Bounded [[CorePeelRounds]] rounds — the
    * oracle unrolls the identical rounds, so parity is structural.
    */
  /** Fixed label-propagation rounds (the PrIters posture: a convergence
    * threshold would make the round count data-dependent, which the
    * unrolled oracle cannot mirror; 4 synchronous rounds separate the
    * gate graph's communities).
    */
  val LpRounds = 4

  /** label_prop: COMMUNITIES by synchronous label propagation (Raghavan
    * et al., Phys. Rev. E 2007) over the support-pruned co-purchase
    * graph — each round every node adopts the most frequent label among
    * its neighbors (ties to the SMALLEST label, which makes the update
    * deterministic and engine-mirrorable; the usual random tie-break is
    * exactly what an oracle cannot replay). Complements the graph
    * family: copurchase_clusters partitions by CONNECTIVITY (one giant
    * component swallows everything it touches), label_prop partitions by
    * DENSITY — a bridge edge joins components but does not merge
    * communities. Parts off the signal graph are their own singleton
    * community (the dedup_clusters convention).
    *
    * Scale shape: each round is one equi-join of the edge list against
    * the label frame (shuffle on src) + one (dst, lbl) partial agg + a
    * dst-bounded argmax window — the pagerank loop shape,
    * localCheckpoint-ed per round. No driver state.
    */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val e0 = prunedPairs(spark, dir)
    // static side pre-partitioned on the per-round join key src (the
    // ccLabels rule): the checkpoint's LogicalRDD keeps the
    // partitioning, so each round's label join stops re-shuffling it
    val edges = Tables.cpuPartition(
      e0.select(col("pa").as("src"), col("pb").as("dst"))
        .union(e0.select(col("pb").as("src"), col("pa").as("dst"))),
      col("src")).localCheckpoint(false)
    var lbl = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(false)
    for (_ <- 1 to LpRounds) {
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("c").desc, col("lbl"))
      lbl = edges.join(lbl, col("node") === col("src"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("lbl"))
        .localCheckpoint(false)
    }
    Tables.part(spark, dir).select(col("p_partkey"))
      .join(lbl, col("p_partkey") === col("node"), "left")
      .select(col("p_partkey"),
        coalesce(col("lbl"), col("p_partkey")).as("community"))
      .orderBy(col("p_partkey"))
  }

  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val e0 = prunedPairs(spark, dir)
    // pre-partitioned on src (the ccLabels rule): round 1's degree
    // groupBy and src semi-join reuse this partitioning directly. Later
    // rounds read the previous round's semi-join OUTPUT checkpoint,
    // which keeps src partitioning only while both semi-joins broadcast
    // their node-sized keep side (they do at every gate corpus; a
    // planner/stats change falls back to per-round shuffles — slower,
    // never wrong)
    var edges = Tables.cpuPartition(
      e0.select(col("pa").as("src"), col("pb").as("dst"))
        .union(e0.select(col("pb").as("src"), col("pa").as("dst"))),
      col("src")).localCheckpoint(false)
    for (_ <- 1 to CorePeelRounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= CoreK).select(col("src").as("k"))
        .localCheckpoint(false) // feeds BOTH endpoint semi-joins
      edges = edges
        .join(keep, col("src") === col("k"), "left_semi")
        .join(keep.select(col("k").as("k2")), col("dst") === col("k2"),
          "left_semi")
        .localCheckpoint(false)
    }
    edges.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("part"), col("core_deg"))
      .orderBy(col("part"))
  }

  /** assortativity: Newman degree assortativity (PRE 2002, eq. 4) of
    * the co-purchase graph — the Pearson correlation of end-point
    * degrees over directed edge ends. Positive = hubs link hubs
    * (social-graph shape), negative = hubs link leaves (the
    * hub-and-spoke shape a basket graph usually has); the one-number
    * mixing summary beside graph_stats' transitivity. Over the
    * symmetric directed edge list Σj = Σk and Σj² = Σk², so
    * r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²).
    *
    * Parity: every moment is an exact integer accumulated in
    * DECIMAL(38,0) (the signalCorr posture); one double division
    * rounds to 6dp. Degree-regular graphs (denominator 0) → NULL.
    *
    * Scale shape: pure consumer of the persisted edge artifact — one
    * degree partial agg, two broadcast-sized joins back onto the edge
    * list, one 1-row rollup.
    */
  /** Top-k size of the local_clustering read-out. */
  val LccTopK = 20

  /** local_clustering: PER-NODE triangle counts and the local
    * clustering coefficient lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) —
    * the node-level face of graph_stats' global transitivity (Watts &
    * Strogatz 1998's C_i). A part with high degree but near-zero lcc
    * is a hub bridging otherwise-unrelated baskets (a staple); a part
    * whose neighborhood closes into triangles sits inside a cohesive
    * co-bought family — the distinction a recommender uses to pick
    * between "popular" and "bundle" placements. Top-[[LccTopK]] by
    * triangle count.
    *
    * Scale shape: the same canonical-pair 2-path join + semi-join
    * closure as graphStats (a < b < c counts each triangle once, the
    * support threshold bounds the fan-out), then each triangle row
    * fans out to its THREE member nodes via a 3-way union into one
    * partial-agg groupBy — no windows, no per-node re-enumeration.
    * Consumer of the persisted edge artifact like every graph query.
    *
    * Parity: counts are exact integers; the single lcc division is one
    * 4dp-rounded double expression over integer inputs.
    */
  def localClustering(spark: SparkSession, dir: String): DataFrame = {
    val e0 = prunedPairs(spark, dir).localCheckpoint(false)
    val deg = e0.select(col("pa").as("v")).union(e0.select(col("pb")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val ab = e0.select(col("pa").as("a"), col("pb").as("b"))
    val bc = e0.select(col("pa").as("b"), col("pb").as("c"))
    val tri = ab.join(bc, Seq("b"))
      .join(e0.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"),
        "left_semi")
    // one generator pass: a 3-way union of projections would re-run
    // the 2-path join three times (measured 19 s -> 7 s at the 10×
    // probe's densified graph)
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    triPerNode.join(deg, Seq("v"))
      .select(col("v").as("part"), col("n_triangles"), col("degree"),
        r4(lit(2) * col("n_triangles").cast("double") /
          (col("degree") * (col("degree") - 1))).as("lcc"))
      .orderBy(col("n_triangles").desc, col("part"))
      .limit(LccTopK)
  }

  /** Top-k size of the jaccard_links read-out, and the wedge fan-out
    * cap: middle nodes with degree above [[LinkMidDegCap]] are excluded
    * from candidate GENERATION (a hub generates deg² candidate pairs
    * while contributing the weakest common-neighbor evidence — the
    * Adamic-Adar 1/log(deg) rationale taken to its cap limit; the
    * fan-out-cap family rule applied to the wedge join). True degrees
    * still serve the Jaccard denominator. The cap never binds on the
    * support-pruned gate graphs; on the 10× replica's densified hubs
    * it bounds the wedge set (47.6 → 2.8 s measured at cap 64; gate max degrees are 13/5, far under the cap).
    */
  val LinkTopK = 20
  val LinkMidDegCap = 64

  /** jaccard_links: LINK PREDICTION over the co-purchase graph —
    * non-adjacent part pairs ranked by neighborhood Jaccard
    * |Γ(a)∩Γ(c)| / |Γ(a)∪Γ(c)| (Liben-Nowell & Kleinberg 2003's
    * common-neighbors family): "these two parts are never bought
    * together, but they are bought WITH the same things" — the
    * cross-sell candidates a recommender surfaces before any
    * co-purchase evidence exists.
    *
    * Scale shape: candidate pairs enumerate via the same 2-path wedge
    * join as the triangle queries (a–b–c over the symmetric adjacency,
    * a < c, fan-out bounded by the pruned degree), one partial-agg
    * count of common neighbors, an anti-join against the edge set
    * (predicting EXISTING links is vacuous), a degree join, TakeOrdered.
    * |Γ(a)∪Γ(c)| = deg(a)+deg(c)−common — exact integers, one 4dp
    * division.
    */
  def jaccardLinks(spark: SparkSession, dir: String): DataFrame = {
    val e0 = prunedPairs(spark, dir).localCheckpoint(false)
    val sym = e0.select(col("pa").as("src"), col("pb").as("dst"))
      .union(e0.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false) // gates the wedge AND serves both denominators
    // adjacency restricted to cap-ok MIDDLE nodes (symmetry lets both
    // wedge arms read the same src-filtered frame)
    val symM = sym.join(
      deg.filter(col("deg") <= LinkMidDegCap).select(col("src")),
      Seq("src"), "left_semi")
    val common = symM.select(col("src").as("mid"), col("dst").as("a"))
      .join(symM.select(col("src").as("mid"), col("dst").as("c")),
        Seq("mid"))
      .filter(col("a") < col("c"))
      .groupBy(col("a"), col("c"))
      .agg(count(lit(1)).as("common"))
      .join(e0.select(col("pa").as("a"), col("pb").as("c")),
        Seq("a", "c"), "left_anti")
    common
      .join(deg.select(col("src").as("a"), col("deg").as("deg_a")),
        Seq("a"))
      .join(deg.select(col("src").as("c"), col("deg").as("deg_c")),
        Seq("c"))
      .select(col("a"), col("c"), col("common"), col("deg_a"),
        col("deg_c"),
        r4(col("common").cast("double") /
          (col("deg_a") + col("deg_c") - col("common"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("c"))
      .limit(LinkTopK)
  }

  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val e0 = prunedPairs(spark, dir)
    val edges = e0.select(col("pa").as("src"), col("pb").as("dst"))
      .union(e0.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false) // joins onto BOTH edge ends
    val d = (c: Column) => c.cast("decimal(38,0)")
    val j = edges
      .join(deg.select(col("src"), col("deg").as("dj")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dk")),
        Seq("dst"))
    val m = j.agg(count(lit(1)).as("m"),
      sum(d(col("dj") * col("dk"))).as("sjk"),
      sum(d(col("dj"))).as("sj"),
      sum(d(col("dj") * col("dj"))).as("sjj"))
    val num = (d(col("m")) * col("sjk") - col("sj") * col("sj"))
      .cast("double")
    val den = (d(col("m")) * col("sjj") - col("sj") * col("sj"))
      .cast("double")
    m.select(expr("m div 2").as("n_edges"),
      when(den =!= 0.0, r6(num / den)).as("assortativity"))
  }
}
