package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarity
import graft.functions.Fixed.{r2, r4, r6, units}
import graft.functions.VectorFunctions.{collectSorted, cosineSim, dot}
import graft.sources.{Sinks, Tables}

/** Vector similarity operators over the embeddings corpus.
  *
  * Re-expresses the reference's pgvector retrieval surface
  * (/root/reference/database.py:376-470 `find_similar_documents`,
  * /root/reference/query.txt:186-203 `embedding <=> $1 ORDER BY ASC
  * LIMIT k` over an ivfflat cosine index — cosine *distance* ascending,
  * which is exactly cosine *similarity* descending here, and `ann_ivf*`
  * are the ivfflat analogues — plus
  * /root/reference/rag_processor.py:26-77 brute-force cosine) as
  * distributed Spark plans:
  *
  *  - brute-force top-k: the *query side* is broadcast, the corpus is
  *    streamed in one scan — no shuffle of the corpus, scales linearly
  *    with corpus size and executor count;
  *  - IVF: a label-centroid coarse quantizer bounds the scan to nprobe
  *    clusters (the scale path — candidate generation is an equi-join
  *    on cluster id, not a cross product);
  *  - LSH: deterministic random-hyperplane signatures; candidates share
  *    an 8-bit band, generated by a bucket-capped equi-join on (band, key).
  *
  * Every index family carries a standing recall audit (`*_recall`, the
  * `*_curve` sweeps, the maintenance gates). They share one set of
  * conventions, stated here and implemented once below:
  *  - eval sample: the queries are the corpus vectors with
  *    `vec_id % 100 == 0` ([[evalQueries]]) — recall is a statistical
  *    gauge, never a full-corpus pass;
  *  - persisted truth: the exact top-k of that sample is read from the
  *    [[denseTruth]] artifact ([[truthSample]]), so every audit is a pure
  *    consumer and the brute sweep is the run-1 build;
  *  - the truth side is the authority: it LEFT-joins the probe's
  *    (q_id, neighbor_id), so a query the probe misses entirely reads 0;
  *  - per-query recall is n_matched / k for each sampled query
  *    ([[recallPerQuery]]); micro recall, one row per arm, is
  *    Σ n_matched / (n_queries · k) ([[recallMicro]]);
  *  - every ratio is floored to 4dp as floor(x · 10⁴ + ½) / 10⁴
  *    ([[graft.functions.Fixed.r4]]),
  *    the primitive the DuckDB oracle mirrors exactly (round() disagrees
  *    with it at ties).
  */
object Similarity {

  private val DIM = 64

  /** Knowledge-base ingest: documents joined with their embeddings
    * (reference: database.py:340 add_document_to_knowledge_base keeps
    * content + vector side by side).
    */
  def kbIngest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val e = Tables.embeddings(spark, dir)
    // No sort: an ingest operator must not pay a total-order shuffle; the
    // correctness gate compares row-order-independently.
    d.join(e, d("doc_id") === e("vec_id"))
      .select(
        d("doc_id"), d("lang"), d("source"), d("n_chars"), e("label"),
        size(e("embedding")).as("dim"),
        round(sqrt(dot(e("embedding"), e("embedding"))), 4).as("norm"))
  }

  /** Brute-force cosine top-5 for the vec_id=0 query vector. Query id
    * and k are the reference's runtime args (database.py:422
    * `find_similar_documents(embedding, limit)`) — override via
    * `spark.graft.param.sim_topk.{query_id,k}`.
    *
    * `spark.graft.param.sim_topk.vector` (CSV floats, dim-checked loud)
    * serves an ARBITRARY query vector instead — the reference's actual
    * RPC shape (database.py:443 takes a literal `p_embedding`; the /chat
    * flow, rag_processor.py:26, embeds the user's message and searches
    * with a vector that exists in no table). The literal path excludes
    * nothing (a new vector has no self row to drop), exactly like the
    * reference's `match_documents`; ranking is otherwise bit-identical
    * to the vec_id path for the same floats.
    */
  /** CSV-floats literal-vector param, dim-checked loud — shared by
    * sim_topk's brute path and the index probe chain's
    * [[probeQueries]].
    */
  private[graft] def parseVectorParam(spark: SparkSession,
      key: String): Option[Array[Float]] =
    graft.Params.strOpt(spark, key, None).map { csv =>
      val vec = csv.split(",").map { s =>
        try s.trim.toFloat
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"${graft.Params.Namespace}$key must be CSV floats, " +
              s"got component '${s.trim}'") }
      }
      if (vec.length != DIM)
        throw new IllegalArgumentException(
          s"${graft.Params.Namespace}$key has dim ${vec.length}, " +
            s"corpus dim is $DIM")
      vec
    }

  /** The QUERY frame of the index-probe serving chain (the IVF probe,
    * ann_filtered, ann_sq, ann_graph, the MMR pool): default = the
    * gated eval sample (vec_id % 100 == 0); with
    * `spark.graft.param.ann.vector` set (CSV floats) it is ONE literal
    * query served THROUGH THE INDEX — the reference RPC's arbitrary
    * `p_embedding` (database.py:443; the /chat flow embeds the user's
    * message and searches with a vector that exists in no table),
    * which previously only the brute-force sim_topk path accepted.
    * `ann.vector.qid` (default -1, matching no corpus row) labels the
    * query row AND drives the self-exclusion filters: pass the id of
    * the corpus vector whose floats you are serving to reproduce that
    * vector's gated ranking bit-identically (the ParamsSpec identity).
    *
    * The standing recall audits (ann_recall, filtered_recall,
    * graph_recall, mmr_pool_recall, …) keep the gated sample: an
    * arbitrary vector has no persisted exact truth to audit against —
    * with the param set their probe arm carries the literal query and
    * the truth join yields no rows; unset the param to audit.
    */
  private def probeQueries(spark: SparkSession, dir: String): DataFrame =
    parseVectorParam(spark, "ann.vector") match {
      case Some(vec) =>
        val qid = graft.Params.long(spark, "ann.vector.qid", -1L)
        import spark.implicits._
        Seq((qid, vec.toSeq)).toDF("q_id", "qe")
      case None => evalQueries(Tables.embeddings(spark, dir))
    }

  /** The eval query frame (q_id, qe): the `% 100` sample of `e`. */
  private def evalQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))

  def simTopk(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.Params.int(spark, "sim_topk.k", 5)
    val e = Tables.embeddings(spark, dir)
    val (q, exclude) =
      parseVectorParam(spark, "sim_topk.vector") match {
        case Some(vec) =>
          import spark.implicits._
          (broadcast(Seq(vec).toDF("qe")), lit(true))
        case None =>
          val qid = graft.Params.long(spark, "sim_topk.query_id", 0L)
          (broadcast(e.filter(col("vec_id") === qid)
            .select(col("embedding").as("qe"))),
            col("vec_id") =!= qid)
      }
    e.join(q)
      .filter(exclude)
      .select(col("vec_id"),
        round(cosineSim(col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Depth of the persisted dense exact-truth sweep ([[denseTruth]]):
    * covers every consumer's cutoff (knn_join k=3, the recall audits'
    * k=3, the dense ranking arm's 10, the MMR pool's 10) with headroom
    * for param sweeps.
    */
  val DenseTruthDepth = 30

  def denseTruthPath(dir: String): String =
    IndexStore.path("dense-truth-v2", dir)

  /** Build the dense EXACT-TRUTH artifact: one brute-force cosine sweep
    * over the corpus for the sampled query set (vec_id ≡ 0 mod 50 — the
    * superset of every consumer's query sample), persisted to
    * [[DenseTruthDepth]] per query with the RAW double score (consumers
    * re-rank/round over ≤depth rows, bit-identically to ranking the
    * live sweep).
    *
    * This is the build/probe split applied to the AUDIT family: the
    * brute top-k is the exact-truth side of ann_recall, index_recall,
    * ndcg_eval, arm_overlap and the MMR pool baseline — rebuilt per
    * invocation it is a full corpus scan × query sweep EACH audit run
    * (the one recurring 100 TB-scale smell of r8); as a persisted
    * IndexStore artifact it rebuilds only when the corpus changes and
    * every audit becomes a pure consumer, exactly like the ANN indexes
    * (/root/reference/database.py:459 builds once, probes many).
    *
    * Two rank streams are persisted because consumers disagree on the
    * candidate universe: `rank_all` ranks ALL other vectors (knn_join /
    * recall audits / MMR pool), `rank_nonq` ranks only non-query-doc
    * candidates (the retrieval arms exclude the query sample from the
    * corpus side) — a running conditional count over the same window
    * order, null on query-doc rows.
    */
  def buildDenseTruth(spark: SparkSession, dir: String, path: String): Unit = {
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("s").desc, col("neighbor_id"))
    val truth = e.join(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("embedding"), col("qe")).as("s"),
        // is_q must track the retrieval arms' query universe: rank_nonq
        // is consumed by Retrieval.denseRanked, which filters by
        // Retrieval.QueryMod — single-source the modulus so a retune
        // cannot desync the persisted truth from the candidate set
        (pmod(col("vec_id"), lit(Retrieval.QueryMod)) === 0).as("is_q"))
      .withColumn("rank_all", row_number().over(w))
      .withColumn("rank_nonq", when(!col("is_q"),
        sum(when(col("is_q"), 0L).otherwise(1L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("int")))
      // v2: ALSO keep every partner at or above the semdedup cosine
      // threshold regardless of rank — the near-dup pair truth of the
      // sampled anchors (consumed by semdedup_recall), not just the
      // top-k truth of the ranking audits
      .filter(col("rank_all") <= DenseTruthDepth ||
        col("rank_nonq") <= DenseTruthDepth ||
        round(col("s"), 6) >= SemDedupThreshold)
    graft.sources.Sinks.writeSortedParquet(truth, path,
      Seq("q_id", "rank_all"))
  }

  /** The persisted dense exact-truth sweep (built on first use per JVM,
    * then a plain parquet read) — the one brute arm every dense audit
    * consumes.
    */
  def denseTruth(spark: SparkSession, dir: String): DataFrame = {
    val path = denseTruthPath(dir)
    IndexStore.ensureBuilt(path)(buildDenseTruth(spark, dir, path))
    Tables.read(spark, path)
  }

  // --- the audit kernel (conventions in the object header) -------------

  /** The exact top-k (q_id, neighbor_id, keep…) of the eval sample. */
  private def truthSample(spark: SparkSession, dir: String, k: Int,
      keep: String*): DataFrame =
    denseTruth(spark, dir)
      .filter(col("q_id") % 100 === 0 && col("rank_all") <= k)
      .select((Seq("q_id", "neighbor_id") ++ keep).map(col): _*)

  /** `truth` LEFT JOIN the broadcast probe answers: `an` is null on a
    * truth edge the probe missed. `approx` carries (q_id, neighbor_id);
    * the broadcast is bounded by the probe's own top-k per query.
    */
  private def truthJoin(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.join(broadcast(approx.select(col("q_id").as("aq"),
        col("neighbor_id").as("an"))),
      col("q_id") === col("aq") && col("neighbor_id") === col("an"), "left")

  /** Per-query recall@k (q_id, n_matched, recall). `ownDen` divides by
    * each query's truth-row count instead (kept as `n_exact`): a
    * filtered truth can hold fewer than k rows.
    */
  private def recallPerQuery(truth: DataFrame, approx: DataFrame, k: Int,
      ownDen: Boolean = false): DataFrame = {
    val counts = Seq(col("q_id"), col("n_matched")) ++
      (if (ownDen) Seq(col("n_exact")) else Nil)
    val den = if (ownDen) col("n_exact") else lit(k)
    truthJoin(truth, approx).groupBy(col("q_id"))
      .agg(count(col("an")).as("n_matched"), count(lit(1)).as("n_exact"))
      .select(counts :+
        r4(col("n_matched").cast("double") / den).as("recall"): _*)
  }

  /** Micro recall@k of one arm: a 1-row (n_queries, n_matched, recall). */
  private def recallMicro(truth: DataFrame, approx: DataFrame,
      k: Int): DataFrame =
    truthJoin(truth, approx)
      .agg(countDistinct(col("q_id")).as("n_queries"),
        count(col("an")).as("n_matched"))
      .select(col("n_queries"), col("n_matched"),
        r4(col("n_matched").cast("double") / (col("n_queries") * k))
          .as("recall"))

  /** Each query's k best rows of a scored (q_id, `id`, s) frame by
    * (s desc, `id`), numbered in column `rank`.
    */
  private def ranked(scored: DataFrame, k: Int, id: String = "neighbor_id",
      rank: String = "rank"): DataFrame =
    scored.withColumn(rank, row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("s").desc, col(id))))
      .filter(col(rank) <= k)

  /** The served top-k tail of a probe: (q_id, neighbor_id, `score`,
    * `rank`) of [[ranked]].
    */
  private def served(scored: DataFrame, k: Int, score: Column,
      id: String = "neighbor_id", rank: Column = col("rank")): DataFrame =
    ranked(scored, k, id).select(col("q_id"),
      if (id == "neighbor_id") col(id) else col(id).as("neighbor_id"),
      score, rank)

  /** Each query's top-k (q_id, neighbor_id) of a scored (q_id,
    * neighbor_id, s) frame, ties to the smaller id.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    ranked(scored, k, rank = "rk").select(col("q_id"), col("neighbor_id"))

  /** An acceptance gate: one row per named arm, keyed and ordered by
    * `arm`.
    */
  private def gate(arms: (String, DataFrame)*): DataFrame =
    arms.map { case (name, a) => a.select(lit(name).as("arm"), col("*")) }
      .reduce(_ unionByName _).orderBy(col("arm"))

  /** The 1-row 2dp mean of a per-query cost column. */
  private def meanPerQuery(perQuery: DataFrame, c: String,
      as: String): DataFrame =
    perQuery.agg(r2(sum(col(c)).cast("double") / count(lit(1))).as(as))

  /** Coarse routing: each query's `maxNp` nearest cells by centroid
    * cosine, ties to the smaller cid, as (q_id, qe, cid, pcs, pr) with
    * `pr` the cell's probe rank — an nprobe-np probe is `pr <= np`.
    * `coarse` is the k-row centroid table and broadcasts.
    */
  private def probeCells(q: DataFrame, coarse: DataFrame,
      maxNp: Int): DataFrame =
    q.join(broadcast(coarse))
      .select(col("q_id"), col("qe"), col("cid"),
        cosineSim(col("qe"), col("cvec")).as("pcs"))
      .withColumn("pr", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("pcs").desc, col("cid"))))
      .filter(col("pr") <= maxNp)

  /** Per-cell list sizes (ccell, csz) of an IVF-flat index. */
  private def cellSizes(idx: IvfFlatIndex): DataFrame =
    idx.lists.groupBy(col("ccell")).agg(count(lit(1)).as("csz"))

  /** Per-query scan cost (q_id, scanned) of an nprobe-np probe: the
    * summed sizes of the cells with `pr <= np`.
    */
  private def scanned(probes: DataFrame, sizes: DataFrame,
      np: Int): DataFrame =
    probes.filter(col("pr") <= np)
      .join(broadcast(sizes), col("cid") === col("ccell"))
      .groupBy(col("q_id")).agg(sum(col("csz")).as("scanned"))

  /** k-NN join: top-3 neighbors for every sampled query vector — a pure
    * consumer of the persisted exact-truth sweep ([[denseTruth]]; the
    * sweep itself is the run-1 build). The artifact stores the raw
    * double cosine, so the 6dp rounding here is bit-identical to
    * rounding the live sweep.
    */
  def knnJoin(spark: SparkSession, dir: String): DataFrame =
    denseTruth(spark, dir)
      .filter(col("rank_all") <= 3)
      .select(col("q_id"), col("neighbor_id"),
        round(col("s"), 6).as("sim"), col("rank_all").as("rank"))
      .orderBy(col("q_id"), col("rank"))

  /** Embedding-cosine near-duplicate pairs, label-blocked.
    * Blocking turns the quadratic all-pairs problem into an equi-join on
    * the blocking key; at scale the block is an LSH/IVF bucket instead.
    */
  def nearDupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = e.select(col("label").as("lb"), col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.join(b, a("label") === b("lb") && col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        round(cosineSim(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= 0.40)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact 6dp float mean of a float component column via long-integer
    * accumulation: each value rounds to a 7-decimal INTEGER with the
    * shared floor primitive (doubles are bit-identical across engines),
    * sums exactly as a long (order-independent), and the mean re-rounds
    * to 6dp. Never cast float->decimal for parity work: the engines
    * disagree on it at half-way 7th digits (DuckDB rounds the float's
    * shortest decimal repr, Spark HALF-UPs the double expansion — found
    * by the ann_pq gate, a latent flake in every centroid mean).
    */
  private def mean6f(v: Column): Column =
    (floor(sum(units(v.cast("double"), 10000000))
      .cast("double") / (count(lit(1)) * 10) + lit(0.5)) / 1000000)
      .cast("float")

  /** The Lloyd M-step: the component-wise [[mean6f]] of the `vec`
    * arrays of each `keys` group, reassembled as the array column `as`
    * (the per-component means are named `mean`). Empty groups drop out,
    * deterministically.
    */
  private def meanVectors(df: DataFrame, keys: Seq[String], vec: String,
      as: String, mean: String = "cv"): DataFrame = {
    val k = keys.map(col)
    df.select(k :+ posexplode(col(vec)).as(Seq("i", "v")): _*)
      .groupBy(k :+ col("i"): _*)
      .agg(mean6f(col("v")).as(mean))
      .groupBy(k: _*)
      .agg(collectSorted("i", mean).as(as))
  }

  /** Per-label centroids (the IVF coarse quantizer), as array<float>.
    * Components accumulate in decimal (exact, order-independent — a
    * float-summed mean can flip its 6dp rounding under a different
    * partitioning) and round to 6dp before the float cast, so any engine
    * at any parallelism lands on identical bits.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    meanVectors(Tables.embeddings(spark, dir), Seq("label"), "embedding",
      "centroid")

  /** IVF ANN: route each query to its nprobe=2 nearest centroids, then
    * rank true cosine inside those clusters only.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = labelCentroids(spark, dir)
    val q = evalQueries(e)
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cs").desc, col("clabel"))
    val probes = q.join(broadcast(cents.select(col("label").as("clabel"), col("centroid"))))
      .select(col("q_id"), col("qe"), col("clabel"),
        cosineSim(col("qe"), col("centroid")).as("cs"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 2)
      .select(col("q_id"), col("qe"), col("clabel"))
    served(e.join(broadcast(probes), e("label") === probes("clabel"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          cosineSim(col("embedding"), col("qe")).as("s")),
        3, round(col("s"), 6).as("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  // --- trained-quantizer IVF (inverted-file indexing after Jegou,
  //     Douze & Schmid, "Product quantization for nearest neighbor
  //     search", TPAMI'11 — the coarse-quantizer half, no PQ codes) ----

  private val KMEANS_K = 8
  private val KMEANS_ITERS = 2

  /** Assign every vector to its nearest centroid (cosine, ties to the
    * smaller centroid id). `cents` is tiny (k rows) and broadcasts.
    */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cid"))
    e.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        cosineSim(col("embedding"), col("cvec")).as("cs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** Component-wise mean per cluster: decimal accumulation + 6dp float
    * rounding for cross-engine, cross-parallelism bit parity (same scheme
    * as labelCentroids). Empty clusters drop out, deterministically.
    */
  private def recompute(assigned: DataFrame): DataFrame =
    meanVectors(assigned, Seq("cid"), "embedding", "cvec")

  /** IVF with a TRAINED coarse quantizer: k-means (k=8, 2 Lloyd
    * iterations, deterministic init = the k smallest vec_ids) replaces
    * the label stand-in of `annIvf`. Candidate generation stays an
    * equi-join on the trained cluster id — the scale-correct IVF shape —
    * and every step (assign via broadcast, recompute via partial-agg
    * groupBy) is a distributed DataFrame op, no driver-side state.
    * Since r5 the trained centroids and full-vector inverted lists are
    * persisted once per corpus ([[buildIvfFlatIndex]]); this is the pure
    * probe over that index.
    */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    annIvfKmeansProbe(spark, dir, ivfFlatIndex(spark, dir))

  /** ann_ivf_kmeans probe: route each query to its nprobe=2 nearest
    * trained centroids (8-row broadcast), then rank true cosine inside
    * the probed cells only. The cell equi-join hits the cell-partitioned
    * lists, so the scan prunes to the probed directories — no training,
    * no full-corpus pass.
    */
  def annIvfKmeansProbe(spark: SparkSession, dir: String,
      idx: IvfFlatIndex, nprobe: Int = 2): DataFrame = {
    val probes = probeCells(probeQueries(spark, dir), idx.coarse, nprobe)
      .select(col("q_id"), col("qe"), col("cid").as("pcid"))
    served(idx.lists.join(broadcast(probes), col("ccell") === col("pcid"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          cosineSim(col("embedding"), col("qe")).as("s")),
      3, round(col("s"), 6).as("sim"))
  }

  /** One scored candidate pass shared by every arm of an nprobe sweep
    * (r14): the top-[[maxNp]] probed cells' members scored ONCE, each
    * candidate carrying its cell's probe rank `pr` — an arm at nprobe
    * np is `filter(pr <= np)` + its own top-3 rank window, row-identical
    * to [[annIvfKmeansProbe]](np) by construction (same probe order,
    * same candidates, same rank tie-break). The sweep previously
    * re-probed per arm: 1+2+4 = 7 cell scans per query where the
    * deepest arm's 4 suffice. The query vector `qe` rides along for the
    * graph walk's entry pool ([[graphWalk]]); other readers prune it.
    */
  private def probeCandidates(spark: SparkSession, dir: String,
      idx: IvfFlatIndex, maxNp: Int): DataFrame = {
    val probes = probeCells(probeQueries(spark, dir), idx.coarse, maxNp)
      .select(col("q_id"), col("qe"), col("cid").as("pcid"), col("pr"))
    idx.lists.join(broadcast(probes), col("ccell") === col("pcid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qe"), col("vec_id").as("neighbor_id"),
        cosineSim(col("embedding"), col("qe")).as("s"), col("pr"))
  }

  /** ann_recall: per-query recall@3 of the trained-IVF probe — the
    * standing eval every deployed ANN index carries (FAISS benchmarks
    * report exactly this curve).
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallPerQuery(truthSample(spark, dir, 3), annIvfKmeans(spark, dir), 3)

  /** index_recall: the index-quality LEADERBOARD — per-query recall@3 of
    * every ANN probe family (trained IVF, PQ-ADC, residual IVFPQ,
    * hyperplane LSH) against the one exact truth, each arm tagged with a
    * literal index_name. This is the standing acceptance query a 100 TB
    * deployment runs after every index rebuild to decide which family
    * serves which collection.
    */
  def indexRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = truthSample(spark, dir, 3)
    // the four family arms BUILD in parallel (Par.build, guide §2.6):
    // each arm materializes its own checkpoint chain against its own
    // persisted index — serially those waves queued back-to-back
    val arms = Par.build(Seq(
      () => annIvfKmeans(spark, dir),
      () => annPq(spark, dir),
      () => annIvfPq(spark, dir),
      () => lshAnn(spark, dir)))
    Seq("ivf_kmeans", "pq", "ivfpq", "lsh").zip(arms).map { case (name, a) =>
      recallPerQuery(exact, a, 3).select(lit(name).as("index_name"), col("*"))
    }.reduce(_ unionByName _)
  }

  /** The nprobe settings swept by [[nprobeCurve]] — single-sourced into
    * the oracle SQL.
    */
  val NprobeSweep: Seq[Int] = Seq(1, 2, 4)

  /** nprobe_curve: the recall-vs-nprobe TUNING TABLE of the trained IVF
    * index — micro recall@3 for each nprobe in [[NprobeSweep]] with the
    * mean scanned vectors per query (the FAISS `nprobe` sweep every
    * deployed IVF index is tuned by: recall rises with probed cells,
    * cost rises linearly; this table is where the operating point is
    * chosen, and the `ann.nprobe` runtime param is how it is applied).
    */
  def nprobeCurve(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfFlatIndex(spark, dir)
    // r14: one scored candidate pass + one probe pass shared by all
    // arms (see probeCandidates) — each arm re-ranks the pr-filtered
    // slice, row-identical to the per-arm re-probe it replaces; the
    // four shared frames BUILD in parallel (Par.build) — the exact
    // side, the cell sizes (the COST side of the curve: scanned
    // vectors per query = Σ probed cell sizes), the scored candidates
    // and the probe ranks share no frames
    val Seq(exact, sizes, cand, probes) = Par.build(Seq(
      () => truthSample(spark, dir, 3).localCheckpoint(false),
      () => cellSizes(idx).localCheckpoint(false),
      () => probeCandidates(spark, dir, idx, NprobeSweep.max)
        .localCheckpoint(false),
      () => probeCells(evalQueries(Tables.embeddings(spark, dir)),
          idx.coarse, NprobeSweep.max)
        .select(col("q_id"), col("cid"), col("pr")).localCheckpoint(false)))
    def arm(np: Int): DataFrame =
      recallMicro(exact, topK(cand.filter(col("pr") <= np), 3), 3)
        .crossJoin(meanPerQuery(scanned(probes, sizes, np), "scanned",
          "mean_scanned"))
        .select(lit(np).as("nprobe"), col("n_queries"), col("recall"),
          col("mean_scanned"))
    NprobeSweep.map(arm).reduce(_ unionByName _).orderBy(col("nprobe"))
  }

  /** semdedup acceptance: rounded within-cluster cosine at or above this
    * marks the higher-id doc as a semantic duplicate. Single-sourced to
    * the oracle SQL via [[graft.oracle.DuckSql]].
    */
  val SemDedupThreshold = 0.40

  /** semdedup: SemDeDup-style semantic deduplication (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023) — k-means-cluster the embeddings, compare
    * pairs WITHIN a cluster only, and mark every doc that has a
    * lower-id cluster-mate above the cosine threshold as a duplicate
    * (`dup_of` = the lowest such mate; SemDeDup's keep-one-per-group
    * rule with the engine's deterministic min-id canonical).
    *
    * This is the scale answer to `nearDupEmbedding`'s label-blocked
    * baseline: the blocking key is the TRAINED coarse quantizer of the
    * persisted IVF-flat index (built once per corpus, shared with
    * ann_ivf_kmeans), so candidate generation is an equi-join on ccell
    * over cell-partitioned lists — at 100 TB, k grows with the corpus
    * (SemDeDup uses ~100k clusters for LAION-scale) so the per-cell
    * all-pairs stays bounded, and the pair join shuffles nothing: both
    * sides read the same cell-partitioned files.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupProbe(spark, ivfFlatIndex(spark, dir))

  def semDedupProbe(spark: SparkSession, idx: IvfFlatIndex): DataFrame = {
    val a = idx.lists.select(col("ccell").as("ca"),
      col("vec_id").as("id_a"), col("embedding").as("ea"))
    val pairs = idx.lists
      .join(a, col("ccell") === col("ca") && col("id_a") < col("vec_id"))
      .select(col("vec_id"), col("ccell"), col("id_a"),
        round(cosineSim(col("ea"), col("embedding")), 6).as("sim"))
      .filter(col("sim") >= SemDedupThreshold)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("id_a"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("ccell"), col("id_a").as("dup_of"),
        col("sim"))
  }

  /** semdedup_recall: the BLOCKING-recall audit of semantic dedup — for
    * the sampled anchor vectors, what fraction of their TRUE
    * cosine-≥-threshold partners land in the SAME trained k-means cell
    * (semdedup compares within cells only, so a cross-cell near-dup
    * pair is invisible to it — this number is the price of the
    * blocking, exactly as dedup_recall prices the minhash bands and
    * nprobe_curve prices the IVF probe; SemDeDup's own appendix
    * measures this loss).
    *
    * Pure two-artifact consumer: the pair truth reads the persisted
    * dense-truth sweep (v2 keeps ALL ≥-threshold partners of the
    * sampled anchors), cells read the persisted IVF-flat assignments;
    * two id joins + a 1-row rollup. Sampling the anchors is the scale
    * posture — blocking recall is a statistical gauge.
    */
  def semdedupRecall(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfFlatIndex(spark, dir).lists
      .select(col("vec_id"), col("ccell"))
    val pairs = denseTruth(spark, dir)
      .filter(col("q_id") % 100 === 0 &&
        round(col("s"), 6) >= SemDedupThreshold)
      .select(col("q_id"), col("neighbor_id"))
      .localCheckpoint(false) // feeds the total AND the caught arm
    val caught = pairs
      .join(cells.select(col("vec_id").as("q_id"), col("ccell").as("qc")),
        "q_id")
      .join(cells.select(col("vec_id").as("neighbor_id"),
        col("ccell").as("nc")), "neighbor_id")
      .filter(col("qc") === col("nc"))
    pairs.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(caught.agg(count(lit(1)).as("n_same_cell")))
      .select(col("n_pairs"), col("n_same_cell"),
        when(col("n_pairs") > 0,
          r4(col("n_same_cell").cast("double") / col("n_pairs")))
          .as("recall"))
  }

  /** hubness result depth and the neighbor-list depth it counts over. */
  val HubTopK = 20
  val HubDepth = 10

  /** hubness: the HUB-VECTOR audit of the embedding space — how often
    * each vector appears in the sampled anchors' exact top-[[HubDepth]]
    * lists (k-occurrence in the hubness literature: Radovanović et al.,
    * JMLR 2010 — high-dimensional spaces grow "hubs" that appear in
    * everyone's neighbor lists and crowd out true neighbors; a heavy
    * hub is an embedding-quality smell that degrades retrieval and
    * semantic dedup BEFORE recall audits show it, and the standard
    * mitigation decision (centering, csls re-scoring) starts from this
    * table). Top [[HubTopK]] by in-degree with corpus share.
    *
    * Pure consumer of the persisted dense-truth sweep: one groupBy over
    * the k-bounded truth lists, a 1-row total broadcast, TakeOrdered
    * top-k — never a corpus pass.
    */
  def hubness(spark: SparkSession, dir: String): DataFrame = {
    val deg = truthSample(spark, dir, HubDepth)
      .groupBy(col("neighbor_id")).agg(count(lit(1)).as("n_lists"))
      .localCheckpoint(false) // feeds the 1-row total AND the top-k
    val tot = deg.agg(sum(col("n_lists")).as("t"))
    deg.crossJoin(broadcast(tot))
      .orderBy(col("n_lists").desc, col("neighbor_id"))
      .limit(HubTopK)
      .select(col("neighbor_id"), col("n_lists"),
        r4(col("n_lists").cast("double") / col("t")).as("share"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_lists").desc, col("neighbor_id")))
        .cast("int"))
      .orderBy(col("rank"))
  }

  /** silhouette: the SIMPLIFIED (centroid-based) silhouette of the
    * trained k-means cells (Hruschka et al.'s simplified silhouette —
    * the O(n·k) variant of Rousseeuw '87 that production clustering
    * monitors actually run: per point, a = cosine distance 1−cos to the
    * OWN centroid, b = the smallest distance to any OTHER centroid,
    * s = (b−a)/max(a,b)). Mean s per cell. Complements [[ivfCellStats]]
    * (balance) and [[cellPurity]] (label agreement): silhouette is the
    * GEOMETRIC separation number — cells whose members sit nearly as
    * close to a neighboring centroid (s → 0) are the cells where IVF
    * probes must fan wider (nprobe_curve's slow-recall cells) and where
    * semdedup's within-cell blocking leaks pairs (semdedup_recall's
    * misses). The full O(n²) silhouette is deliberately NOT computed —
    * at 100 TB the pairwise form is a corpus self-join; the simplified
    * form is one broadcast of the k-row centroid table.
    *
    * Plan: pure index consumer — inverted lists × broadcast centroids
    * (k = 8 rows), a per-vector 2-column conditional agg, one per-cell
    * partial agg. Map-shaped at any corpus size.
    *
    * Parity: raw-double cosines (bit-identical engines), one fixed-order
    * double expression per point rounded to 6dp, decimal accumulation,
    * 4dp mean (the cellPurity scheme).
    */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfFlatIndex(spark, dir)
    val cs = idx.lists.select(col("vec_id"), col("embedding"), col("ccell"))
      .crossJoin(broadcast(idx.coarse))
      .select(col("vec_id"), col("ccell"), col("cid"),
        cosineSim(col("embedding"), col("cvec")).as("cos"))
    val per = cs.groupBy(col("vec_id"), col("ccell"))
      .agg(max(when(col("cid") === col("ccell"), col("cos"))).as("cown"),
        max(when(col("cid") =!= col("ccell"), col("cos"))).as("cother"))
    // a = 1−cown (distance to own centroid), b = 1−cother (nearest other)
    val a = lit(1.0) - col("cown")
    val b = lit(1.0) - col("cother")
    val sil = when(greatest(a, b) > 0,
      r6((b - a) / greatest(a, b)))
      .otherwise(lit(0.0))
    per.select(col("ccell"), sil.cast("decimal(18,6)").as("sil"))
      .groupBy(col("ccell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("sil")).as("silsum"))
      .select(col("ccell"), col("n_vecs"),
        r4(col("silsum").cast("double") / col("n_vecs")).as("mean_sil"))
      .orderBy(col("ccell"))
  }

  /** bitext_mine knobs: the margin denominator averages the top
    * [[BitextAvgK]] cosines of each side (Artetxe & Schwenk use k=4-8);
    * candidate pairs must be MUTUAL within top-[[BitextCandK]]; the
    * mined list reports the top [[BitextTopN]] pairs by margin.
    */
  val BitextAvgK = 8
  /** = [[DenseTruthDepth]]: the widest mutual window the persisted truth
    * supports — mutuality is the precision filter, so the candidate
    * window errs wide (A&S run k up to 16 on dense corpora; the anchor
    * sample here is 2% of the corpus, so anchor-anchor co-occurrence
    * needs the full persisted depth).
    */
  val BitextCandK = 30
  val BitextTopN = 20

  /** bitext_mine: margin-based parallel-pair mining over the anchor
    * sample (Artetxe & Schwenk, ACL'19 — the LASER/CCMatrix criterion
    * that built the large public parallel corpora): a pair (x, y)
    * scores by the RATIO margin
    *
    *   margin(x,y) = cos(x,y) / ((avgk(x) + avgk(y)) / 2)
    *
    * where avgk(v) is the mean cosine of v's top-[[BitextAvgK]]
    * neighbors — raw cosine ranks poorly under hubness (a hub scores
    * high against EVERYTHING; dividing by each side's neighborhood
    * density cancels it — the [[hubness]] audit's mitigation applied).
    * Candidates must be mutual top-[[BitextCandK]] neighbors (the
    * forward-backward consistency check). Top [[BitextTopN]] pairs,
    * deduplicated x < y.
    *
    * Scale shape: pure consumer of the persisted dense-truth sweep —
    * the neighbor lists and per-anchor averages are k-bounded frames
    * keyed by anchor id, the mutual check is a self-semi-join of a
    * k-bounded frame, and the global top-N is a TakeOrdered (never a
    * single-partition window over the candidate set).
    */
  def bitextMine(spark: SparkSession, dir: String): DataFrame = {
    val t = denseTruth(spark, dir)
    // per-anchor neighborhood density: exact 1e-6-unit accumulation of
    // the top-AvgK cosines, one mirrored double division
    val avgk = t.filter(col("rank_all") <= BitextAvgK)
      .select(col("q_id"),
        units(col("s"), 1000000).as("su"))
      .groupBy(col("q_id"))
      .agg((floor(sum(col("su")).cast("double") / BitextAvgK + 0.5)
        / 1000000).as("avgk"))
    val fwd = t.filter(col("neighbor_id") % 50 === 0 &&
        col("rank_all") <= BitextCandK)
      .select(col("q_id").as("x"), col("neighbor_id").as("y"), col("s"))
    // mutual: (y, x) must also be a forward edge
    val rev = fwd.select(col("y").as("rx"), col("x").as("ry"))
    val pairs = fwd
      .join(rev, col("x") === col("rx") && col("y") === col("ry"),
        "left_semi")
      .filter(col("x") < col("y"))
    val scored = pairs
      .join(avgk.select(col("q_id").as("x"), col("avgk").as("ax")), "x")
      .join(avgk.select(col("q_id").as("y"), col("avgk").as("ay")), "y")
      .filter((col("ax") + col("ay")) / lit(2.0) > 0)
      .select(col("x"), col("y"),
        r6(col("s")).as("cos"),
        r4(r6(col("s")) /
          ((col("ax") + col("ay")) / lit(2.0))).as("margin"))
    scored.orderBy(col("margin").desc, col("x"), col("y"))
      .limit(BitextTopN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("margin").desc, col("x"), col("y"))).cast("int"))
      .orderBy(col("rank"))
  }

  /** centered_shift rerank depth (top-3, the knn/recall cutoff). */
  val CenterTopK = 3

  /** centered_shift: the MEAN-CENTERING rerank audit — the standard
    * hubness mitigation (subtract the corpus centroid before cosine:
    * Suzuki et al. EMNLP'13; the first move in the mitigation ladder
    * [[hubness]] motivates, before CSLS-style neighborhood scaling) —
    * applied WITHIN each sampled anchor's persisted truth pool and
    * compared against the raw ranking: per query, the top-[[CenterTopK]]
    * overlap and whether the top-1 survives. A LOW overlap means the
    * raw cosine geometry is hub-dominated and every downstream consumer
    * (knn_join, semdedup, the retrieval arms) is ranking partly by
    * centrality, not similarity — the go/no-go number for flipping the
    * serving stack to centered vectors.
    *
    * Scale shape: pure dense-truth consumer — the pool is k-bounded per
    * anchor, the corpus mean is one 64-value broadcast (exact mean6f
    * floats, the centroid parity scheme), centering touches pool
    * members only (never the corpus), and the rerank window runs over
    * ≤[[DenseTruthDepth]] rows per query.
    */
  def centeredShift(spark: SparkSession, dir: String): DataFrame = {
    val pool = truthSample(spark, dir, DenseTruthDepth, "rank_all")
      .localCheckpoint(false) // feeds member list, raw arm, centered arm
    // the 1-row corpus-mean array (dimension-ordered), mean6f floats
    val mu = meanVectors(Tables.cpuPartition(Tables.embeddings(spark, dir),
      col("vec_id")), Nil, "embedding", "mu", mean = "m")
    // centered member vectors: (v − μ) in DOUBLE, stored back as FLOAT
    // (the sqDequant cast discipline — both engines widen, subtract,
    // narrow identically)
    val members = pool.select(col("q_id").as("vid"))
      .union(pool.select(col("neighbor_id"))).distinct()
    val cv = Tables.embeddings(spark, dir)
      .join(members, col("vec_id") === col("vid"), "left_semi")
      .crossJoin(broadcast(mu))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("mu"),
          (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
          .as("cvec"))
      .localCheckpoint(false) // joined twice (query side + neighbor side)
    val wC = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("neighbor_id"))
    val centered = pool
      .join(cv.select(col("vec_id").as("qv"), col("cvec").as("qc")),
        col("q_id") === col("qv"))
      .join(cv.select(col("vec_id").as("nv"), col("cvec").as("nc")),
        col("neighbor_id") === col("nv"))
      .select(col("q_id"), col("neighbor_id"),
        cosineSim(col("qc"), col("nc")).as("ccos"))
      .withColumn("crk", row_number().over(wC))
      .filter(col("crk") <= CenterTopK)
    val raw = pool.filter(col("rank_all") <= CenterTopK)
      .select(col("q_id"), col("neighbor_id"),
        col("rank_all").as("rrk"))
    raw.join(centered, Seq("q_id", "neighbor_id"), "full_outer")
      .groupBy(col("q_id"))
      .agg(
        sum(when(col("rrk").isNotNull && col("crk").isNotNull, 1L)
          .otherwise(0L)).as("n_overlap"),
        max(when(col("rrk") === 1 && col("crk") === 1, 1L)
          .otherwise(0L)).as("t1"))
      .select(col("q_id"), col("n_overlap"),
        r4(col("n_overlap").cast("double") / CenterTopK).as("overlap"),
        (col("t1") === 1L).as("top1_same"))
      .orderBy(col("q_id"))
  }

  // --- scalar quantization (SQ8: per-dimension 8-bit affine codes —
  //     the third compression family beside PQ's codebooks and LSH's
  //     signatures; pgvector ships it as `halfvec`/scalar-quantized
  //     storage and FAISS as IndexScalarQuantizer. One affine range per
  //     dimension, 256 levels, midpoint reconstruction.) ---------------

  /** SQ quantization levels (8-bit) and the recall-audit depth. */
  val SqLevels = 256
  val SqTopK = 3

  /** Per-dimension corpus (min, max) — the 64-row SQ range table.
    * min/max are comparison-based (no summation), so the stats are
    * exact and partition-order independent on both engines.
    */
  private def sqStats(spark: SparkSession, dir: String): DataFrame =
    Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))

  /** The 8-bit code of component v within range [mn, mx]: a double in
    * {0,…,255} (double-valued so the whole dequantization stays in one
    * fixed-order double expression on both engines). Degenerate
    * (mx == mn) dimensions code to 0.
    */
  private def sqCode(v: Column, mnd: Column, mxd: Column): Column =
    when(mxd > mnd,
      least(lit((SqLevels - 1).toDouble),
        floor((v.cast("double") - mnd) / (mxd - mnd) * lit(SqLevels))))
      .otherwise(lit(0.0))

  /** Midpoint dequantization mn + (code + ½)·(mx − mn)/256, cast to
    * FLOAT — the value an SQ-compressed store would actually serve.
    * Fixed-order double arithmetic over exact float inputs, so the
    * reconstructed component is bit-identical across engines.
    */
  private def sqDequant(v: Column, mn: Column, mx: Column): Column = {
    val mnd = mn.cast("double")
    val mxd = mx.cast("double")
    (mnd + (sqCode(v, mnd, mxd) + lit(0.5)) * (mxd - mnd) / lit(SqLevels))
      .cast("float")
  }

  /** sq_distortion: the per-dimension reconstruction-error audit of
    * 8-bit scalar quantization — mean squared error between each
    * component and its dequantized value (pq_distortion's posture
    * applied to the SQ family: a dimension whose MSE is an outlier has
    * a range stretched by outlier values, and per-dim re-ranging or
    * clipping is the standard mitigation).
    *
    * Plan: one component explode, a 64-row broadcast range join, one
    * |dims|-bounded partial agg. Parity: per-row squared error rounds
    * to 6dp and accumulates in DECIMAL (exact under any partitioning),
    * one double divide at the end.
    */
  def sqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val st = sqStats(spark, dir)
    val err = col("v").cast("double") -
      sqDequant(col("v"), col("mn"), col("mx")).cast("double")
    Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .join(broadcast(st), "i")
      .select(col("i"),
        r6(err * err)
          .cast("decimal(18,6)").as("e2"))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("e2")).as("se"))
      .select(col("i"), col("n_vecs"),
        r6(col("se").cast("double") / col("n_vecs")).as("mse"))
      .orderBy(col("i"))
  }

  /** The 1-row broadcastable SQ range table as two dimension-ordered
    * arrays — the whole "index" an SQ8 store ships beside its codes.
    */
  private def sqRanges(spark: SparkSession, dir: String): DataFrame =
    sqStats(spark, dir)
      .groupBy()
      .agg(collectSorted("i", "mn").as("mns"),
        collectSorted("i", "mx").as("mxs"))

  /** Element-wise midpoint dequantization of a whole vector against the
    * `mns`/`mxs` range arrays (in scope from [[sqRanges]]).
    */
  private def sqDequantArr(v: Column): Column =
    transform(v, (c, i) =>
      sqDequant(c, element_at(col("mns"), i + 1),
        element_at(col("mxs"), i + 1)))

  /** sq_recall: recall@[[SqTopK]] of asymmetric SQ8 scoring —
    * queries keep their full-precision vectors, the corpus side is
    * scored from its dequantized 8-bit reconstruction (the ADC
    * convention applied to scalar codes; this is the acceptance number
    * that licenses 4× smaller vector storage).
    *
    * Plan: the approx arm is one map-shaped dequantize pass (a 1-row
    * range-array broadcast, a per-element transform over attribute
    * reads only — no upstream re-evaluation) and the sampled-query
    * scoring sweep of the brute audits (k-bounded output).
    */
  def sqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
    val dq = e.crossJoin(broadcast(sqRanges(spark, dir)))
      .select(col("vec_id"), sqDequantArr(col("embedding")).as("dvec"))
    val approx = dq.join(broadcast(evalQueries(e)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosineSim(col("dvec"), col("qe")), 6).as("s"))
    recallPerQuery(truthSample(spark, dir, SqTopK), topK(approx, SqTopK),
      SqTopK).orderBy(col("q_id"))
  }

  /** ann_sq: the IVF + scalar-quantizer SERVING arm (FAISS
    * IndexIVFScalarQuantizer) — probes route through the trained coarse
    * quantizer exactly as [[annIvfKmeans]], but candidates are scored
    * against their SQ8 midpoint reconstruction (asymmetric: the query
    * keeps full precision) — the memory-bound deployment shape where
    * the inverted lists hold 4× smaller codes and [[sqRecall]] /
    * [[annRecall]] price the loss.
    *
    * Plan: the persisted IVF index supplies probes and cell-pruned
    * candidate lists; dequantization is a 1-row range broadcast + one
    * per-element transform over the candidates only (never the corpus);
    * per-query top-3 window over a cell-bounded frame.
    */
  def annSq(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfFlatIndex(spark, dir)
    val probes = probeCells(probeQueries(spark, dir), idx.coarse, 2)
      .select(col("q_id"), col("qe"), col("cid").as("pcid"))
    served(idx.lists.join(broadcast(probes), col("ccell") === col("pcid"))
        .filter(col("vec_id") =!= col("q_id"))
        .crossJoin(broadcast(sqRanges(spark, dir)))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          cosineSim(sqDequantArr(col("embedding")), col("qe")).as("s")),
      3, round(col("s"), 6).as("sim"))
  }

  // --- SQ range refit (acting on sq_distortion's own diagnosis: a
  //     dimension whose MSE is an outlier has its range stretched by
  //     tail values, and per-dim re-ranging/clipping is the standard
  //     mitigation — FAISS's QT_*_uniform vs trained-range distinction,
  //     run as a maintenance loop with a receipt, a re-audit, and an
  //     acceptance gate, mirroring the IVF rebalance family) -----------

  /** Clip denominator: refit bounds move to the values at ranks
    * ⌈n/SqClipDen⌉ and n+1−⌈n/SqClipDen⌉ (≈1% clipped per side).
    * Single-sourced into the oracle SQL.
    */
  val SqClipDen = 100

  /** Per-dimension REFIT bounds: the exact component values at the clip
    * ranks, computed on the 1e-7-integer value grid (exact double→long
    * on both engines), rank blocks over tied values — the lorenz
    * boundary rule per dimension. Windows are PARTITIONED by dim; the
    * grid is |dims| × |distinct values|, never the corpus.
    * Output: i, n (components), vlo/vhi (integer units), lo/hi (double
    * units — the dequant range).
    */
  private def sqRefitBounds(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("i"), units(col("v").cast("double"), 10000000).as("vu"))
      .groupBy(col("i"), col("vu")).agg(count(lit(1)).as("c"))
    val wIn = Window.partitionBy(col("i")).orderBy(col("vu"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cb", coalesce(sum(col("c")).over(wIn), lit(0L)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("i"))))
      .withColumn("rlo", expr(s"(n + ${SqClipDen - 1}) div $SqClipDen"))
      .withColumn("rhi", col("n") + 1 - col("rlo"))
      .groupBy(col("i"), col("n"))
      .agg(
        min(when(col("cb") < col("rlo") &&
          col("rlo") <= col("cb") + col("c"), col("vu"))).as("vlo"),
        min(when(col("cb") < col("rhi") &&
          col("rhi") <= col("cb") + col("c"), col("vu"))).as("vhi"))
      .select(col("i"), col("n"), col("vlo"), col("vhi"),
        (col("vlo").cast("double") / 10000000).as("lo"),
        (col("vhi").cast("double") / 10000000).as("hi"))
  }

  /** Clamped 8-bit code against a refit range [lo, hi] (doubles): values
    * outside the range saturate to 0/255 — exactly what clipping means.
    */
  private def sqCodeClip(v: Column, lo: Column, hi: Column): Column =
    when(hi > lo,
      least(lit((SqLevels - 1).toDouble), greatest(lit(0.0),
        floor((v.cast("double") - lo) / (hi - lo) * lit(SqLevels)))))
      .otherwise(lit(0.0))

  /** Midpoint dequantization under the refit range, FLOAT-cast (the
    * same fixed-order double chain as [[sqDequant]], parity-safe).
    */
  private def sqDequantClip(v: Column, lo: Column, hi: Column): Column =
    (lo + (sqCodeClip(v, lo, hi) + lit(0.5)) * (hi - lo) / lit(SqLevels))
      .cast("float")

  /** sq_refit: the range-refit RECEIPT — per dimension: the old min/max
    * range, the new quantile bounds, and how much mass the clip
    * saturates (the number a release gate reads before swapping ranges:
    * a dim clipping ≫ 2·1/[[SqClipDen]] is heavy-tailed and needs PQ,
    * not SQ). Acts on [[sqDistortion]]'s outlier diagnosis.
    *
    * Plan: one component explode → value-grid agg (windows partitioned
    * by dim), a 64-row broadcast bounds join back onto a second
    * map-only explode pass, |dims|-bounded output.
    */
  def sqRefit(spark: SparkSession, dir: String): DataFrame = {
    val b = sqRefitBounds(spark, dir)
    val st = sqStats(spark, dir)
    Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("i"), units(col("v").cast("double"), 10000000).as("vu"))
      .join(broadcast(b), Seq("i"))
      .groupBy(col("i"), col("n"), col("lo"), col("hi"),
        col("vlo"), col("vhi"))
      .agg(sum(when(col("vu") < col("vlo") || col("vu") > col("vhi"), 1L)
        .otherwise(0L)).as("n_clipped"))
      .join(broadcast(st), Seq("i"))
      .select(col("i"), col("n").as("n_vecs"),
        col("mn").cast("double").as("mn"),
        col("mx").cast("double").as("mx"),
        col("lo"), col("hi"), col("n_clipped"),
        r4(col("n_clipped").cast("double") / col("n")).as("clip_share"))
      .orderBy(col("i"))
  }

  /** sq_refit_distortion: the POST-ACTION re-audit — [[sqDistortion]]'s
    * per-dim MSE under the old min/max range (`base`) and the refit
    * quantile range (`refit`), side by side, in TWO cuts: `mse` over
    * every component (honest — the refit arm's number includes the
    * clipped tail's saturation error, which for a far outlier DOMINATES
    * and makes overall refit MSE worse) and `mse_inrange` over the
    * same unclipped mass in both arms (apples-to-apples: this is where
    * the 254 recovered levels show — the in-range error collapses).
    * The decision read is the pair: in-range win big + clip share small
    * ([[sqRefit]]) + recall holds ([[sqRefitRecall]]) → swap.
    *
    * Plan: ONE map-only explode pass (both dequant arms are per-row
    * expressions over the same component), two 64-row broadcast range
    * joins, a |dims|-bounded partial agg, and a 2×64-row arm unpivot of
    * the aggregated frame. Parity: 6dp-rounded squared errors in
    * DECIMAL, one double divide per output cell.
    */
  def sqRefitDistortion(spark: SparkSession, dir: String): DataFrame = {
    val st = sqStats(spark, dir)
    val b = sqRefitBounds(spark, dir)
    def e2(err: Column): Column =
      r6(err * err).cast("decimal(18,6)")
    val joined = Tables
      .cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .join(broadcast(st), Seq("i"))
      .join(broadcast(b), Seq("i"))
      .select(col("i"),
        e2(col("v").cast("double") -
          sqDequant(col("v"), col("mn"), col("mx")).cast("double"))
          .as("eb"),
        e2(col("v").cast("double") -
          sqDequantClip(col("v"), col("lo"), col("hi")).cast("double"))
          .as("er"),
        units(col("v").cast("double"), 10000000)
          .between(col("vlo"), col("vhi")).as("inr"))
    val agg = joined.groupBy(col("i"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("eb")).as("seb"), sum(col("er")).as("ser"),
        sum(when(col("inr"), 1L).otherwise(0L)).as("n_inrange"),
        sum(when(col("inr"), col("eb"))).as("sebi"),
        sum(when(col("inr"), col("er"))).as("seri"))
    def mse(se: Column, n: Column): Column =
      r6(se.cast("double") / n)
    val base = agg.select(lit("base").as("arm"), col("i"), col("n_vecs"),
      mse(col("seb"), col("n_vecs")).as("mse"), col("n_inrange"),
      mse(col("sebi"), col("n_inrange")).as("mse_inrange"))
    val refit = agg.select(lit("refit").as("arm"), col("i"), col("n_vecs"),
      mse(col("ser"), col("n_vecs")).as("mse"), col("n_inrange"),
      mse(col("seri"), col("n_inrange")).as("mse_inrange"))
    base.unionByName(refit).orderBy(col("arm"), col("i"))
  }

  /** sq_refit_recall: the refit ACCEPTANCE gate — recall@[[SqTopK]] of
    * asymmetric SQ scoring against the persisted dense truth, old range
    * vs refit range, one row per arm (rebalance_recall's go/no-go read
    * for the SQ family: the swap must not cost recall while
    * [[sqRefitDistortion]] shows the MSE win).
    *
    * Plan: ONE map-shaped dequantize pass carries BOTH arms' served
    * vectors (each range table is a 1-row broadcast), ONE sampled-query
    * scoring sweep computes both cosines side by side, and both arms'
    * rank windows share a single exchange (same partitioning, two sort
    * orders). Only the ≤2·k·|q| boundary survivors materialize. Per
    * arm the scored set, scores, and (score desc, id) row_number are
    * expression-identical to the former per-arm sweeps.
    */
  def sqRefitRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
    val refitArrs = sqRefitBounds(spark, dir)
      .groupBy()
      .agg(collectSorted("i", "lo").as("los"),
        collectSorted("i", "hi").as("his"))
    val dq2 = e.crossJoin(broadcast(sqRanges(spark, dir)))
      .crossJoin(broadcast(refitArrs))
      .select(col("vec_id"),
        sqDequantArr(col("embedding")).as("dvb"),
        transform(col("embedding"), (c, j) =>
          sqDequantClip(c, element_at(col("los"), j + 1),
            element_at(col("his"), j + 1))).as("dvr"))
    val exact = truthSample(spark, dir, SqTopK)
      .localCheckpoint(false) // feeds both arms
    val wB = Window.partitionBy(col("q_id"))
      .orderBy(col("sb").desc, col("neighbor_id"))
    val wR = Window.partitionBy(col("q_id"))
      .orderBy(col("sr").desc, col("neighbor_id"))
    val ranked = dq2.join(broadcast(evalQueries(e)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosineSim(col("dvb"), col("qe")), 6).as("sb"),
        round(cosineSim(col("dvr"), col("qe")), 6).as("sr"))
      .withColumn("rb", row_number().over(wB))
      .withColumn("rr", row_number().over(wR))
      .filter(col("rb") <= SqTopK || col("rr") <= SqTopK)
      .localCheckpoint(false) // k-bounded survivors; feeds both arm reads
    def arm(rk: Column): DataFrame =
      recallMicro(exact, ranked.filter(rk <= SqTopK), SqTopK)
    gate("base" -> arm(col("rb")), "refit" -> arm(col("rr")))
  }

  /** ivf_cell_stats: the inverted-list balance audit of the persisted
    * IVF-flat index — per-cell vector counts with share of the corpus
    * and skew vs the mean cell (the FAISS `imbalance_factor` check,
    * per-cell). This is THE operational input to nprobe/recall tuning:
    * a hot cell (skew ≫ 1) means the quantizer under-segments a dense
    * region — probes landing there scan far more than corpus/k vectors,
    * and recall-vs-cost curves (ann_recall) degrade exactly there.
    * key_skew's posture applied to the index instead of a join key.
    *
    * Plan: a pure index consumer (no training — the semdedup rule);
    * one partial-agg groupBy on ccell over the cell-partitioned lists
    * (each cell's count reduces inside its own partition), a 1-row
    * totals broadcast, and a rank window over the k surviving cells.
    */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    val cnt = ivfFlatIndex(spark, dir).lists
      .groupBy(col("ccell")).agg(count(lit(1)).as("n_vectors"))
    val tot = cnt.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_cells"))
    cnt.crossJoin(broadcast(tot))
      .select(col("ccell"), col("n_vectors"),
        r6(col("n_vectors").cast("double") / col("total")).as("share"),
        r4(col("n_vectors").cast("double") * col("n_cells") / col("total"))
          .as("skew"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_vectors").desc, col("ccell"))))
  }

  // --- IVF cell rebalance (acting on ivf_cell_stats' balance audit:
  //     the FAISS maintenance loop that splits the hottest inverted
  //     lists while the quantizer stays frozen elsewhere) ---------------

  /** Number of hottest cells the rebalance splits (ties to the smaller
    * cell id). A count, not a skew threshold: the maintenance loop
    * always relieves the worst lists, and the query stays non-degenerate
    * on a well-balanced quantizer. Single-sourced to the oracle SQL.
    */
  val RebalanceSplitN = 2

  def ivfRebalIndexPath(dir: String): String =
    IndexStore.path(s"ivf-rebal-n$RebalanceSplitN-v1", dir)

  /** The split set: top-[[RebalanceSplitN]] most-loaded cells of the
    * base index (`fcell`).
    */
  private def rebalFlagged(idx: IvfFlatIndex): DataFrame =
    idx.lists.groupBy(col("ccell")).agg(count(lit(1)).as("bn"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("bn").desc, col("ccell"))))
      .filter(col("rk") <= RebalanceSplitN)
      .select(col("ccell").as("fcell"))

  /** Build the REBALANCED index from the persisted base index: each
    * flagged cell splits into two subcells by one bisecting-k-means
    * step (seeds = the cell's two smallest vec_ids, one cosine
    * assignment pass, subcell centroid = member mean), every other cell
    * keeps its trained centroid and members untouched. Cell ids map
    * collision-free: unsplit cid → 2·cid, subcells → 2·cid + {0,1}; an
    * empty subcell drops. The split is LOCAL — only the flagged cells'
    * list files are rewritten, which is the 100 TB contract (a global
    * retrain rewrites the corpus; relieving two hot lists must not).
    */
  def buildIvfRebalIndex(spark: SparkSession, dir: String,
      path: String): Unit = {
    val base = ivfFlatIndex(spark, dir)
    val flagged = rebalFlagged(base).localCheckpoint(false)
    val mem = base.lists
      .join(broadcast(flagged), col("ccell") === col("fcell"))
      .select(col("vec_id"), col("embedding"), col("ccell"))
      .localCheckpoint(false) // feeds seeds, assignment, and the new lists
    val init = mem.withColumn("rn", row_number().over(
        Window.partitionBy(col("ccell")).orderBy(col("vec_id"))))
      .filter(col("rn") <= 2)
      .select(col("ccell").as("icell"),
        (col("rn") - 1).cast("int").as("sub"), col("embedding").as("svec"))
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("sub"))
    val asg = mem.join(broadcast(init), col("ccell") === col("icell"))
      .select(col("vec_id"), col("embedding"), col("ccell"), col("sub"),
        cosineSim(col("embedding"), col("svec")).as("cs"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"),
        (col("ccell") * 2 + col("sub")).cast("int").as("ccell"))
      .localCheckpoint(false) // feeds subcell means AND the new lists
    val subCents = meanVectors(asg, Seq("ccell"), "embedding", "cvec")
      .select(col("ccell").cast("int").as("cid"), col("cvec"))
    val keepCents = base.coarse
      .join(broadcast(flagged), col("cid") === col("fcell"), "left_anti")
      .select((col("cid") * 2).cast("int").as("cid"), col("cvec"))
    val keptLists = base.lists
      .join(broadcast(flagged), col("ccell") === col("fcell"), "left_anti")
      .select(col("vec_id"), col("embedding"),
        (col("ccell") * 2).cast("int").as("ccell"))
    keepCents.unionByName(subCents)
      .write.mode("overwrite").parquet(s"$path/coarse")
    graft.sources.Sinks.writePartitioned(
      keptLists.unionByName(asg), s"$path/lists", Seq("ccell"))
  }

  def ivfRebalIndex(spark: SparkSession, dir: String): IvfFlatIndex = {
    val path = ivfRebalIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildIvfRebalIndex(spark, dir, path))
    IvfFlatIndex(Tables.read(spark, s"$path/coarse"),
      Tables.read(spark, s"$path/lists"))
  }

  /** ivf_rebalance: the post-rebalance balance table — per final cell:
    * its parent in the base quantizer, vector count, corpus share, skew
    * vs the new mean cell (ivf_cell_stats' columns over the rebalanced
    * index), and whether it came from a split. The before/after read:
    * flagged parents' skew spreads over their subcells while untouched
    * cells ride through, so the table IS the maintenance receipt.
    *
    * Plan: two pure index consumers (base counts for the flag set,
    * rebalanced counts for the rows) — k-bounded aggregates, a 1-row
    * totals broadcast, a rank window over ≤ k+[[RebalanceSplitN]] rows.
    */
  def ivfRebalance(spark: SparkSession, dir: String): DataFrame = {
    val flagged = rebalFlagged(ivfFlatIndex(spark, dir))
    val cnt = ivfRebalIndex(spark, dir).lists
      .groupBy(col("ccell")).agg(count(lit(1)).as("n_vectors"))
    val tot = cnt.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_cells"))
    cnt.join(broadcast(flagged),
        floor(col("ccell") / 2) === col("fcell"), "left")
      .crossJoin(broadcast(tot))
      .select(col("ccell").cast("int").as("cell"),
        floor(col("ccell") / 2).cast("int").as("parent"),
        col("n_vectors"),
        r6(col("n_vectors").cast("double") / col("total")).as("share"),
        r4(col("n_vectors").cast("double") * col("n_cells") / col("total"))
          .as("skew"),
        col("fcell").isNotNull.as("was_split"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_vectors").desc, col("cell"))))
      .orderBy(col("rank"))
  }

  /** rebalance_recall: the rebalance ACCEPTANCE gate — micro recall@3
    * and mean scanned-vectors-per-query of the nprobe=2 trained-IVF
    * probe over the base index vs the rebalanced one (nprobe_curve's
    * row shape with an `arm` key). The decision read: the split must
    * not cost recall beyond noise while mean_scanned drops (probes
    * landing in a split cell now scan half the list) — the same
    * go/no-go every FAISS re-train loop runs before swapping an index
    * into serving.
    */
  def rebalanceRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = truthSample(spark, dir, 3)
      .localCheckpoint(false) // feeds both arms
    val q = evalQueries(Tables.embeddings(spark, dir))
    def arm(idx: IvfFlatIndex): DataFrame =
      recallMicro(exact, annIvfKmeansProbe(spark, dir, idx), 3)
        .crossJoin(meanPerQuery(
          scanned(probeCells(q, idx.coarse, 2), cellSizes(idx), 2),
          "scanned", "mean_scanned"))
        .select(col("n_queries"), col("recall"), col("mean_scanned"))
    gate("base" -> arm(ivfFlatIndex(spark, dir)),
      "rebalanced" -> arm(ivfRebalIndex(spark, dir)))
  }

  /** probe_cost_quantiles: the TAIL of the per-query scan cost per
    * nprobe — p50/p95/max scanned vectors over the sampled query set
    * (nprobe_curve prices the MEAN; serving SLAs price the p95: a
    * balanced mean with a hot-cell tail is exactly what ivf_rebalance
    * exists to fix, and this table is where that tail shows). Scanned
    * counts are exact integers; quantiles use qualityThresholds'
    * integer-position rank pick (value at 1-based position
    * (n−1)·p div q + 1 in (scanned, q_id) order) — no float
    * interpolation to disagree on.
    *
    * Plan: pure index consumer — per arm one k-row centroid broadcast
    * join + rank window for probes, one k-row sizes broadcast, a
    * per-query partial agg, then ONE |queries|-row rank window.
    */
  def probeCostQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfFlatIndex(spark, dir)
    val sizes = cellSizes(idx).localCheckpoint(false) // feeds every arm
    val q = evalQueries(Tables.embeddings(spark, dir))
    def arm(np: Int): DataFrame = {
      def pick(num: Int, den: Int) =
        max(when(col("rn") === expr(s"(n - 1) * $num div $den") + 1,
          col("scanned")))
      scanned(probeCells(q, idx.coarse, np), sizes, np)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("scanned"), col("q_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .groupBy()
        .agg(max(col("n")).cast("long").as("n_queries"),
          pick(1, 2).as("p50_scanned"),
          pick(19, 20).as("p95_scanned"),
          max(col("scanned")).as("max_scanned"),
          r2(sum(col("scanned")).cast("double") / max(col("n")))
            .as("mean_scanned"))
        .select(lit(np).as("nprobe"), col("n_queries"),
          col("p50_scanned"), col("p95_scanned"), col("max_scanned"),
          col("mean_scanned"))
    }
    NprobeSweep.map(arm).reduce(_ unionByName _).orderBy(col("nprobe"))
  }

  /** ann_miss_audit: WHY the trained-IVF probe misses — every exact
    * top-3 edge is attributed to hit / routing miss (the neighbor's
    * cell was not probed) / ranking miss (cell probed, neighbor still
    * absent from the top-3). The FAISS diagnosis table: routing misses
    * are fixed by nprobe (or ivf_rebalance), ranking misses by the
    * scorer — and with exact in-cell cosine the ranking bucket is
    * provably ~0 (a probed true-top-3 neighbor can only be outranked
    * by globally-better vectors), so the audit's claim is "every miss
    * is a routing miss", the operational license to tune nprobe alone.
    *
    * Plan: pure two-artifact consumer — the k-bounded truth frame
    * joins the probe's top-3, the neighbor's cell (cell-partitioned
    * lists), and the 2-row-per-query probe set; one global agg.
    */
  def annMissAudit(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfFlatIndex(spark, dir)
    val probes = probeCells(evalQueries(Tables.embeddings(spark, dir)),
        idx.coarse, 2)
      .select(col("q_id").as("pq"), col("cid").as("pcid"))
    val ncell = idx.lists
      .select(col("vec_id").as("nv"), col("ccell").as("ncell"))
    val k = 3 // the probe's depth
    truthJoin(truthSample(spark, dir, k), annIvfKmeans(spark, dir))
      .join(ncell, col("neighbor_id") === col("nv"))
      .join(probes, col("q_id") === col("pq") &&
        col("ncell") === col("pcid"), "left")
      .select(col("q_id"), col("an").isNotNull.as("hit"),
        col("pcid").isNotNull.as("cell_probed"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"),
        sum(when(!col("hit") && !col("cell_probed"), 1L).otherwise(0L))
          .as("n_routing_miss"),
        sum(when(!col("hit") && col("cell_probed"), 1L).otherwise(0L))
          .as("n_ranking_miss"))
      .select((col("n_edges") / k).cast("long").as("n_queries"),
        col("n_edges"), col("n_hit"), col("n_routing_miss"),
        col("n_ranking_miss"),
        r4(col("n_hit").cast("double") / col("n_edges")).as("hit_rate"),
        r4(col("n_routing_miss").cast("double") / col("n_edges"))
          .as("routing_miss_rate"))
  }

  /** The recall@3 floor nprobe_pick tunes to. Single-sourced to the
    * oracle SQL.
    */
  val NprobeRecallTarget = 0.9

  /** nprobe_pick: the AUTO-TUNED operating point — the smallest nprobe
    * in [[NprobeSweep]] whose micro recall@3 meets
    * [[NprobeRecallTarget]] (fallback: the highest-recall arm), with
    * that arm's mean and p95 scan cost. This is the decision row the
    * two standing audits exist to produce: nprobe_curve shows the
    * whole trade-off, probe_cost_quantiles the tail — this picks from
    * their join on nprobe, so the `ann.nprobe` runtime param can be set
    * from a query instead of a human reading two tables (the FAISS
    * auto-tune loop). The pick is a rank window over |sweep| rows.
    */
  def nprobePick(spark: SparkSession, dir: String): DataFrame = {
    val arms = nprobeCurve(spark, dir).join(probeCostQuantiles(spark, dir)
      .select(col("nprobe"), col("p95_scanned")), "nprobe")
    val meets = col("recall") >= NprobeRecallTarget
    val wPick = Window.orderBy(
      when(meets, 0).otherwise(1),
      when(meets, col("nprobe").cast("double"))
        .otherwise(lit(1000.0) - col("recall")),
      col("nprobe"))
    arms.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("nprobe"), meets.as("met_target"),
        lit(NprobeRecallTarget).as("target"), col("recall"),
        col("mean_scanned"), col("p95_scanned"))
  }

  /** rebalance_churn: the STABILITY leg of the rebalance gate — how
    * many queries change their served top-3 when the rebalanced index
    * swaps in, and by how much (mean 4dp Jaccard of the base vs
    * rebalanced top-3 sets). rebalance_recall prices quality and cost;
    * this prices user-visible result churn — the third number every
    * index-swap go/no-go reads (a maintenance step that reshuffles
    * half the result sets is a regression even at equal recall).
    *
    * Parity: per-query intersections are exact integers; Jaccard
    * floors to 4dp units and the mean divides the exact unit sum once.
    */
  def rebalanceChurn(spark: SparkSession, dir: String): DataFrame = {
    def top3(idx: IvfFlatIndex, qc: String, nc: String) =
      annIvfKmeansProbe(spark, dir, idx)
        .select(col("q_id").as(qc), col("neighbor_id").as(nc))
    val base = top3(ivfFlatIndex(spark, dir), "bq", "bn")
      .localCheckpoint(false)
    val rebal = top3(ivfRebalIndex(spark, dir), "rq", "rn")
      .localCheckpoint(false)
    val na = base.groupBy(col("bq")).agg(count(lit(1)).as("na"))
    val nb = rebal.groupBy(col("rq")).agg(count(lit(1)).as("nb"))
    val inter = base.join(rebal,
        col("bq") === col("rq") && col("bn") === col("rn"))
      .groupBy(col("bq")).agg(count(lit(1)).as("ni"))
    val perQ = na.join(nb, col("bq") === col("rq"))
      .join(inter.withColumnRenamed("bq", "iq"),
        col("bq") === col("iq"), "left")
      .select(col("bq"),
        coalesce(col("ni"), lit(0L)).as("ni"), col("na"), col("nb"))
      .select(col("bq"),
        (!(col("ni") === col("na") && col("na") === col("nb")))
          .as("changed"),
        units(col("ni").cast("double")
          / (col("na") + col("nb") - col("ni")), 10000).as("ju"))
    perQ.agg(count(lit(1)).as("n_queries"),
        sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed"),
        sum(col("ju")).as("jus"))
      .select(col("n_queries"), col("n_changed"),
        r4(col("n_changed").cast("double") / col("n_queries"))
          .as("change_rate"),
        (floor(col("jus").cast("double") / col("n_queries") + 0.5)
          / 10000).as("mean_jaccard"))
  }

  /** cell_outliers depth: furthest members reported per cell. */
  val CellOutlierK = 2

  /** cell_outliers: the [[CellOutlierK]] members FURTHEST from their
    * own cell centroid (lowest cosine, ties to the smaller vec_id) with
    * the cell's mean similarity and the gap — the embedding-quality
    * triage queue (a vector far from every centroid is a garbage/
    * mislabeled embedding candidate; label_queue's "human attention
    * where the signal is weakest" rule applied to vectors). Reads
    * beside cell_purity (label mixing) and ivf_cell_stats (load): the
    * three per-cell health gauges of the served index.
    *
    * Parity: similarities quantize to exact 1e-6 units; the cell mean
    * is one floor'd double divide of the exact unit sum. Plan: pure
    * index consumer — one k-row centroid broadcast join, a per-cell
    * partial agg for means, a cell-bounded rank window.
    */
  def cellOutliers(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfFlatIndex(spark, dir)
    val sims = idx.lists
      .join(broadcast(idx.coarse), col("ccell") === col("cid"))
      .select(col("ccell"), col("vec_id"),
        units(cosineSim(col("embedding"), col("cvec")), 1000000).as("su"))
    val means = sims.groupBy(col("ccell"))
      .agg(floor(sum(col("su")).cast("double") / count(lit(1)))
        .cast("long").as("mu"))
    val w = Window.partitionBy(col("ccell"))
      .orderBy(col("su"), col("vec_id"))
    sims.join(means, Seq("ccell"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= CellOutlierK)
      .select(col("ccell"), col("vec_id"),
        (col("su").cast("double") / 1000000).as("sim"),
        (col("mu").cast("double") / 1000000).as("cell_mean"),
        ((col("mu") - col("su")).cast("double") / 1000000).as("gap"),
        col("rank").cast("int").as("rank"))
      .orderBy(col("ccell"), col("rank"))
  }

  /** cell_purity: label purity of the trained k-means cells — the
    * clustering-quality audit beside [[ivfCellStats]]'s balance audit
    * (the embeddings carry ground-truth labels; a cell mixing many
    * labels means the quantizer's regions cut across the semantic
    * structure, which degrades both semdedup's within-cell recall and
    * cluster_terms' labels). Per cell: vector count, distinct labels,
    * majority label + its 4dp share, and the label-distribution
    * Shannon entropy (token_entropy's exact-integer form: H = ln n −
    * Σ c·rnd6(ln c)/n — pure cells read entropy 0).
    *
    * Plan: pure index consumer — one vec_id equi-join of the inverted
    * lists against the embeddings' labels, one (cell × label)-bounded
    * partial agg feeding a cell-bounded argmax window + entropy agg.
    */
  def cellPurity(spark: SparkSession, dir: String): DataFrame = {
    val cl = ivfFlatIndex(spark, dir).lists.select(col("vec_id"), col("ccell"))
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
        "vec_id")
      .groupBy(col("ccell"), col("label"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds the argmax window AND the entropy agg
    val top = cl.withColumn("rn", row_number().over(
        Window.partitionBy(col("ccell"))
          .orderBy(col("c").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("ccell"), col("label").as("top_label"),
        col("c").as("top_c"))
    val agg = cl.groupBy(col("ccell"))
      .agg(sum(col("c")).as("n_vecs"),
        count(lit(1)).as("n_labels"),
        sum(col("c") * r6(log(col("c").cast("double")))
          .cast("decimal(18,6)")).as("clogc"))
    agg.join(top, "ccell")
      .select(col("ccell"), col("n_vecs"), col("n_labels"),
        col("top_label"),
        r4(col("top_c").cast("double") / col("n_vecs")).as("top_share"),
        r6(log(col("n_vecs").cast("double")) -
          col("clogc").cast("double") / col("n_vecs")).as("entropy"))
      .orderBy(col("ccell"))
  }

  // --- product quantization (Jegou, Douze & Schmid, "Product
  //     quantization for nearest neighbor search", TPAMI'11 — PQ codes +
  //     asymmetric distance computation; the complement of the coarse
  //     quantizer in annIvfKmeans) --------------------------------------

  private val PQ_M = 8              // subspaces
  private val PQ_SUBDIM = DIM / PQ_M
  private val PQ_K = 16             // codewords per subspace
  private val PQ_ITERS = 2

  /** (keys…, m, `sub`): one row per vector per subspace. transform-HOF
    * generator → interpreted Generate, so the slicing runs once per row
    * (see TextOps.categoryInfo's shape notes).
    */
  private def subVectorsOf(df: DataFrame, vec: Column,
      keys: Seq[String] = Seq("vec_id"), sub: String = "sub"): DataFrame =
    df.select(keys.map(col) :+
      posexplode(transform(sequence(lit(0), lit(PQ_M - 1)),
        m => slice(vec, m * PQ_SUBDIM + 1, lit(PQ_SUBDIM))))
        .as(Seq("m", sub)): _*)

  private def subVectors(e: DataFrame): DataFrame =
    subVectorsOf(e, col("embedding"))

  /** Squared L2 via inner products — identical arithmetic on both
    * engines, so orderings agree bit-for-bit (ties break by cid).
    */
  private def sqDist(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Assign each (vec, m) row to its nearest codeword of subspace m.
    * The codebook (M*K = 128 rows) broadcasts.
    */
  private def assignPq(sv: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d"), col("cid"))
    sv.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("sub"), col("cid"),
        sqDist(col("sub"), col("cvec")).as("d"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("sub"), col("cid"))
  }

  /** Codeword update: component-wise decimal mean + 6dp float rounding
    * per (m, cid) — the annIvfKmeans parity scheme.
    */
  private def recomputePq(assigned: DataFrame): DataFrame =
    meanVectors(assigned, Seq("m", "cid"), "sub", "cvec")

  /** The PQ codebooks (m, cid, cvec) of sub-vector rows `sv`: k-means
    * per subspace, init = the slices of the [[PQ_K]] smallest vec_ids,
    * [[PQ_ITERS]] Lloyd iterations. Checkpointed: the caller encodes
    * `sv` against it and writes it.
    */
  private def trainPq(sv: DataFrame): DataFrame = {
    val init = sv.filter(col("vec_id") < PQ_K)
      .select(col("m"), col("vec_id").cast("int").as("cid"),
        col("sub").as("cvec"))
    (1 to PQ_ITERS).foldLeft(init) { (c, _) =>
      recomputePq(assignPq(sv, c))
    }.localCheckpoint(false)
  }

  /** ADC scoring (q_id, neighbor_id, s): the query sub-vector rows
    * (keys…, m, qsub) meet the codebooks as one broadcast lookup table
    * of 6dp DECIMAL inner-product parts per (keys…, m, cid); `scan`
    * joins the code rows to that table, and each candidate's parts sum
    * exactly, in any order.
    */
  private def adcScores(qsub: DataFrame, codebooks: DataFrame,
      keys: String*)(scan: DataFrame => DataFrame): DataFrame = {
    val adc = qsub.join(broadcast(codebooks), "m")
      .select(keys.map(col) ++ Seq(col("m"), col("cid"),
        r6(dot(col("qsub"), col("cvec"))).cast("decimal(18,6)").as("part")): _*)
    scan(broadcast(adc))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("part")).as("s"))
  }

  // --- persisted ANN indexes: build once, probe many -------------------
  //
  // The reference builds its ivfflat index ONCE
  // (/root/reference/database.py:459 `add_vector_index_to_knowledge_base`)
  // and every query only probes it. The engine mirrors that split: a
  // build step trains the quantizers, encodes the corpus, and persists
  //   <path>/coarse      (cid, cvec)              — 8 rows
  //   <path>/codebooks   (m, cid, cvec)           — 128 rows
  //   <path>/codes       (vec_id, m, cid) [, ccell] — 8 ints per vector
  // with the IVFADC codes PARTITIONED BY CELL, so the probe's cell join
  // prunes to the nprobe probed directories (Spark inserts a dynamic
  // partition pruning filter for a broadcast join on the partition key)
  // — the file layout IS the inverted file. Probes are pure
  // read→route→ADC plans; no training, no checkpoint, no full vectors.

  final case class PqIndex(codebooks: DataFrame, codes: DataFrame)
  final case class IvfPqIndex(coarse: DataFrame, codebooks: DataFrame,
      codes: DataFrame)
  /** IVF-flat: trained coarse centroids + FULL-vector inverted lists
    * (vec_id, embedding, ccell), partitioned by cell — exact in-cell
    * distances at probe time, the pgvector-ivfflat analogue
    * (/root/reference/database.py:459 builds exactly this index shape).
    */
  final case class IvfFlatIndex(coarse: DataFrame, lists: DataFrame)

  def pqIndexPath(dir: String): String = IndexStore.path("pq-v1", dir)

  def ivfPqIndexPath(dir: String): String = IndexStore.path("ivfpq-v1", dir)

  def ivfFlatIndexPath(dir: String): String =
    IndexStore.path("ivfflat-v1", dir)

  /** Train the coarse quantizer (k-means, deterministic init, 2 Lloyd
    * iterations — identical arithmetic to the former in-query training,
    * so probe results are bit-identical) and persist centroids + the
    * cell-partitioned full-vector inverted lists.
    */
  def buildIvfFlatIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
    val init = e.filter(col("vec_id") < KMEANS_K)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    val trained = (1 to KMEANS_ITERS).foldLeft(init) { (cents, _) =>
      recompute(assign(e, cents))
    }.localCheckpoint(false)
    val lists = assign(e, trained)
      .select(col("vec_id"), col("embedding"), col("cid").as("ccell"))
    trained.write.mode("overwrite").parquet(s"$path/coarse")
    graft.sources.Sinks.writePartitioned(lists, s"$path/lists", Seq("ccell"))
  }

  def ivfFlatIndex(spark: SparkSession, dir: String): IvfFlatIndex = {
    val path = ivfFlatIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildIvfFlatIndex(spark, dir, path))
    IvfFlatIndex(Tables.read(spark, s"$path/coarse"),
      Tables.read(spark, s"$path/lists"))
  }

  /** Incremental insert into a persisted IVF-flat index: assign each new
    * `(vec_id, embedding)` to its nearest EXISTING coarse centroid and
    * append cell-partitioned list files — the quantizer is FROZEN
    * (FAISS's add-after-train contract; the reference's insert path
    * reuses the built ivfflat index the same way, database.py:459).
    *
    * This is the only sane insert path between periodic retrains at
    * 100 TB: the write creates new files only under the touched cells'
    * directories (existing lists are never rewritten), the next
    * [[annIvfKmeansProbe]]/[[semDedupProbe]] read sees the union
    * immediately, and quantizer drift is a rebuild-cadence policy, not a
    * per-insert cost. Works identically as a Structured Streaming sink
    * via `foreachBatch((b, _) => appendToIvfFlat(spark, path, b))`.
    */
  def appendToIvfFlat(spark: SparkSession, path: String,
      newVecs: DataFrame): Unit = {
    val coarse = Tables.read(spark, s"$path/coarse")
    assign(newVecs.select(col("vec_id"), col("embedding")), coarse)
      .select(col("vec_id"), col("embedding"), col("cid").as("ccell"))
      .write.mode("append").partitionBy("ccell")
      .option("compression", "zstd")
      .parquet(s"$path/lists")
  }

  /** Incremental encode-and-append into the persisted PQ code table —
    * the [[appendToIvfFlat]] contract applied to the compressed arm:
    * new vectors encode under the FROZEN codebooks (add-after-train;
    * codebook drift is a refresh-cadence policy priced by
    * [[pqDistortion]]/[[pqRefresh]], not a per-insert cost) and land
    * as appended code files, so [[annPq]]'s next probe sees them
    * immediately. A repeated/overlapping append is a no-op (code rows
    * anti-join the store slice pruned map-side to the batch's ids);
    * appended files are internally sorted, and the periodic
    * [[buildPqIndex]] rebuild is the re-sort/compaction step.
    */
  def appendToPqCodes(spark: SparkSession, dir: String,
      newVecs: DataFrame): Unit = {
    val path = pqIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildPqIndex(spark, dir, path))
    val cb = Tables.read(spark, s"$path/codebooks")
    Sinks.appendNew(assignPq(
        subVectors(newVecs.select(col("vec_id"), col("embedding"))), cb)
      .select(col("vec_id"), col("m"), col("cid")),
      s"$path/codes", "vec_id", Seq("vec_id", "m"), sort = Seq("vec_id", "m"))
  }

  /** The same frozen-quantizer append for the residual IVFADC index:
    * route via the frozen coarse centroids, encode the residual under
    * the frozen codebooks, append cell-partitioned code files — the
    * probed cell reads the union immediately, existing partitions are
    * never rewritten.
    */
  def appendToIvfPqCodes(spark: SparkSession, dir: String,
      newVecs: DataFrame): Unit = {
    val idx = ivfPqIndex(spark, dir)
    val cells = assign(
        newVecs.select(col("vec_id"), col("embedding")), idx.coarse)
      .select(col("vec_id"), col("embedding"), col("cid").as("ccell"))
      .localCheckpoint() // feeds the residual join AND the cell column
    val rv = cells.join(broadcast(idx.coarse), col("ccell") === col("cid"))
      .select(col("vec_id"), col("ccell").as("cc"),
        zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("resid"))
    Sinks.appendNew(assignPq(subVectorsOf(rv, col("resid")), idx.codebooks)
      .select(col("vec_id"), col("m"), col("cid"))
      .join(cells.select(col("vec_id"), col("ccell")), "vec_id"),
      s"${ivfPqIndexPath(dir)}/codes", "vec_id", Seq("vec_id", "m"),
      partition = Seq("ccell"))
  }

  /** Train the PQ codebooks (8 subspaces × 16 codewords, k-means with
    * deterministic init = the slices of the 16 smallest vec_ids, 2 Lloyd
    * iterations) and persist codebooks + (vec_id, m, cid) codes.
    */
  def buildPqIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
    // consumed by both training iterations and the final encode
    val sv = subVectors(e).localCheckpoint(false)
    val cb = trainPq(sv)
    val codes = assignPq(sv, cb).select(col("vec_id"), col("m"), col("cid"))
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    graft.sources.Sinks.writeSortedParquet(codes, s"$path/codes",
      Seq("vec_id", "m"))
  }

  /** pq_distortion: the PQ reconstruction-error audit over the
    * persisted index — per subspace, the mean squared quantization
    * error between each vector's sub-slice and its assigned codeword
    * (the FAISS-reported quantization distortion; a subspace whose MSE
    * jumps after a corpus shift means the frozen codebooks no longer
    * fit the data and ADC rankings degrade BEFORE recall audits catch
    * it — this is the cheap leading indicator beside ann_recall's
    * expensive trailing one).
    *
    * Plan: pure index consumer — sub-slices equi-join the persisted
    * codes on (vec_id, m), the 128-row codebook broadcasts, one
    * |subspaces|-bounded partial agg. Parity: the squared distance is
    * the shared fixed-order inner-product form ([[sqDist]] = the
    * oracle's unrolled sums, bit-identical), 6dp-rounded per row,
    * DECIMAL-accumulated, one double divide.
    */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndex(spark, dir)
    val sv = subVectors(
      Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id")))
    sv.join(idx.codes, Seq("vec_id", "m"))
      .join(broadcast(idx.codebooks), Seq("m", "cid"))
      .select(col("m"),
        r6(sqDist(col("sub"), col("cvec")))
          .cast("decimal(18,6)").as("d2"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sd"))
      .select(col("m"), col("n_vecs"),
        r6(col("sd").cast("double") / col("n_vecs")).as("mse"))
      .orderBy(col("m"))
  }

  // --- PQ codebook refresh (acting on pq_distortion's audit: one more
  //     Lloyd step scoped to the single WORST subspace; the other
  //     subspaces' codebooks and codes never move — the IVF-rebalance /
  //     SQ-refit maintenance shape applied to the PQ family, FAISS's
  //     re-train loop run where the audit points instead of globally) --

  /** Per-subspace MSE of a (codes, codebooks) pair — [[pqDistortion]]'s
    * arithmetic as a reusable frame (m, n_vecs, mse).
    */
  private def pqMse(sv: DataFrame, codes: DataFrame,
      cb: DataFrame): DataFrame =
    sv.join(codes, Seq("vec_id", "m"))
      .join(broadcast(cb), Seq("m", "cid"))
      .select(col("m"),
        r6(sqDist(col("sub"), col("cvec")))
          .cast("decimal(18,6)").as("d2"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"),
        r6(sum(col("d2")).cast("double") / count(lit(1))).as("mse"))

  /** The scoped-refresh PARTS: mse-before audit, the flagged worst-MSE
    * subspace (ties → smaller m; 1-row broadcast, the argmax rides an
    * 8-row window — bounded by PQ_M, the bootstrap_ci sanctioned
    * class), and the ONE-Lloyd-step refreshed codebook + codes for
    * that subspace ONLY (M-step over the standing persisted
    * assignment, then re-encode). Subspaces off the flag keep their
    * codebooks and codes BIT-IDENTICAL by construction, so consumers
    * default untouched rows to their before-values / zero churn /
    * shared scored parts instead of re-deriving them through
    * corpus-sized identity joins (r14: the former full codes2 splice
    * made the re-audit and both recall arms re-join all PQ_M subspaces
    * when only one moved).
    */
  private def pqRefreshedParts(spark: SparkSession, dir: String,
      sv: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val idx = pqIndex(spark, dir)
    val mseB = pqMse(sv, idx.codes, idx.codebooks).localCheckpoint(false)
    val flag = broadcast(mseB.withColumn("rn", row_number().over(
        Window.orderBy(col("mse").desc, col("m"))))
      .filter(col("rn") === 1).select(col("m").as("fm")))
    val svF = sv.join(flag, col("m") === col("fm"))
      .select(col("vec_id"), col("m"), col("sub"))
    val asgF = svF.join(idx.codes, Seq("vec_id", "m"))
      .select(col("vec_id"), col("m"), col("sub"), col("cid"))
    val cbNew = recomputePq(asgF).localCheckpoint(false) // ≤ PQ_K rows
    // left as lineage: the caller checkpoints it when (and only when)
    // more than one consumer reads it (pqRefresh's re-audit + churn);
    // pqRefreshRecall splices it once into the refreshed arm
    val codesNew = assignPq(svF, cbNew)
      .select(col("vec_id"), col("m"), col("cid"))
    (mseB, flag, cbNew, codesNew)
  }

  /** pq_refresh: the codebook-refresh RECEIPT — per subspace: MSE
    * before/after the scoped Lloyd step, whether it was the flagged
    * (worst-audit) subspace, and the code churn it caused. Lloyd
    * monotonicity makes mse_after ≤ mse_before on the flagged row (up
    * to the 6dp centroid/error rounding, which can nudge it by ulps);
    * untouched rows read identical before/after by construction — the
    * receipt PROVES the blast radius, exactly like ivf_rebalance's
    * untouched-cells rows.
    *
    * Plan: pure index consumer + one bounded recompute: sv is one
    * explode pass (localCheckpointed, the buildPqIndex posture), every
    * other frame is ≤ PQ_M·PQ_K rows or an equi-join on (vec_id, m).
    */
  def pqRefresh(spark: SparkSession, dir: String): DataFrame = {
    val sv = subVectors(
      Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id")))
      .localCheckpoint(false)
    val (mseB, flag, cbNew, codesNew0) = pqRefreshedParts(spark, dir, sv)
    val codesNew = codesNew0.localCheckpoint(false) // re-audit + churn
    // untouched subspaces keep codes and codebooks bit-identical, so
    // mse_after = mse_before and n_changed = 0 off the flag BY
    // CONSTRUCTION — the re-audit and the churn join run on the
    // flagged slice only (1/PQ_M of the former corpus-sized identity
    // joins), and the untouched rows read their defaults
    val mseAF = pqMse(sv.join(flag, col("m") === col("fm"))
        .select(col("vec_id"), col("m"), col("sub")), codesNew, cbNew)
      .select(col("m"), col("mse").as("mse_after_f"))
    val changedF = pqIndex(spark, dir).codes
      .join(flag, col("m") === col("fm"))
      .select(col("vec_id"), col("m"), col("cid").as("cid0"))
      .join(codesNew, Seq("vec_id", "m"))
      .groupBy(col("m"))
      .agg(sum(when(col("cid") =!= col("cid0"), 1L).otherwise(0L))
        .as("n_changed_f"))
    mseB.select(col("m"), col("n_vecs"), col("mse").as("mse_before"))
      .join(broadcast(mseAF), Seq("m"), "left")
      .join(broadcast(changedF), Seq("m"), "left")
      .join(broadcast(flag), col("m") === col("fm"), "left")
      .select(col("m"), col("n_vecs"), col("mse_before"),
        col("fm").isNotNull.as("refreshed"),
        coalesce(col("mse_after_f"), col("mse_before")).as("mse_after"),
        coalesce(col("n_changed_f"), lit(0L)).as("n_changed"),
        r4(coalesce(col("n_changed_f"), lit(0L)).cast("double")
          / col("n_vecs")).as("churn"))
      .orderBy(col("m"))
  }

  /** pq_refresh_recall: the refresh ACCEPTANCE gate — ADC recall@3
    * against the persisted dense truth, base codebooks vs refreshed,
    * one micro row per arm (the same go/no-go read as
    * rebalance_recall / sq_refit_recall; [[pqRefresh]] shows the MSE
    * win and blast radius, this prices the ranking effect before a
    * swap).
    */
  def pqRefreshRecall(spark: SparkSession, dir: String): DataFrame = {
    // the truth read is independent of the sv → mse → flag → refit
    // chain: BUILD in parallel (Par.build) so its checkpoint wave
    // back-fills the chain's idle cores
    var parts: (DataFrame, DataFrame, DataFrame, DataFrame) = null
    val Seq(exact, _) = Par.build(Seq(
      () => truthSample(spark, dir, 3)
        .localCheckpoint(false), // feeds both arms
      () => {
        val sv = subVectors(
          Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id")))
          .localCheckpoint(false)
        parts = pqRefreshedParts(spark, dir, sv)
        sv
      }))
    val (_, flag, cbNew, codesNew) = parts
    val idx = pqIndex(spark, dir)
    // the refreshed arm reads a LAZY splice (r14): identity codebooks/
    // codes off the flag, the refit slice on it — a single-consumer
    // union of map-side reads, so no checkpoint wave; both arms'
    // probes then execute in the same final job and their stages
    // overlap (a fully fused shared-scored-pass variant was measured
    // SLOWER here: it serialized one big pass where the two arms'
    // sweeps previously filled the idle cores side by side)
    val cb2 = idx.codebooks
      .join(flag, col("m") === col("fm"), "left_anti")
      .unionByName(cbNew)
    val codes2 = idx.codes
      .join(flag, col("m") === col("fm"), "left_anti")
      .unionByName(codesNew)
    def arm(aIdx: PqIndex): DataFrame =
      recallMicro(exact, annPqProbe(spark, dir, aIdx), 3)
    gate("base" -> arm(idx), "refreshed" -> arm(PqIndex(cb2, codes2)))
  }

  def pqIndex(spark: SparkSession, dir: String): PqIndex = {
    val path = pqIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildPqIndex(spark, dir, path))
    PqIndex(Tables.read(spark, s"$path/codebooks"),
      Tables.read(spark, s"$path/codes"))
  }

  /** ann_pq probe: rank by ADC over a persisted PQ index — each query's
    * inner product against a reconstructed vector is the SUM over
    * subspaces of a 128-entry lookup table. Every per-subspace part is
    * rounded to 6dp and accumulated in decimal, so the score is exact and
    * order-independent (FP sum order would otherwise be
    * partitioning-dependent). The corpus side of the scoring join carries
    * only (vec_id, m, cid) codes — 8 ints per vector, the whole point of
    * PQ at 100 TB: the full vectors never re-shuffle. Exhaustive over all
    * codes by design (the recall baseline); annIvfPqProbe is the routed
    * scale path.
    */
  def annPqProbe(spark: SparkSession, dir: String, idx: PqIndex): DataFrame = {
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") % 100 === 0)
    val qsub = subVectors(q)
      .select(col("vec_id").as("q_id"), col("m"), col("sub").as("qsub"))
    served(adcScores(qsub, idx.codebooks, "q_id")(adc =>
        idx.codes.join(adc, Seq("m", "cid"))
          .filter(col("vec_id") =!= col("q_id"))),
      3, col("s").cast("double").as("approx_dot"))
  }

  /** ann_pq: probe over the (per-JVM memoized) persisted PQ index. */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqProbe(spark, dir, pqIndex(spark, dir))

  /** Train and persist the residual IVFADC index (Jegou TPAMI'11): the
    * IVF-flat artifact's coarse quantizer, PQ codebooks over RESIDUALS
    * (x - centroid(cell(x)) — far less variance than raw vectors), and
    * per-vector codes carrying the owning cell, partitioned by cell on
    * disk (= the inverted lists). Like [[buildKnnGraph]], the build
    * takes the IVF-flat lists as the corpus, so the centroids and cell
    * assignment are read, not retrained.
    */
  def buildIvfPqIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val idx = ivfFlatIndex(spark, dir)
    // cell assignment feeds residuals AND the codes' cell column
    val cells = idx.lists.select(col("vec_id"), col("embedding"), col("ccell"))
    val rv = cells.join(broadcast(idx.coarse), col("ccell") === col("cid"))
      .select(col("vec_id"), col("ccell"),
        zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("resid"))
    val sv = subVectorsOf(rv, col("resid")).localCheckpoint(false)
    val cb = trainPq(sv)
    val codes = assignPq(sv, cb).select(col("vec_id"), col("m"), col("cid"))
      .join(cells.select(col("vec_id"), col("ccell")), "vec_id")
    idx.coarse.write.mode("overwrite").parquet(s"$path/coarse")
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    Sinks.writePartitioned(codes, s"$path/codes", Seq("ccell"))
  }

  def ivfPqIndex(spark: SparkSession, dir: String): IvfPqIndex = {
    val path = ivfPqIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildIvfPqIndex(spark, dir, path))
    IvfPqIndex(Tables.read(spark, s"$path/coarse"),
      Tables.read(spark, s"$path/codebooks"),
      Tables.read(spark, s"$path/codes"))
  }

  /** ann_ivfpq probe: pure read→route→ADC over the persisted residual
    * IVFADC index. Routing to nprobe=2 cells BOUNDS the candidate set
    * (pairs scale with cell size, not corpus size, unlike annPqProbe's
    * exhaustive scoring); each query gets one 128-entry ADC table per
    * probed cell from its own residual against that cell. The scoring
    * join reads only the probed cells' code partitions (dynamic partition
    * pruning against the broadcast probe side); cell lists and codes are
    * ints, ADC tables broadcast, full vectors never shuffle. Float
    * subtraction is IEEE-identical across engines, so the oracle
    * reproduces every residual bit-for-bit.
    */
  def annIvfPqProbe(spark: SparkSession, dir: String,
      idx: IvfPqIndex): DataFrame = {
    val probes =
      probeCells(evalQueries(Tables.embeddings(spark, dir)), idx.coarse, 2)
        .select(col("q_id"), col("qe"), col("cid").as("pcell"))
    // per-(query, probed cell) residual -> subvector rows -> ADC table
    val qres = probes.join(broadcast(idx.coarse), col("pcell") === col("cid"))
      .select(col("q_id"), col("pcell"),
        zip_with(col("qe"), col("cvec"), (a, b) => a - b).as("qr"))
    val qsub = subVectorsOf(qres, col("qr"), Seq("q_id", "pcell"), "qsub")
    served(adcScores(qsub, idx.codebooks, "q_id", "pcell")(adc =>
        idx.codes
          .join(broadcast(probes.select(col("q_id"), col("pcell"))),
            col("ccell") === col("pcell") && col("vec_id") =!= col("q_id"))
          .join(adc, Seq("q_id", "pcell", "m", "cid"))),
      3, col("s").cast("double").as("approx_dot"))
  }

  /** ann_ivfpq: probe over the (per-JVM memoized) persisted index. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPqProbe(spark, dir, ivfPqIndex(spark, dir))

  // --- random-hyperplane LSH ------------------------------------------

  private def md5hex(s: String): String = IndexStore.md5hex(s)

  /** Deterministic ±1 hyperplanes: component i of plane j is +1 iff the
    * first hex digit of md5("j_i") is >= '8' — reproducible by any engine
    * with an md5 function, no RNG state.
    */
  private[operators] def hyperplane(j: Int): Array[Float] =
    Array.tabulate(DIM)(i => if (md5hex(s"${j}_$i")(0) >= '8') 1.0f else -1.0f)

  private val NPLANES = 64
  private val NBANDS = 8
  private val BANDW = NPLANES / NBANDS // 8-bit band keys: 256 buckets/band
  private val BUCKET_CAP = 1000

  /** 64-bit sign signature as a '0'/'1' string column. 64 planes / 8-bit
    * band keys keep bucket sizes ~N/256 per band — the 16-plane/4-bit
    * variant degraded toward all-pairs as the corpus grew (16 distinct
    * keys per band ⇒ buckets of N/16).
    */
  private def signature(emb: Column): Column =
    concat((0 until NPLANES).map { j =>
      when(dot(emb, typedlit(hyperplane(j))) >= 0d, lit("1")).otherwise(lit("0"))
    }: _*)

  /** (vec_id, band, key) rows — ids only, so the band join shuffles
    * scalars, never the 64-float payloads.
    *
    * The band keys are built with a `transform` HOF deliberately: HOFs
    * have no doGenCode, which forces the interpreted Generate path whose
    * child stage materializes rows — so the 64-dot-product signature is
    * computed once per vector. A codegen'd Generate (plain `array(...)`
    * generator) re-evaluates the generator per emitted element: 8x the
    * signature cost (see TextOps.categoryInfo's shape notes).
    */
  private def bandedIds(e: DataFrame): DataFrame =
    Tables.cpuPartition(e, col("vec_id"))
      .select(col("vec_id"), signature(col("embedding")).as("sig"))
      .select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(NBANDS - 1)),
          b => col("sig").substr(b * BANDW + 1, lit(BANDW))))
          .as(Seq("band", "key")))

  /** LSH ANN: candidates share at least one 8-bit band with the query;
    * rank candidates by true cosine. Candidate generation is an equi-join
    * on (band, key) with a bucket cap (a degenerate key — e.g. a corpus of
    * near-identical vectors — cannot quadratically explode a partition);
    * candidates dedup as id pairs, then vectors re-attach by key join.
    */
  def lshBandsPath(dir: String): String =
    IndexStore.path("lsh-bands-v1", dir)

  /** The persisted LSH hash tables: the corpus side's capped
    * (vec_id, band, key) rows — the 64-dot signature pass over the
    * whole corpus is the index BUILD (exactly what a served LSH index
    * persists as its hash tables; the bucket cap is applied at build
    * like every other index invariant), probes only read it. Was 5.1 s
    * per invocation at the 10× probe as an in-query pass.
    */
  private def lshBands(spark: SparkSession, dir: String): DataFrame = {
    val path = lshBandsPath(dir)
    IndexStore.ensureBuilt(path) {
      val wCap = Window.partitionBy(col("band"), col("key"))
      val capped = bandedIds(Tables.embeddings(spark, dir))
        .withColumn("bc", count(lit(1)).over(wCap))
        .filter(col("bc") <= BUCKET_CAP)
        .drop("bc")
      graft.sources.Sinks.writeSortedParquet(capped, path,
        Seq("band", "key"))
    }
    Tables.read(spark, path)
  }

  def lshAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val capped = lshBands(spark, dir)
    val qb = bandedIds(e.filter(col("vec_id") % 100 === 0))
      .select(col("vec_id").as("q_id"), col("band").as("qband"),
        col("key").as("qkey"))
    val candIds = capped.join(broadcast(qb),
        col("band") === col("qband") && col("key") === col("qkey") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val ne = e.select(col("vec_id").as("n_id"), col("embedding").as("ne"))
    val qe = evalQueries(e).select(col("q_id").as("q_id2"), col("qe"))
    served(candIds.join(ne, col("neighbor_id") === col("n_id"))
        .join(broadcast(qe), col("q_id") === col("q_id2"))
        .select(col("q_id"), col("neighbor_id"),
          cosineSim(col("ne"), col("qe")).as("s")),
      3, round(col("s"), 6).as("sim"))
  }

  // ---- mmr_rerank: diversified reranking ------------------------------

  val MmrPool = 10
  val MmrK = 5
  val MmrLambda = 0.7

  /** 1 − λ as a PARSED literal on both engines (the BackoffAlpha2
    * lesson: runtime 1 − 0.7 is 0.30000000000000004 in IEEE double).
    */
  val MmrGamma = 0.3

  /** Exact brute-force MMR candidate pool: top-[[MmrPool]] by true
    * cosine over the whole corpus (the knn_join shape with k = pool).
    * This is the POOL ORACLE — the audited baseline [[mmrPoolRecall]]
    * measures the production IVF pool against, not the serving path.
    * A pure consumer of the persisted [[denseTruth]] artifact (r9).
    */
  def mmrPoolExact(spark: SparkSession, dir: String): DataFrame =
    truthSample(spark, dir, MmrPool, "s")
      .select(col("q_id"), col("neighbor_id").as("doc_id"),
        round(col("s"), 6).as("simq"))

  /** IVF-probed MMR candidate pool: route each query to its nprobe=2
    * nearest TRAINED centroids of the persisted IVF-flat index and take
    * the top-[[MmrPool]] by true cosine within the probed cells only —
    * [[annIvfKmeansProbe]]'s shape with k = pool. This is the scale
    * path (the reference's serving flow, rag_processor.py:26, is
    * top-k-from-index then diversify): candidate generation reads only
    * the probed cell partitions, never the corpus.
    */
  def mmrPoolIvf(spark: SparkSession, dir: String): DataFrame =
    ivfProbeRanked(spark, dir)
      .filter(col("rank") <= MmrPool)
      .select(col("q_id"), col("vec_id").as("doc_id"),
        round(col("s"), 6).as("simq"))

  /** (q_id, vec_id, s, rank): each sampled query's probed-cell
    * candidates over the persisted IVF-flat index, ranked by true
    * cosine — the shared serving probe behind [[mmrPoolIvf]] (top of
    * the ranking) and [[hardNegatives]] (the band just below it).
    */
  private def ivfProbeRanked(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfFlatIndex(spark, dir)
    // the standing recall/latency knob of a serving IVF index (the
    // FAISS nprobe); default = the oracle-pinned 2
    val nprobe = graft.Params.int(spark, "ann.nprobe", 2)
    val probes = probeCells(probeQueries(spark, dir), idx.coarse, nprobe)
      .select(col("q_id"), col("qe"), col("cid").as("pcid"))
    val wPool = Window.partitionBy(col("q_id"))
      .orderBy(col("s").desc, col("vec_id"))
    idx.lists.join(broadcast(probes), col("ccell") === col("pcid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("embedding"), col("qe")).as("s"))
      .withColumn("rank", row_number().over(wPool))
  }

  /** embedding_norms: the vector-store QA audit (the reference's ingest
    * path database.py:340-374 assumes well-formed pgvector values; at
    * 100 TB a broken embedding batch — zero vectors, NaN-collapsed
    * norms, scale drift after a model swap — must be CAUGHT, not
    * served): per label, vector count, zero-norm count, and the
    * 6dp-norm mean/min/max. One map-side norm per vector (the codegen'd
    * DotProduct loop), one label-sized partial agg — the cheapest
    * standing audit beside the ANN indexes.
    *
    * Parity: norms are irrational (round() safe at 6dp); the mean
    * accumulates the rounded norms in DECIMAL (exact,
    * partition-order-independent) and divides once in double.
    */
  def embeddingNorms(spark: SparkSession, dir: String): DataFrame = {
    val norm = round(sqrt(dot(col("embedding"), col("embedding"))), 6)
    Tables.embeddings(spark, dir)
      .select(col("label"), norm.as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("norm") === 0, 1L).otherwise(0L)).as("zero_vecs"),
        r6(sum(col("norm").cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("mean_norm"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))
      .orderBy(col("label"))
  }

  /** dim_variance: the per-dimension moment profile of the embedding
    * space — mean, variance, min, max for each of the 64 coordinates.
    * The quantization-prep read-out the SQ8 family prices: a dimension
    * whose variance is ~0 wastes a code byte (per-dim range scaling,
    * the FAISS ScalarQuantizer rationale), and a mean far off 0 says
    * center before serving (the centered_shift question, answered per
    * axis). embedding_norms profiles vector LENGTHS; this profiles the
    * axes.
    *
    * Parity: each float widens to double exactly, rounds once to 1e-7
    * integer units (the mean6f primitive), and every moment is an
    * exact integer/DECIMAL sum — reproducible under any partitioning;
    * the two final divisions mirror verbatim.
    *
    * Scale shape: one posexplode of the stored vectors (64 rows per
    * vector, generator input is a scan attribute) into one partial-agg
    * groupBy on 64 keys — map-shaped, no joins, no windows.
    */
  def dimVariance(spark: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"),
        units(col("v").cast("double"), 10000000).as("vu"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(d(col("vu"))).as("sv"),
        sum(d(col("vu") * col("vu"))).as("svv"),
        min(col("vu")).as("mn"), max(col("vu")).as("mx"))
      .select(col("dim"),
        r6(col("sv").cast("double") / 10000000 / col("n")).as("mean"),
        r6((d(col("n")) * col("svv") - col("sv") * col("sv"))
          .cast("double") / col("n").cast("double") / col("n")
          / 100000000000000L.toDouble).as("variance"),
        (col("mn").cast("double") / 10000000).as("min_v"),
        (col("mx").cast("double") / 10000000).as("max_v"))
      .orderBy(col("dim"))
  }

  /** kb_consistency: the ingest-drift audit of the two-sided store —
    * the reference upserts content and vector as separate calls
    * (database.py:340-374), so the tables CAN drift: documents without
    * an embedding (unembedded backlog — invisible to every ANN probe)
    * and embeddings without a document (orphans — retrievable ids that
    * 404 on fetch). One row per side with the count and the id range
    * of the backlog; both rows always present so a clean store reads
    * as explicit zeros.
    *
    * Scale shape: two LEFT ANTI joins on the id (the membership-only
    * shape — the probe side never widens), each followed by a 1-row
    * agg; the union is 2 rows.
    */
  def kbConsistency(spark: SparkSession, dir: String): DataFrame =
    kbConsistencyOf(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))

  /** Frame-shaped twin over any (documents, embeddings) pair — what
    * the [[kbUpsert]] spec audits on the written tables.
    */
  private[graft] def kbConsistencyOf(docs: DataFrame,
      embs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"))
    val e = embs.select(col("vec_id"))
    def side(name: String, ids: DataFrame, idc: String): DataFrame =
      ids.agg(count(lit(1)).as("n"),
        min(col(idc)).as("min_id"), max(col(idc)).as("max_id"))
        .select(lit(name).as("side"), col("n"), col("min_id"),
          col("max_id"))
    side("unembedded",
        d.join(e, col("doc_id") === col("vec_id"), "left_anti"), "doc_id")
      .unionAll(side("orphan_vectors",
        e.join(d, col("vec_id") === col("doc_id"), "left_anti"), "vec_id"))
      .orderBy(col("side"))
  }

  /** kb_upsert: the WRITE surface of the two-sided KB store —
    * [[graft.operators.Interactions.interactionIngest]]'s dedup-on-
    * insert posture applied to the reference's knowledge-base upsert
    * (database.py:388-470 inserts content + vector through separate
    * table APIs with no conflict handling — exactly how its store
    * accumulates the duplicates and orphans [[kbConsistency]] audits).
    * One batch write enforcing the store's invariants:
    *
    *  - conflicting re-submissions of a doc_id resolve deterministically
    *    (smallest content hash wins — stable under replay, never
    *    submission-order dependent);
    *  - duplicate CONTENT keeps the earliest doc_id (dedupExact's
    *    canonical rule, keyed on (md5, byte_len));
    *  - embeddings dedup per vec_id the same way, and orphans
    *    (vectors whose id has no accepted document) are REJECTED at
    *    the door instead of surfacing later as retrievable-but-404 ids.
    *
    * Both sides land as BUCKETED tables on their id with matching
    * bucket counts, so every doc⋈vec consumer (kb_ingest, sim_topk's
    * fetch side, embedding_drift) gets a co-located join — the ingest
    * pre-pays the exchange once at write time, the Spark replacement
    * for the reference's Postgres unique index + ivfflat maintenance.
    * Scale shape: two content-key windows and one membership semi-join,
    * all shuffling on the keys they dedup — no corpus-sized state
    * anywhere.
    *
    * Returns the read-backs; KbUpsertSpec proves [[kbConsistencyOf]]
    * reads explicit zeros after an ingest with planted duplicate and
    * orphan attempts.
    */
  def kbUpsert(spark: SparkSession, docs: DataFrame, embs: DataFrame,
      docTable: String, vecTable: String,
      buckets: Int = 8): (DataFrame, DataFrame) = {
    val wDid = Window.partitionBy(col("doc_id"))
      .orderBy(col("chash"))
    val wContent = Window.partitionBy(col("chash"), col("blen"))
      .orderBy(col("doc_id"))
    val acceptedDocs = docs
      .withColumn("chash", md5(col("text")))
      .withColumn("blen", length(col("text")))
      .withColumn("rn", row_number().over(wDid))
      .filter(col("rn") === 1)
      .withColumn("rc", row_number().over(wContent))
      .filter(col("rc") === 1)
      .drop("rn", "rc", "chash", "blen")
    val wVid = Window.partitionBy(col("vec_id"))
      .orderBy(md5(col("embedding").cast("string")))
    val acceptedVecs = embs
      .withColumn("rn", row_number().over(wVid))
      .filter(col("rn") === 1)
      .drop("rn")
      .join(acceptedDocs.select(col("doc_id")),
        col("vec_id") === col("doc_id"), "left_semi")
    graft.sources.Sinks.writeBucketedTable(acceptedDocs, docTable,
      "doc_id", buckets, Seq("doc_id"))
    graft.sources.Sinks.writeBucketedTable(acceptedVecs, vecTable,
      "vec_id", buckets, Seq("vec_id"))
    (spark.table(docTable), spark.table(vecTable))
  }

  /** embedding_drift: per-source embedding-distribution drift — the
    * model-ops audit beside [[embeddingNorms]] (norms catch broken
    * batches; THIS catches a source whose embeddings come from a
    * different model version or preprocessing: its centroid swings away
    * from the corpus centroid long before retrieval quality visibly
    * degrades). Per source: vector count, 6dp mean norm, and the cosine
    * between the source centroid and the global corpus centroid.
    *
    * Scale shape: one doc⋈vec equi-join, component explode to
    * (source, i) partial aggregates (the labelCentroids posture — 64
    * rows per source), 1-row global centroid broadcast, one cosine per
    * source. Parity: component means via the exact long-unit mean6f
    * (never float→decimal), norms/cosines rounded at 6dp.
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .select(col("source"), col("embedding"))
      .localCheckpoint(false) // feeds components (twice) AND the norm stats
    val srcCent = meanVectors(j, Seq("source"), "embedding", "cvec")
    val glob = meanVectors(j, Nil, "embedding", "gvec", mean = "gv")
    val norm = round(sqrt(dot(col("embedding"), col("embedding"))), 6)
    val stats = j.select(col("source"), norm.as("nm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vecs"),
        r6(sum(col("nm").cast("decimal(18,6)")).cast("double")
          / count(lit(1)))
          .as("mean_norm"))
    stats.join(srcCent, Seq("source"))
      .crossJoin(broadcast(glob))
      .select(col("source"), col("n_vecs"), col("mean_norm"),
        round(cosineSim(col("cvec"), col("gvec")), 6).as("drift_cos"))
      .orderBy(col("source"))
  }

  /** hard_negatives parameters: the top-[[HnSkip]] probe results are
    * presumed positives (the retrieval serving depth); the next
    * [[HnK]] are mined as hard negatives. Single-sourced into the
    * oracle SQL.
    */
  val HnSkip = 3
  val HnK = 5

  /** hard_negatives: ANN-mined hard negatives for contrastive retriever
    * training (the ANCE posture, Xiong et al. ICLR 2021; DPR's BM25
    * hard negatives, Karpukhin et al. EMNLP 2020 — the negatives that
    * matter are the ones the CURRENT index almost retrieves): for each
    * sampled query, the probed-cell candidates ranked just BELOW the
    * serving depth — near misses, not random documents.
    *
    * Scale shape: pure consumer of the persisted IVF probe
    * ([[ivfProbeRanked]]) — candidate generation reads nprobe/k of the
    * corpus via the cell-partitioned inverted lists, the rank window
    * runs over probed-cell-sized frames, and the band filter is free.
    * This is the standing training-data export beside the index, not a
    * corpus scan.
    *
    * Parity: ranking on the unrounded cosine with vec_id tie-break
    * (the mmrPoolIvf pattern), sims surfaced at 6dp.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    ivfProbeRanked(spark, dir)
      .filter(col("rank") > HnSkip && col("rank") <= HnSkip + HnK)
      .select(col("q_id"), col("vec_id").as("neg_id"),
        round(col("s"), 6).as("sim"),
        (col("rank") - HnSkip).as("neg_rank"))
      .orderBy(col("q_id"), col("neg_rank"))

  /** ann_filtered default metadata predicate (lang equality) and result
    * depth. Runtime overrides: `spark.graft.param.ann.filter.lang`,
    * `ann.nprobe` (shared with the serving probe). Single-sourced into
    * the oracle SQL.
    */
  val FilteredLang = "de"
  val FilteredK = 3

  /** ann_filtered: METADATA-FILTERED vector search over the persisted
    * IVF-flat index — the pgvector serving shape `WHERE lang = ?
    * ORDER BY embedding <=> q LIMIT k` (the reference's
    * find_similar_documents with a metadata predicate; every production
    * vector store's core filtered-search op). Post-filter strategy:
    * probe nprobe cells, SEMI-join the candidates against the
    * predicate's id set (membership only — the probe side never
    * widens), then rank the survivors by exact cosine and keep top
    * [[FilteredK]] per query.
    *
    * Scale shape: candidates are bounded by the probed cell lists
    * (nprobe/k of the corpus), so the metadata semi-join shuffles
    * candidates, never the corpus; at production scale the predicate
    * columns ride INSIDE the inverted lists (append them at build
    * time — appendToIvfFlat's schema takes extra columns unchanged)
    * and the semi-join disappears into a pushed filter on the
    * partition scan. Low-selectivity predicates need a higher nprobe
    * to fill k — that is the standing filtered-search recall trade
    * [[filteredRecall]] measures.
    */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfFlatIndex(spark, dir)
    val nprobe = graft.Params.int(spark, "ann.nprobe", 2)
    val lang = graft.Params.strDisableable(spark, "ann.filter.lang",
      FilteredLang)
    val probes = probeCells(probeQueries(spark, dir), idx.coarse, nprobe)
      .select(col("q_id"), col("qe"), col("cid").as("pcid"))
    val keep = Tables.documents(spark, dir)
      .filter(lang.map(l => col("lang") === l).getOrElse(lit(true)))
      .select(col("doc_id").as("vec_id"))
    served(idx.lists.join(broadcast(probes), col("ccell") === col("pcid"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(keep, Seq("vec_id"), "left_semi")
        .select(col("q_id"), col("vec_id"),
          cosineSim(col("embedding"), col("qe")).as("s")),
      FilteredK, round(col("s"), 6).as("sim"), id = "vec_id",
      rank = col("rank").cast("int").as("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** filtered_recall: recall@[[FilteredK]] of the filtered IVF probe
    * against the exact filtered brute-force top-k — the [[annRecall]]
    * posture applied to [[annFiltered]]. Filtered search is where IVF
    * recall degrades first (a selective predicate can empty the probed
    * cells while matches live in unprobed ones), so this audit is what
    * justifies the nprobe setting per predicate family. Queries with NO
    * matching corpus doc at all drop from both arms (no denominator).
    */
  def filteredRecall(spark: SparkSession, dir: String): DataFrame = {
    val lang = graft.Params.strDisableable(spark, "ann.filter.lang",
      FilteredLang)
    val keep = Tables.documents(spark, dir)
      .filter(lang.map(l => col("lang") === l).getOrElse(lit(true)))
      .select(col("doc_id").as("vec_id"))
    val q = evalQueries(Tables.embeddings(spark, dir))
    val exact = Tables.embeddings(spark, dir)
      .join(keep, Seq("vec_id"), "left_semi")
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("embedding"), col("qe")).as("s"))
    // denominator = the exact arm's own row count, NOT the constant k:
    // a selective predicate can leave fewer than k true matches, and a
    // probe that returns all of them has earned recall 1.0
    recallPerQuery(topK(exact, FilteredK), annFiltered(spark, dir),
      FilteredK, ownDen = true).orderBy(col("q_id"))
  }

  /** mmr_pool_recall: recall@[[MmrPool]] of the IVF-probed candidate
    * pool against the exact brute-force pool — the [[annRecall]]
    * posture applied to the diversification input — the standing audit
    * that justifies serving MMR from the index probe instead of a
    * corpus scan.
    */
  def mmrPoolRecall(spark: SparkSession, dir: String): DataFrame =
    recallPerQuery(truthSample(spark, dir, MmrPool), mmrPoolIvf(spark, dir)
      .select(col("q_id"), col("doc_id").as("neighbor_id")), MmrPool)

  /** mmr_rerank: Maximal Marginal Relevance (Carbonell & Goldstein,
    * SIGIR 1998) — the diversification stage of the retrieval stack
    * (retrieve → fuse → DIVERSIFY): greedily pick [[MmrK]] of each
    * query's [[MmrPool]] candidates, each round's pick maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s), so near-duplicate
    * results can't crowd the context window (the RAG failure mode
    * semdedup measures corpus-side, countered query-side).
    *
    * Since r8 the gated pool is [[mmrPoolIvf]] — the persisted-index
    * probe, the reference's own serving shape (top-k from the ivfflat
    * index, THEN diversify; rag_processor.py:26-77) — with
    * [[mmrPoolExact]] kept as the audited baseline via
    * [[mmrPoolRecall]]. At 100 TB the pool pass therefore reads
    * nprobe/k of the corpus instead of all of it.
    *
    * Scale shape: the loop is BOUNDED BY THE POOL, not the corpus —
    * the candidate-candidate sim frame is ≤ pool² rows per query, and
    * each of the fixed [[MmrK]] rounds is an anti-join + equi-join +
    * window argmax over pool-sized frames (localCheckpoint per round,
    * the iterative-loop rule). The oracle unrolls the same rounds as
    * CTEs over the same unrolled k-means CTE chain.
    *
    * Parity: both sim frames round to 6dp at creation (irrational
    * cosines — round() is safe), the MMR score is a fixed-order double
    * expression re-rounded via the floor primitive, and every argmax
    * tie-breaks on doc_id.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrGreedy(spark, dir, mmrPoolIvf(spark, dir))

  /** rag_context: the reference's END-TO-END serving composition as a
    * batch export — retrieve top-k from the index (rag_processor.py:26
    * `get_relevant_documents`), diversify ([[mmrRerank]]), then
    * assemble the per-query context block in pick order
    * (text_utils.py:78 `create_context` builds exactly this string for
    * the prompt). One row per query: the diversified context the
    * generator would receive — the batch face of the online request
    * path (BASELINE's north star concedes the per-request serving
    * itself to an online store; this is everything up to it).
    *
    * Scale shape: mmr picks are k-bounded per query; the text join-back
    * touches only picked doc_ids (a semi-join-sized read of the
    * documents table), and the assembly is a per-query sort_array over
    * ≤k elements — no corpus-sized stage beyond the probe already paid.
    *
    * Parity: assembly order is the deterministic pick order (struct
    * sort on the unique pick index); '\n' joins on both engines
    * (chr(10) in the oracle — DuckDB literals don't interpret
    * escapes).
    */
  def ragContext(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id").as("cd"), col("text"))
    mmrRerank(spark, dir)
      .join(d, col("doc_id") === col("cd"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_ctx"),
        array_join(collectSorted("pick", "text"), "\n").as("context"))
      .orderBy(col("q_id"))
  }

  /** MMR over the exact brute-force pool — the audited baseline arm
    * ([[mmrPoolRecall]] measures the gap the IVF pool introduces).
    */
  def mmrRerankExact(spark: SparkSession, dir: String): DataFrame =
    mmrGreedy(spark, dir, mmrPoolExact(spark, dir))

  /** The greedy MMR rounds over a caller-supplied (q_id, doc_id, simq)
    * candidate pool.
    */
  private def mmrGreedy(spark: SparkSession, dir: String,
      pool: DataFrame): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cand = pool.localCheckpoint(false) // feeds cc + every round
    val ca = cand.select(col("q_id").as("cq"), col("doc_id").as("d1"))
      .join(e.select(col("vec_id").as("d1"), col("embedding").as("e1")),
        Seq("d1"))
    val cb = cand.select(col("q_id").as("cq"), col("doc_id").as("d2"))
      .join(e.select(col("vec_id").as("d2"), col("embedding").as("e2")),
        Seq("d2"))
    val cc = ca.join(cb, Seq("cq")).filter(col("d1") =!= col("d2"))
      .select(col("cq"), col("d1"), col("d2"),
        round(cosineSim(col("e1"), col("e2")), 6).as("cs"))
      .localCheckpoint(false)
    // the reference's serving knobs (rag_processor.py:26 top_k; the
    // diversity trade) as runtime params; defaults = the oracle-pinned
    // constants. Gamma stays the PARSED literal on the default path
    // (the BackoffAlpha2 lesson) and derives 1−λ only when overridden.
    val spark0 = cand.sparkSession
    val mmrLam = graft.Params.double(spark0, "mmr.lambda", MmrLambda)
    require(mmrLam >= 0.0 && mmrLam <= 1.0,
      s"mmr.lambda must be in [0, 1], got $mmrLam")
    val mmrGam = if (mmrLam == MmrLambda) MmrGamma else 1.0 - mmrLam
    val mmrK = graft.Params.int(spark0, "mmr.k", MmrK)
    require(mmrK >= 1, s"mmr.k must be >= 1, got $mmrK")
    val wPick = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id"))
    var sel = cand
      .withColumn("score", r6(lit(mmrLam) * col("simq")))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("doc_id"), col("simq"), lit(1).as("pick"))
      .localCheckpoint(false)
    for (k <- 2 to mmrK) {
      val remaining = cand.join(sel.select(col("q_id"), col("doc_id")),
        Seq("q_id", "doc_id"), "left_anti")
      val pen = remaining
        .join(cc, col("q_id") === col("cq") && col("doc_id") === col("d1"))
        .join(sel.select(col("q_id").as("sq"), col("doc_id").as("sd")),
          col("cq") === col("sq") && col("d2") === col("sd"))
        .groupBy(col("q_id"), col("doc_id"), col("simq"))
        .agg(max(col("cs")).as("pen"))
      val selK = sel.union(pen
        .withColumn("score", r6(lit(mmrLam) * col("simq") -
          lit(mmrGam) * col("pen")))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("doc_id"), col("simq"),
          lit(k).as("pick")))
      // the LAST round's pick set feeds no further round — its single
      // downstream consumer runs it inside its own sink job (one
      // checkpoint wave less); intermediate rounds stay checkpointed
      // (each feeds the next round three times)
      sel = if (k < mmrK) selK.localCheckpoint(false) else selK
    }
    sel
  }

  // --- principal component (power iteration) + binary quantization ----

  /** Per-dimension corpus means in exact 1e-6 integer units — the
    * centering vector shared by [[pcaPower]] and the binary-quantizer
    * thresholds ([[buildBqCodes]]): each float rounds once to 1e-6
    * units, sums exactly, and the mean re-rounds to the same units
    * (single-sourced so the two consumers can never center
    * differently). Returned as a 1-row frame carrying the 64-slot
    * array, ready to broadcast.
    */
  private def dimMeansU6(e: DataFrame): DataFrame =
    dimMeanRows(e)
      .agg(collectSorted("d", "mu").as("muarr"))

  /** Per-dim (d, mu) rows behind [[dimMeansU6]] — the BQ maintenance
    * family joins them instead of unpacking the array.
    */
  private def dimMeanRows(e: DataFrame): DataFrame =
    e.select(posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d"),
        units(col("x").cast("double"), 1000000).as("xu"))
      .groupBy(col("d"))
      .agg(floor(sum(col("xu")).cast("double") / count(lit(1)) + lit(0.5))
        .cast("long").as("mu"))

  /** Repeated-squaring depth and the power rounds run on the squared
    * operator: the applied exponent is 2^[[PcaSquarings]] ·
    * [[PcaPowerRounds]] = 512. This corpus is spectrally ADVERSARIAL
    * for the plain power method — λ₁/λ₂ = 1.013 (near-isotropic
    * synthetic embeddings), so direct iteration needs ~500 rounds for
    * 6dp convergence; squaring the matrix squares the eigenvalue ratio
    * per step (1.013^256 ≈ 25), and 8 squarings of a 64×64 matrix cost
    * 8 × 64³ products — nothing next to the corpus pass.
    */
  val PcaSquarings = 8
  val PcaPowerRounds = 2

  /** pca_power: the TOP PRINCIPAL COMPONENT of the embedding corpus —
    * the whitening/rotation prep read-out (the direction OPQ-style
    * rotations and mean-centering quantizers key on), reporting the
    * 64 loadings plus the top eigenvalue (as per-vector variance) and
    * its share of total variance. dim_variance profiles AXES; this
    * finds the dominant CORRELATED direction across them. Method:
    * power iteration with REPEATED MATRIX SQUARING (see
    * [[PcaSquarings]]) and a final Rayleigh quotient on the original
    * scatter — at the gate corpus the 6dp outputs equal the exact
    * eigendecomposition's (checked against a dense solver).
    *
    * Scale shape: one explode pass builds the 64×64 scatter matrix via
    * map-side partial agg (upper triangle only, mirrored after — the
    * generated pair rows never shuffle unaggregated); everything after
    * runs on ≤4096-row frames (squaring = self-join + partial agg)
    * with localCheckpoint per round — the pagerank loop shape. Corpus
    * cost is ONE linear pass regardless of rounds.
    *
    * Parity: centered values are exact 1e-6-unit integers (mean from
    * [[dimMeansU6]]), scatter entries are exact integer sums rescaled
    * once to 1e-6 units, and every squaring/power round renormalizes
    * by the exact max-|entry| with one floor-rounded division — so
    * every intermediate is a BIGINT-safe exact integer on both engines
    * (a DuckDB HUGEINT→DOUBLE cast is not a single rounding; the
    * iteration never needs one). Worst-case magnitudes: squared
    * entries ≤ 64·10¹², Rayleigh matvec ≤ 64·C6max·10⁶ ≈ 4.5·10¹⁷ at
    * 100× the gate corpus.
    */
  /** Tunables are folded into the artifact key (the cap-keyed lex-truth
    * rule): a retune of [[PcaSquarings]]/[[PcaPowerRounds]] or of the
    * mu6 centering against an existing index dir must MISS, never
    * silently serve the old basis.
    */
  def pcaBasisPath(dir: String): String =
    IndexStore.path(s"pca-basis-s$PcaSquarings-r$PcaPowerRounds-mu6-v1",
      dir)

  /** The persisted PCA artifact: 64 rows (dim, mu, vu) — the centering
    * vector and the (max-normalized integer) top eigenvector — plus
    * the Rayleigh metrics (quad6, m, l2, tr, n) repeated per row.
    * pca_power and pca_project are pure consumers; run 1 builds.
    */
  def pcaBasis(spark: SparkSession, dir: String): DataFrame = {
    val path = pcaBasisPath(dir)
    IndexStore.ensureBuilt(path)(buildPcaBasis(spark, dir, path))
    Tables.read(spark, path)
  }

  /** pca_power read-out over the persisted basis (expressions identical
    * to ranking the live iteration — the artifact stores exact
    * integers).
    */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    pcaBasis(spark, dir)
      .select(col("dim"),
        r6(col("vu").cast("double") /
          sqrt(col("l2").cast("double"))).as("loading"),
        r6(col("quad6").cast("double") / col("l2") * col("m")
          / 1000000 / 1000000 / col("n")).as("eigenvalue"),
        r6(col("quad6").cast("double") / col("l2") * col("m")
          / 1000000 / col("tr")).as("var_share"))
      .orderBy(col("dim"))
  }

  def buildPcaBasis(spark: SparkSession, dir: String,
      path: String): Unit = {
    def norm6(df: DataFrame, v: Column, keep: Seq[Column]): DataFrame = {
      val m = broadcast(df.agg(max(abs(v)).as("mx")).localCheckpoint(false))
      df.crossJoin(m)
        .select(keep :+ units(v.cast("double") / col("mx").cast("double"),
          1000000).as("v"): _*)
    }
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir),
      col("vec_id"))
    val mu = broadcast(dimMeansU6(e).localCheckpoint(false))
    // centered 1e-6-unit integer vectors, materialized through the
    // checkpoint so the explode below reads attributes (the Generate
    // re-eval trap: a deferred zip_with would re-run 64× per element)
    val centered = e.crossJoin(mu)
      .select(col("vec_id"), zip_with(col("embedding"), col("muarr"),
        (x, m) => units(x.cast("double"), 1000000)
          - m).as("carr"))
      .localCheckpoint(false)
    // upper-triangle scatter: explode dims, then pair each dim with its
    // tail slice (e = d + pos), partial-agg map-side to 2080 keys
    val upper = centered
      .select(col("vec_id"), posexplode(col("carr")).as(Seq("d", "cd")),
        col("carr"))
      .select(col("d"), col("cd"),
        posexplode(slice(col("carr"), col("d") + 1, lit(64) - col("d")))
          .as(Seq("p", "ce")))
      .groupBy(col("d"), (col("d") + col("p")).as("e"))
      .agg(sum(d38(col("cd") * col("ce"))).as("c12"))
      // rescale once to 1e-6 units: every later product fits BIGINT
      .select(col("d"), col("e"),
        floor(col("c12").cast("double") / 1000000 + lit(0.5)).cast("long")
          .as("c6"))
    val cov = upper.unionByName(
        upper.filter(col("d") =!= col("e"))
          .select(col("e").as("d"), col("d").as("e"), col("c6")))
      .localCheckpoint(false)
    val trace = broadcast(cov.filter(col("d") === col("e"))
      .agg(sum(col("c6")).as("tr")).localCheckpoint(false))
    // squared operator, max-normalized to 1e6-scale integers per round
    var s = norm6(cov, col("c6"), Seq(col("d"), col("e")))
      .localCheckpoint(false)
    for (_ <- 1 to PcaSquarings) {
      val p = s.select(col("d").as("pd"), col("e").as("k"),
          col("v").as("va"))
        .join(s.select(col("d").as("k"), col("e").as("pe"),
          col("v").as("vb")), Seq("k"))
        .groupBy(col("pd"), col("pe"))
        .agg(sum(col("va") * col("vb")).as("pv"))
      s = norm6(p, col("pv"),
        Seq(col("pd").as("d"), col("pe").as("e"))).localCheckpoint(false)
    }
    var v = spark.range(64).select(col("id").cast("int").as("e"),
      lit(125000L).as("v")).localCheckpoint(false)
    for (_ <- 1 to PcaPowerRounds) {
      val w = s.join(broadcast(v.select(col("e").as("k"),
          col("v").as("vu"))), col("e") === col("k"))
        .groupBy(col("d")).agg(sum(col("v") * col("vu")).as("w"))
      v = norm6(w, col("w"), Seq(col("d").as("e"))).localCheckpoint(false)
    }
    // Rayleigh quotient on the ORIGINAL scatter: λ = vᵀCv / vᵀv, with
    // the matvec max-rescaled once so the quadratic form stays BIGINT
    val rw = cov.join(broadcast(v.select(col("e").as("k"),
        col("v").as("vu"))), col("e") === col("k"))
      .groupBy(col("d")).agg(sum(col("c6") * col("vu")).as("w"))
    val rm = broadcast(rw.agg(max(abs(col("w"))).as("m")).localCheckpoint(false))
    val w6 = rw.crossJoin(rm)
      .select(col("d"),
        units(col("w").cast("double") / col("m").cast("double"), 1000000)
          .as("w6"))
    val quad = broadcast(w6.join(v, col("d") === col("e"))
      .agg(sum(col("v") * col("w6")).as("quad6")).localCheckpoint(false))
    val l2 = broadcast(v.agg(sum(col("v") * col("v")).as("l2"))
      .localCheckpoint(false))
    val nn = broadcast(e.agg(count(lit(1)).as("n")).localCheckpoint(false))
    val muRows = mu.select(posexplode(col("muarr")).as(Seq("dim", "mu")))
    val basis = v.select(col("e").as("dim"), col("v").as("vu"))
      .join(muRows, Seq("dim"))
      .crossJoin(quad).crossJoin(rm).crossJoin(l2).crossJoin(trace)
      .crossJoin(nn)
      .select(col("dim"), col("mu"), col("vu"), col("quad6"), col("m"),
        col("l2"), col("tr"), col("n"))
    graft.sources.Sinks.writeSortedParquet(basis, path, Seq("dim"))
  }

  /** pca_project histogram bin width (in unit-eigenvector projection
    * units).
    */
  val PcaBinWidth = 0.05

  /** pca_project: the corpus DISTRIBUTION along the top principal
    * component — every vector's centered projection onto the persisted
    * unit eigenvector, as a fixed-width histogram. The read-out that
    * says whether PC1 carries structure (bimodal → two populations →
    * split before quantizing) or noise (one tight mode), and the
    * whitening sanity check after any re-embed. Pure consumer of the
    * [[pcaBasis]] artifact.
    *
    * Parity: the projection Σ cu_d·vu_d is an exact integer (1e-6-unit
    * centered values × the stored integer eigenvector — |Σ| ≤ 64·2·10¹²),
    * normalized once by the stored exact ‖v‖² in a fixed-order double
    * expression; the bin floor applies to identical doubles on both
    * engines.
    *
    * Scale shape: one map pass over the vectors (the HOF dot product
    * reads attributes only) into a bin-bounded partial agg.
    */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val b = pcaBasis(spark, dir)
    val arrs = broadcast(b.groupBy().agg(
      collectSorted("dim", "mu").as("muarr"),
      collectSorted("dim", "vu").as("vuarr"),
      max(col("l2")).as("l2")).localCheckpoint(false))
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir),
      col("vec_id"))
    val cu = zip_with(col("embedding"), col("muarr"),
      (x, m) => units(x.cast("double"), 1000000)
        - m)
    val pu = aggregate(zip_with(cu, col("vuarr"), (a, v) => a * v),
      lit(0L), (acc, x) => acc + x)
    e.crossJoin(arrs)
      .select(floor(pu.cast("double") / sqrt(col("l2").cast("double"))
        / 1000000 / PcaBinWidth).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_vectors"))
      .select(col("bin"), (col("bin") * PcaBinWidth).as("bin_lo"),
        col("n_vectors"))
      .orderBy(col("bin"))
  }

  /** Binary-quantization serving depth (matches the ANN leaderboard's
    * recall@3 convention).
    */
  val BqK = 3

  /** mu6 in the key = the [[dimMeansU6]] centering; a change to the
    * centering convention must miss the cache (see [[pcaBasisPath]]).
    */
  def bqCodesPath(dir: String): String =
    IndexStore.path("bq-codes-mu6-v1", dir)

  /** Build the binary-quantization code table: one sign bit per
    * dimension against the per-dim corpus mean ([[dimMeansU6]] — the
    * same centering as pca_power), packed into two 32-bit halves of a
    * long each (a single 64-bit word in production; split so the
    * oracle's BIGINT shift never overflows at bit 63). 16 bytes per
    * vector — the 1-bit quantizer every binary-embedding serving stack
    * (BQ in pgvector/faiss terms) probes before exact rerank.
    */
  /** The FROZEN per-dim thresholds the codes were built under,
    * persisted beside them so the incremental append
    * ([[appendToBqCodes]]) encodes under the add-after-train contract
    * instead of re-deriving means from a corpus that has since grown.
    */
  def bqThresholdsPath(dir: String): String =
    IndexStore.path("bq-thr-mu6-v1", dir)

  def buildBqCodes(spark: SparkSession, dir: String, path: String): Unit = {
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir),
      col("vec_id"))
    val mu = dimMeansU6(e).localCheckpoint(false)
    val codes = e.crossJoin(broadcast(mu))
      .select(col("vec_id"), bqBitsOf(col("embedding")).as("bits"))
      .select(col("vec_id"), posexplode(col("bits")).as(Seq("d", "b")))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("d") < 32, col("b") * expr("shiftleft(1L, d)"))
        .otherwise(0L)).as("lo"),
        sum(when(col("d") >= 32, col("b") * expr("shiftleft(1L, d - 32)"))
          .otherwise(0L)).as("hi"))
    graft.sources.Sinks.writeSortedParquet(codes, path, Seq("vec_id"))
    mu.write.mode("overwrite").option("compression", "zstd")
      .parquet(bqThresholdsPath(dir))
  }

  /** Sign bits of a vector against the in-scope `muarr` threshold
    * array — shared by the build and the frozen-threshold append.
    */
  private def bqBitsOf(v: Column): Column =
    zip_with(v, col("muarr"),
      (x, m) => when(units(x.cast("double"), 1000000) > m, 1L).otherwise(0L))

  def bqCodes(spark: SparkSession, dir: String): DataFrame = {
    val path = bqCodesPath(dir)
    IndexStore.ensureBuilt(path)(buildBqCodes(spark, dir, path))
    Tables.read(spark, path)
  }

  /** Incremental encode-and-append into the persisted BQ code table:
    * new vectors take their sign bits against the FROZEN persisted
    * thresholds ([[bqThresholdsPath]] — NOT re-derived corpus means;
    * threshold drift is what [[bqBitBalance]]/[[bqRethreshold]] price
    * and act on), appended as new sorted-within-file code rows. A
    * repeated append is a no-op; the periodic [[buildBqCodes]] rebuild
    * re-sorts and re-centers.
    */
  def appendToBqCodes(spark: SparkSession, dir: String,
      newVecs: DataFrame): Unit = {
    val path = bqCodesPath(dir)
    IndexStore.ensureBuilt(path)(buildBqCodes(spark, dir, path))
    val mu = broadcast(Tables.read(spark, bqThresholdsPath(dir)))
    Sinks.appendNew(newVecs.select(col("vec_id"), col("embedding"))
      .crossJoin(mu)
      .select(col("vec_id"), bqBitsOf(col("embedding")).as("bits"))
      .select(col("vec_id"), posexplode(col("bits")).as(Seq("d", "b")))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("d") < 32, col("b") * expr("shiftleft(1L, d)"))
        .otherwise(0L)).as("lo"),
        sum(when(col("d") >= 32, col("b") * expr("shiftleft(1L, d - 32)"))
          .otherwise(0L)).as("hi")),
      path, "vec_id", Seq("vec_id"), sort = Seq("vec_id"))
  }

  /** The Hamming pair stream (q_id, neighbor_id, hamming) for the
    * sampled eval queries over the persisted codes — shared by
    * [[bqTopk]] and [[bqRerank]].
    */
  private def bqHams(spark: SparkSession, dir: String): DataFrame =
    bqHamsOf(bqCodes(spark, dir))

  /** The Hamming pair stream over ANY (vec_id, lo, hi) code frame —
    * shared by the persisted-code probes and the re-threshold arm.
    */
  private def bqHamsOf(c: DataFrame): DataFrame = {
    val q = c.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("lo").as("qlo"),
        col("hi").as("qhi"))
    c.join(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("int")
          .as("hamming"))
  }

  /** Top-k of the Hamming stream by COUNTING SORT: the distance
    * alphabet has only 65 values, so instead of shuffling |q|·|corpus|
    * scored rows through a per-query sort window, a map-side partial
    * agg collapses them to a ≤65-row histogram per query, the k-th
    * boundary value reads off the tiny cumulative grid, and only rows
    * at-or-under the boundary (≤ k−1 plus the boundary tie group)
    * survive to a window. At the 100× probe this was the difference
    * between an 85 s exchange-sort and a map-shaped scan — the
    * hist_quantiles never-total-order rule applied to top-k.
    */
  private def hammingTopK(hams: DataFrame, k: Int): DataFrame = {
    val hist = hams.groupBy(col("q_id"), col("hamming"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("q_id")).orderBy(col("hamming"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val thr = hist
      .withColumn("cb", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .filter(col("cb") < k)
      .groupBy(col("q_id")).agg(max(col("hamming")).as("hstar"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    hams.join(broadcast(thr), Seq("q_id"))
      .filter(col("hamming") <= col("hstar"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** bq_topk: Hamming-distance top-k over the persisted binary codes
    * for the sampled eval queries — the coarse arm of a
    * binary-quantized serving stack. The scan side is 16 bytes/vector
    * (the POINT of BQ: a 100 TB float corpus becomes a ~200 GB bit
    * table probed by XOR+popcount, the cheapest possible first-stage
    * filter); candidates are every other vector, ties break by id.
    * Ranking is the counting-sort [[hammingTopK]] — the scored stream
    * never shuffles.
    */
  def bqTopk(spark: SparkSession, dir: String): DataFrame =
    hammingTopK(bqHams(spark, dir), BqK)
      .select(col("q_id"), col("neighbor_id"), col("hamming"),
        col("rank"))
      .orderBy(col("q_id"), col("rank"))

  /** Rerank depths swept by [[bqRerank]]. */
  val BqRerankDepths: Seq[Int] = Seq(10, 50, 200)

  /** bq_rerank: the PRODUCTION two-stage BQ serving curve — Hamming
    * gate to the top-R candidates (XOR+popcount over the 16-byte
    * codes), exact cosine rerank of those R, recall@3 vs the persisted
    * dense truth per R ∈ [[BqRerankDepths]]. This answers bq_recall's
    * verdict ("raw 64-bit codes read ~0.4 recall — gate a rerank"):
    * the table shows how shallow the exact stage can stay — the
    * nprobe_curve posture applied to binary quantization, and the
    * operating-point read-out a 100 TB BQ deployment tunes by (scan
    * cost is R float vectors per query instead of the corpus).
    *
    * The scored candidate frame is shared once across the three depth
    * arms.
    */
  def bqRerank(spark: SparkSession, dir: String): DataFrame = {
    val exact = truthSample(spark, dir, BqK)
      .localCheckpoint(false) // feeds every depth arm
    val cands = hammingTopK(bqHams(spark, dir), BqRerankDepths.max)
      .select(col("q_id"), col("neighbor_id"),
        col("rank").as("hrank"))
    val e = Tables.embeddings(spark, dir)
    val qe = broadcast(evalQueries(e).select(col("q_id").as("q2"), col("qe")))
    val scored = cands
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      .join(qe, col("q_id") === col("q2"))
      .select(col("q_id"), col("neighbor_id"), col("hrank"),
        cosineSim(col("embedding"), col("qe")).as("s"))
      .localCheckpoint(false) // one exact-score pass, three depth arms
    def arm(r: Int): DataFrame =
      recallMicro(exact, topK(scored.filter(col("hrank") <= r), BqK), BqK)
        .select(lit(r).as("rerank_depth"), col("n_queries"), col("recall"))
    BqRerankDepths.map(arm).reduce(_ unionByName _)
      .orderBy(col("rerank_depth"))
  }

  /** bq_recall: recall@3 of the 1-bit Hamming arm against the persisted
    * dense exact truth — the accuracy price of 64-bit codes, read next
    * to index_recall's float-arm leaderboard (FAISS's standing BQ
    * question: is popcount recall good enough to gate the rerank?).
    */
  def bqRecall(spark: SparkSession, dir: String): DataFrame =
    recallPerQuery(truthSample(spark, dir, BqK), bqTopk(spark, dir), BqK)
      .orderBy(col("q_id"))

  // --- BQ re-threshold (the binary quantizer's maintenance loop:
  //     audit → receipt → acceptance gate, mirroring sq_refit /
  //     pq_refresh / ivf_rebalance). The 1-bit code's information is
  //     maximal when each dimension's threshold sits at its MEDIAN —
  //     the mean threshold buildBqCodes ships drifts away from it on
  //     skewed dims, and a dim coding 90% ones carries ~0.5 bits ------

  /** Balance flag bound in 1e-4 share units: a dim whose ones share is
    * more than 200/10000 (= 0.02) from 0.5 is flagged for re-threshold.
    * Integer-exact on both engines (|10000·ones − 5000·n| > 200·n).
    */
  val BqBalanceBound10k = 200L

  /** bq_bit_balance: the BIT-BALANCE audit of the persisted BQ codes —
    * per dimension: vector count, ones count/share, and the flag
    * ([[BqBalanceBound10k]]). A skewed dim means the mean threshold
    * sits off the median and the bit carries less than its bit of
    * information — the diagnosis [[bqRethreshold]] acts on (FAISS's
    * sign-quantizer balance check run as a standing audit).
    *
    * Plan: pure artifact consumer — one 64-way bit unpack of the code
    * table (attribute-read-only per emitted element), one |dims|-row
    * partial agg.
    */
  def bqBitBalance(spark: SparkSession, dir: String): DataFrame = {
    bqCodes(spark, dir)
      .select(col("vec_id"), col("lo"), col("hi"),
        posexplode(sequence(lit(0), lit(63))).as(Seq("p", "d")))
      .select(col("d").cast("int").as("d"),
        when(col("d") < 32, expr("shiftright(lo, CAST(d AS INT))"))
          .otherwise(expr("shiftright(hi, CAST(d - 32 AS INT))"))
          .bitwiseAND(lit(1L)).as("b"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("b")).as("n_ones"))
      .select(col("d"), col("n_vecs"), col("n_ones"),
        r4(col("n_ones").cast("double") / col("n_vecs")).as("ones_share"),
        (abs(lit(10000L) * col("n_ones") - lit(5000L) * col("n_vecs"))
          > lit(BqBalanceBound10k) * col("n_vecs")).as("flagged"))
      .orderBy(col("d"))
  }

  /** Per-dim lower MEDIAN on the 1e-6 integer value grid (value at rank
    * ⌈n/2⌉ under (value, id) order — rank blocks over tied values, the
    * sqRefitBounds machinery at the 50% rank). Windows PARTITIONED by
    * dim; the grid is |dims| × |distinct values|, never the corpus.
    */
  private def bqMedians(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.cpuPartition(Tables.embeddings(spark, dir),
        col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d"), units(col("x").cast("double"), 1000000).as("xu"))
      .groupBy(col("d"), col("xu")).agg(count(lit(1)).as("c"))
    val wIn = Window.partitionBy(col("d")).orderBy(col("xu"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cb", coalesce(sum(col("c")).over(wIn), lit(0L)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("d"))))
      .withColumn("rmed", expr("(n + 1) div 2"))
      .filter(col("cb") < col("rmed") &&
        col("rmed") <= col("cb") + col("c"))
      .select(col("d"), col("xu").as("med"))
  }

  /** The per-dim threshold table of the re-threshold arm: old = the
    * shipped mean threshold, new = the median for FLAGGED dims (else
    * old) — flags read from [[bqBitBalance]], the audit this loop
    * exists to consume. ≤64 rows, broadcast by every consumer.
    */
  private def bqThresholds(spark: SparkSession, dir: String): DataFrame = {
    val mu = dimMeanRows(Tables.cpuPartition(
      Tables.embeddings(spark, dir), col("vec_id")))
    val flg = bqBitBalance(spark, dir).select(col("d"), col("flagged"))
    mu.join(bqMedians(spark, dir), Seq("d")).join(flg, Seq("d"))
      .select(col("d"), col("mu"),
        when(col("flagged"), col("med")).otherwise(col("mu"))
          .as("new_thr"),
        col("flagged"))
  }

  /** bq_rethreshold: the re-threshold RECEIPT — per dimension: the old
    * (mean) and new (median, flagged dims only) thresholds, ones
    * count/share before and after, and the integer code churn (vectors
    * whose bit flips = the mass between the two thresholds). Untouched
    * dims are computed through the same expressions and provably read
    * identical before/after with zero flips — the receipt proves the
    * blast radius, the pq_refresh discipline.
    *
    * Plan: one component explode joined to the broadcast 64-row
    * threshold table, one |dims|-row partial agg.
    */
  def bqRethreshold(spark: SparkSession, dir: String): DataFrame = {
    Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d"), units(col("x").cast("double"), 1000000).as("xu"))
      .join(broadcast(bqThresholds(spark, dir)), Seq("d"))
      .groupBy(col("d"), col("mu"), col("new_thr"), col("flagged"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("xu") > col("mu"), 1L).otherwise(0L))
          .as("ones_before"),
        sum(when(col("xu") > col("new_thr"), 1L).otherwise(0L))
          .as("ones_after"),
        sum(when((col("xu") > col("mu")) =!= (col("xu") > col("new_thr")),
          1L).otherwise(0L)).as("n_flips"))
      .select(col("d"), col("flagged"), col("mu").as("old_thr"),
        col("new_thr"), col("n_vecs"), col("ones_before"),
        col("ones_after"),
        r4(col("ones_before").cast("double") / col("n_vecs"))
          .as("share_before"),
        r4(col("ones_after").cast("double") / col("n_vecs"))
          .as("share_after"),
        col("n_flips"))
      .orderBy(col("d"))
  }

  /** bq_rethreshold_recall: the re-threshold ACCEPTANCE gate —
    * Hamming-arm recall@[[BqK]] against the persisted dense truth,
    * shipped codes (`base`) vs median-rethresholded codes (`refit`),
    * one micro row per arm (the go/no-go read before swapping the code
    * table, rebalance_recall's shape for the BQ family).
    *
    * Plan: base arm reads the persisted codes; the refit arm re-packs
    * codes in one explode + broadcast-threshold pass (the buildBqCodes
    * shape); each arm is a counting-sort top-k + a dense-truth join.
    */
  def bqRethresholdRecall(spark: SparkSession, dir: String): DataFrame = {
    // the truth slice and the refit code table share no frames: BUILD
    // in parallel (Par.build) instead of queueing their waves
    val Seq(exact, refitCodes) = Par.build(Seq(
      () => truthSample(spark, dir, BqK)
        .localCheckpoint(false), // feeds both arms
      () => Tables.cpuPartition(
        Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding"))
        .as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        units(col("x").cast("double"), 1000000).as("xu"))
      .join(broadcast(bqThresholds(spark, dir)), Seq("d"))
      .select(col("vec_id"), col("d"),
        when(col("xu") > col("new_thr"), 1L).otherwise(0L).as("b"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("d") < 32, col("b") * expr("shiftleft(1L, d)"))
        .otherwise(0L)).as("lo"),
        sum(when(col("d") >= 32,
          col("b") * expr("shiftleft(1L, d - 32)")).otherwise(0L))
          .as("hi"))
      // 16 bytes/vector, consumed TWICE by the counting-sort top-k
      // (histogram pass + boundary pass): unmaterialized, the whole
      // explode + threshold-table chain — including bqThresholds'
      // three corpus passes — re-ran per consumer
      .localCheckpoint(false)))
    def arm(hams: DataFrame): DataFrame =
      recallMicro(exact, hammingTopK(hams, BqK), BqK)
    gate("base" -> arm(bqHams(spark, dir)),
      "refit" -> arm(bqHamsOf(refitCodes)))
  }

  // --- graph ANN (the HNSW-shaped family, declaratively: a persisted
  //     approximate kNN graph + IVF entry + FIXED-ROUND beam
  //     refinement — the DiskANN/Vamana serving shape (Subramanya et
  //     al., NeurIPS'19) rather than HNSW's sequential insert, which
  //     SURVEY §5 documents as having no faithful declarative plan.
  //     The walk crosses cell boundaries, recovering exactly the
  //     misses ann_miss_audit attributes to the quantizer) -------------

  /** Graph out-degree before symmetrization (built from each vector's
    * own nprobe-2 IVF probe — candidate generation bounded by cell
    * sizes, never all-pairs: the NN-Descent-grade approximate build).
    */
  val GraphK = 8

  /** Search knobs: entry pool from the query's nprobe-1 probe, beam
    * width per round, unrolled expansion rounds. Single-sourced into
    * the oracle SQL.
    */
  val GraphEntries = 4
  val GraphBeam = 4
  val GraphRounds = 3

  def knnGraphPath(dir: String): String =
    IndexStore.path(s"knn-graph-k$GraphK-v1", dir)

  /** Build the symmetrized approximate kNN graph: every vector probes
    * its nprobe-2 cells of the persisted IVF index, keeps its top-
    * [[GraphK]] by cosine, and edges are unioned with their reverses
    * (an undirected navigable graph — Vamana's starting point). Work
    * is bounded by cell sizes (the IVF-build class); persisted sorted
    * on src so per-round expansions read contiguous runs.
    */
  /** The symmetrized top-[[GraphK]] edge set of `gvs` probing their
    * nprobe-2 cells against `members` — shared by the full build
    * (gvs = corpus, members = the inverted lists), the append write
    * path (gvs = the batch, members = lists ∪ batch), and the
    * appended-graph artifact's base arm (both sides delta-free).
    */
  private def knnEdges(idx: IvfFlatIndex, gvs: DataFrame,
      members: DataFrame, pinned: Boolean = false): DataFrame = {
    val probes = probeCells(gvs.select(col("vec_id").as("q_id"),
        col("embedding").as("qe")), idx.coarse, 2)
      .select(col("q_id").as("gv"), col("qe").as("ve"), col("cid").as("pcid"))
    // The join key has only KMEANS_K values, so AQE coalesces the
    // byte-small join to one task that scores every candidate pair;
    // `pinned` holds both sides at the shuffle parallelism. The full
    // builds pin; the batch-sized append path stays unpinned (pinning it
    // measured slower).
    val (m, p) =
      if (pinned) (Tables.cpuPartition(members, col("ccell")),
        Tables.cpuPartition(probes, col("pcid")))
      else (members, probes)
    val wK = Window.partitionBy(col("gv")).orderBy(col("s").desc, col("nv"))
    val edges = m.hint("merge")
      .join(p.hint("merge"), col("ccell") === col("pcid"))
      .filter(col("vec_id") =!= col("gv"))
      .select(col("gv"), col("vec_id").as("nv"),
        cosineSim(col("embedding"), col("ve")).as("s"))
      .withColumn("rk", row_number().over(wK)).filter(col("rk") <= GraphK)
      .select(col("gv").as("src"), col("nv").as("dst"))
    edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  def buildKnnGraph(spark: SparkSession, dir: String, path: String): Unit = {
    val idx = ivfFlatIndex(spark, dir)
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir),
      col("vec_id"))
    graft.sources.Sinks.writeSortedParquet(
      knnEdges(idx, e, idx.lists, pinned = true), path, Seq("src"))
  }

  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, builtKnnGraph(spark, dir))

  /** [[knnGraphPath]], built on first use per JVM. */
  private def builtKnnGraph(spark: SparkSession, dir: String): String = {
    val path = knnGraphPath(dir)
    IndexStore.ensureBuilt(path)(buildKnnGraph(spark, dir, path))
    path
  }

  // --- append staleness receipt (r14): the kNN graph accepts
  //     incremental inserts (appendToKnnGraph) but base nodes keep
  //     their pre-arrival out-edges — the receipt prices that
  //     staleness and decides when the compaction rebuild is due ------

  def appendedKnnGraphPath(dir: String): String =
    IndexStore.path(s"knn-graph-app-k$GraphK-v1", dir)

  /** Build the APPENDED-graph artifact: the base (non-delta) corpus's
    * graph built batch-style over base members only, then the delta
    * split absorbed through the REAL append write path
    * ([[Sinks.appendNew]] — frozen quantizer, batch-visible members,
    * dedupe against the base edges). This is the graph a standing
    * ingest actually serves between rebuilds; [[knnGraph]] is its
    * full-rebuild compaction target, and [[appendRecall]] /
    * [[appendChurn]] read the gap between them.
    */
  def buildAppendedKnnGraph(spark: SparkSession, dir: String,
      path: String): Unit = {
    val idx = ivfFlatIndex(spark, dir)
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir),
      col("vec_id"))
    val base = e.filter(!Dedup.isDelta(col("vec_id")))
    val baseLists = idx.lists.filter(!Dedup.isDelta(col("vec_id")))
    graft.sources.Sinks.writeSortedParquet(
      knnEdges(idx, base, baseLists, pinned = true), path, Seq("src"))
    Sinks.appendNew(
      knnEdges(idx, e.filter(Dedup.isDelta(col("vec_id"))), idx.lists),
      path, "src", Seq("src", "dst"))
  }

  def appendedKnnGraph(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, builtAppendedKnnGraph(spark, dir))

  /** [[appendedKnnGraphPath]], built on first use per JVM. */
  private def builtAppendedKnnGraph(spark: SparkSession,
      dir: String): String = {
    val path = appendedKnnGraphPath(dir)
    IndexStore.ensureBuilt(path)(buildAppendedKnnGraph(spark, dir, path))
    path
  }

  /** append_recall: the graph-append STALENESS receipt — recall@3 vs
    * the persisted dense truth for BOTH the appended graph (base build
    * + real-append absorption of the delta split) and the full
    * rebuild, one row per arm. The append design keeps the entry pool
    * fresh (it reads the inverted lists) and symmetrizes reverse edges
    * into base nodes, so the arms usually agree; the gap that opens as
    * appends accumulate is exactly what this row prices — the
    * ann_recall posture applied to the insert path, paired with
    * [[appendChurn]]'s rebuild trigger.
    *
    * Plan: two in-task walks ([[graphWalk]], one per artifact) whose
    * top-3 each meet one checkpointed truth read; no corpus rescans.
    */
  def appendRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = truthSample(spark, dir, 3)
      .localCheckpoint(false) // feeds both arms
    def arm(graph: String): DataFrame =
      recallMicro(exact, topK(graphWalk(spark, dir, graph)
          .withColumnRenamed("vec_id", "neighbor_id"), 3), 3)
    gate("appended" -> arm(builtAppendedKnnGraph(spark, dir)),
      "rebuilt" -> arm(builtKnnGraph(spark, dir)))
  }

  /** Rebuild triggers for [[appendChurn]]: appended-edge mass share
    * (how much of the serving graph bypassed the batch build) and the
    * served-result churn share between the arms. Either breaching its
    * ceiling flags the compaction rebuild — the rebalance_churn
    * decision posture applied to the append path.
    */
  val AppShareMax = 0.25
  val AppChurnMax = 0.2

  /** append_churn: the compaction-trigger row — appended-edge mass
    * (edges with a delta endpoint) as a share of the serving graph,
    * plus the share of queries whose served top-3 differs between the
    * appended graph and the full rebuild, and the resulting
    * rebuild_due decision. One row; consumed by the same maintenance
    * loop that acts on ivf_rebalance/sq_refit/bq_rethreshold.
    *
    * Plan: an edge-mass aggregate over the appended artifact beside two
    * in-task walks ([[graphWalk]]), whose top-3 meet in one full outer
    * join per (q, n).
    */
  def appendChurn(spark: SparkSession, dir: String): DataFrame = {
    val app = builtAppendedKnnGraph(spark, dir)
    val edges = Tables.read(spark, app).agg(count(lit(1)).as("n_edges"),
      sum(when(Dedup.isDelta(col("src")) || Dedup.isDelta(col("dst")),
        1L).otherwise(0L)).as("n_appended"))
    def top3(graph: String, in: String): DataFrame =
      topK(graphWalk(spark, dir, graph)
          .withColumnRenamed("vec_id", "neighbor_id"), 3)
        .select(col("q_id").as("q"), col("neighbor_id").as("n"),
          lit(true).as(in))
    val ch = top3(app, "ia")
      .join(top3(builtKnnGraph(spark, dir), "ir"), Seq("q", "n"), "full_outer")
      .groupBy(col("q"))
      .agg(max(when(col("ia").isNull || col("ir").isNull, 1L)
        .otherwise(0L)).as("chg"))
      .agg(count(lit(1)).as("n_queries"), sum(col("chg")).as("n_changed"))
    edges.crossJoin(ch)
      .select(col("n_edges"), col("n_appended"),
        r4(col("n_appended").cast("double") / col("n_edges"))
          .as("append_share"),
        col("n_queries"), col("n_changed"),
        r4(col("n_changed").cast("double") / col("n_queries"))
          .as("churn"))
      .select(col("*"),
        (col("append_share") > AppShareMax ||
          col("churn") > AppChurnMax).as("rebuild_due"))
  }

  /** Batch-incremental INSERT into the persisted kNN graph — HNSW's
    * operational insert path without its sequential dependence:
    * arriving vectors route via the FROZEN coarse quantizer (the
    * add-after-train contract, like [[appendToIvfFlat]]), connect to
    * their top-[[GraphK]] among the probed cells' current members PLUS
    * the batch itself (batch members are visible in their assigned
    * cell), and land as APPENDED edge files — out-edges and their
    * reverses, so the symmetrization invariant is maintained
    * incrementally and the walk reaches the new vectors immediately.
    * Existing files are never rewritten; the periodic full rebuild
    * ([[buildKnnGraph]]) is the compaction step — the batched Vamana
    * insert, with inserts inside a batch independent (one bounded
    * join, no graph-walk-per-insert).
    *
    * ORDERING CONTRACT: call [[appendToIvfFlat]] with the same batch
    * FIRST. The candidate members come from the index's inverted
    * lists, so a batch appended to the graph but not the index is
    * invisible to later batches' connection step (its edges still
    * serve walks — it just stops attracting new in-edges until the
    * rebuild). The ingest twin of FAISS's add-then-link order.
    *
    * Appended files are sorted within themselves but not merged into
    * the store's global (src) sort — contiguous-run reads degrade
    * toward per-file runs as appends accumulate, and the full rebuild
    * is ALSO the re-sort/compaction step. Edges are deduped against
    * the existing graph (not just within the batch), so overlapping
    * or repeated appends cannot multiply edge rows: the store scan is
    * pruned map-side to the batch's node set (the touched-buckets
    * pattern — batch-sized broadcast, store never shuffled) before a
    * batch-bounded anti-join.
    */
  def appendToKnnGraph(spark: SparkSession, dir: String,
      newVecs: DataFrame): Unit = {
    val idx = ivfFlatIndex(spark, dir)
    val path = builtKnnGraph(spark, dir)
    val nv = newVecs.select(col("vec_id"), col("embedding"))
      .localCheckpoint(false) // probes + batch-visibility union both read it
    val members = idx.lists
      .select(col("vec_id"), col("embedding"), col("ccell"))
      .unionByName(assign(nv, idx.coarse)
        .select(col("vec_id"), col("embedding"), col("cid").as("ccell")))
    Sinks.appendNew(knnEdges(idx, nv, members), path, "src",
      Seq("src", "dst"))
  }

  /** ann_graph: graph-refined ANN serving — entry pool = the query's
    * nprobe-1 IVF probe top-[[GraphEntries]]; then [[GraphRounds]]
    * best-first rounds, each expanding the current
    * top-[[GraphBeam]] of the visited set along the persisted graph
    * and rescoring; answer = top-3 of everything visited. One probed
    * cell plus three bounded expansions per query — the walk follows
    * edges across cell boundaries, recovering neighbors the single
    * probed cell misses (the ann_miss_audit class) at a per-query cost
    * of ≤ [[GraphBeam]]·2·[[GraphK]] rescored rows per round instead
    * of another full cell scan.
    *
    * Plan: the entry pool is a Spark frame over the index artifact
    * (centroid broadcast, per-query windows); the rounds run in-task
    * ([[graphWalk]]) against one capped broadcast of the graph and the
    * vectors; a per-query rank window cuts the top-3. The corpus is
    * read once, for that broadcast.
    */
  def annGraph(spark: SparkSession, dir: String): DataFrame =
    served(graphWalk(spark, dir, builtKnnGraph(spark, dir)), 3,
      round(col("s"), 6).as("sim"), id = "vec_id")
      .orderBy(col("q_id"), col("rank"))

  /** Cap on the walk's broadcast, in [[requireWalkFits]]' bytes: about
    * 129k vectors with a 16-edge adjacency each. A corpus past it fails
    * the walk loudly rather than shipping an unbounded broadcast to
    * every executor.
    */
  val WalkBroadcastCap: Long = 64L << 20

  /** Payload bytes of a walk broadcast — a (src, dst) id pair per edge,
    * an id plus [[DIM]] floats per vector — failing past
    * [[WalkBroadcastCap]].
    */
  private[graft] def requireWalkFits(nEdges: Long, nVectors: Long): Long = {
    val bytes = 16L * nEdges + nVectors * (8L + 4L * DIM)
    if (bytes > WalkBroadcastCap) throw new IllegalStateException(
      s"graph walk broadcast is $bytes bytes ($nEdges edges, $nVectors " +
        s"vectors), over its $WalkBroadcastCap-byte cap")
    bytes
  }

  /** What every walk task reads: the walked graph's out-edges and the
    * embeddings table's vectors, by id.
    */
  private[graft] final case class WalkGraph(adj: Map[Long, Array[Long]],
      vecs: Map[Long, ArrayData])

  private def floats(r: Row, i: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](i).toArray)

  /** One query's rounds. The entry `pool` is round 0 and the first
    * frontier; round r follows the frontier's out-edges, scores each
    * neighbour the embeddings table holds (never `qId`), and the next
    * frontier is the top [[GraphBeam]] of everything visited by
    * (s desc, vec_id), expanded nodes included. A vector reached twice
    * keeps its larger score and its first round. Scores order as in
    * Spark: NaN above every number (a cosine is never -0.0).
    */
  private[graft] def walkRounds(wg: WalkGraph, qId: Long, qe: ArrayData,
      pool: Seq[(Long, Double)]): Iterator[(Long, Long, Double, Int)] = {
    val vis = scala.collection.mutable.HashMap[Long, (Double, Int)]()
    def visit(v: Long, s: Double, r: Int): Unit =
      vis(v) = vis.get(v).fold((s, r)) { case (s0, r0) => (s max s0, r0) }
    pool.foreach { case (v, s) => visit(v, s, 0) }
    var frontier: Seq[Long] = vis.keys.toSeq
    for (r <- 1 to GraphRounds) {
      frontier.flatMap(v => wg.adj.getOrElse(v, Array.emptyLongArray))
        .distinct.filter(_ != qId)
        .foreach(n => wg.vecs.get(n)
          .foreach(e => visit(n, CosineSimilarity.of(e, qe), r)))
      frontier = vis.toSeq.map { case (v, (s, _)) => (s, v) }
        .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse,
          Ordering.Long)).take(GraphBeam).map(_._2)
    }
    vis.iterator.map { case (v, (s, r)) => (qId, v, s, r) }
  }

  /** The beam walk over the edge table at `graph` (the persisted graph,
    * or the appended artifact for the append receipts), as its TRAIL
    * (q_id, vec_id, s, round): the entry pool is round 0 and each
    * vector carries the first round that reached it, so the visited
    * set after round r is `round <= r`.
    *
    * The entry pool is the query's nprobe-1 probe ([[probeCandidates]]),
    * top-[[GraphEntries]]: entries are scored with the inverted list's
    * own embedding, so appended vectors can enter and their out-edges
    * are followed. The rounds then run inside one task per query group
    * ([[walkRounds]]) against one broadcast of the adjacency and the
    * embeddings table's vectors, capped by [[WalkBroadcastCap]]; a
    * neighbour missing from that table is never visited. Both are
    * collected once per version of their files ([[Tables.readOnce]]):
    * an append to or a rebuild of the graph collects it again.
    */
  private[graft] def graphWalk(spark: SparkSession, dir: String,
      graph: String): DataFrame = {
    val entry = ranked(probeCandidates(spark, dir, ivfFlatIndex(spark, dir),
      1), GraphEntries, rank = "rk")
    val adj = Tables.readOnce(spark, graph)(_.select(col("src"), col("dst"))
      .collect().groupMap(_.getLong(0))(_.getLong(1)))
    val vecs = Tables.readOnce(spark, Tables.path(dir, "embeddings"))(
      _.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> floats(r, 1)).toMap)
    requireWalkFits(adj.valuesIterator.map(_.length.toLong).sum, vecs.size)
    val wg = spark.sparkContext.broadcast(WalkGraph(adj, vecs))
    import spark.implicits._
    // entry is already clustered by q_id (its window), so the grouping
    // adds no exchange
    entry.groupBy(col("q_id"))
      .agg(first(col("qe")).as("qe"),
        collect_list(struct(col("neighbor_id"), col("s"))).as("pool"))
      .flatMap(r => walkRounds(wg.value, r.getLong(0), floats(r, 1),
        r.getSeq[Row](2).map(p => (p.getLong(0), p.getDouble(1)))))
      .toDF("q_id", "vec_id", "s", "round")
  }

  /** beam_curve: the graph walk's OPERATING CURVE — per rounds r in
    * 1..[[GraphRounds]]: recall@3 vs the persisted dense truth and the
    * mean visited-set size per query (the rescoring bill). nprobe_curve
    * prices the IVF knob; this prices the walk's — the two tables a
    * deployment reads side by side when splitting its latency budget
    * between probed cells and expansion rounds.
    *
    * Plan: one checkpointed walk trail ([[graphWalk]]), sliced by a
    * broadcast of the rounds into one frame keyed by (rounds, q_id): a
    * rank window per key marks the top-3, a broadcast left join marks
    * the truth edges, and one aggregate per key counts the visited set
    * and the matches. `recall` is [[recallMicro]]'s: matches over
    * (truth queries · 3).
    */
  def beamCurve(spark: SparkSession, dir: String): DataFrame = {
    val exact = truthSample(spark, dir, 3)
      .localCheckpoint(false) // feeds the matches and the query count
    val trail = graphWalk(spark, dir, builtKnnGraph(spark, dir))
      .withColumnRenamed("vec_id", "neighbor_id")
      .localCheckpoint(false)
    val rounds = spark.range(1, GraphRounds + 1)
      .select(col("id").cast("int").as("rounds"))
    val perQuery = trail.join(broadcast(rounds), col("round") <= col("rounds"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("rounds"), col("q_id"))
          .orderBy(col("s").desc, col("neighbor_id"))))
      .join(broadcast(exact.select(col("q_id").as("tq"),
          col("neighbor_id").as("tn"))),
        col("q_id") === col("tq") && col("neighbor_id") === col("tn"), "left")
      .groupBy(col("rounds"), col("q_id"))
      .agg(count(lit(1)).as("nv"),
        count(when(col("rk") <= 3, col("tn"))).as("n_matched"))
    perQuery.groupBy(col("rounds"))
      .agg(sum(col("n_matched")).as("n_matched"),
        r2(sum(col("nv")).cast("double") / count(lit(1))).as("mean_visited"))
      .crossJoin(exact.agg(countDistinct(col("q_id")).as("n_queries")))
      .select(col("rounds"), col("n_queries"), col("n_matched"),
        r4(col("n_matched").cast("double") / (col("n_queries") * 3))
          .as("recall"), col("mean_visited"))
      .orderBy(col("rounds"))
  }

  /** Recall floor for [[roundsPick]] (relative to the best swept arm:
    * the walk serves whatever its geometry supports; the pick stops
    * paying rounds once they stop buying recall).
    */
  val RoundsRecallSlack = 0.95

  /** rounds_pick: the walk's AUTO-TUNED operating point — the smallest
    * rounds arm of [[beamCurve]] whose recall reaches
    * [[RoundsRecallSlack]] × the best swept recall, with its visited
    * bill. nprobe_pick closes the IVF audit loop, banding_pick the
    * LSH one; this closes the graph family's (the beam_curve table
    * reduced to the row a deployment actually sets).
    */
  def roundsPick(spark: SparkSession, dir: String): DataFrame = {
    val arms = beamCurve(spark, dir).localCheckpoint(false)
    val best = arms.agg(max(col("recall")).as("best"))
    val meets = col("recall") >=
      (floor(col("best") * lit(RoundsRecallSlack) * 10000) / 10000)
    val wPick = Window.orderBy(
      when(meets, 0).otherwise(1),
      when(meets, col("rounds").cast("double"))
        .otherwise(-coalesce(col("recall"), lit(0.0))),
      col("rounds"))
    arms.crossJoin(broadcast(best))
      .withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("rounds"), col("recall"), col("best").as("best_recall"),
        lit(RoundsRecallSlack).as("slack"), col("mean_visited"))
  }

  /** graph_degree: the persisted kNN graph's DEGREE audit — power-of-
    * two histogram of per-node degree (the symmetrized graph's fan-out:
    * bin 8 is the regular out-degree mass, higher bins are HUB nodes
    * whose reverse edges pile up — the hubness diagnosis materialized
    * in the index itself; a fat tail here is the signal to prune, as
    * Vamana's alpha-pruning does). Two partial aggs over the artifact.
    */
  def graphDegree(spark: SparkSession, dir: String): DataFrame = {
    val g = knnGraph(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(length(bin(deg)) AS INT) - 1)")
        .as("bin_lo"))
      .groupBy(col("bin_lo")).agg(count(lit(1)).as("n_nodes"))
      .localCheckpoint(false) // grid rows feed the share against the total
    val tot = broadcast(g.agg(sum(col("n_nodes")).as("t"))
      .localCheckpoint(false))
    g.crossJoin(tot)
      .select(col("bin_lo"), col("n_nodes"),
        r4(col("n_nodes").cast("double") / col("t")).as("node_share"))
      .orderBy(col("bin_lo"))
  }

  /** graph_recall: the graph arm's ACCEPTANCE audit — recall@3 vs the
    * persisted dense truth for the graph walk AND its own entry
    * baseline (the plain nprobe-1 IVF probe), one micro row per arm.
    * The read: the delta between the rows is what the graph walk buys
    * over the cell the query landed in — the boundary misses
    * recovered, priced in recall (the DiskANN acceptance read).
    *
    * Plan: [[annGraph]]'s in-task walk and the plain nprobe-1 probe,
    * each against one checkpointed truth read.
    */
  def graphRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = truthSample(spark, dir, 3)
      .localCheckpoint(false) // feeds both arms
    gate("graph" -> recallMicro(exact, annGraph(spark, dir), 3),
      "ivf_probe1" -> recallMicro(exact,
        annIvfKmeansProbe(spark, dir, ivfFlatIndex(spark, dir), 1), 3))
  }

  /** Matryoshka prefix dimensions audited by [[matryoshkaRecall]]
    * (Kusupati et al., NeurIPS'22: MRL-trained embeddings keep
    * usable geometry in every prefix). Single-sourced into the oracle.
    */
  val MrlDims: Seq[Int] = Seq(8, 16, 32)

  /** The serving prefix of the two-stage MRL arm ([[mrlRerank]]) and
    * the pool depth the artifact persists (= the deepest rerank
    * operating point). Depth is FOLDED INTO the artifact key (the
    * pca-basis rule: a retune must miss, never serve a shallow pool).
    */
  val MrlServeDim = 8
  val MrlPoolDepth: Int = BqRerankDepths.max

  def mrlTruthPath(dir: String): String =
    IndexStore.path(s"mrl-truth-d$MrlPoolDepth-v1", dir)

  /** Build the prefix-dimension ranking artifact: for each d in
    * [[MrlDims]], the exact top-[[BqK]] by cosine over the FIRST d
    * components, for the %100 query sample — the denseTruth posture
    * per prefix (three brute arms, built once; every audit run is a
    * probe). Raw double scores rank with neighbor_id ties, exactly the
    * dense-truth convention.
    */
  def buildMrlTruth(spark: SparkSession, dir: String, path: String): Unit = {
    val e = Tables.cpuPartition(Tables.embeddings(spark, dir), col("vec_id"))
    val q = evalQueries(e)
    val arms = MrlDims.map { d =>
      ranked(e.join(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(lit(d).as("d"), col("q_id"),
          col("vec_id").as("neighbor_id"),
          cosineSim(slice(col("embedding"), 1, d),
            slice(col("qe"), 1, d)).as("s")), MrlPoolDepth)
        .drop("s")
    }.reduce(_ unionByName _)
    graft.sources.Sinks.writeSortedParquet(arms, path,
      Seq("d", "q_id", "rank"))
  }

  /** matryoshka_recall: the DIMENSION-TRUNCATION serving curve — for
    * each prefix length d, micro recall@[[BqK]] of ranking by the
    * first d embedding components against the full-dimension exact
    * truth. The modern storage/latency lever next to the quantization
    * line (SQ8/PQ/BQ shrink BYTES per component; Matryoshka drops
    * COMPONENTS): this table says what k-recall each prefix buys, so
    * serving can route coarse prefixes first exactly like bq_rerank's
    * two-stage curve. On non-MRL-trained embeddings (this corpus) the
    * curve is the honest baseline an MRL fine-tune gets compared to.
    *
    * Scale shape: both sides are persisted-truth reads ([[denseTruth]]
    * and the [[buildMrlTruth]] artifact); each prefix is one micro arm
    * over a k-bounded truth join.
    */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val path = mrlTruthPath(dir)
    IndexStore.ensureBuilt(path)(buildMrlTruth(spark, dir, path))
    val arm = Tables.read(spark, path)
      .filter(col("rank") <= BqK) // the artifact holds the full pool
    val exact = truthSample(spark, dir, BqK)
    MrlDims.map(d => recallMicro(exact, arm.filter(col("d") === d), BqK)
        .select(lit(d).as("d"), col("*")))
      .reduce(_ unionByName _).orderBy(col("d"))
  }

  /** mrl_rerank: the two-stage MATRYOSHKA serving curve — route with
    * the cheap [[MrlServeDim]]-component prefix (the persisted pool),
    * exact-rerank the top R full-dimension, grade recall@[[BqK]]
    * against the dense truth per R ∈ [[BqRerankDepths]] —
    * [[bqRerank]]'s operating-point table with components instead of
    * bits as the coarse stage (the adaptive-retrieval recipe of the
    * MRL paper §4.2). Read beside it: the two curves price
    * bytes-per-code vs dims-per-float for the same serving budget.
    *
    * Scale shape: the pool is a persisted-artifact read (rank ≤ R
    * filter); ONE exact-score pass over |q|·R_max candidates feeds all
    * depth arms (k-bounded join, never a corpus rescan); each arm is a
    * bounded window + 1-row rollup.
    */
  def mrlRerank(spark: SparkSession, dir: String): DataFrame = {
    val exact = truthSample(spark, dir, BqK)
      .localCheckpoint(false) // feeds every depth arm
    val path = mrlTruthPath(dir)
    IndexStore.ensureBuilt(path)(buildMrlTruth(spark, dir, path))
    val cands = Tables.read(spark, path)
      .filter(col("d") === MrlServeDim)
      .select(col("q_id"), col("neighbor_id"), col("rank").as("prank"))
    val e = Tables.embeddings(spark, dir)
    val qe = broadcast(evalQueries(e).select(col("q_id").as("q2"), col("qe")))
    val scored = cands
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      .join(qe, col("q_id") === col("q2"))
      .select(col("q_id"), col("neighbor_id"), col("prank"),
        cosineSim(col("embedding"), col("qe")).as("s"))
      .localCheckpoint(false) // one exact-score pass, three depth arms
    def arm(r: Int): DataFrame =
      recallMicro(exact, topK(scored.filter(col("prank") <= r), BqK), BqK)
        .select(lit(r).as("rerank_depth"), col("n_queries"), col("recall"))
    BqRerankDepths.map(arm).reduce(_ unionByName _)
      .orderBy(col("rerank_depth"))
  }
}
