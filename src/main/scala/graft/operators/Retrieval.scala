package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fixed.{r4, r6, units}
import graft.functions.VectorFunctions.cosineSim
import graft.sources.Tables

/** Lexical (sparse) retrieval over the documents corpus — the missing
  * half of the reference's retrieval surface: `get_relevant_documents`
  * (/root/reference/rag_processor.py:26-77) ranks context by embedding
  * cosine only, but every production RAG/data pipeline runs a lexical
  * ranker (BM25) alongside the vector one and fuses the two.
  *
  *  - `bm25_topk` — Okapi BM25 (Robertson & Walker, SIGIR'94; the
  *    Robertson-Spärck Jones idf): per-query top-k over an inverted
  *    postings frame.
  *  - `tfidf_vectors` — sparse tf-idf document vectors (top terms per
  *    doc), the classic feature extraction step (Salton & Buckley, 1988;
  *    the smoothed idf variant popularized by scikit-learn).
  *
  * Scale shape: postings are ROWS keyed by term — document frequency and
  * scoring are partial-agg-friendly groupBys/joins that shuffle on term
  * or doc_id, never a cross product. The QUERY side (a bounded batch of
  * query docs, like knnJoin's query vectors) broadcasts; document
  * frequency joins against it restrict the idf table to query vocabulary
  * before it ever shuffles. Corpus-side frames never carry text past
  * tokenization — postings are (doc_id, term, tf) scalars.
  *
  * Cross-engine parity: tf/df/dl are exact integers; every floating
  * step mirrors the oracle's arithmetic order exactly, and per-term
  * score contributions round to 6dp with the shared floor primitive and
  * accumulate in DECIMAL — order-independent under any partitioning.
  * `ln` is the one library call (not IEEE-mandated); a 1-ulp engine
  * disagreement would have to land within 1 ulp of a 0.5e-6 rounding
  * boundary to flip a 6dp-rounded idf — negligible, and deterministic
  * per corpus either way.
  */
object Retrieval {

  /** Query docs: doc_id ≡ 0 (mod QueryMod) — a deterministic ~1% query
    * batch (the bounded "questions" side; the reference retrieves for one
    * question at a time, the engine batches them).
    */
  val QueryMod = 100

  val BmK1 = 1.2
  val BmB = 0.75
  /** BM25's (k1 + 1) as a LITERAL on both engines — a runtime k1+1 sum
    * could round differently than the parsed literal "2.2".
    */
  val BmK1Plus1 = 2.2
  val BmTopK = 10

  /** Query-term budget: each query keeps its [[BmMaxQueryTerms]]
    * highest-idf terms (idf desc, term asc — deterministic on the
    * 6dp-rounded idf both engines hold bit-identically). This is the
    * MaxScore/WAND family's first move made static: LOW-idf terms are
    * exactly the ones whose posting lists explode (df ≈ corpus size) and
    * whose score contribution is smallest, so dropping them bounds the
    * scoring join at |queries|·M·max_df instead of Σ_t df(t)·qf(t) —
    * measured 21 s → ~2 s at the 10× probe (the unpruned join grew
    * quadratically with scale: queries and postings both grow with the
    * corpus, and every common term pairs them).
    */
  val BmMaxQueryTerms = 32

  /** bm25 per-term impact cap (the [[SparseImpactCap]] posture applied
    * to the lexical scoring join): each term keeps only its
    * [[BmImpactCap]] highest-impact corpus postings ([[impactCapped]]
    * over [[bm25Sat]]). The 100× scale probe is the reason this
    * exists: on the degenerate ~30-term synthetic vocabulary every query
    * keeps the same hot terms, BmMaxQueryTerms cannot bound the join,
    * and the uncapped scoring join spilled past the probe host's disk
    * (> 75 GB) — capped, the join is ≤ |queries|·32·cap rows at ANY
    * corpus size. df/idf still compute over the full postings;
    * oracle-mirrored.
    */
  val BmImpactCap = 2000

  val TfidfTopTerms = 5

  /** Depth of the persisted lexical rankings ([[bm25Topk]], [[qlTopk]]):
    * covers the gated k (10) and the audit consumers with headroom; a
    * runtime `bm25_topk.k` or `ql_topk.k` above it falls back to the
    * live pipeline.
    */
  val LexTruthDepth = 30

  private val isQuery: Column = pmod(col("doc_id"), lit(QueryMod)) === 0

  /** Persisted corpus postings `(doc_id, term, tf, dl)` of the non-query
    * docs, sorted by (term, doc_id) — the on-disk inverted index every
    * lexical ranker reads ([[bm25Ranked]], [[qlRanked]],
    * [[prfExpandLive]]). Built once per corpus; dl rides along so
    * lengths need no extra join. Each consumer branch (df, stats, the
    * cap window, the scoring join) re-reads the parquet, so no ranker
    * checkpoints it.
    */
  private def lexPostings(spark: SparkSession, dir: String): DataFrame = {
    val path = IndexStore.path("lex-postings-v1", dir)
    IndexStore.ensureBuilt(path)(
      graft.sources.Sinks.writeSortedParquet(
        Dedup.tokenStream(spark, dir, "term").filter(!isQuery)
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("dl",
            sum(col("tf")).over(Window.partitionBy(col("doc_id")))),
        path, Seq("term", "doc_id")))
    Tables.read(spark, path)
  }

  /** (q_id, term): each query doc's distinct terms. */
  private def queryTerms(spark: SparkSession, dir: String): DataFrame =
    Dedup.tokenStream(spark, dir, "term").filter(isQuery)
      .select(col("doc_id").as("q_id"), col("term")).distinct()

  /** Each query's first `n` terms in `order` (term breaks ties). */
  private def queryBudget(qt: DataFrame, order: Column, n: Int): DataFrame =
    qt.withColumn("qr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(order, col("term"))))
      .filter(col("qr") <= n)
      .drop("qr")

  /** Corpus stats `(n_docs, total_len, avgdl)` of postings `p`: ONE row
    * of exact integer sums, broadcast by every consumer.
    */
  private def corpusStats(p: DataFrame): DataFrame =
    p.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      .select(col("n_docs"), col("total_len"),
        (col("total_len").cast("double") / col("n_docs")).as("avgdl"))

  /** `(term, idf)` of the terms in `vocab`, Robertson–Spärck Jones:
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)), df over the postings
    * restricted to `vocab` before grouping — the idf table is
    * |vocab| sized, never |vocabulary| sized.
    */
  private def bm25Idf(p: DataFrame, vocab: DataFrame): DataFrame =
    p.join(broadcast(vocab), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(corpusStats(p)))
      .select(col("term"),
        r6(log(lit(1.0) +
          (col("n_docs").cast("double") - col("df") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)))).as("idf"))

  /** BM25's term saturation tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)): the
    * per-posting score factor with idf divided out, so also each term's
    * impact order.
    */
  private def bm25Sat: Column =
    (col("tf").cast("double") * lit(BmK1Plus1)) /
      (col("tf").cast("double") + lit(BmK1) *
        (lit(1.0) - lit(BmB) +
          lit(BmB) * (col("dl").cast("double") / col("avgdl"))))

  /** Each term's top `cap` postings by `impact` desc, doc_id asc (static
    * impact-ordered index pruning, Anh & Moffat). `cap = Int.MaxValue`
    * skips the window entirely: the UNCAPPED exact ranking, the truth
    * arm of [[impactRecall]].
    */
  private def impactCapped(postings: DataFrame, impact: Column,
      cap: Int): DataFrame =
    if (cap == Int.MaxValue) postings
    else postings
      .withColumn("ir", row_number().over(Window.partitionBy(col("term"))
        .orderBy(impact.desc, col("doc_id"))))
      .filter(col("ir") <= cap)
      .drop("ir")

  /** Each query's top `depth` of `scored` `(q_id, doc_id, score)`, score
    * desc, doc_id asc; the DECIMAL score leaves as one double.
    */
  private def rankCut(scored: DataFrame, depth: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= depth)
      .select(col("q_id"), col("doc_id"),
        col("score").cast("double").as("score"), col("rank"))

  /** BM25 over `postings` (all or part of `p`) against the broadcast
    * query side `q` (q_id, term, …): each term's postings capped at
    * `cap` by saturation, per-term parts weight·saturation rounded to
    * 6dp and summed in DECIMAL per (query, doc), then the top `depth`.
    */
  private def bm25Scored(p: DataFrame, postings: DataFrame, q: DataFrame,
      weight: Column, cap: Int, depth: Int): DataFrame =
    rankCut(impactCapped(postings.crossJoin(
        broadcast(corpusStats(p).select(col("avgdl")))), bm25Sat, cap)
      .join(broadcast(q), "term")
      .select(col("q_id"), col("doc_id"),
        r6(weight * bm25Sat).cast("decimal(18,6)").as("part"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("part")).as("score")), depth)

  /** A ranking persisted once per corpus as artifact `kind`, sorted by
    * (q_id, rank): `build` runs on first use per JVM, every later call
    * is a parquet read.
    */
  private def rankingArtifact(spark: SparkSession, dir: String,
      kind: String)(build: => DataFrame): DataFrame = {
    val path = IndexStore.path(kind, dir)
    IndexStore.ensureBuilt(path)(
      graft.sources.Sinks.writeSortedParquet(build, path, Seq("q_id", "rank")))
    Tables.read(spark, path)
  }

  /** A served lexical top-k: the runtime `param` (the reference's
    * `limit` arg, database.py:422 posture; default `dflt`, the
    * oracle-pinned k) cut from the ranking persisted to
    * [[LexTruthDepth]], or the live `ranked(k)` beyond that depth.
    */
  private def lexTopk(spark: SparkSession, dir: String, param: String,
      dflt: Int, kind: String)(ranked: Int => DataFrame): DataFrame = {
    val k = graft.Params.int(spark, param, dflt)
    if (k > LexTruthDepth) ranked(k)
    else rankingArtifact(spark, dir, kind)(ranked(LexTruthDepth))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** bm25_topk: BM25 top-k documents per query doc.
    *
    *   score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl))
    *   idf(t)     = ln(1 + (N - df + 0.5)/(df + 0.5))
    *
    * The denseTruth posture applied to the LEXICAL arm: the scoring join
    * is the shared dominator of bm25_topk, hybrid_retrieve, ndcg_eval
    * and arm_overlap — 15.6 s per invocation at the 10× probe — so the
    * ranking is persisted once per corpus to [[LexTruthDepth]] and every
    * consumer is a parquet read + rank filter.
    */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame =
    lexTopk(spark, dir, "bm25_topk.k", BmTopK,
      s"lex-truth-c$BmImpactCap-v1")(bm25Ranked(spark, dir, _))

  /** The live BM25 pipeline (the artifact build; also the fallback for a
    * runtime k beyond the persisted depth). Plan: the postings artifact
    * joins the BROADCAST query-term/idf table on term; per-(query, doc)
    * partial-agg sum; one window for the top-k. Package-private so
    * PlanSpec pins the BUILD's join shapes, which the gated consumer no
    * longer carries.
    */
  private[graft] def bm25Ranked(spark: SparkSession, dir: String,
      depth: Int, cap: Int = BmImpactCap): DataFrame = {
    val p = lexPostings(spark, dir)
    val qterms = queryTerms(spark, dir)
      .localCheckpoint(false) // consumed by the vocab restriction AND the join
    // (q_id, term, idf): the bounded query side of the scoring join —
    // pruned to each query's top informative terms (see BmMaxQueryTerms)
    val qt = queryBudget(
      qterms.join(bm25Idf(p, qterms.select(col("term")).distinct()), "term"),
      col("idf").desc, BmMaxQueryTerms)
    bm25Scored(p, p, qt, col("idf"), cap, depth)
  }

  /** Dirichlet smoothing mass of the query-likelihood arm (Zhai &
    * Lafferty SIGIR'01 report 500-10000 works; 2000 is the standard
    * default). A double LITERAL on both engines.
    */
  val QlMu = 2000.0
  val QlTopK = 10
  /** Query-term budget for the QL arm: the RAREST collection terms are
    * kept (ctf asc — for QL the low-collection-frequency terms carry
    * the largest ln(1 + tf·|C|/(μ·ctf)) contributions, the mirror
    * image of BM25's idf-desc rule), ties on term. Out-of-vocabulary
    * query terms drop (collection probability 0 is unscorable under
    * Dirichlet smoothing — the standard convention).
    */
  val QlMaxQueryTerms = 32
  /** Per-term postings cap for the QL scoring join — the [[BmImpactCap]]
    * posture; the QL per-term part is monotone in tf (the length norm
    * is a separate per-doc term), so impact order IS tf desc.
    */
  val QlImpactCap = 2000

  /** ql_topk: query-likelihood retrieval — the LANGUAGE-MODELING ranker
    * beside BM25 (Ponte & Croft SIGIR'98; Dirichlet-smoothed unigram
    * form, Zhai & Lafferty SIGIR'01):
    *
    *   score(q,d) = Σ_{t∈q∩d} ln(1 + tf·|C| / (μ·ctf_t))
    *              + |q|·ln(μ / (dl + μ))
    *
    * — the rank-EQUIVALENT decomposition of log P(q|d) (Zhai §2.2: the
    * Σ_t ln P(t|d) form needs every query term against every doc; this
    * form needs only MATCHING terms plus one per-doc length norm, which
    * is what makes it a sparse join at scale). Candidates are docs
    * sharing ≥ 1 kept query term (the inverted-index convention);
    * |q| counts the kept distinct query terms.
    *
    * Plan: the bm25Ranked scaffolding with the collection LM in place
    * of idf — the postings artifact, ≤|q-vocab| collection-count join,
    * broadcast query side, per-term impact cap, one top-k window. The
    * ranking persists to [[LexTruthDepth]] (the lex-truth rule); gated
    * reads are pure probes.
    *
    * Parity: tf/ctf/dl/|C| exact integers; each matched term's part and
    * the per-doc norm round to 6dp and accumulate in DECIMAL (the norm
    * multiplied by the integer |q|), so ranking order is exact on both
    * engines; one double cast at the output.
    */
  def qlTopk(spark: SparkSession, dir: String): DataFrame =
    lexTopk(spark, dir, "ql_topk.k", QlTopK,
      s"ql-truth-c$QlImpactCap-v1")(qlRanked(spark, dir, _))

  private[graft] def qlRanked(spark: SparkSession, dir: String,
      depth: Int, cap: Int = QlImpactCap): DataFrame = {
    val p = lexPostings(spark, dir)
    val coll = p.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    // kept query terms (rarest-first budget); carries ctf into scoring
    val qt = queryBudget(queryTerms(spark, dir).join(coll, "term"),
      col("ctf").asc, QlMaxQueryTerms)
      .localCheckpoint(false) // feeds |q| AND the scoring join
    val qlen = qt.groupBy(col("q_id")).agg(count(lit(1)).as("qlen"))
    val part = r6(log(lit(1.0) +
      (col("tf").cast("double") * col("total_len").cast("double")) /
        (lit(QlMu) * col("ctf").cast("double"))))
    val norm6 = r6(log(lit(QlMu) /
      (col("dl").cast("double") + lit(QlMu))))
    rankCut(impactCapped(p, col("tf"), cap)
      .join(broadcast(qt.select(col("q_id"), col("term"), col("ctf"))),
        "term")
      .crossJoin(broadcast(corpusStats(p).select(col("total_len"))))
      .select(col("q_id"), col("doc_id"), col("dl"),
        part.cast("decimal(18,6)").as("part"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("part")).as("psum"), max(col("dl")).as("dl"))
      .join(broadcast(qlen), "q_id")
      .select(col("q_id"), col("doc_id"),
        (col("psum") + norm6.cast("decimal(18,6)") * col("qlen"))
          .as("score")), depth)
  }

  /** RRF fusion constant (Cormack, Clarke & Buettcher, SIGIR'09 use 60). */
  val RrfK = 60
  val HybridTopK = 5

  /** hybrid_retrieve: reciprocal-rank fusion of the lexical (BM25) and
    * vector (cosine) rankings — the production retrieval shape the
    * reference approximates with vectors alone
    * (/root/reference/rag_processor.py:26-77 ranks by embedding cosine;
    * real RAG pipelines fuse a lexical ranker with it):
    *
    *   rrf(q,d) = Σ_rankers 1/(K + rank_r(d)),  d absent from a ranker
    *   contributes 0 (Cormack et al., SIGIR'09).
    *
    * Rank fusion is the parity-friendly fusion: only integer RANKS cross
    * the ranker boundary (no score normalization games), and 1/(K+rank)
    * is one exact double division. The two rankers are independent
    * subplans (postings join / broadcast-query cosine scan) fused by a
    * full-outer equi-join on (query, doc) — each side keeps its own
    * scale shape.
    */
  def hybridRetrieve(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Topk(spark, dir)
      .select(col("q_id"), col("doc_id"), col("rank").as("lrank"))
    rrfFuse(lex, denseRanked(spark, dir))
  }

  /** The dense exact top-[[BmTopK]] of the query docs, as the persisted
    * exact-truth sweep's rows ([[Similarity.denseTruth]]): `rank_nonq`
    * is the ranking over non-query-doc candidates only, exactly the
    * lexical arms' candidate universe — the brute sweep is the run-1
    * artifact build, not a per-audit corpus pass.
    */
  private def denseTop(spark: SparkSession, dir: String): DataFrame =
    Similarity.denseTruth(spark, dir)
      .filter(pmod(col("q_id"), lit(QueryMod)) === 0 &&
        col("rank_nonq") <= BmTopK)

  /** The dense cosine ranking `(q_id, doc_id, vrank ≤ BmTopK)` —
    * shared by [[hybridRetrieve]], [[evalArms]] and [[armOverlap]].
    */
  private def denseRanked(spark: SparkSession, dir: String): DataFrame =
    denseTop(spark, dir)
      .select(col("q_id"), col("neighbor_id").as("doc_id"),
        col("rank_nonq").as("vrank"))

  /** RRF fusion of a lexical `(q_id, doc_id, lrank)` and dense
    * `(q_id, doc_id, vrank)` ranking — the hybridRetrieve tail,
    * factored so ndcgEval fuses its OWN checkpointed dense frame.
    */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame =
    rrfFuseK(lex, vec, RrfK, HybridTopK)

  /** The K-explicit fusion — shared by [[fusionSweep]], which sweeps
    * the RRF constant over [[FusionKs]].
    */
  private def rrfFuseK(lex: DataFrame, vec: DataFrame, k: Int,
      topK: Int): DataFrame = {
    // 1/(K + null rank) is null -> coalesce to 0: absent-from-ranker
    val rrf = r6(coalesce(lit(1.0) / (lit(k) + col("lrank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(k) + col("vrank")), lit(0.0)))
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"), rrf.as("rrf"))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= topK)
  }

  /** nDCG evaluation depth (= [[BmTopK]]: the graded-truth set and the
    * deepest arm share one cutoff).
    */
  val NdcgK: Int = BmTopK

  /** A ranking `(q_id, doc_id, rank)` as served `(q_id, doc_id, pos)`. */
  private def served(ranked: DataFrame): DataFrame =
    ranked.select(col("q_id"), col("doc_id"), col("rank").as("pos"))

  /** The arms [[ndcgEval]] and [[irMetrics]] grade, each as served
    * `(q_id, doc_id, pos)`: the dense exact top-k (the truth side
    * too), BM25, their RRF hybrid and QL. The dense and BM25 frames
    * are checkpointed (each feeds its arm and the fusion); the two are
    * independent, so their checkpoint waves BUILD in parallel
    * (Par.build).
    */
  private def evalArms(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val Seq(exact, lex) = graft.operators.Par.build(Seq(
      () => denseRanked(spark, dir)
        .withColumnRenamed("vrank", "pos")
        .localCheckpoint(false),
      () => served(bm25Topk(spark, dir)).localCheckpoint(false)))
    val hyb = served(rrfFuse(lex.withColumnRenamed("pos", "lrank"),
      exact.withColumnRenamed("pos", "vrank")))
    (exact, lex, hyb, served(qlTopk(spark, dir)))
  }

  /** Per-query DCG `(q_id, dcgs)` of `ranked` `(q_id, doc_id, pos)` cut
    * at [[NdcgK]], against the grades `rel` `(q_id, doc_id, rel)`:
    * discounts rnd6(1/log2(pos+1)) as 6dp DECIMAL × integer relevance,
    * so the sum is exact under any partitioning.
    */
  private def dcg(ranked: DataFrame, rel: DataFrame): DataFrame =
    ranked.filter(col("pos") <= NdcgK)
      .join(rel, Seq("q_id", "doc_id"), "left")
      .select(col("q_id"), (coalesce(col("rel"), lit(0)) *
        r6(lit(1.0) / log2(col("pos") + 1)).cast("decimal(18,6)")).as("t"))
      .groupBy(col("q_id")).agg(sum(col("t")).as("dcgs"))

  /** ndcg_eval: the RANKING-quality leaderboard — nDCG@[[NdcgK]] of
    * every retrieval arm (BM25 lexical, query-likelihood, RRF hybrid,
    * and the dense exact arm itself) against graded relevance derived from the dense
    * exact ranking (rel = k+1−rank of the true cosine top-k; the
    * index_recall posture asks "did the candidates come back", this
    * asks "in a GOOD ORDER, weighted toward the top" — the standard IR
    * lens, Järvelin & Kekäläinen 2002). The dense arm scores 1.0 by
    * construction (it IS the ideal ordering) — the standing sanity
    * row; bm25/hybrid scores quantify what lexical evidence and rank
    * fusion buy on this corpus.
    *
    * Scale shape: the truth frame is the k-bounded dense top-k
    * (checkpointed once, reused as truth + arm + ideal); every arm's
    * DCG is a k-bounded join + partial agg. Parity: discount weights
    * rnd6(1/log2(pos+1)) as 6dp DECIMAL × integer relevance (exact
    * accumulation), DCG/IDCG each one double divide, 6dp.
    */
  def ndcgEval(spark: SparkSession, dir: String): DataFrame = {
    val (exact, lex, hyb, ql) = evalArms(spark, dir)
    val rel = exact.select(col("q_id"), col("doc_id"),
      (lit(NdcgK + 1) - col("pos")).as("rel"))
    // rel is the k-bounded truth gauge (≤ |q|·k rows — the recall-audit
    // broadcast envelope): hash-join it instead of letting the planner
    // sort-merge every arm against it
    def dcgOf(name: String, ranked: DataFrame): DataFrame =
      dcg(ranked, broadcast(rel))
        .select(lit(name).as("arm"), col("q_id"), col("dcgs"))
    val arms = dcgOf("dense_exact", exact)
      .unionByName(dcgOf("bm25", lex))
      .unionByName(dcgOf("hybrid", hyb))
      .unionByName(dcgOf("ql", ql))
    val ideal = dcgOf("i", exact)
      .select(col("q_id").as("iq"), col("dcgs").as("ideal"))
    arms.join(broadcast(ideal), col("q_id") === col("iq"))
      .select(col("arm"), col("q_id"),
        r6(col("dcgs").cast("double")).as("dcg"),
        r6(col("dcgs").cast("double") / col("ideal").cast("double")).as("ndcg"))
      .orderBy(col("arm"), col("q_id"))
  }

  /** ir_metrics: the SET/RANK retrieval leaderboard — MRR, micro
    * recall@k and P@1 of every served arm (BM25, query-likelihood, RRF
    * hybrid, PRF expansion, and the dense exact arm as the 1.0 sanity
    * row) against
    * binary relevance = membership in the dense exact top-[[NdcgK]].
    * [[ndcgEval]] grades graded ORDER; this grades presence and
    * first-hit position — the triage numbers an IR dashboard leads
    * with (Voorhees, TREC-8 MRR) — and it is the first leaderboard to
    * grade [[prfExpand]] against the other arms. Each arm is evaluated
    * AS SERVED (its own gated depth — hybrid serves [[HybridTopK]],
    * the rest [[BmTopK]]).
    *
    * Scale shape: every arm is a persisted-ranking read (lex-truth,
    * dense truth, prf-truth) or a k-bounded fusion; metrics are
    * k-bounded joins + per-query partial aggs + 1-row rollups. The
    * reciprocal ranks accumulate as 6dp DECIMAL (exact under any
    * partitioning).
    */
  def irMetrics(spark: SparkSession, dir: String): DataFrame = {
    val (exact, lex, hyb, ql) = evalArms(spark, dir)
    val rel = exact.select(col("q_id"), col("doc_id"))
      .withColumn("is_rel", lit(1))
    val prf = served(prfExpand(spark, dir))
    // nq stays lineage (r15): a 1-row aggregate over the checkpointed
    // exact frame — every arm's crossJoin broadcasts it, and
    // ReuseExchange computes the identical broadcast subtree once in
    // the sink job; the former checkpoint paid a dedicated wave for it
    val nq = broadcast(exact.select(col("q_id")).distinct()
      .agg(count(lit(1)).as("nq")))
    def armOf(name: String, ranked: DataFrame): DataFrame =
      // rel = the k-bounded dense-truth membership gauge: broadcast
      // (same envelope as ndcg_eval's rel side)
      ranked.join(broadcast(rel), Seq("q_id", "doc_id"), "left")
        .groupBy(col("q_id"))
        .agg(min(when(col("is_rel") === 1, col("pos"))).as("frp"),
          sum(when(col("is_rel") === 1, 1L).otherwise(0L)).as("hits"),
          sum(when(col("pos") === 1 && col("is_rel") === 1, 1L)
            .otherwise(0L)).as("p1"))
        .agg(sum(r6(lit(1.0) / col("frp")).cast("decimal(18,6)"))
          .as("rrsum"),
          sum(col("hits")).as("hits"), sum(col("p1")).as("p1s"))
        .crossJoin(nq)
        .select(lit(name).as("arm"), col("nq").as("n_queries"),
          r6(coalesce(col("rrsum"), lit(0).cast("decimal(18,6)"))
            .cast("double") / col("nq")).as("mrr"),
          r4(col("hits").cast("double") / (col("nq") * NdcgK))
            .as("recall"),
          r4(col("p1s").cast("double") / col("nq")).as("p_at_1"))
    armOf("bm25", lex)
      .unionByName(armOf("dense_exact", exact))
      .unionByName(armOf("hybrid", hyb))
      .unionByName(armOf("prf", prf))
      .unionByName(armOf("ql", ql))
      .orderBy(col("arm"))
  }

  /** tfidf_vectors: the top [[TfidfTopTerms]] tf-idf terms per document
    * (the sparse document vector, rows not arrays).
    *
    *   tfidf(d,t) = tf · (ln((1+N)/(1+df)) + 1)   — smoothed idf
    *
    * Plan: tf groupBy (doc, term); df groupBy term; tf⋈df on term (both
    * corpus-sized at scale — left to the planner, shuffles on term); one
    * window per doc for the top terms. The vectors persist once per
    * corpus (the lex-truth posture: the tokenize + tf/df/idf chain is
    * the cost; both this query and sparse_knn only read them).
    */
  def tfidfVectors(spark: SparkSession, dir: String): DataFrame = {
    val path = IndexStore.path("tfidf-v1", dir)
    IndexStore.ensureBuilt(path)(
      graft.sources.Sinks.writeSortedParquet(
        tfidfLive(spark, dir), path, Seq("doc_id", "rank")))
    Tables.read(spark, path)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"),
        col("rank"))
  }

  /** The smoothed idf ln((1 + n)/(1 + df)) + 1 over `n` documents or
    * cells (scikit-learn's variant), 6dp.
    */
  private def smoothedIdf(n: Column): Column =
    r6(log((n.cast("double") + lit(1.0)) /
      (col("df").cast("double") + lit(1.0))) + lit(1.0))

  private def tfidfLive(spark: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokenStream(spark, dir, "term")
    // materialized: feeds stats, df, and the scoring join
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val stats = tf.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = dft.crossJoin(broadcast(stats))
      .select(col("term"), smoothedIdf(col("n_docs")).as("idf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(idf, "term")
      .select(col("doc_id"), col("term"), col("tf"),
        r4(col("tf").cast("double") * col("idf")).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopTerms)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"),
        col("rank"))
  }

  /** Chunk window: [[ChunkTokens]] tokens per chunk, stride
    * [[ChunkStride]] (overlap = tokens − stride). Single-sourced into
    * the oracle SQL.
    */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** chunk_docs: fixed-size overlapping token windows per document — the
    * RAG ingest splitter (the reference's own text_utils.py:11 docstring
    * advertises a `process_chunk` API that the module never defines;
    * this is that surface, and the step every embedding pipeline runs
    * before `embed_text`/`kb_ingest` so retrieval granularity is a
    * chunk, not a whole document).
    *
    * Chunk k covers tokens [k·S, min(k·S+W, n)); chunks are emitted
    * while the previous chunk did not already reach the end —
    * kmax = max(0, ⌈(n−W)/S⌉) as the single integer primitive
    * `(n − W + S − 1) div S` (floor division, identical in DuckDB) — so
    * a short document yields exactly one chunk and no chunk is pure
    * overlap.
    *
    * Plan shape: the tokenized (doc_id, ws) projection materializes
    * through the cpuPartition Exchange BEFORE the sequence explode, so
    * the generator's pass-through `ws` is an attribute read, not a
    * re-evaluated expression (the Generate per-element re-eval trap);
    * per-chunk `slice` then reads ≤ W tokens from the materialized
    * array. Map-shaped end to end — the only shuffle is the explicit
    * compute repartition; output is ~n/S rows per doc, no join, no
    * window.
    */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    // RAG chunking knobs as runtime params (the process_chunk surface's
    // natural arguments); defaults = the oracle-pinned constants
    val w = graft.Params.int(spark, "chunk.width", ChunkTokens)
    val s = graft.Params.int(spark, "chunk.stride", ChunkStride)
    require(w > 0 && s > 0, s"chunk.width/stride must be positive ($w, $s)")
    Tables.cpuPartition(
      Tables.documents(spark, dir)
        .select(col("doc_id"), Dedup.normToks(col("text")).as("ws")),
      col("doc_id"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"),
        greatest(lit(0L), expr(s"(size(ws) - $w + $s - 1) div $s"))
          .as("kmax"))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0L), col("kmax"))).as("k"))
      .select(col("doc_id"), col("k").cast("int").as("chunk_id"),
        (col("k") * s).cast("int").as("start_tok"),
        least(lit(w), col("n") - col("k").cast("int") * s).cast("int")
          .as("n_tokens"),
        array_join(slice(col("ws"), (col("k") * s + 1).cast("int"), lit(w)),
          " ").as("chunk_text"))
  }

  val ClusterTopTerms = 5

  /** cluster_terms: c-TF-IDF labels for the semantic clusters — the top
    * terms of each persisted IVF-flat cell (BERTopic's class-based
    * TF-IDF, Grootendorst 2022: pool every document of a cluster into
    * one pseudo-document, then score terms by pooled tf × idf over the
    * CELLS). The step that makes the k-means cells human-readable: the
    * quality_filter / semdedup audits say which cells are junk; this
    * says what each cell is about.
    *
    * Plan: one token explode (corpus scan) joined to the persisted cell
    * assignments (a pure index consumer — no training in the query, the
    * semdedup rule), one partial-agg groupBy (cell, term); idf inputs
    * are CELL-cardinality frames (n_cells rows), so everything after
    * the pooled tf is constant-sized. Stopwords are excluded (pooled
    * counts would otherwise rank "the" first in every cell — the
    * BERTopic stop-word note). Same smoothed-idf and rounding
    * primitives as tfidf_vectors, idf over cells instead of docs.
    */
  def clusterTerms(spark: SparkSession, dir: String): DataFrame = {
    val cells = Similarity.ivfFlatIndex(spark, dir).lists
      .select(col("vec_id"), col("ccell"))
    val sw = array(RefVocab.enStopwords.map(lit): _*)
    val tf = Dedup.tokenStream(spark, dir, "term")
      .filter(!array_contains(sw, col("term")))
      .join(cells, col("doc_id") === col("vec_id"))
      .groupBy(col("ccell"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // feeds n_cells, df, and the scoring join
    val nc = tf.select(col("ccell")).distinct()
      .agg(count(lit(1)).as("n_cells"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nc))
      .select(col("term"), smoothedIdf(col("n_cells")).as("idf"))
    val w = Window.partitionBy(col("ccell"))
      .orderBy(col("score").desc, col("term"))
    tf.join(idf, "term")
      .select(col("ccell"), col("term"), col("tf"),
        r4(col("tf").cast("double") * col("idf")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ClusterTopTerms)
      .select(col("ccell"), col("term"), col("tf"), col("score"),
        col("rank"))
  }

  /** topic_coverage: the semantic-cell × provenance mix matrix over the
    * PERSISTED IVF-flat assignments — which sources dominate which
    * regions of embedding space (the topic-balance audit of a training
    * mix: domain_mix balances LANGUAGES by token budget; this shows
    * whether a semantic topic is single-sourced, the input to
    * source-diversification decisions; cluster_terms names the cells,
    * this attributes them). Per (cell, source): doc count, share of
    * the cell, and lift vs the source's corpus-wide share (lift > 1 =
    * the source over-indexes in that topic).
    *
    * Plan: pure index consumer — one doc_id equi-join of the cell
    * assignments against the documents scan, one partial agg onto the
    * ≤|cells|×|sources| grid; cell/source/corpus totals re-aggregate
    * the GRID (bounded), never the corpus, and ride back in as
    * broadcast joins. Parity: lift is exact-integer products divided
    * once in double (the copurchase form), 4dp floor-rounded.
    */
  def topicCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cells = Similarity.ivfFlatIndex(spark, dir).lists
      .select(col("vec_id"), col("ccell"))
    val g = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(cells, col("doc_id") === col("vec_id"))
      .groupBy(col("ccell"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(false) // feeds the grid plus three total re-aggs
    val cellT = g.groupBy(col("ccell")).agg(sum(col("n_docs")).as("cell_n"))
    val srcT = g.groupBy(col("source")).agg(sum(col("n_docs")).as("src_n"))
    val tot = g.agg(sum(col("n_docs")).as("tot"))
    g.join(broadcast(cellT), "ccell")
      .join(broadcast(srcT), "source")
      .crossJoin(broadcast(tot))
      .select(col("ccell"), col("source"), col("n_docs"),
        r4(col("n_docs").cast("double") / col("cell_n")).as("cell_share"),
        // factors cast to double BEFORE multiplying: long×long products
        // wrap silently in Spark (and error in the oracle) once counts
        // pass 2^31-ish each — a real risk at the stated corpus scale
        r4((col("n_docs").cast("double") * col("tot").cast("double"))
          / (col("cell_n").cast("double") * col("src_n").cast("double")))
          .as("lift"))
      .orderBy(col("ccell"), col("source"))
  }

  /** sparse_knn result depth. */
  val SparseK = 5

  /** sparse_knn per-term impact cap: each term keeps only its
    * [[SparseImpactCap]] highest-weight corpus postings (u desc, doc_id
    * asc — deterministic on the exact integer weights) in the pairing
    * join. This is impact-ordered posting truncation (the MaxScore/JASS
    * family's static prefix; the BmMaxQueryTerms precedent applied to
    * the CORPUS side): a term whose posting list spans the corpus is
    * exactly the term whose low-weight postings contribute least to any
    * cosine, and uncapped it makes the candidate join quadratic on a
    * degenerate vocabulary (this corpus: ~30 distinct words, so every
    * query shared terms with nearly every doc — 13.7 s at the 10×
    * probe). Capped, candidates are bounded at |queries| × topTerms ×
    * cap regardless of corpus size. Oracle-mirrored: both engines rank
    * the identical truncated index, so the gate stays exact while the
    * plan carries the bound (a natural vocabulary rarely hits it — the
    * DedupDocFreqCap posture).
    */
  val SparseImpactCap = 2000

  /** sparse_knn: lexical nearest neighbors by tf-idf COSINE over the
    * pruned top-[[TfidfTopTerms]] term vectors — the sparse twin of
    * knn_join (dense cosine), completing the similarity family
    * (dense / minhash / simhash / sparse-lexical). BM25 ranks docs for
    * a QUERY'S TERMS; sparse cosine ranks docs for a WHOLE DOCUMENT —
    * the "more like this" shape (near-dup triage, related-content).
    *
    * Exactness: the 4dp tf-idf weights become exact 1e-4 integer units,
    * so every dot and squared norm is exact integer arithmetic and the
    * unit scales cancel in the final mirrored division (the
    * late_interaction rule applied to sparse weights).
    *
    * Scale shape: the classic inverted-index similarity join — pairs
    * generate ONLY through shared terms (an equi-join on term), with
    * the query side bounded at |queries|×[[TfidfTopTerms]] rows riding
    * a broadcast; per-pair partial agg, then a per-query top-k window.
    * Document frequency is already bounded by the tf-idf pruning (a
    * stop-term's weight rounds toward zero and falls out of the top
    * terms), the same fan-out control the df-cap gives the shingle
    * joins.
    */
  def sparseKnn(spark: SparkSession, dir: String): DataFrame =
    // The lex-truth posture applied to the sparse ranking: the live
    // pipeline (postings window + pairing join + norms) is the run-1
    // artifact build; every later call — including impact_recall's
    // capped arm — is a parquet read. The 10× probe priced the live arm
    // at ~10 s per invocation on the degenerate vocabulary.
    rankingArtifact(spark, dir, s"sparse-ranked-c$SparseImpactCap-v1")(
      sparseRanked(spark, dir))

  /** The live sparse ranking (the artifact build); `cap = Int.MaxValue`
    * is the UNCAPPED exact ranking, the truth arm of [[impactRecall]].
    */
  private[graft] def sparseRanked(spark: SparkSession, dir: String,
      cap: Int = SparseImpactCap): DataFrame = {
    // the persisted vectors feed norms and both join sides — each branch
    // re-reads the artifact parquet (no checkpoint needed)
    val v = tfidfVectors(spark, dir)
      .select(col("doc_id"), col("term"),
        units(col("tfidf"), 10000).as("u"))
    val n2 = v.groupBy(col("doc_id"))
      .agg(sum(col("u") * col("u")).as("n2"))
    val q = v.filter(isQuery)
      .select(col("doc_id").as("q_id"), col("term"), col("u").as("qu"))
    // per-term impact cap (see SparseImpactCap): the pairing join reads
    // only each term's top postings
    val d = impactCapped(v.filter(!isQuery)
      .select(col("doc_id"), col("term"), col("u").as("du")), col("du"), cap)
    val qn = n2.filter(isQuery)
      .select(col("doc_id").as("q_id"), col("n2").as("qn2"))
    val dn = n2.filter(!isQuery)
      .select(col("doc_id").as("dnid"), col("n2").as("dn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    d.join(broadcast(q), Seq("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("qu") * col("du")).as("dotu"))
      .join(broadcast(qn), Seq("q_id"))
      .join(dn, col("doc_id") === col("dnid"))
      .select(col("q_id"), col("doc_id"),
        (col("dotu").cast("double") / sqrt(col("qn2").cast("double"))
          / sqrt(col("dn2").cast("double"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SparseK)
      .select(col("q_id"), col("doc_id"), col("rank").cast("int").as("rank"),
        r6(col("cos")).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** arm_overlap: per-query agreement between the lexical (BM25) and
    * dense (cosine) retrieval arms — top-k set Jaccard and the mean
    * rank displacement on the shared docs. The standing diversity
    * gauge for hybrid fusion: arms that agree completely make RRF
    * redundant; arms that never overlap mean one of them is retrieving
    * noise. ndcg_eval grades each arm against graded truth; this
    * grades them against EACH OTHER — cheap enough to run per corpus
    * snapshot without a truth set.
    *
    * Scale shape: both arms are the existing k-bounded rankings (the
    * bm25/denseRanked plans verbatim), so the overlap join holds ≤2k
    * rows per query regardless of corpus; one full-outer equi-join +
    * a per-query partial agg.
    */
  def armOverlap(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Topk(spark, dir)
      .select(col("q_id"), col("doc_id"), col("rank").as("lrank"))
    val vec = denseRanked(spark, dir)
    val j = lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
    val both = col("lrank").isNotNull && col("vrank").isNotNull
    j.groupBy(col("q_id"))
      .agg(count(col("lrank")).as("n_lex"),
        count(col("vrank")).as("n_dense"),
        sum(when(both, 1L).otherwise(0L)).as("n_common"),
        sum(when(both, abs(col("lrank") - col("vrank")).cast("long")))
          .as("gap_sum"))
      .select(col("q_id"), col("n_lex"), col("n_dense"), col("n_common"),
        r4(col("n_common").cast("double") /
          (col("n_lex") + col("n_dense") - col("n_common"))).as("jaccard"),
        when(col("n_common") > 0,
          r4(col("gap_sum").cast("double") / col("n_common")))
          .as("mean_rank_gap"))
      .orderBy(col("q_id"))
  }

  /** The fusion_sweep interpolation grid — exact binary doubles, so
    * both engines parse identical weights.
    */
  val FusionAlphas: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0)

  /** fusion_sweep: mean nDCG@[[NdcgK]] of SCORE-interpolation fusion
    * α·lex + (1−α)·dense over min-max-normalized per-query scores
    * (CombSUM with linear interpolation, Fox & Shaw TREC-2 / Vogt &
    * Cottrell IR'99) at each α in [[FusionAlphas]] — the tuning curve
    * for the OTHER fusion family beside [[hybridRetrieve]]'s RRF.
    * Rank-based RRF is the wrong subject for a sweep on this corpus:
    * with DISJOINT arm top-k sets (arm_overlap measures n_common ≡ 0)
    * the RRF order is provably K-invariant (each doc scores 1/(K+r)
    * from one arm only, and r<s ⟺ 1/(K+r)>1/(K+s) for every K) — the
    * curve is flat by identity. Score interpolation moves the blend
    * even on disjoint sets: α=0 is the pure dense ordering (the 1.0
    * sanity row), α=1 pure lexical, and the interior traces what
    * lexical evidence costs in dense-graded order.
    *
    * Parity: both arms' scores are cross-engine-exact doubles (the
    * unrolled-dot-product / DECIMAL-BM25 invariants); min-max norms
    * and the blend round to 6dp with verbatim operand order; truth and
    * discounts are exactly [[ndcgEval]]'s.
    *
    * Scale shape: both rankings are persisted reads checkpointed once;
    * per-α fusion is a k-bounded full-outer join + window
    * (|queries|×k rows per grid point); per-α means are exact DECIMAL
    * sums of 6dp ndcgs.
    */
  def fusionSweep(spark: SparkSession, dir: String): DataFrame = {
    def mmNorm(df: DataFrame, out: String): DataFrame = {
      val wq = Window.partitionBy(col("q_id"))
      df.withColumn("mn", min(col("s")).over(wq))
        .withColumn("mx", max(col("s")).over(wq))
        .select(col("q_id"), col("doc_id"), col("pos"),
          when(col("mx") > col("mn"),
            r6((col("s") - col("mn")) / (col("mx") - col("mn"))))
            .otherwise(lit(1.0)).as(out))
    }
    val exact = mmNorm(denseTop(spark, dir)
      .select(col("q_id"), col("neighbor_id").as("doc_id"), col("s"),
        col("rank_nonq").as("pos")), "vn")
      .localCheckpoint(false)
    val lex = mmNorm(bm25Topk(spark, dir)
      .select(col("q_id"), col("doc_id"), col("score").as("s"),
        col("rank").as("pos")), "ln")
      .localCheckpoint(false)
    val rel = exact.select(col("q_id"), col("doc_id"),
      (lit(NdcgK + 1) - col("pos")).as("rel"))
    val ideal = dcg(exact, rel)
      .select(col("q_id").as("iq"), col("dcgs").as("ideal"))
      .localCheckpoint(false) // reused by every grid point
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("blend").desc, col("doc_id"))
    // r14: the arm union is the SAME k-bounded full-outer join five
    // times over — only the blend expression differs per α. Join once,
    // blend per arm (row-identical: the blend reads the joined ln/vn).
    val paired = lex.drop("pos")
      .join(exact.drop("pos"), Seq("q_id", "doc_id"), "full_outer")
      .localCheckpoint(false)
    val perA = FusionAlphas.map { a =>
      val blend = r6(lit(a) * coalesce(col("ln"), lit(0.0)) +
        lit(1 - a) * coalesce(col("vn"), lit(0.0)))
      val fused = paired
        .select(col("q_id"), col("doc_id"), blend.as("blend"))
        .withColumn("pos", row_number().over(wF))
      dcg(fused, rel)
        .join(ideal, col("q_id") === col("iq"))
        .select(r6(col("dcgs").cast("double") / col("ideal")
          .cast("double")).cast("decimal(18,6)").as("ndcg"))
        .agg(count(lit(1)).as("n_queries"), sum(col("ndcg")).as("sn"))
        .select(lit(a).as("alpha"), col("n_queries"),
          r6(col("sn").cast("double") / col("n_queries")).as("mean_ndcg"))
    }
    perA.reduce(_.unionByName(_)).orderBy(col("alpha"))
  }

  /** rank_corr: Spearman rank correlation between the base BM25
    * ranking and its PRF-expanded rescore ([[prfExpand]]) per query,
    * over their COMMON retrieved docs — "how much does expansion
    * REORDER what both arms retrieve", the ORDER-agreement number
    * beside [[armOverlap]]'s set agreement (two arms can retrieve the
    * same docs in opposite order; Jaccard says 1.0, ρ says −1.0).
    * The lex-vs-dense pair is the wrong subject here: on this corpus
    * the two modalities' top-k sets are DISJOINT (arm_overlap measures
    * n_common ≡ 0), so lexical-vs-lexical is where order agreement is
    * defined. Both lists re-rank within the intersection (the standard
    * treatment for truncated-list correlation) and
    * ρ = 1 − 6·Σd²/(m(m²−1)) (Spearman 1904) on the tie-free re-ranks.
    *
    * Parity: re-ranks, d², and the m(m²−1) denominator are exact
    * integers; one double division rounds to 6dp. m < 2 → NULL (ρ is
    * undefined on a single pair).
    *
    * Scale shape: both arms are persisted-ranking reads (lex-truth,
    * prf-truth); the inner join and the re-rank windows are bounded by
    * |queries| × k rows.
    */
  def rankCorr(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Topk(spark, dir)
      .select(col("q_id"), col("doc_id"), col("rank").as("lrank"))
    val prf = prfExpand(spark, dir)
      .select(col("q_id"), col("doc_id"), col("rank").as("vrank"))
    val wq = Window.partitionBy(col("q_id"))
    val co = lex.join(prf, Seq("q_id", "doc_id"))
      .withColumn("la", row_number().over(wq.orderBy(col("lrank"))))
      .withColumn("va", row_number().over(wq.orderBy(col("vrank"))))
    co.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_common"),
        sum((col("la") - col("va")) * (col("la") - col("va")))
          .as("sd2"))
      .select(col("q_id"), col("n_common"),
        when(col("n_common") >= 2,
          r6(lit(1.0) - lit(6.0) * col("sd2") /
            (col("n_common") * (col("n_common") * col("n_common") - 1))))
          .as("spearman"))
      .orderBy(col("q_id"))
  }

  /** impact_recall: the standing loss audit of the per-term impact caps
    * ([[BmImpactCap]], [[SparseImpactCap]]) — per arm, micro-averaged
    * recall of the capped top-k ranking against the UNCAPPED exact
    * ranking (the index_recall posture applied to posting truncation;
    * r9 advisor: without this, bm25_topk/sparse_knn were the only
    * approximations in the repo with no measured loss — the parity gate
    * stays green only because the oracle adopts the same truncation).
    *
    * Scale shape: the capped arms are the gated k-bounded plans (bm25
    * served from the persisted lex-truth artifact); the uncapped exact
    * rankings (the `cap = Int.MaxValue` points of [[bm25Ranked]] and
    * [[sparseRanked]], the lexical one cut to [[BmTopK]]) are
    * BUILD-ONCE IndexStore artifacts rebuilt only when the corpus
    * changes — the audit itself is a pure two-consumer join (the
    * build-once/probe rule applied on arrival, not retrofitted). On a
    * natural vocabulary the caps rarely bite (recall 1.0 is the
    * expected steady state); a drop below ~0.99 is the signal to raise
    * the cap.
    */
  def impactRecall(spark: SparkSession, dir: String): DataFrame = {
    def armAgg(name: String, truth: DataFrame, capped: DataFrame) =
      truth.select(col("q_id"), col("doc_id"))
        .join(capped.select(col("q_id"), col("doc_id"))
          .withColumn("hit", lit(1)), Seq("q_id", "doc_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_t"), count(col("hit")).as("n_m"))
        .agg(count(lit(1)).as("n_queries"), sum(col("n_t")).as("n_truth"),
          sum(col("n_m")).as("n_matched"))
        .select(lit(name).as("arm"), col("n_queries"), col("n_truth"),
          col("n_matched"),
          r4(col("n_matched").cast("double") / col("n_truth")).as("recall"))
    val lexTruth = rankingArtifact(spark, dir,
      s"lex-truth-c${Int.MaxValue}-v1")(
      bm25Ranked(spark, dir, LexTruthDepth, Int.MaxValue))
      .filter(col("rank") <= BmTopK)
    armAgg("bm25", lexTruth, bm25Topk(spark, dir))
      .unionAll(armAgg("sparse", rankingArtifact(spark, dir,
        "sparse-truth-v1")(sparseRanked(spark, dir, Int.MaxValue)),
        sparseKnn(spark, dir)))
      .orderBy(col("arm"))
  }

  /** prf_expand knobs: feedback depth (top seed docs per query),
    * expansion-term budget, and the reranked result depth.
    */
  val PrfFbDocs = 5
  val PrfFbTerms = 10
  val PrfK = 10

  /** prf_expand: pseudo-relevance-feedback query expansion (the RM3
    * family — Lavrenko & Croft SIGIR'01 relevance models; Abdul-Jaleel
    * et al., TREC'04): take each query's top [[PrfFbDocs]] BM25 seed
    * docs, estimate expansion-term weights from the feedback docs'
    * length-normalized term frequencies w(t) = Σ_d tf(t,d)/dl(d), keep
    * the top [[PrfFbTerms]] terms, and RESCORE the corpus with the
    * weighted BM25 of the expanded query — the recall-recovery arm a
    * lexical stack runs when the raw query undershoots (and the
    * retrieval op this surface lacked between bm25_topk and the dense
    * arms).
    *
    * Scale shape: the seed ranking is a persisted lex-truth read; the
    * feedback stage joins the postings ARTIFACT against a broadcast
    * |queries|×[[PrfFbDocs]] seed list; the rescore is the bm25 scoring
    * join with the SAME per-term impact cap ([[BmImpactCap]]), its
    * query side bounded at |queries|×[[PrfFbTerms]] broadcast rows.
    * Every stage is bounded by query count, never corpus size.
    *
    * Parity: feedback weights are exact 1e-6-unit longs; per-term score
    * parts round to 6dp and accumulate in DECIMAL (the bm25Ranked
    * scheme).
    */
  def prfExpand(spark: SparkSession, dir: String): DataFrame =
    // Persisted like every other ranking (the lex-truth posture): the
    // expansion + rescore pipeline is the run-1 build; consumers read
    // parquet. The 10× probe priced the live pipeline at ~8.6 s per
    // invocation (the per-term cap window processes every posting of the
    // expansion vocabulary even though the JOIN it feeds is bounded).
    rankingArtifact(spark, dir, s"prf-truth-c$BmImpactCap-v1")(
      prfExpandLive(spark, dir))

  /** The live PRF pipeline (the artifact build). */
  private[graft] def prfExpandLive(spark: SparkSession, dir: String)
      : DataFrame = {
    val p = lexPostings(spark, dir)
    val seed = bm25Topk(spark, dir).filter(col("rank") <= PrfFbDocs)
      .select(col("q_id"), col("doc_id"))
    val fb = p.join(broadcast(seed), "doc_id")
      .select(col("q_id"), col("term"),
        units(col("tf").cast("double") / col("dl"), 1000000).as("wu"))
      .groupBy(col("q_id"), col("term"))
      .agg(sum(col("wu")).as("wu"))
    val wE = Window.partitionBy(col("q_id"))
      .orderBy(col("wu").desc, col("term"))
    val exp = fb.withColumn("er", row_number().over(wE))
      .filter(col("er") <= PrfFbTerms)
      .select(col("q_id"), col("term"), col("wu"))
      .localCheckpoint(false) // feeds the vocab restriction AND the join
    val evocab = exp.select(col("term")).distinct()
    bm25Scored(p, p.join(broadcast(evocab), "term"),
      exp.join(bm25Idf(p, evocab), "term"),
      (col("wu").cast("double") / lit(1000000.0)) * col("idf"),
      BmImpactCap, PrfK)
      .orderBy(col("q_id"), col("rank"))
  }

  /** late_interaction knobs: candidate pool depth (stage 1) and the
    * reranked result depth. Single-sourced into the oracle SQL.
    */
  val LiPoolC = 20
  val LiK = 5

  /** Depth of the persisted late-interaction exact-truth pool — covers
    * [[LiPoolC]] with headroom for param sweeps.
    */
  private val LiTruthDepth = 30

  private def liTruthPath(dir: String): String =
    IndexStore.path("li-truth-v1", dir)

  /** Build the late-interaction EXACT-TRUTH pool artifact: the brute
    * whole-document hash-embedding cosine sweep, persisted to
    * [[LiTruthDepth]] per query with the raw double score. The
    * denseTruth posture applied to the hash-sum vector space: the brute
    * stage-1 is the audited baseline of [[lateInteractionAnn]] and the
    * exact side of [[liPoolRecall]] — as a persisted artifact it is the
    * run-1 build, and both become pure consumers.
    */
  private def buildLiTruth(spark: SparkSession, dir: String,
      path: String): Unit = {
    val docToks = Dedup.tokenStream(spark, dir, "w")
    // checkpoint BEFORE the n2 filter: pushdown would otherwise
    // substitute the packed-lane sum tree into the predicate (the
    // curriculum_order filter-pushdown rule, at expression scale)
    val docVec = Embedder.hashSumRows(docToks, Seq("doc_id"))
      .localCheckpoint(false) // feeds the query and candidate sides
      .filter(col("n2") > 0)
    import graft.functions.VectorFunctions.dotLong
    val q = docVec.filter(isQuery)
      .select(col("doc_id").as("q_id"), col("sv").as("qsv"),
        col("n2").as("qn2"))
    val d = docVec.filter(!isQuery)
      .select(col("doc_id").as("d_id"), col("sv").as("dsv"),
        col("n2").as("dn2"))
    val wPool = Window.partitionBy(col("q_id"))
      .orderBy(col("pool_sim").desc, col("d_id"))
    val pool = d.join(broadcast(q), col("q_id") =!= col("d_id"))
      .select(col("q_id"), col("d_id"),
        (dotLong(col("qsv"), col("dsv")).cast("double")
          / sqrt(col("qn2").cast("double"))
          / sqrt(col("dn2").cast("double"))).as("pool_sim"))
      .withColumn("pr", row_number().over(wPool))
      .filter(col("pr") <= LiTruthDepth)
    graft.sources.Sinks.writeSortedParquet(pool, path, Seq("q_id", "pr"))
  }

  /** The brute stage-1 pool, served from the persisted exact-truth
    * artifact (built on first use per JVM, then a plain parquet read —
    * no checkpoint needed; each consumer branch re-reads the tiny
    * k-bounded frame).
    */
  private def liBrutePool(spark: SparkSession, dir: String): DataFrame = {
    val path = liTruthPath(dir)
    IndexStore.ensureBuilt(path)(buildLiTruth(spark, dir, path))
    Tables.read(spark, path)
      .filter(col("pr") <= LiPoolC)
      .select(col("q_id"), col("d_id"), col("pool_sim"))
  }

  /** late_interaction: ColBERT-style retrieve-then-rerank — stage 1
    * ranks a [[LiPoolC]]-doc candidate pool per query by WHOLE-document
    * hash-embedding cosine (the reference's find_similar_documents
    * shape), stage 2 re-scores the pool with late interaction over
    * CHUNK embeddings: score(q,d) = mean over q-chunks of the MAX
    * cosine against d's chunks (MaxSim; Khattab & Zaharia, SIGIR'20).
    * A long doc that buries one highly-relevant passage under unrelated
    * text loses in whole-doc cosine but wins MaxSim — exactly the
    * passage-retrieval gap a RAG context builder cares about.
    *
    * Exactness: both cosine stages divide EXACT INTEGERS
    * (Embedder.hashSumRows ±1-bit sums; `dot / sqrt(n2a) / sqrt(n2b)`
    * in one mirrored operand order) — no rounded vector components
    * anywhere. The per-(q,d) mean over chunk maxima converts each max
    * to 1e-6 integer units first, so the sum is order-independent.
    *
    * Scale shape: stage 1 is the documented brute baseline (the
    * knn_join posture — queries ride one broadcast; the ANN indexes
    * are the production pool source, exactly as mmr_rerank consumes
    * them); stage 2's chunk joins are bounded by pool size × chunks
    * per doc regardless of corpus, with the chunk-vector frame built
    * once (semi-joined per side) and every join an equi-join on doc
    * id. The 64 sums aggregate in one codegen'd packed-lane pass.
    */
  def lateInteraction(spark: SparkSession, dir: String): DataFrame =
    rerankMaxSim(spark, dir, liBrutePool(spark, dir))

  /** The IVF-probed stage-1 pool (the mmrPoolIvf serving posture
    * truncated to [[LiPoolC]]) — shared by [[lateInteractionAnn]] and
    * [[liPoolRecall]].
    */
  private def liAnnPool(spark: SparkSession, dir: String): DataFrame = {
    val wPool = Window.partitionBy(col("q_id"))
      .orderBy(col("simq").desc, col("doc_id"))
    Similarity.mmrPoolIvf(spark, dir)
      .withColumn("pr", row_number().over(wPool))
      .filter(col("pr") <= LiPoolC)
      .select(col("q_id"), col("doc_id").as("d_id"),
        col("simq").as("pool_sim"))
      .localCheckpoint(false) // feeds both chunk semi-joins and the output
  }

  /** li_pool_recall: how much of the late-interaction BRUTE pool the
    * IVF-probed pool recovers, per query — the ann_recall /
    * mmr_pool_recall posture applied to the late-interaction stage-1:
    * the number that licenses running the cheap pool in production
    * (late_interaction_ann) while the brute arm stays the oracle.
    *
    * CAVEAT — cross-representation recall: the brute pool ranks by the
    * 64-dim hash-sum integer cosine over document TEXT, while the IVF
    * pool ranks dense cosine over the separate embeddings table, so the
    * reported number conflates representation mismatch with ANN probe
    * loss (a deployment whose stage-1 index embeds the same text sees
    * only the probe-loss component, which mmr_pool_recall isolates).
    * Read it as the END-TO-END pool agreement of the two serving
    * stacks, the number that matters for swapping one for the other —
    * not as an IVF-recall measurement.
    */
  def liPoolRecall(spark: SparkSession, dir: String): DataFrame = {
    val b = liBrutePool(spark, dir).select(col("q_id"), col("d_id"))
    val a = liAnnPool(spark, dir).select(col("q_id"), col("d_id"))
    val hits = b.join(a, Seq("q_id", "d_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    b.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        r4(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_exact")).as("recall"))
      .orderBy(col("q_id"))
  }

  /** late_interaction_ann: the PRODUCTION pool source — stage 1 comes
    * from the persisted IVF probe (Similarity.mmrPoolIvf's serving
    * posture: nprobe cells, true-cosine ranked) instead of the brute
    * sweep, stage 2 is the identical chunk MaxSim rerank. This is the
    * pairing the 100 TB deployment runs; [[lateInteraction]]'s brute
    * pool is its oracle baseline, exactly as mmr_rerank/mmr_pool_recall
    * pair up.
    */
  def lateInteractionAnn(spark: SparkSession, dir: String): DataFrame =
    rerankMaxSim(spark, dir, liAnnPool(spark, dir))

  /** The persisted chunk hash-sum vectors of a corpus — built once
    * (the IndexStore posture: chunk embedding is the expensive pass;
    * every late-interaction query only probes it), then a plain
    * parquet read. Dominated the 10× probe before persisting.
    *
    * The chunk geometry params (`spark.graft.param.chunk.{width,stride}`)
    * are FOLDED INTO the artifact key: chunkDocs honors them, so two
    * sessions with different knobs must never share one artifact — the
    * first caller's geometry would otherwise freeze into the path and
    * silently serve later callers stale chunk vectors.
    */
  private def chunkVecPath(spark: SparkSession, dir: String): String = {
    val w = graft.Params.int(spark, "chunk.width", ChunkTokens)
    val s = graft.Params.int(spark, "chunk.stride", ChunkStride)
    graft.operators.IndexStore.path(s"chunk-hashsums-w$w-s$s-v1", dir)
  }

  private def chunkVectors(spark: SparkSession, dir: String): DataFrame = {
    val path = chunkVecPath(spark, dir)
    graft.operators.IndexStore.ensureBuilt(path) {
      val chunkToks = chunkDocs(spark, dir)
        .select(col("doc_id"), col("chunk_id"),
          explode(Dedup.normToks(col("chunk_text"))).as("w"))
      graft.sources.Sinks.writeSortedParquet(
        Embedder.hashSumRows(chunkToks, Seq("doc_id", "chunk_id")),
        path, Seq("doc_id", "chunk_id"))
    }
    Tables.read(spark, path)
  }

  /** The late-interaction rerank tail: chunk vectors once, MaxSim over
    * a (q_id, d_id, pool_sim) candidate pool — shared by the brute and
    * IVF-probed stage-1 variants.
    */
  private def rerankMaxSim(spark: SparkSession, dir: String,
      pool: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dotLong
    val cv = chunkVectors(spark, dir)
      .filter(col("n2") > 0)
    val qc = cv.select(col("doc_id").as("qdid"), col("chunk_id").as("qck"),
        col("sv").as("qcv"), col("n2").as("qcn2"))
      .join(pool.select(col("q_id")).distinct(),
        col("qdid") === col("q_id"), "left_semi")
    val dc = cv.select(col("doc_id").as("ddid"), col("chunk_id").as("dck"),
        col("sv").as("dcv"), col("n2").as("dcn2"))
      .join(pool.select(col("d_id")).distinct(),
        col("ddid") === col("d_id"), "left_semi")
    val scored = pool
      .join(qc, col("qdid") === col("q_id"))
      .join(dc, col("ddid") === col("d_id"))
      .select(col("q_id"), col("d_id"), col("qck"),
        (dotLong(col("qcv"), col("dcv")).cast("double")
          / sqrt(col("qcn2").cast("double"))
          / sqrt(col("dcn2").cast("double"))).as("cs"))
      .groupBy(col("q_id"), col("d_id"), col("qck"))
      .agg(max(col("cs")).as("mx"))
      .groupBy(col("q_id"), col("d_id"))
      .agg(sum(units(col("mx"), 1000000)).as("smu"),
        count(lit(1)).as("nq"))
      .select(col("q_id"), col("d_id"),
        r6(col("smu").cast("double") / col("nq") / 1000000)
          .as("li_score"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("li_score").desc, col("d_id"))
    scored.join(pool, Seq("q_id", "d_id"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= LiK)
      .select(col("q_id"), col("d_id"), col("rank").cast("int").as("rank"),
        col("li_score"), r6(col("pool_sim")).as("pool_sim"))
      .orderBy(col("q_id"), col("rank"))
  }
}
