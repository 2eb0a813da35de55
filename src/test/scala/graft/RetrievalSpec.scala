package graft

import graft.operators.Retrieval

/** Hand-checkable BM25 / tf-idf scenarios. Query docs are doc_id ≡ 0
  * (mod 100), so doc 0 is the query and 1..4 the corpus.
  */
class RetrievalSpec extends SparkSpecBase {

  private def dir() = fixtureDir(docs = Seq(
    doc(0, "apple banana"), // the query
    doc(1, "apple apple apple"), // high tf on 'apple'
    doc(2, "apple cherry date"), // one hit
    doc(3, "banana banana cherry"), // hits the rarer query term
    doc(4, "cherry date elderberry fig"))) // no query term

  test("bm25_topk: only docs sharing a query term score; ranking sane") {
    val out = Retrieval.bm25Topk(spark, dir()).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    // doc 4 shares no term with the query: absent
    assert(!out.keys.exists(_._2 == 4L))
    // docs 1, 2, 3 all share >= 1 term: all present for query 0
    assert(out.keySet.map(_._2) === Set(1L, 2L, 3L))
    // 'banana' (df=1) is rarer than 'apple' (df=2): doc 3 (tf=2 on the
    // rare term) must outrank doc 2 (tf=1 on the common term)
    assert(out((0L, 3L))._1 > out((0L, 2L))._1)
    // ranks are 1..3 and ordered by score
    assert(out.values.map(_._2).toSet === Set(1, 2, 3))
    val byRank = out.toSeq.sortBy(_._2._2).map(_._2._1)
    assert(byRank === byRank.sorted.reverse)
  }

  test("bm25_topk: scores match the formula (hand computation)") {
    val out = Retrieval.bm25Topk(spark, dir()).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // corpus: docs 1..4, N=4, dl = 3,3,3,4, avgdl = 13/4 = 3.25
    val n = 4.0; val avgdl = 13.0 / 4
    def idf(df: Int): Double =
      math.floor(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 1e6 + 0.5) / 1e6
    def term(tf: Int, dl: Int, df: Int): Double =
      math.floor(idf(df) * (tf * 2.2) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))) * 1e6 + 0.5) / 1e6
    // doc 1: apple tf=3, dl=3, df(apple)=2
    assert(math.abs(out((0L, 1L)) - term(3, 3, 2)) < 1e-9)
    // doc 3: banana tf=2, dl=3, df(banana)=1
    assert(math.abs(out((0L, 3L)) - term(2, 3, 1)) < 1e-9)
    // doc 2: apple tf=1, dl=3
    assert(math.abs(out((0L, 2L)) - term(1, 3, 2)) < 1e-9)
  }

  test("ql_topk: Dirichlet scores match the formula (hand computation)") {
    val out = Retrieval.qlTopk(spark, dir()).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    // corpus: docs 1..4 (doc 0 is the query), |C| = 13 tokens,
    // ctf(apple)=4, ctf(banana)=2; dl = 3,3,3,4; mu = 2000
    val mu = Retrieval.QlMu; val total = 13.0
    // exact 1e-6-unit integer arithmetic (what both engines' DECIMAL
    // accumulation computes), one double division at the end
    def micros(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    def part(tf: Int, ctf: Int) =
      micros(math.log(1.0 + tf * total / (mu * ctf)))
    def norm(dl: Int) = micros(math.log(mu / (dl + mu)))
    // both query terms are in-vocabulary: |q| = 2 for every candidate
    def score(pm: Long, dl: Int) = (pm + norm(dl) * 2) / 1e6
    // doc 1: apple tf=3; doc 2: apple tf=1; doc 3: banana tf=2
    assert(out((0L, 1L))._1 === score(part(3, 4), 3))
    assert(out((0L, 2L))._1 === score(part(1, 4), 3))
    assert(out((0L, 3L))._1 === score(part(2, 2), 3))
    // doc 4 shares no query term: not a candidate
    assert(!out.keys.exists(_._2 == 4L))
    // the rare-term doc must outrank the single common-term hit
    assert(out((0L, 3L))._1 > out((0L, 2L))._1)
    assert(out.values.map(_._2).toSet === Set(1, 2, 3))
  }

  test("hybrid_retrieve: RRF fuses both rankers; vector-only docs surface") {
    val d = fixtureDir(
      docs = Seq(
        doc(0, "apple banana"),
        doc(1, "apple apple apple"),
        doc(2, "apple cherry date"),
        doc(3, "banana banana cherry"),
        doc(4, "cherry date elderberry fig")), // no query term: lex-absent
      embs = Seq(
        Emb(0, vec(1.0), 0),
        Emb(1, vec(0.0, 1.0), 0),       // orthogonal to the query
        Emb(2, vec(1.0, 0.1), 0),       // near
        Emb(3, vec(0.0, 0.0, 1.0), 0),  // orthogonal
        Emb(4, vec(1.0, 0.05), 0)))     // nearest
    val lex = operators.Retrieval.bm25Topk(spark, d).collect()
      .map(r => r.getLong(1) -> r.getInt(3)).toMap
    // cosine ranks by hand: doc4 (.99875) > doc2 (.995) > doc1 = doc3 (0,
    // tie broken by id)
    val vrank = Map(4L -> 1, 2L -> 2, 1L -> 3, 3L -> 4)
    def rrf(id: Long): Double = math.floor((
      lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        vrank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0))
      * 1e6 + 0.5) / 1e6
    val out = operators.Retrieval.hybridRetrieve(spark, d).collect()
      .map(r => r.getLong(1) -> (r.getDouble(2), r.getInt(3))).toMap
    // every candidate doc fused with the reference RRF value
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    out.foreach { case (id, (s, _)) =>
      assert(math.abs(s - rrf(id)) < 1e-9, s"doc $id: $s vs ${rrf(id)}") }
    // lex-absent doc 4 surfaces through the vector ranker alone
    assert(out(4L)._1 === math.floor(1.0 / 61 * 1e6 + 0.5) / 1e6)
    // output order = fused score desc, doc_id tie-break
    val order = out.toSeq.sortBy(_._2._2).map(_._1)
    val expOrder = Seq(1L, 2L, 3L, 4L).map(id => id -> rrf(id))
      .sortBy { case (id, s) => (-s, id) }.map(_._1)
    assert(order === expOrder)
  }

  test("tfidf_vectors: rare terms outweigh common ones, top-k per doc") {
    val out = Retrieval.tfidfVectors(spark, dir()).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // all 5 docs tokenize: every doc has rows, none more than 5 terms
    val byDoc = out.keys.groupBy(_._1)
    assert(byDoc.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(byDoc.values.forall(_.size <= Retrieval.TfidfTopTerms))
    // doc 4's 'elderberry' (df=1) must score above its 'cherry' (df=3)
    assert(out((4L, "elderberry"))._2 > out((4L, "cherry"))._2)
    // tf carried through: doc 1 has apple tf=3
    assert(out((1L, "apple"))._1 === 3L)
  }

  test("chunk_docs: stride windows, boundary kmax, no pure-overlap tail") {
    def toks(n: Int) = (0 until n).map(i => s"t$i")
    def txt(n: Int) = toks(n).mkString(" ")
    val d = fixtureDir(docs = Seq(
      doc(1, "a  b\tc"),   // short: one chunk, normToks collapses ws
      doc(2, txt(70)),     // tail chunk has 22 tokens (16 overlap + 6 new)
      doc(3, txt(112)),    // chunk 1 ends exactly at n: k=2 must NOT emit
      doc(4, txt(113)),    // one past the boundary: k=2 emits 17 tokens
      doc(5, "   ")))      // empty after normalization: dropped
    def slice(n: Int, k: Int) =
      toks(n).slice(k * 48, math.min(k * 48 + 64, n)).mkString(" ")
    assert(rows(graft.operators.Retrieval.chunkDocs(spark, d)) === Set(
      Seq(1L, 0, 0, 3, "a b c"),
      Seq(2L, 0, 0, 64, slice(70, 0)), Seq(2L, 1, 48, 22, slice(70, 1)),
      Seq(3L, 0, 0, 64, slice(112, 0)), Seq(3L, 1, 48, 64, slice(112, 1)),
      Seq(4L, 0, 0, 64, slice(113, 0)), Seq(4L, 1, 48, 64, slice(113, 1)),
      Seq(4L, 2, 96, 17, slice(113, 2))))
  }

  test("cluster_terms: pooled counts per cell, stopword-free, ranks dense") {
    // every doc: 3×alpha dominates any cell it lands in (even a
    // singleton cell, where a unique w_i term's higher idf peaks at
    // ln((nc+1)/2)+1 < 3); "the" must be stopword-filtered
    val docs = (0L until 10L).map(i => doc(i, s"the alpha alpha alpha beta w$i"))
    val embs = (0L until 10L).map(i =>
      Emb(i, Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat / 13f),
        (i % 4).toInt))
    val dir = fixtureDir(docs = docs, embs = embs)
    val out = Retrieval.clusterTerms(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[String]("term") != "the"))
    out.groupBy(_.getAs[Int]("ccell")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.head.getAs[String]("term") === "alpha")
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to rs.size))
    }
    // pooled alpha multiplicity across cells covers the whole corpus
    assert(out.filter(_.getAs[String]("term") == "alpha")
      .map(_.getAs[Long]("tf")).sum === 30L)
  }

  test("topic_coverage: grid counts, cell shares, and lift reconcile") {
    val docs = (0L until 10L).map(i => doc(i, s"alpha w$i", s"s${i % 2}"))
    val embs = (0L until 10L).map(i =>
      Emb(i, Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat / 13f),
        (i % 4).toInt))
    val dir = fixtureDir(docs = docs, embs = embs)
    val out = Retrieval.topicCoverage(spark, dir).collect()
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    // the grid covers the whole corpus exactly once
    assert(out.map(_.getAs[Long]("n_docs")).sum === 10L)
    val tot = 10L
    val cellN = out.groupBy(_.getAs[Int]("ccell"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val srcN = out.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    out.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val cn = cellN(r.getAs[Int]("ccell"))
      val sn = srcN(r.getAs[String]("source"))
      assert(r.getAs[Double]("cell_share") === r4(n.toDouble / cn))
      assert(r.getAs[Double]("lift") ===
        r4((n * tot).toDouble / (cn * sn).toDouble))
    }
  }

  test("ndcg_eval: dense arm is the ideal (1.0); dcg matches hand IDCG") {
    // >= 11 docs so every query has a full graded top-10
    val docs = (0L until 12L).map(i => doc(i, s"alpha beta w$i topic"))
    val embs = (0L until 12L).map(i =>
      Emb(i, Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat / 13f),
        (i % 4).toInt))
    val dir = fixtureDir(docs = docs, embs = embs)
    val out = Retrieval.ndcgEval(spark, dir).collect()
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val idcg = rnd6((1 to 10).map(i =>
      (BigDecimal(11 - i) *
        BigDecimal(rnd6(1.0 / (math.log(i + 1) / math.log(2))))))
      .sum.toDouble)
    val dense = out.filter(_.getAs[String]("arm") == "dense_exact")
    assert(dense.nonEmpty)
    dense.foreach { r =>
      assert(r.getAs[Double]("ndcg") === 1.0)
      assert(r.getAs[Double]("dcg") === idcg)
    }
    assert(out.forall(r => r.getAs[Double]("ndcg") >= 0.0 &&
      r.getAs[Double]("ndcg") <= 1.0))
  }

  test("sparse_knn: identical vector tops at 1.0; disjoint vocab is absent") {
    val d = fixtureDir(docs = Seq(
      doc(100, "apple banana"),
      doc(1, "apple banana"),   // identical term vector -> cos 1.0
      doc(2, "apple cherry"),   // shares one term -> 0 < cos < 1
      doc(3, "kiwi mango")))    // no shared term -> never a candidate
    val out = operators.Retrieval.sparseKnn(spark, d).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L))
    val byId = out.map(r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("rank"), r.getAs[Double]("cos"))).toMap
    assert(byId(1L)._1 === 1 && byId(1L)._2 === 1.0)
    assert(byId(2L)._1 === 2 && byId(2L)._2 > 0.0 && byId(2L)._2 < 1.0)
  }

  test("arm_overlap: hybrid fixture overlap counts and rank gap by hand") {
    // same fixture as the hybrid test: lex retrieves {1,2,3} (query
    // terms), dense retrieves {4,2,1,3}; common = {1,2,3}
    val d = fixtureDir(
      docs = Seq(
        doc(0, "apple banana"),
        doc(1, "apple apple apple"),
        doc(2, "apple cherry date"),
        doc(3, "banana banana cherry"),
        doc(4, "cherry date elderberry fig")),
      embs = Seq(
        Emb(0, vec(1.0), 0),
        Emb(1, vec(0.0, 1.0), 0),
        Emb(2, vec(1.0, 0.1), 0),
        Emb(3, vec(0.0, 0.0, 1.0), 0),
        Emb(4, vec(1.0, 0.05), 0)))
    val lex = operators.Retrieval.bm25Topk(spark, d).collect()
      .map(r => r.getLong(1) -> r.getInt(3)).toMap
    val vrank = Map(4L -> 1, 2L -> 2, 1L -> 3, 3L -> 4)
    val common = lex.keySet.intersect(vrank.keySet)
    val gaps = common.toSeq.map(id => math.abs(lex(id) - vrank(id)).toLong)
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val expJac = r4(common.size.toDouble /
      (lex.size + vrank.size - common.size))
    assert(rows(operators.Retrieval.armOverlap(spark, d)) === Set(
      Seq(0L, lex.size.toLong, 4L, common.size.toLong, expJac,
        r4(gaps.sum.toDouble / common.size))))
  }

  test("late_interaction: the identical doc tops both stages at exactly 1.0") {
    val qt = "alpha beta gamma delta epsilon"
    // doc 100 is the query (QueryMod); doc 1 is its verbatim copy and
    // must rank first with pool cosine AND MaxSim exactly 1.0 (integer
    // dot == both squared norms); 2 and 3 share no tokens with it
    val d = fixtureDir(docs = Seq(
      doc(100, qt), doc(1, qt),
      doc(2, "zig zag zoom bop bip"),
      doc(3, "unrelated words entirely different content here")))
    val out = Retrieval.lateInteraction(spark, d).collect()
    assert(out.nonEmpty)
    val top = out.filter(r =>
      r.getAs[Long]("q_id") == 100L && r.getAs[Int]("rank") == 1).head
    assert(top.getAs[Long]("d_id") === 1L)
    assert(top.getAs[Double]("li_score") === 1.0)
    assert(top.getAs[Double]("pool_sim") === 1.0)
    assert(out.forall(r => r.getAs[Double]("li_score") <= 1.0))
    // ranks are dense per query, ordered by li_score desc
    val perQ = out.groupBy(_.getAs[Long]("q_id"))
    perQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ===
        (1 to rs.length).toSeq)
      assert(sorted.map(-_.getAs[Double]("li_score")).toSeq ===
        sorted.map(-_.getAs[Double]("li_score")).toSeq.sorted)
    }
  }

  test("late_interaction_ann: IVF pool reranks with the same MaxSim semantics") {
    // the real testdata carries the persisted IVF index; assert the
    // structural contract on sf0.001 — bounded pools, dense ranks,
    // scores in [0, 1]-ish MaxSim range, pool_sim from the probe
    val dir = "/root/testdata/sf0.001"
    val out = operators.Retrieval.lateInteractionAnn(spark, dir).collect()
    assert(out.nonEmpty)
    val perQ = out.groupBy(_.getAs[Long]("q_id"))
    perQ.values.foreach { rs =>
      assert(rs.length <= operators.Retrieval.LiK)
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ===
        (1 to rs.length).toSeq)
      assert(sorted.map(-_.getAs[Double]("li_score")).toSeq ===
        sorted.map(-_.getAs[Double]("li_score")).toSeq.sorted)
    }
    assert(out.forall(r => math.abs(r.getAs[Double]("li_score")) <= 1.0 &&
      math.abs(r.getAs[Double]("pool_sim")) <= 1.0))
  }

  test("li_pool_recall: per-query hit counts bounded by the pool depth") {
    val dir = "/root/testdata/sf0.001"
    val out = operators.Retrieval.liPoolRecall(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ex = r.getAs[Long]("n_exact")
      val hit = r.getAs[Long]("n_hit")
      assert(ex >= 1L && ex <= operators.Retrieval.LiPoolC)
      assert(hit >= 0L && hit <= ex)
      assert(r.getAs[Double]("recall") ===
        math.floor(hit.toDouble / ex * 1e4 + 0.5) / 1e4)
    }
  }

  test("impact_recall: default caps lossless; cap=1 drops the mid doc") {
    val d = fixtureDir(docs = Seq(
      doc(0, "apple banana"),
      doc(1, "apple apple apple"),
      doc(2, "apple cherry date"),
      doc(3, "banana banana cherry")))
    // default caps (2000) never bite on 3 corpus docs: both arms exact
    val out = operators.Retrieval.impactRecall(spark, d).collect()
      .map(r => r.getAs[String]("arm") ->
        (r.getAs[Long]("n_queries"), r.getAs[Long]("n_truth"),
          r.getAs[Long]("n_matched"), r.getAs[Double]("recall"))).toMap
    assert(out.keySet === Set("bm25", "sparse"))
    out.values.foreach { case (nq, nt, nm, rec) =>
      assert(nq === 1L && nt === nm && rec === 1.0)
    }
    // cap=1 keeps only each term's top posting: apple -> doc 1 (tf 3),
    // banana -> doc 3; doc 2 vanishes from both capped rankings
    Seq(operators.Retrieval.bm25Ranked(spark, d, operators.Retrieval.BmTopK,
        cap = 1),
      operators.Retrieval.sparseRanked(spark, d, 1)).foreach { r =>
      assert(r.select("doc_id").collect().map(_.getLong(0)).toSet ===
        Set(1L, 3L))
    }
  }

  test("ir_metrics: hand-computed MRR/recall/P@1 on aligned text+vector " +
      "geometry") {
    // dense top for q0: 1 (twin), 3, 2 -> all three are "relevant"
    // (NdcgK=10 > corpus). bm25, ql and prf retrieve only doc 1 (the
    // one lexical match); hybrid fuses to all three with doc 1 leading.
    val d = fixtureDir(
      docs = Seq(doc(0, "apple banana"), doc(1, "apple banana"),
        doc(2, "cherry date"), doc(3, "kiwi lemon")),
      embs = Seq(Emb(0, vec(1.0, 0.0), 0), Emb(1, vec(1.0, 0.0), 0),
        Emb(2, vec(0.0, 1.0), 0), Emb(3, vec(0.5, 0.5), 0)))
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val got = rows(operators.Retrieval.irMetrics(spark, d))
    assert(got === Set(
      Seq("bm25", 1L, 1.0, r4(1.0 / 10), 1.0),
      Seq("dense_exact", 1L, 1.0, r4(3.0 / 10), 1.0),
      Seq("hybrid", 1L, 1.0, r4(3.0 / 10), 1.0),
      Seq("prf", 1L, 1.0, r4(1.0 / 10), 1.0),
      Seq("ql", 1L, 1.0, r4(1.0 / 10), 1.0)))
  }

  test("prf_expand: expansion recovers a doc sharing no original query " +
      "term; the seed doc still ranks first") {
    val d = fixtureDir(docs = Seq(
      doc(0, "apple banana"),        // query (0 % 100 == 0)
      doc(1, "apple banana cherry"), // only bm25 seed (shares q terms)
      doc(2, "cherry cherry date"),  // NO query term; cherry ties to seed
      doc(3, "kiwi lemon")))         // shares nothing -> unreachable
    val out = operators.Retrieval.prfExpand(spark, d).collect()
    assert(out.forall(_.getAs[Long]("q_id") == 0L))
    val byDoc = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
    // doc 2 is retrievable ONLY through the expansion term "cherry" —
    // the PRF recall-recovery behavior the operator exists for
    assert(byDoc.keySet === Set(1L, 2L))
    assert(byDoc(1L) === 1 && byDoc(2L) === 2)
    assert(out.forall(_.getAs[Double]("score") > 0.0))
  }

  test("rank_corr: matches a driver-side Spearman recomputation of the " +
      "served bm25/prf rankings") {
    import org.apache.spark.sql.functions.col
    val d = fixtureDir(docs = Seq(
      doc(0, "apple banana"),          // query
      doc(1, "apple banana cherry"),   // strong on both arms
      doc(2, "cherry cherry date"),    // prf-only (expansion term)
      doc(3, "banana date"),           // weaker lexical match
      doc(4, "apple egg egg")))        // weaker lexical match
    def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
    val lex = ranksOf(operators.Retrieval.bm25Topk(spark, d)
      .filter(col("q_id") === 0))
    val prf = ranksOf(operators.Retrieval.prfExpand(spark, d)
      .filter(col("q_id") === 0))
    val common = (lex.keySet & prf.keySet).toSeq
    assert(common.size >= 2) // the fixture must exercise the formula
    def rerank(m: Map[Long, Int]) = common.sortBy(m).zipWithIndex
      .map { case (doc, i) => doc -> (i + 1) }.toMap
    val la = rerank(lex); val va = rerank(prf)
    val m = common.size.toLong
    val sd2 = common.map(k => { val x = (la(k) - va(k)).toLong; x * x }).sum
    val rho = math.floor(
      (1.0 - 6.0 * sd2 / (m * (m * m - 1))) * 1e6 + 0.5) / 1e6
    assert(rows(operators.Retrieval.rankCorr(spark, d)
      .filter(col("q_id") === 0)) === Set(Seq(0L, m, rho)))
  }

  test("fusion_sweep: alpha=0 reproduces the dense order exactly; " +
      "alpha=1 lands on the hand-computed lexical ndcg") {
    val d = fixtureDir(
      docs = Seq(doc(0, "apple banana"), doc(1, "apple banana"),
        doc(2, "cherry date"), doc(3, "kiwi lemon")),
      embs = Seq(Emb(0, vec(1.0, 0.0), 0), Emb(1, vec(1.0, 0.0), 0),
        Emb(2, vec(0.0, 1.0), 0), Emb(3, vec(0.5, 0.5), 0)))
    val out = operators.Retrieval.fusionSweep(spark, d).collect()
      .map(r => r.getAs[Double]("alpha") ->
        (r.getAs[Long]("n_queries"), r.getAs[Double]("mean_ndcg"))).toMap
    assert(out.keySet === Set(0.0, 0.25, 0.5, 0.75, 1.0))
    assert(out.values.forall(_._1 == 1L))
    // dense scores are distinct (1.0, 0.7071, 0.0): the norm is order-
    // preserving, so every dense-dominant blend is the ideal order
    Seq(0.0, 0.25, 0.5, 0.75).foreach(a => assert(out(a)._2 === 1.0))
    // alpha=1: only doc 1 scores lexically -> fused order (1, 2, 3) vs
    // dense grades (10, 8, 9); 6dp DECIMAL discounts 1, 0.630930, 0.5
    val dcg = BigDecimal(10) + BigDecimal("0.630930") * 8 +
      BigDecimal("0.5") * 9
    val ideal = BigDecimal(10) + BigDecimal("0.630930") * 9 +
      BigDecimal("0.5") * 8
    val exp = math.floor(dcg.toDouble / ideal.toDouble * 1e6 + 0.5) / 1e6
    assert(out(1.0)._2 === exp)
  }

  test("the lexical guard finds restated saturations and cap knobs, " +
      "not prose") {
    val src =
      """object X {
        |  val sat = col("tf") * lit(BmK1Plus1)
        |  // col("tf") * lit(BmK1Plus1)
        |  val s = "lit(BmK1Plus1)"
        |  val k1 = lit(BmK1)
        |  val cap = graft.Params.int(spark,
        |    "bm25_topk.impact_cap", BmImpactCap)
        |  val k = Params.int(spark, "bm25_topk.k", BmTopK)
        |  // Params.int(spark, "ql_topk.impact_cap", 1)
        |  val path = s"lex-truth-c$BmImpactCap-v1"
        |}""".stripMargin
    assert(RetrievalSpec.restatements(src) === Seq(2 -> "lit(BmK1Plus1)",
      6 -> "bm25_topk.impact_cap"))
  }

  test("src/main states BM25 saturation once and reads no impact_cap") {
    val files = FixedSpec.scalaFiles(new java.io.File("src/main/scala"))
    assert(files.size > 20, "no sources under src/main/scala")
    val found = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      RetrievalSpec.restatements(src).map { case (line, what) =>
        s"${f.getName}:$line $what" }
    }
    // the one statement: the saturation helper's own body
    assert(found.map(_.replaceAll(":\\d+", "")) ===
      Seq("Retrieval.scala lit(BmK1Plus1)"), found.mkString("\n"))
  }
}

object RetrievalSpec {
  private val Saturation = """\blit\s*\(\s*BmK1Plus1\s*\)""".r
  private val ParamsRead = """\bParams\s*\.\s*\w+\s*\(""".r
  private val CapKey = """"([\w.]*\.impact_cap)"""".r

  /** (line, what) of each `lit(BmK1Plus1)` and each `Params` read of an
    * `*.impact_cap` key in Scala source `src`. Comments and literals are
    * skipped; only a read's own key literal is looked into.
    */
  def restatements(src: String): Seq[(Int, String)] = {
    val c = FixedSpec.code(src)
    def line(at: Int) = c.substring(0, at).count(_ == '\n') + 1
    val reads = ParamsRead.findAllMatchIn(c).flatMap { m =>
      var depth = 0
      val close = (m.end - 1 until c.length).find { j =>
        if (c(j) == '(') depth += 1 else if (c(j) == ')') depth -= 1
        depth == 0
      }.getOrElse(c.length)
      CapKey.findFirstMatchIn(src.substring(m.end, close))
        .map(k => line(m.start) -> k.group(1))
    }
    (Saturation.findAllMatchIn(c).map(m => line(m.start) -> "lit(BmK1Plus1)")
      ++ reads).toSeq.sortBy(_._1)
  }
}
