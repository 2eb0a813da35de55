package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Analytics, Curation, Dedup, Retrieval, Similarity,
  TextAnalysis}

/** Scale-posture regression tests: these assert PLAN SHAPE, not results.
  * With the broadcast threshold disabled (the 100 TB world, where no fact
  * side fits in memory), the plans must degrade to shuffle joins — except
  * the explicitly-hinted true dimensions — and must never contain a
  * cartesian product.
  */
class PlanSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Structural plan for node-class assertions: AdaptiveSparkPlanExec
    * is a children-less wrapper (collect() sees nothing through it), so
    * unwrap to the current physical plan underneath.
    */
  private def physical(df: DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  private def withNoAutoBroadcast[T](f: => T): T = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("q5_region at scale: only the nation dim broadcasts; facts shuffle") {
    withNoAutoBroadcast {
      val plan = planOf(Analytics.q5Region(spark, dir))
      // exactly the hinted region⋈nation chain broadcasts (2 exchanges:
      // region into nation, nation into the fact join)
      val broadcasts = "BroadcastExchange".r.findAllIn(plan).size
      assert(broadcasts === 2, s"expected 2 dim broadcasts, plan:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"fact joins must shuffle at scale, plan:\n$plan")
      assert(!plan.contains("CartesianProduct"))
    }
  }

  test("doc-stats consumers scan the artifact, never documents") {
    // token_count is the canonical consumer: one pruned artifact scan,
    // no re-tokenize, no documents scan (the r12 recompute fix must
    // not silently regress)
    val plan = planOf(TextAnalysis.tokenCount(spark, dir))
    assert(plan.contains("doc-stats-v1"), s"must read the artifact:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"must not re-scan documents:\n$plan")
  }

  test("curate_corpus plan is an artifact read plus one sort — no joins") {
    val plan = planOf(Curation.curateCorpus(spark, dir))
    assert(plan.contains("curate-manifest"),
      s"must read the manifest artifact:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"the five-stage composite must live in the build only:\n$plan")
    assert(!plan.contains("Join"), s"pure artifact read, no joins:\n$plan")
  }

  test("q3_revenue at scale: no broadcast at all, shuffle joins only") {
    withNoAutoBroadcast {
      val plan = planOf(Analytics.q3Revenue(spark, dir))
      assert(!plan.contains("BroadcastHashJoin"),
        s"q3 has no dim small enough to hint, plan:\n$plan")
      assert(!plan.contains("CartesianProduct"))
    }
  }

  test("q14_promo at scale: part⋈lineitem shuffles, never broadcasts") {
    withNoAutoBroadcast {
      val plan = planOf(Analytics.q14Promo(spark, dir))
      // part is fact-sized at scale (200K rows × SF): no broadcast hint,
      // so with the threshold off the join must degrade to a shuffle join
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"part join must shuffle at scale, plan:\n$plan")
      assert(!plan.contains("CartesianProduct"))
    }
  }

  test("q4/q22: membership subqueries plan as semi/anti joins, no cartesian") {
    withNoAutoBroadcast {
      val p4 = planOf(Analytics.q4Priority(spark, dir))
      assert(p4.contains("LeftSemi"), s"EXISTS must be a semi join:\n$p4")
      assert(!p4.contains("CartesianProduct") &&
        !p4.contains("BroadcastNestedLoopJoin"), p4)
      val p22 = planOf(Analytics.q22IdleRich(spark, dir))
      assert(p22.contains("LeftAnti"), s"NOT EXISTS must be an anti join:\n$p22")
      assert(!p22.contains("CartesianProduct"), p22)
      // the ONE sanctioned nested-loop is the 1-row scalar threshold
      assert("BroadcastNestedLoopJoin".r.findAllIn(p22).size === 1, p22)
    }
  }

  test("q21_blame: both membership probes are semi/anti equi-joins") {
    withNoAutoBroadcast {
      val p = planOf(Analytics.q21Blame(spark, dir))
      assert(p.contains("LeftSemi"), s"EXISTS probe must be semi:\n$p")
      assert(p.contains("LeftAnti"), s"NOT EXISTS probe must be anti:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"self-join probes must stay key-partitioned:\n$p")
      assert(p.contains("TakeOrdered"), s"top-N must not global-sort:\n$p")
    }
  }

  test("q7/q8 at scale: only nation/region dims broadcast; facts shuffle") {
    withNoAutoBroadcast {
      val p7 = planOf(Analytics.q7Volume(spark, dir))
      // the two 2-row nation lookups (supplier + customer side)
      assert("BroadcastExchange".r.findAllIn(p7).size === 2, p7)
      assert(!p7.contains("CartesianProduct"), p7)
      val p8 = planOf(Analytics.q8Share(spark, dir))
      // supplier-side nation (25 rows) + region→nation chain (2 exchanges)
      assert("BroadcastExchange".r.findAllIn(p8).size === 3, p8)
      assert(!p8.contains("CartesianProduct"), p8)
      assert(p8.contains("SortMergeJoin") || p8.contains("ShuffledHashJoin"),
        s"fact joins must shuffle at scale:\n$p8")
    }
  }

  test("q19/q17/cheapest_supplier: residuals and join-backs stay equi-joins") {
    withNoAutoBroadcast {
      // q19: the cross-table disjunction must remain a partkey equi-join
      // residual, never a nested loop over the fact
      val p19 = planOf(Analytics.q19Disjunct(spark, dir))
      assert(!p19.contains("CartesianProduct") &&
        !p19.contains("BroadcastNestedLoopJoin"), p19)
      assert(p19.contains("SortMergeJoin") || p19.contains("ShuffledHashJoin"),
        s"q19 must equi-join on partkey:\n$p19")
      val p17 = planOf(Analytics.q17SmallQty(spark, dir))
      assert(!p17.contains("CartesianProduct") &&
        !p17.contains("BroadcastNestedLoopJoin"), p17)
      val pcs = planOf(Analytics.cheapestSupplier(spark, dir))
      assert(!pcs.contains("CartesianProduct") &&
        !pcs.contains("BroadcastNestedLoopJoin"), pcs)
    }
  }

  test("q16: anti-join exclusion precedes the two-phase distinct aggregate") {
    withNoAutoBroadcast {
      val p = planOf(Analytics.q16SupplierCnt(spark, dir))
      assert(p.contains("LeftAnti"), s"NOT IN must be an anti join:\n$p")
      // count(distinct) plans as partial-distinct then count: at least
      // two HashAggregate pairs (4 nodes) beyond the sp distinct
      assert("HashAggregate".r.findAllIn(p).size >= 4,
        s"distinct aggregate must be two-phase:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("q6/q10/q13/q15: scan-agg pushes filters; outer/argmax stay keyed") {
    // q6 is the pure scan-aggregate: no join node of ANY kind, and all
    // three band predicates reach the parquet scan as pushed filters
    val p6 = Analytics.q6Forecast(spark, dir).queryExecution
    assert(!p6.executedPlan.toString.contains("Join"),
      s"q6 must not join:\n${p6.executedPlan}")
    // structural, not string-rendered: the parquet scan node itself must
    // carry a data filter referencing l_shipdate (plan-string formatting
    // shifts across Spark versions / DSv1-v2; the scan's dataFilters
    // field does not)
    val scans6 = physical(Analytics.q6Forecast(spark, dir)).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans6.nonEmpty, s"q6 must read parquet:\n${p6.executedPlan}")
    assert(scans6.exists(_.dataFilters.exists(
        _.references.exists(_.name == "l_shipdate"))),
      s"q6 shipdate predicate must reach the scan:\n${p6.executedPlan}")
    withNoAutoBroadcast {
      // q10: only the hinted 25-row nation dim broadcasts; top-N is
      // TakeOrdered over the per-customer aggregate
      val p10 = planOf(Analytics.q10Returns(spark, dir))
      assert("BroadcastExchange".r.findAllIn(p10).size === 1, p10)
      assert(p10.contains("TakeOrdered"), s"top-N must not global-sort:\n$p10")
      assert(!p10.contains("CartesianProduct"), p10)
      // q13: the zero-bucket-preserving join must stay LeftOuter and
      // shuffle on custkey at scale (both sides fact-sized)
      val p13 = planOf(Analytics.q13Custdist(spark, dir))
      assert(p13.contains("LeftOuter"), s"q13 must outer-join:\n$p13")
      assert(!p13.contains("BroadcastHashJoin") &&
        !p13.contains("CartesianProduct"), p13)
      // q15: Catalyst rewrites crossJoin(max) + equality filter into a
      // broadcast HASH join keyed on the normalized revenue value — no
      // nested loop survives at all
      val pe15 = physical(Analytics.q15TopSupplier(spark, dir))
      // structural: the max join-back must plan as a HASH join with
      // real join keys (Catalyst keys it on the normalized revenue
      // value) — not a nested loop over the 1-row max
      val hash15 = pe15.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(hash15.exists(_.leftKeys.nonEmpty),
        s"max join-back must hash on the value:\n$pe15")
      val p15 = pe15.toString
      assert(!p15.contains("BroadcastNestedLoopJoin") &&
        !p15.contains("CartesianProduct"), p15)
    }
  }

  test("q9/q12: derived-measure star and cross-table pivot stay keyed") {
    withNoAutoBroadcast {
      // q9: only the hinted 25-row nation dim broadcasts; part/supplier/
      // orders joins degrade to shuffles at scale; never cartesian
      val p9 = planOf(Analytics.q9Profit(spark, dir))
      assert("BroadcastExchange".r.findAllIn(p9).size === 1, p9)
      assert(p9.contains("SortMergeJoin") || p9.contains("ShuffledHashJoin"),
        s"q9 fact joins must shuffle at scale:\n$p9")
      assert(!p9.contains("CartesianProduct") &&
        !p9.contains("BroadcastNestedLoopJoin"), p9)
      // q12: the orderkey join is fact⋈fact — no broadcast survives the
      // threshold-off world, and the date window reaches the scan
      val p12 = planOf(Analytics.q12Shipmode(spark, dir))
      assert(!p12.contains("BroadcastHashJoin") &&
        !p12.contains("CartesianProduct"), p12)
      val scans12 = physical(Analytics.q12Shipmode(spark, dir)).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans12.exists(_.dataFilters.exists(
          _.references.exists(_.name == "l_shipdate"))),
        s"q12 date window must reach the scan:\n$p12")
    }
  }

  test("r8 additions: no cartesian anywhere; map/agg shapes stay BNL-free") {
    import graft.operators.{CorpusStats, Curation, Similarity}
    withNoAutoBroadcast {
      // composition/probe queries: 1-row and centroid-table broadcasts
      // are sanctioned (counted elsewhere); a cartesian never is
      Seq[(String, DataFrame)](
        "rag_context" -> Similarity.ragContext(spark, dir),
        "classifier_examples" -> Curation.classifierExamples(spark, dir),
        "signal_corr" -> CorpusStats.signalCorr(spark, dir),
        "ccnet_buckets" -> CorpusStats.ccnetBuckets(spark, dir),
        "dsir_select" -> CorpusStats.dsirSelect(spark, dir),
        "hard_negatives" -> Similarity.hardNegatives(spark, dir)
      ).foreach { case (name, df) =>
        val p = planOf(df)
        assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      }
      // pure partial-agg shapes: no join node of any kind survives
      Seq[(String, DataFrame)](
        "pack_stats" -> Curation.packStats(spark, dir),
        "embedding_norms" -> Similarity.embeddingNorms(spark, dir)
      ).foreach { case (name, df) =>
        val p = planOf(df)
        assert(!p.contains("Join"), s"$name must not join:\n$p")
      }
    }
  }

  test("q11/q20: aggregate-derived thresholds stay keyed joins") {
    withNoAutoBroadcast {
      // q11: the grouped frame is checkpointed (the fact join lives
      // upstream of the visible plan); the ONE sanctioned nested-loop
      // is the 1-row national total driving the inequality (q22 rule)
      val p11 = planOf(Analytics.q11ImportantStock(spark, dir))
      assert(!p11.contains("CartesianProduct"), p11)
      assert("BroadcastNestedLoopJoin".r.findAllIn(p11).size === 1, p11)
      // q20: the dominance probe is a partkey equi-join and the nation
      // membership ends as a LEFT SEMI on suppkey
      val p20 = planOf(Analytics.q20ExcessStock(spark, dir))
      assert(p20.contains("LeftSemi"), s"q20 must semi-join:\n$p20")
      assert(!p20.contains("CartesianProduct") &&
        !p20.contains("BroadcastNestedLoopJoin"), p20)
    }
  }

  test("curate_corpus: five-way doc_id composition stays cartesian-free") {
    withNoAutoBroadcast {
      val p = planOf(graft.operators.Curation.curateCorpus(spark, dir))
      assert(!p.contains("CartesianProduct"), p)
      // the only nested loops permitted are the 1-row scalar broadcasts
      // inherited from the stage pipelines (apply_mix's totals)
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    }
  }

  test("copurchase: top-k is TakeOrdered; pair join is an equi-join") {
    withNoAutoBroadcast {
      val p = planOf(Analytics.copurchase(spark, dir))
      assert(p.contains("TakeOrdered"), s"top-k must not global-sort:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      // the ONE sanctioned nested-loop is the 1-row n_orders scalar
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 1, p)
    }
  }

  test("q1_pricing: partial (map-side) aggregation and pruned scan") {
    val plan = planOf(Analytics.q1Pricing(spark, dir))
    // partial + final HashAggregate pair
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    // 7 of 11 lineitem columns read
    val read = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(read.split(",").length <= 7, s"scan not pruned: $read")
  }

  test("dedup and LSH candidate generation never cross-joins") {
    withNoAutoBroadcast {
      for (df <- Seq(
          Dedup.dedupMinhash(spark, dir),
          Dedup.dedupSimhash(spark, dir),
          Dedup.dedupNgram(spark, dir))) {
        val plan = planOf(df)
        assert(!plan.contains("CartesianProduct"), plan)
        assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      }
    }
  }

  test("lsh_ann keeps only the tiny query side as a broadcast") {
    val plan = planOf(Similarity.lshAnn(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bm25 postings join shuffles on term, never cartesians") {
    withNoAutoBroadcast {
      // the gated bm25Topk is now a pure artifact consumer; the join
      // shapes live in the BUILD pipeline (bm25Ranked)
      val plan = planOf(Retrieval.bm25Ranked(spark, dir,
        Retrieval.BmTopK))
      assert(!plan.contains("CartesianProduct"), plan)
      // the only nested-loop joins are the 1-row stats broadcasts; the
      // postings joins (corpus tf ⋈ query terms / doc lens) must be
      // key-partitioned equi-joins
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"postings join must shuffle on its key at scale, plan:\n$plan")
    }
    // and the gated query itself must carry no corpus-side join at all —
    // a pure read + rank filter over the persisted ranking
    val served = planOf(Retrieval.bm25Topk(spark, dir))
    assert(!served.contains("Join"),
      s"served bm25_topk must be an artifact read, plan:\n$served")
  }

  test("bm25, QL and PRF rank over the one persisted postings artifact") {
    Seq("bm25Ranked" -> Retrieval.bm25Ranked(spark, dir, Retrieval.BmTopK),
      "qlRanked" -> Retrieval.qlRanked(spark, dir, Retrieval.QlTopK),
      "prfExpandLive" -> Retrieval.prfExpandLive(spark, dir)).foreach {
      case (name, df) =>
        val scans = physical(df).collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.relation.location.rootPaths.map(_.getName)
        }.flatten
        assert(scans.exists(_.startsWith("lex-postings-v1-")),
          s"$name must scan the postings artifact, scans: $scans")
    }
  }

  test("asof_join is a pure union + window: no join node of any kind") {
    withNoAutoBroadcast {
      val plan = planOf(graft.operators.Sessions.asofJoin(spark, dir))
      // the union + carry-forward formulation never pairs rows: a range
      // join (quadratic per key) or cartesian must not appear — nor any
      // join at all
      assert(!plan.contains("Join"), s"asof must not join, plan:\n$plan")
      assert(plan.contains("Window"), plan)
    }
  }

  test("semdedup is a training-free equi-join over the persisted cells") {
    withNoAutoBroadcast {
      val plan = planOf(Similarity.semDedup(spark, dir))
      // within-cell pairs come from a key-partitioned equi-join on ccell,
      // never a cross product over the corpus
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      // a pure consumer of the persisted index: no checkpointed training
      // lineage may appear in the query plan
      assert(!plan.contains("ExistingRDD"),
        s"semdedup plan contains training lineage:\n$plan")
    }
  }

  test("dedup_substring never cross-joins; spans come from window merges") {
    withNoAutoBroadcast {
      val plan = planOf(Dedup.dedupSubstring(spark, dir))
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("Window"), plan)
    }
  }

  test("ngram_stats top-k is TakeOrdered, not a global sort") {
    val plan = planOf(graft.operators.CorpusStats.ngramStats(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must be a tree-reduced TakeOrdered:\n$plan")
  }

  test("ann_ivfpq probe is training-free and cell-pruned over the index") {
    val idx = Similarity.ivfPqIndex(spark, dir)
    val plan = planOf(Similarity.annIvfPqProbe(spark, dir, idx))
    // the codes scan must carry a dynamic partition-pruning filter on the
    // cell column — the probe reads only the nprobe probed inverted lists
    assert(plan.contains("dynamicpruning"),
      s"codes scan not pruned to probed cells:\n$plan")
    // a probe never trains: training materializes through localCheckpoint
    // (ExistingRDD scans); a pure probe plan reads parquet only
    assert(!plan.contains("ExistingRDD"),
      s"probe plan contains checkpointed training lineage:\n$plan")
  }

  test("r8-cont family: new audit plans keep the scale shapes") {
    // ann_filtered: the metadata predicate is a SEMI join (membership
    // only), candidates never cartesian
    val pf = planOf(Similarity.annFiltered(spark, dir))
    assert(pf.contains("LeftSemi"), s"metadata filter must be semi:\n$pf")
    assert(!pf.contains("CartesianProduct"), pf)
    // span_hotspots: top-k is TakeOrdered, never a global Sort+Limit
    val ph = planOf(Dedup.spanHotspots(spark, dir))
    assert(ph.contains("TakeOrderedAndProject"),
      s"hot-span top-k must be TakeOrdered:\n$ph")
    // sft_export / split_leakage / contamination_report: join-shaped,
    // cartesian-free
    Seq(graft.operators.Curation.sftExport(spark, dir),
      graft.operators.Curation.splitLeakage(spark, dir),
      graft.operators.Curation.contaminationReport(spark, dir),
      Retrieval.topicCoverage(spark, dir)).foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), p)
    }
    // map-only audit stays join-free (length_hist by contrast carries
    // its grid-total broadcast join and is covered by the cartesian
    // sweep above)
    Seq(graft.operators.CorpusStats.tokenizerFertility(spark, dir))
      .foreach { q =>
        val p = planOf(q)
        assert(!p.contains("Join"), s"per-lang rollup must be join-free:\n$p")
      }
    val plh = planOf(graft.operators.CorpusStats.lengthHist(spark, dir))
    assert(!plh.contains("CartesianProduct"), plh)
  }

  test("r8-cont-2 family: gate joins stay shuffled; dedup filters stay keyed") {
    // signal_auc / curriculum_order: the lambda-heavy quality gate must
    // NEVER ride a broadcast (it would evaluate single-threaded on the
    // build side) — the hinted gate join plans as a sort-merge join
    val pa = planOf(graft.operators.CorpusStats.signalAuc(spark, dir))
    assert(pa.contains("SortMergeJoin"),
      s"signal_auc gate join must be sort-merge:\n$pa")
    assert(!pa.contains("CartesianProduct"), pa)
    // curriculum_order's gate join runs eagerly behind its
    // localCheckpoint (same hinted shape as signal_auc above — the
    // final plan only shows the rank stage): the offset grid rides a
    // broadcast, the rank is a Window, nothing cartesians
    val pc = planOf(graft.operators.Curation.curriculumOrder(spark, dir))
    assert(pc.contains("BroadcastHashJoin") && pc.contains("Window"),
      s"curriculum rank must be offset-broadcast + window:\n$pc")
    assert(!pc.contains("CartesianProduct"), pc)
    // containment_dup: canonical filter is a SEMI join, the df cap an
    // ANTI join, the pair join an equi-join — no cartesian anywhere
    val pd = planOf(Dedup.containmentDup(spark, dir))
    assert(pd.contains("LeftSemi"),
      s"canonical filter must be a semi join:\n$pd")
    assert(pd.contains("LeftAnti"), s"df cap must be an anti join:\n$pd")
    assert(!pd.contains("CartesianProduct"), pd)
    // user_overlap / ship_latency / temporal_decay /
    // revenue_concentration: equi-joins + partial aggs only (the 1-row
    // scalar broadcasts are the sanctioned crossJoin pattern)
    Seq(graft.operators.Sessions.userOverlap(spark, dir),
      Analytics.shipLatency(spark, dir),
      graft.operators.Sessions.temporalDecay(spark, dir),
      Analytics.revenueConcentration(spark, dir)).foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), p)
    }
    // r8-cont-3/4 family: every join-shaped audit stays cartesian-free;
    // the map-only profiles stay join-free entirely
    Seq(Retrieval.sparseKnn(spark, dir),
      graft.operators.Curation.labelQueue(spark, dir),
      graft.operators.Sessions.robustStats(spark, dir),
      graft.operators.Sessions.dowAnomalies(spark, dir),
      graft.operators.TextAnalysis.langidF1(spark, dir),
      graft.operators.Tenancy.forgetUser(spark, dir),
      graft.operators.Sessions.weeklyProfile(spark, dir),
      Dedup.fuzzyMatch(spark, dir)).foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), p)
    }
    val pm = planOf(graft.operators.Multimodal.mediaDedup(spark, dir))
    assert(!pm.contains("Join"), s"media_dedup must be join-free:\n$pm")
  }

  test("r12-cont family: survival/AB stats and GT classes stay keyed; " +
      "the only nested loops are 1-row scalar broadcasts") {
    withNoAutoBroadcast {
      Seq[(String, DataFrame)](
        "logrank_test" -> graft.operators.Sessions.logrankTest(spark, dir),
        "cuped_lift" -> graft.operators.Sessions.cupedLift(spark, dir),
        "fdr_bh" -> graft.operators.Sessions.fdrBh(spark, dir),
        "good_turing" -> graft.operators.CorpusStats.goodTuring(spark, dir)
      ).foreach { case (name, df) =>
        val p = planOf(df)
        assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      }
      // good_turing's r+1 class self-join must be keyed, not a loop
      val pg = planOf(graft.operators.CorpusStats.goodTuring(spark, dir))
      assert(pg.contains("SortMergeJoin") || pg.contains("ShuffledHashJoin"),
        s"fof self-join must equi-join on the class key:\n$pg")
    }
  }

  test("r12 batch-8 family: the bootstrap replica grid and the scalar " +
      "totals ride broadcasts, never a cartesian") {
    withNoAutoBroadcast {
      Seq[(String, DataFrame)](
        // the ×B replica explode and the 1-row est frame are both
        // hinted broadcasts — the sanctioned crossJoin pattern
        "bootstrap_ci" -> graft.operators.Sessions.bootstrapCi(spark, dir),
        // the 1-row totals frame drives every candidate's gain
        "changepoint" -> Analytics.changepoint(spark, dir),
        "heaps_law" -> graft.operators.CorpusStats.heapsLaw(spark, dir)
      ).foreach { case (name, df) =>
        val p = planOf(df)
        assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      }
    }
  }

  test("r12 batch-9 family: the SES lag join and the OOV membership " +
      "stay keyed; only bounded grids ride broadcasts") {
    withNoAutoBroadcast {
      val ps = planOf(graft.operators.Sessions.sesBacktest(spark, dir))
      assert(!ps.contains("CartesianProduct"), ps)
      // the 28-lag probe joins the grid on (type, day) equi-keys
      assert(ps.contains("SortMergeJoin") || ps.contains("ShuffledHashJoin"),
        s"ses lag probe must equi-join the grid:\n$ps")
      Seq[(String, DataFrame)](
        "oov_rate" -> graft.operators.CorpusStats.oovRate(spark, dir),
        "hill_tail" -> graft.operators.CorpusStats.hillTail(spark, dir)
      ).foreach { case (name, df) =>
        val p = planOf(df)
        assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      }
    }
  }

  test("r12 batch-10 family: margins join the trigram frame on keys; " +
      "hist and coverage ride bounded grids only") {
    withNoAutoBroadcast {
      val pm = planOf(graft.operators.Sessions.markovOrder(spark, dir))
      assert(!pm.contains("CartesianProduct"), pm)
      assert(pm.contains("SortMergeJoin") || pm.contains("ShuffledHashJoin"),
        s"margin joins must stay keyed:\n$pm")
      Seq[(String, DataFrame)](
        "vocab_coverage" ->
          graft.operators.CorpusStats.vocabCoverage(spark, dir),
        "jaccard_hist" -> Dedup.jaccardHist(spark, dir)
      ).foreach { case (name, df) =>
        val p = planOf(df)
        assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      }
    }
  }

  test("scd2_lookup at scale: the validity refine rides an equi-join " +
      "on the entity key, never a nested loop") {
    withNoAutoBroadcast {
      val p = planOf(graft.operators.Sessions.scd2Lookup(spark, dir))
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"scd2 lookup must shuffle on the entity key at scale:\n$p")
    }
  }

  test("gini/lorenz value-grid cumulative: every Window is PARTITIONED " +
      "(the r12 single-partition grid window must not regress)") {
    // The grid of distinct per-customer cent totals ≈ |customers| at
    // scale; an unpartitioned cumulative over it moves 15M+ rows to one
    // partition. The two-level rewrite must leave only bucket-partitioned
    // windows in the plan — assert structurally, not via the WARN log.
    def unpartitionedWindows(
        p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w.toString
      }
    Seq[(String, DataFrame)](
      "gini_revenue" -> Analytics.giniRevenue(spark, dir),
      "lorenz_curve" -> Analytics.lorenzCurve(spark, dir)
    ).foreach { case (name, df) =>
      val bad = unpartitionedWindows(physical(df))
      assert(bad.isEmpty,
        s"$name has unpartitioned Window(s):\n${bad.mkString("\n")}")
    }
  }

  private def unpartitionedWins(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w.toString
    }

  test("r13 incremental-ingest family: the band store prunes through a " +
      "broadcast semi-join (never a store shuffle) and nothing cartesians") {
    withNoAutoBroadcast {
      // the store-prune semi-join and cap groupBy run inside the
      // operator's own localCheckpoints (materialized frames), so the
      // FINAL plan only shows the verify tail — pin what it exposes:
      // keyed joins only, nothing cartesian, no nested loop
      val p = planOf(Dedup.dedupDelta(spark, dir))
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      val ar = planOf(Curation.arrivalReport(spark, dir))
      assert(!ar.contains("CartesianProduct"))
      assert(!ar.contains("BroadcastNestedLoopJoin"))
    }
    // r14: the store's stage-1 prune is the BLOOM bitmap — per hash one
    // map-side broadcast bit probe; the store itself is never shuffled
    // (no exchange on its side), and the broadcast frame is the set-bit
    // set, hard-capped at DeltaBloomBits rows regardless of shard size
    val touched = Dedup.minhashBandedFrom(
        Dedup.shingleRowsOf(graft.sources.Tables.documents(spark, dir)
          .filter(Dedup.isDelta(org.apache.spark.sql.functions
            .col("doc_id")))))
      .select(org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("key")).distinct()
      .localCheckpoint()
    val bp = physical(Dedup.bloomPrunedStore(spark, dir, touched))
    val semis = bp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.size === Dedup.DeltaBloomHashes,
      s"expected ${Dedup.DeltaBloomHashes} Bloom bit probes, plan:\n$bp")
    assert(!planOf(Dedup.bloomPrunedStore(spark, dir, touched))
      .contains("SortMergeJoin"))
    // store_coverage combines 1-row aggregates per artifact (the q22
    // sanctioned scalar class): under the default threshold they ride
    // broadcast, and every KEYED join stays an equi-join
    val sc = planOf(Curation.storeCoverage(spark, dir))
    assert(!sc.contains("CartesianProduct"))
  }

  test("r13 BQ re-threshold family: the median value-grid windows stay " +
      "dim-partitioned; the code unpack never cartesians") {
    Seq[(String, DataFrame)](
      "bq_bit_balance" -> Similarity.bqBitBalance(spark, dir),
      "bq_rethreshold" -> Similarity.bqRethreshold(spark, dir)
    ).foreach { case (name, df) =>
      val bad = unpartitionedWins(physical(df))
      assert(bad.isEmpty,
        s"$name has unpartitioned Window(s):\n${bad.mkString("\n")}")
      assert(!planOf(df).contains("CartesianProduct"), name)
    }
  }

  test("r13 graph family: the walk's entry pool rides keyed joins and " +
      "per-query windows; its rounds run in-task against a capped " +
      "broadcast") {
    import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    withNoAutoBroadcast {
      val df = Similarity.annGraph(spark, dir)
      assert(!planOf(df).contains("CartesianProduct"))
      val bad = unpartitionedWins(physical(df))
      assert(bad.isEmpty,
        s"ann_graph has unpartitioned Window(s):\n${bad.mkString("\n")}")
      // one in-task walk, fed by the entry pool's own q_id window with
      // no exchange in between
      val walks = physical(df).collect { case m: MapPartitionsExec => m }
      assert(walks.size === 1, s"plan:\n${physical(df)}")
      def toWindow(n: SparkPlan): Seq[SparkPlan] = n match {
        case _: WindowExec => Nil
        case _ => n +: n.children.flatMap(toWindow)
      }
      val between = toWindow(walks.head)
      assert(!between.exists(_.isInstanceOf[Exchange]),
        s"exchange between the entry window and the walk:\n${walks.head}")
      // the walk's broadcast (graph adjacency + vectors) fits its cap
      assert(Similarity.requireWalkFits(
        Similarity.knnGraph(spark, dir).count(),
        graft.sources.Tables.embeddings(spark, dir).count()) <=
        Similarity.WalkBroadcastCap)
      val dg = planOf(Similarity.graphDegree(spark, dir))
      assert(!dg.contains("CartesianProduct"))
      assert(unpartitionedWins(physical(
        Similarity.graphDegree(spark, dir))).isEmpty)
    }
  }

  test("r13 drift_gate: a pure union of the four audits — no cartesian, " +
      "no nested loop beyond the audits' own 1-row broadcasts") {
    val p = planOf(graft.operators.Sessions.driftGate(spark, dir))
    assert(!p.contains("CartesianProduct"))
  }

  test("text surface: the kernels replace every regex/replace/contains " +
      "node, and each kernel runs once per row") {
    import org.apache.spark.sql.catalyst.expressions.{Contains, Expression,
      RegExpReplace, StringReplace}
    import graft.functions.{CleanText, KeywordRules}
    // query -> (CleanText, KeywordRules) evaluations in the plan;
    // effectiveness cleans both sides of its pair self-join
    val expected = Map(
      "clean_text" -> (1, 0), "template_classify" -> (1, 1),
      "topic_detect" -> (1, 1), "training_examples" -> (1, 2),
      "effectiveness" -> (2, 1), "category_info" -> (1, 1),
      "lemma_tokens" -> (1, 0))
    expected.foreach { case (name, (nClean, nRules)) =>
      val plan = physical(SparkEntry.queries(name)(spark, dir))
      val perNode: Seq[Seq[Expression]] = plan.collect { case n =>
        n.expressions.flatMap(_.collect { case e => e })
      }
      val banned = perNode.flatten.filter {
        case _: RegExpReplace | _: StringReplace | _: Contains => true
        case _ => false
      }
      assert(banned.isEmpty, s"$name still runs $banned:\n$plan")
      val kernels = perNode.map(_.collect {
        case k @ (_: CleanText | _: KeywordRules) => k.canonicalized
      })
      kernels.foreach(ks => assert(ks.distinct.size === ks.size,
        s"$name evaluates a kernel twice in one operator:\n$plan"))
      val all = kernels.flatten
      assert(all.count(_.isInstanceOf[CleanText]) === nClean,
        s"$name CleanText count:\n$plan")
      assert(all.count(_.isInstanceOf[KeywordRules]) === nRules,
        s"$name KeywordRules count:\n$plan")
    }
  }

  test("interaction surface: props decoded by the kernel, never twice in " +
      "one operator") {
    import org.apache.spark.sql.catalyst.expressions.GetJsonObject
    import graft.functions.JsonField
    val keys = Seq("conversation_history", "conversation_context",
      "interaction_history", "topic_interactions", "high_quality",
      "high_quality_topic")
    // the harness also sends high_quality a topic
    val withTopic = Params.Namespace + "high_quality.topic"
    val plans = keys.map(k => k -> physical(SparkEntry.queries(k)(spark, dir))) :+ {
      spark.conf.set(withTopic, "Anxiety")
      try "high_quality+topic" ->
        physical(SparkEntry.queries("high_quality")(spark, dir))
      finally spark.conf.unset(withTopic)
    }
    plans.foreach { case (name, plan) =>
      val perNode = plan.collect { case n =>
        n.expressions.flatMap(_.collect { case e => e })
      }
      assert(!perNode.flatten.exists(_.isInstanceOf[GetJsonObject]),
        s"$name still parses props with get_json_object:\n$plan")
      perNode.foreach(es => assert(es.count(_.isInstanceOf[JsonField]) <= 1,
        s"$name evaluates the props kernel twice in one operator:\n$plan"))
      assert(perNode.flatten.exists(_.isInstanceOf[JsonField]) ===
        (name != "conversation_context"), name)
    }
  }
}
