package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fixed.{LeastSquares, leastSquares, r4, r6, units}
import graft.sources.Tables

/** Corpus-level statistics for training-mix engineering — the steps that
  * turn a raw crawl inventory into a data recipe:
  *
  *  - `ngram_stats`: the corpus's dominant word bigrams (boilerplate and
  *    template phrases surface here first — the signal behind C4's
  *    line-level boilerplate rules).
  *  - `domain_mix`: token budgets per language vs a target mixture — the
  *    sampling-weight planning step (cf. DoReMi, Xie et al. 2023, and the
  *    fixed mixture tables of the Pile/LLaMA reports).
  *  - `quality_thresholds`: per-language quantiles of the quality score —
  *    data-driven cutoff calibration, so a single global threshold does
  *    not over-prune low-resource languages (the CCNet per-language
  *    perplexity-bucket insight, Wenzek et al. 2020).
  *
  * The reference has no corpus-planning surface (it curates per
  * interaction, database.py:96-160); these operators are the batch
  * analogue over the `documents` corpus.
  *
  * Scale shape: every operator is one scan plus partial-agg-friendly
  * groupBys on low-cardinality keys (gram, lang). The only global step is
  * ngram_stats's top-k, which is TakeOrdered (tree-reduced per-partition
  * heaps), NOT a single-partition window sort.
  */
object CorpusStats {

  val NgramTopK = 20

  /** Target language mixture for domain_mix — a fixed recipe table (the
    * LLaMA-style published-mixture shape). Single-sourced to the oracle
    * SQL via [[graft.oracle.DuckSql]].
    */
  val LangTargets: Seq[(String, Double)] = Seq(
    "en" -> 0.50, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.10, "zh" -> 0.10)

  /** The persisted per-document stats artifact (doc-stats-v1): doc_id,
    * lang, source, n_chars, the three token budgets (normalized /
    * whitespace / BPE-ish regex), text length, and the 4dp quality
    * composite — ONE corpus scan + tokenize, written range-sorted by
    * doc_id, consumed by every audit that previously re-tokenized the
    * corpus for counts it could have read (curation_funnel, corpus_card,
    * source_card, domain_mix, epoch_plan, length_hist,
    * tokenizer_fertility, quality_thresholds, hist_quantiles, …). The
    * lm-nll-v1 playbook applied to the cheap signals: all columns are
    * deterministic per text, so values are bit-identical to inline
    * computation (doubles round-trip parquet exactly). At 100 TB this
    * replaces ~10 full tokenize passes per sweep with one build.
    */
  private[graft] def docStatsPath(dir: String): String =
    IndexStore.path("doc-stats-v1", dir)

  private[graft] def docStats(spark: SparkSession, dir: String)
      : DataFrame = {
    val path = docStatsPath(dir)
    IndexStore.ensureBuilt(path)(
      graft.sources.Sinks.writeSortedParquet(
        Tables.cpuPartition(
          Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
            col("source"), col("n_chars"), col("text")),
          col("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            size(Dedup.normToks(col("text"))).cast("long").as("toks_norm"),
            size(TextAnalysis.toks(col("text"))).cast("long").as("toks_ws"),
            size(regexp_extract_all(col("text"),
              lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
              .cast("long").as("toks_re"),
            length(col("text")).cast("long").as("text_len"),
            TextAnalysis.qualityScoreCol.as("quality")),
        path, Seq("doc_id")))
    Tables.read(spark, path)
  }

  /** quality_by_length's low-quality cut. Single-sourced to the oracle
    * SQL.
    */
  val QualityLowCut = 0.5

  /** quality_by_length: mean quality and low-quality share per
    * power-of-two token-length bin — the CONFOUND audit of the quality
    * gate (the composite has an explicit length term, so a cutoff
    * calibrated on the pooled distribution silently becomes a length
    * filter; this table shows exactly how much of the score is length
    * before anyone tunes a threshold on it). length_hist's bins ×
    * corpus_card's exact-decimal quality mean.
    *
    * Plan: pure doc-stats consumer — one artifact scan, a ≤~30-bin
    * partial agg.
    */
  def qualityByLength(spark: SparkSession, dir: String): DataFrame = {
    docStats(spark, dir)
      .select(col("toks_norm").as("toks"),
        col("quality").cast("decimal(18,4)").as("q"),
        (col("quality") < QualityLowCut).as("lowq"))
      .select(col("q"), col("lowq"),
        when(col("toks") === 0, lit(0L)).otherwise(expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(length(bin(toks)) AS INT) - 1)"))
          .as("bin_lo"))
      .groupBy(col("bin_lo"))
      .agg(count(lit(1)).as("n_docs"),
        r4(sum(col("q")).cast("double") / count(lit(1)))
          .as("mean_quality"),
        r4(sum(when(col("lowq"), 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("low_share"))
      .orderBy(col("bin_lo"))
  }

  /** ngram_stats: the corpus's top-[[NgramTopK]] word bigrams with
    * occurrence and document counts.
    *
    * Plan: tokens explode once per document (the row-shaped posture of
    * Dedup.shingleRows — lead() builds the bigram, no per-element
    * re-tokenization), then ONE shuffle groupBy gram with map-side
    * partial counts. The distinct-doc count rides the same aggregate via
    * two-level (gram, doc) pre-aggregation, not count(distinct) over raw
    * occurrence rows. The global top-k is orderBy+limit = TakeOrdered;
    * the rank window runs on the k surviving rows only.
    */
  def ngramStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"),
        posexplode(Dedup.normToks(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), lead(col("tok"), 1).over(w)).as("gram"),
        lead(col("tok"), 1).over(w).isNotNull.as("full"))
      .filter(col("full"))
    // (gram, doc) partial first: the second groupBy then counts rows for
    // n_docs and sums for n_occurrences — distinct-doc counting without
    // an expand/distinct over the full occurrence stream.
    val perDoc = grams.groupBy(col("gram"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val counts = perDoc.groupBy(col("gram"))
      .agg(sum(col("c")).as("n_occurrences"), count(lit(1)).as("n_docs"))
    val top = counts
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(NgramTopK)
    // k rows at this point — the unpartitioned window is deliberate
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("gram"))))
      .select(col("gram"), col("n_occurrences"), col("n_docs"), col("rank"))
  }

  /** cooccur_pmi window (±5 tokens, the word2vec default), minimum pair
    * support, and leaderboard depth. Single-sourced to the oracle SQL.
    */
  val PmiWindow = 5
  val PmiMinPairs = 5
  val PmiTopK = 40

  /** cooccur_pmi: the corpus's top-[[PmiTopK]] PMI collocations —
    * unordered token pairs co-occurring within a ±[[PmiWindow]]-token
    * window (Church & Hanks CL'90), scored by
    * ln(p(a,b) / (p(a)·p(b))) with pair support ≥ [[PmiMinPairs]].
    * ngram_stats surfaces frequency-dominant bigrams (boilerplate); PMI
    * surfaces ASSOCIATION-dominant pairs — the collocation signal a
    * phrase-mining / tokenizer-prep pass reads (and the statistic behind
    * word2vec's SGNS factorization, Levy & Goldberg NeurIPS'14).
    * Stopwords are excluded before windowing (the cluster_terms rule) so
    * the window spans content terms.
    *
    * Scale shape: pair generation is [[PmiWindow]] lead() columns over
    * the per-doc token order — LINEAR fan-out (W rows per token), never
    * a per-doc self-join (a doc-level pair join is quadratic in doc
    * length); unigram/pair totals are 1-row broadcasts; top-k is
    * TakeOrdered. The min-support filter runs BEFORE the PMI math, so
    * the scored frame is bounded by the support threshold.
    *
    * Parity: counts are exact integers; the PMI ratio computes in
    * double with identical operand order on both engines, ln rounds to
    * 6dp after (the exp/ln precedent).
    */
  def cooccurPmi(spark: SparkSession, dir: String): DataFrame = {
    val sw = array(RefVocab.enStopwords.map(lit): _*)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // filter() is a HOF: the Generate goes interpreted, so its child
    // (the normToks projection) materializes once per row — the
    // chunk_docs Generate rule
    val toks = Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"),
        posexplode(filter(Dedup.normToks(col("text")),
          t => !array_contains(sw, t))).as(Seq("pos", "term")))
      .localCheckpoint(false) // feeds the pair windows AND the unigram agg
    val led = (1 to PmiWindow).foldLeft(toks) { (df, k) =>
      df.withColumn(s"t$k", lead(col("term"), k).over(w))
    }
    val pairs = led
      .select(col("term"),
        explode(array((1 to PmiWindow).map(k => col(s"t$k")): _*))
          .as("other"))
      .filter(col("other").isNotNull)
      .select(least(col("term"), col("other")).as("term_a"),
        greatest(col("term"), col("other")).as("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= PmiMinPairs)
    val uni = toks.groupBy(col("term")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(false) // feeds both join sides and the total
    val tot = broadcast(uni.agg(sum(col("cu")).as("t")))
    val ptot = broadcast(pairs.agg(sum(col("n_pair")).as("p")))
    pairs
      .join(uni.select(col("term").as("term_a"), col("cu").as("ca")),
        "term_a")
      .join(uni.select(col("term").as("term_b"), col("cu").as("cb")),
        "term_b")
      .crossJoin(tot).crossJoin(ptot)
      .select(col("term_a"), col("term_b"), col("n_pair"),
        r6(log(col("n_pair").cast("double") / col("p") *
          (col("t").cast("double") / col("ca")) *
          (col("t").cast("double") / col("cb")))).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(PmiTopK)
  }

  /** domain_mix: per-language token inventory against [[LangTargets]] —
    * natural share, target share, and the resampling factor
    * (target_share · total / lang_tokens; >1 means the language must be
    * oversampled, <1 downsampled) plus the planned token budget.
    *
    * Plan: one scan computes per-doc token counts (map-only), one
    * partial-agg groupBy on lang (5 groups), and the 1-row total
    * broadcast-crossed back — nothing here grows with corpus size except
    * the scan.
    */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val per = docStats(spark, dir)
      .select(col("lang"), col("toks_norm").as("toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
    val total = per.agg(sum(col("tokens")).as("total_tokens"))
    val target = coalesce(
      element_at(typedlit(LangTargets.toMap), col("lang")), lit(0.0))
    per.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("tokens"),
        r6(col("tokens").cast("double") / col("total_tokens"))
          .as("natural_share"),
        target.as("target_share"),
        r6(target * col("total_tokens").cast("double") / col("tokens"))
          .as("sample_factor"),
        floor(target * col("total_tokens").cast("double"))
          .cast("long").as("planned_tokens"))
      .orderBy(col("lang"))
  }

  /** apply_mix: EXECUTE the [[domainMix]] resampling plan — one manifest
    * row per document with its integer repeat count for the training mix
    * (the step after mixture planning: DoReMi/LLaMA-style weights become
    * concrete per-doc repeats).
    *
    * n_copies = ⌊f⌋ + [hash(doc_id, seed) < f − ⌊f⌋] for the language's
    * sample_factor f: every doc gets the integer part, and the
    * fractional part is realized by the same deterministic (doc_id,
    * seed) hash fraction as stratified_sample — reproducible across
    * runs and cluster layouts, no RNG state. Downsampled languages
    * (f < 1) get 0-or-1 manifests; drops stay IN the manifest as
    * n_copies = 0 rows (an auditable decision, like quality_filter's
    * reasons).
    *
    * Plan: the factor table is 5 rows (broadcast); everything else is
    * one map-shaped pass over documents — no shuffle grows with the
    * corpus.
    */
  def applyMix(spark: SparkSession, dir: String): DataFrame = {
    val f = domainMix(spark, dir).select(col("lang"), col("sample_factor"))
    val frac = col("sample_factor") - floor(col("sample_factor"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .join(broadcast(f), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("sample_factor"),
        (floor(col("sample_factor")).cast("long") +
          when(Curation.hashU(col("doc_id")) < frac, lit(1L))
            .otherwise(lit(0L))).as("n_copies"))
  }

  /** Sampling temperature of [[mixTemperature]] (mT5/multilingual-mix
    * convention: T ∈ (0,1) flattens the natural distribution; 0.7 is
    * the mT5 paper's operating point).
    */
  val MixTemperature = 0.7

  /** mix_temperature: TEMPERATURE-SCALED source mixing weights
    * (Raffel et al. T5 / Xue et al. mT5 §3.2 — w_s ∝ p_s^T): the
    * standard alternative to [[domainMix]]'s explicit target table when
    * no curated targets exist — upsample the tail, damp the head, with
    * one scalar knob. Per source: docs, natural share, temperature
    * weight, and the boost factor w/p (the number that prices how much
    * the tail is oversampled — repeat-epoch risk shows here first).
    *
    * Scale shape: one source partial agg (|sources| rows), two 1-row
    * broadcasts (total, weight denominator). Map-shaped at any corpus.
    *
    * Parity: shares round to 6dp; p^T = exp(T·ln p) on the ROUNDED
    * share (exp/ln are the sanctioned library calls), re-rounded to 6dp
    * and accumulated in DECIMAL; final weights are one mirrored double
    * division.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame =
    mixTemperatureAt(spark, dir, MixTemperature).orderBy(col("source"))

  /** The temperature-weight table at an explicit τ — factored so
    * [[mixSensitivity]] sweeps the knob over the IDENTICAL arithmetic
    * the τ=0.7 operating point is gated with.
    */
  private def mixTemperatureAt(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    val per = Tables.documents(spark, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum(col("n_docs")).as("total"))
    val up = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        r6(col("n_docs").cast("double") / col("total")).as("share"))
      .select(col("source"), col("n_docs"), col("share"),
        when(col("share") > 0,
          r6(exp(lit(tau) * log(col("share")))))
          .otherwise(lit(0.0)).cast("decimal(18,6)").as("u"))
      .localCheckpoint(false) // feeds the denominator AND the final select
    val denom = up.agg(sum(col("u")).as("du"))
    up.crossJoin(broadcast(denom))
      .select(col("source"), col("n_docs"), col("share"),
        r6(col("u").cast("double") / col("du").cast("double")).as("t_weight"))
      .withColumn("boost",
        r4(col("t_weight") / col("share")))
  }

  /** The τ grid mix_sensitivity sweeps (1.0 = natural distribution, the
    * identity row; 0.7 = the gated operating point; 0.5 = aggressive
    * flattening). Single-sourced to the oracle SQL.
    */
  val MixSweepTaus = Seq(0.5, 0.7, 1.0)

  /** mix_sensitivity: the temperature KNOB table — [[mixTemperature]]'s
    * weights swept over [[MixSweepTaus]], so the mixture owner sees how
    * hard each source's weight moves with τ before committing to one
    * (the mT5 §3.2 tuning step; a tail source whose boost doubles
    * between τ=0.7 and τ=0.5 is a repeat-epoch risk, cf. epoch_plan).
    * The τ=1.0 arm is the built-in sanity row: weights = natural
    * shares, boost ≈ 1.
    *
    * Plan: |taus| arms of a |sources|-row aggregate — map-shaped at any
    * corpus.
    */
  def mixSensitivity(spark: SparkSession, dir: String): DataFrame =
    MixSweepTaus.map(t => mixTemperatureAt(spark, dir, t)
      .select(lit(t).as("tau"), col("source"), col("share"),
        col("t_weight"), col("boost")))
      .reduce(_ unionByName _)
      .orderBy(col("tau"), col("source"))

  /** epoch_plan token budget as a MULTIPLE of the corpus (a relative
    * budget keeps the planner scale-free) and the repeat-value decay
    * constant R* of the effective-data law (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": value of the E-th
    * epoch decays exponentially; their functional form
    * D_eff = U·R*·(1 − e^(−E/R*)). R* is corpus-specific — 4 is the
    * conservative default knob, NOT their fitted constant).
    */
  val EpochBudgetFactor = 4
  val EpochRStar = 4.0

  /** epoch_plan: the DATA-CONSTRAINED training budget table — given the
    * temperature mixture ([[mixTemperature]]) and a token budget of
    * [[EpochBudgetFactor]]× the corpus, how many EPOCHS does each
    * source run and how many effectively-novel tokens does it
    * contribute once repeat value decays? The planning table next to
    * mix_temperature/apply_mix that prices the tail-upsampling risk
    * mix_temperature's `boost` column flags: a boosted tail source
    * burns budget on ever-cheaper repeats (utilization is the
    * fraction of its allocation that still buys effective data).
    *
    * Scale shape: one tokenize scan to a |sources| partial agg; the
    * mixture weights are the |sources|-row mixTemperature frame; all
    * arithmetic on bounded rows. Parity: token counts exact integers;
    * allocation = floor(w·B + 0.5) on the 6dp weight; epochs 4dp;
    * eff = floor(U·R*·(1−exp(−epochs/R*)) + 0.5) — one fixed-order
    * double expression over exact inputs (exp sanctioned).
    */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = docStats(spark, dir)
      .select(col("source"), col("toks_ws").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("n_tokens"))
    val wts = mixTemperature(spark, dir)
      .select(col("source").as("wsrc"), col("t_weight"))
    val tot = broadcast(perSrc.agg(sum(col("n_tokens")).as("total_tokens")))
    perSrc.join(wts, col("source") === col("wsrc"))
      .crossJoin(tot)
      .select(col("source"), col("n_tokens"), col("t_weight"),
        floor(col("t_weight") *
          (col("total_tokens") * lit(EpochBudgetFactor)).cast("double")
          + lit(0.5)).cast("long").as("alloc_tokens"))
      .withColumn("epochs",
        r4(col("alloc_tokens").cast("double") / col("n_tokens")))
      .withColumn("eff_tokens",
        floor(col("n_tokens").cast("double") * lit(EpochRStar) *
          (lit(1.0) - exp(-col("epochs") / lit(EpochRStar))) + lit(0.5))
          .cast("long"))
      .withColumn("utilization",
        when(col("alloc_tokens") > 0,
          r4(col("eff_tokens").cast("double") / col("alloc_tokens")))
          .otherwise(lit(0.0)))
      .orderBy(col("source"))
  }

  /** quality_psi bin count and the add-1 smoothing it shares with the
    * oracle (smoothing keeps every ln finite on empty bins).
    */
  val PsiBins = 10

  /** quality_psi: POPULATION STABILITY INDEX of each source's
    * quality-score distribution against the corpus-wide one —
    * PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b), the standard
    * distribution-drift monitor (credit-scoring practice; >0.25 is the
    * conventional "investigate" line). The per-source drift gauge the
    * curation stack lacked: source_divergence compares VOCABULARY,
    * signal_corr correlates signals — this watches the quality-score
    * DISTRIBUTION itself, the input every gate threshold was tuned on
    * (a new crawl snapshot shifting its score mass invalidates
    * thresholds before any gate metric moves).
    *
    * Scale shape: one scored scan → (source × bin) partial agg over a
    * fixed 10-bin grid; every later frame is bounded by
    * |sources| × [[PsiBins]]. Map-shaped at any corpus size.
    *
    * Parity: bins from the shared 4dp score; add-1-smoothed shares are
    * fixed-order double expressions; per-bin terms round to 6dp and
    * accumulate in DECIMAL.
    */
  def qualityPsi(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val binned = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("score"))
      .join(src, "doc_id")
      .select(col("source"),
        least(floor(col("score") * PsiBins), lit(PsiBins - 1))
          .cast("int").as("bin"))
    val perSrcBin = binned.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("c"))
    qualityPsiOfCounts(spark, perSrcBin)
  }

  /** The PSI tail over a `(source, bin, c)` count frame — shared with
    * the streaming drift maintainer (graft.streaming.DriftStream),
    * whose standing store holds exactly these counts; parity with the
    * batch query is by construction.
    */
  private[graft] def qualityPsiOfCounts(spark: SparkSession,
      perSrcBin: DataFrame): DataFrame = {
    val bins = spark.range(PsiBins).select(col("id").cast("int").as("bin"))
    val full = perSrcBin.select(col("source")).distinct()
      .crossJoin(broadcast(bins))
      .join(perSrcBin, Seq("source", "bin"), "left")
      .select(col("source"), col("bin"),
        coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint(false) // feeds the corpus rollup AND the per-source terms
    val nSrc = full.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val corpus = full.groupBy(col("bin")).agg(sum(col("c")).as("cc"))
    val nTot = corpus.agg(sum(col("cc")).as("nt"))
    val p = (col("c") + 1).cast("double") / (col("n") + PsiBins)
    val q = (col("cc") + 1).cast("double") / (col("nt") + PsiBins)
    full.join(nSrc, "source")
      .join(corpus, "bin")
      .crossJoin(broadcast(nTot))
      .select(col("source"), col("n"),
        r6((p - q) * log(p / q)).cast("decimal(18,6)").as("term"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), sum(col("term")).as("psi"))
      .select(col("source"), col("n_docs"),
        col("psi").cast("double").as("psi"))
      .orderBy(col("source"))
  }

  /** quality_thresholds: per-language p10/p50/p90 of the quality score —
    * the cutoffs a per-language quality gate would use.
    *
    * The quantile is the DISCRETE lower quantile at integer position
    * (n-1)·p div 1 + 1 under the total order (score, doc_id) — pure
    * integer position arithmetic, so both engines pick the identical row
    * (no interpolation, no float percentile semantics to reconcile).
    * The score is the same 4dp expression quality_score emits
    * ([[TextAnalysis.qualityScoreCol]]) — calibration and gate can never
    * drift apart.
    *
    * Plan: one scan scores every doc (map-only), one shuffle on lang for
    * the rank window (per-language sort: at 100 TB this is the standard
    * quantile-by-key shape; with heavier skew you'd swap in
    * approx_percentile, traded here for the exact oracle gate).
    */
  def qualityThresholds(spark: SparkSession, dir: String): DataFrame = {
    val scored = docStats(spark, dir)
      .select(col("doc_id"), col("lang"), col("quality").as("score"))
    val wOrd = Window.partitionBy(col("lang"))
      .orderBy(col("score"), col("doc_id"))
    val wAll = Window.partitionBy(col("lang"))
    def pick(posNum: Int, posDen: Int) =
      max(when(col("rn") ===
        expr(s"(n - 1) * $posNum div $posDen") + 1, col("score")))
    scored
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("lang"))
      .agg(max(col("n")).cast("int").as("n_docs"),
        pick(1, 10).as("p10"), pick(1, 2).as("p50"), pick(9, 10).as("p90"))
      .orderBy(col("lang"))
  }

  /** hist_quantiles: per-language quantiles via a VALUE HISTOGRAM — the
    * skew-resilient calibration path [[qualityThresholds]]'s scaladoc
    * promises. The quality score is 4dp-exact, so its distinct values
    * form at most 10 001 natural bins: groupBy (lang, score) with
    * map-side partial counts replaces the per-language rank sort of
    * EVERY document, and the cumulative window then runs over ≤10 001
    * bin rows per language, not the corpus. At 100 TB one language
    * holding 90% of all docs no longer sorts 90% of the corpus in one
    * partition — the histogram is the same size for every language.
    *
    * Quantile rule: identical to qualityThresholds' integer positions —
    * the value at 1-based position (n-1)·p div 1 + 1 equals the SMALLEST
    * score whose cumulative count reaches that position (duplicates
    * collapse into one bin, so the histogram lookup and the rank pick
    * select the same score). Emits the wider calibration set
    * p25/p50/p75/p90/p99.
    */
  def histQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val scored = docStats(spark, dir)
      .select(col("lang"), col("quality").as("score"))
    val binned = scored.groupBy(col("lang"), col("score"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    def pickQ(num: Int, den: Int) =
      min(when(col("cum") >= expr(s"(n - 1) * $num div $den") + 1,
        col("score")))
    binned
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("lang"))
      .agg(max(col("n")).cast("int").as("n_docs"),
        pickQ(1, 4).as("p25"), pickQ(1, 2).as("p50"),
        pickQ(3, 4).as("p75"), pickQ(9, 10).as("p90"),
        pickQ(99, 100).as("p99"))
      .orderBy(col("lang"))
  }

  // ---- perplexity_score: frozen bigram LM (build once) + scorer ------

  /** perplexity_score: per-language bigram-LM cross-entropy of every
    * document — the LM-perplexity quality filter (CCNet, Wenzek et al.
    * LREC 2020; there the LM is KenLM trained on Wikipedia, here a
    * Laplace-smoothed bigram model trained on the corpus itself — the
    * in-domain variant; templated/repetitive docs surface as LOW
    * perplexity outliers, garbage as HIGH, and quality_thresholds-style
    * per-language bucketing calibrates the cutoffs).
    *
    *   nll(d) = -(1/|d|) Σ_{(w1,w2)∈d} ln P(w2|w1)
    *   P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V_lang)      (add-one)
    *
    * Build/probe split (the ANN-index / dedup-pairs posture): the LM is
    * TRAINED once per corpus — [[buildBigramLm]] persists the bigram
    * count table (lang, w1, w2, c2), sorted on its key — and every
    * scoring query consumes the frozen artifact. Context counts c1 and
    * vocabulary V derive from the persisted c2 by partial-agg sums
    * (vocabulary-bounded inputs, never a corpus rescan). The scorer
    * tokenizes the docs it scores (inherent — scoring reads the text),
    * then equi-joins the LM on (lang, w1, w2) / (lang, w1); only the
    * per-language V table (5 rows) is forced broadcast, the LM joins are
    * planner-chosen. A frozen LM is also what the streaming twin needs:
    * arriving docs score against the trained model, never against the
    * batch they happen to arrive in.
    *
    * Parity: counts are exact integers; each bigram's nll term rounds to
    * 6dp and accumulates weighted by its integer multiplicity in DECIMAL
    * (order-independent under any partitioning); the per-token average
    * rounds to 6dp and ppl = exp(avg) to 4dp, mirroring the oracle's
    * arithmetic order exactly. Self-corpus scoring hits every LM entry,
    * so the split is invisible to the oracle; unseen bigrams (streaming)
    * take the smoothed floor (0+1)/(c1+V) via the left joins.
    */
  def perplexityScore(spark: SparkSession, dir: String): DataFrame =
    lmNll(spark, dir)

  /** The persisted per-doc frozen-LM score table (doc_id, lang,
    * n_bigrams, avg_nll, ppl) — the SECOND layer of the build/probe
    * split. The LM counts alone were not enough: eight standing audits
    * (ccnet_buckets, signal_corr, signal_auc, gate_eval,
    * classifier_examples, label_queue, clf_calibration, gate_overlap)
    * each re-ran the corpus tokenize + LM equi-joins per invocation —
    * the same recompute class the exact-truth artifacts fixed for the
    * brute-force ANN arms. Scoring the corpus against its frozen LM is
    * deterministic, so the scored frame is itself a frozen artifact:
    * built once beside the LM, doc_id-range-sorted parquet; every
    * consumer is a bounded probe join. Arriving (streaming) docs are
    * the only thing ever scored live.
    */
  private[graft] def lmNllPath(dir: String): String =
    IndexStore.path("lm-nll-v1", dir)

  def buildLmNll(spark: SparkSession, dir: String, path: String): Unit =
    graft.sources.Sinks.writeSortedParquet(
      scoreAgainstLm(Tables.documents(spark, dir), bigramLm(spark, dir)),
      path, Seq("doc_id"))

  /** The persisted per-doc LM score (built on first use per JVM). */
  def lmNll(spark: SparkSession, dir: String): DataFrame = {
    val path = lmNllPath(dir)
    IndexStore.ensureBuilt(path)(buildLmNll(spark, dir, path))
    Tables.read(spark, path)
  }

  /** Unpersisted twin: train on `docs`, score `docs` (hand-corpus specs). */
  private[graft] def perplexityScoreOf(docs: DataFrame): DataFrame =
    scoreAgainstLm(docs, bigramLmOf(docs).localCheckpoint(false))

  /** ccnet_buckets: CCNet's head/middle/tail corpus split (Wenzek et
    * al., LREC 2020 §4.3 — the crawl is sorted by LM perplexity per
    * language and cut into thirds; "head" feeds the highest-quality
    * training mixes): every doc's [[perplexityScore]] against the
    * frozen in-domain LM, bucketed by per-language TERCILES of the
    * discrete 4dp perplexity histogram.
    *
    * Scale shape: scoring is the frozen-LM probe; the tercile
    * thresholds come from a (lang, ppl) VALUE-histogram cumulative
    * (the hist_quantiles posture — never a per-language total order
    * over the corpus), and the bucket assignment is a broadcast join
    * of the ≤|langs|-row threshold table back onto the scored frame.
    *
    * Parity: ppl is already 4dp; thresholds use the integer-position
    * rule shared with quality_thresholds; buckets are closed on the
    * left (ppl ≤ t1 → head) so ties land identically in both engines.
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketsUnsorted(spark, dir).orderBy(col("doc_id"))

  /** Unsorted twin of [[ccnetBuckets]] for compositions that reshuffle
    * the assignment anyway (curriculum_order). */
  private[graft] def ccnetBucketsUnsorted(spark: SparkSession,
      dir: String): DataFrame = {
    // no localCheckpoint: the scored frame is now a persisted parquet
    // artifact ([[lmNll]]) — re-scanning it for the histogram and the
    // assignment join is cheaper than materializing a copy
    val scored = perplexityScore(spark, dir)
      .select(col("doc_id"), col("lang"), col("ppl"))
    bucketAgainst(scored, ccnetThresholdsOf(scored))
  }

  /** The per-language tercile thresholds (lang, t1, t2) of a scored
    * (doc_id, lang, ppl) frame -- in production FROZEN from a
    * calibration corpus and applied to arriving docs
    * ([[graft.streaming.ScoreStream.bucketDocs]]).
    */
  private[graft] def ccnetThresholdsOf(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy(col("lang"), col("ppl"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("ppl"))
    val wAll = Window.partitionBy(col("lang"))
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("lang"))
      .agg(
        min(when(col("cum") >= expr("(n - 1) * 1 div 3") + 1, col("ppl")))
          .as("t1"),
        min(when(col("cum") >= expr("(n - 1) * 2 div 3") + 1, col("ppl")))
          .as("t2"))
  }

  /** Assign head/middle/tail against a (lang, t1, t2) threshold frame --
    * shared verbatim by the batch query and the streaming twin (what
    * makes the batch-parity spec exact). A language absent from the
    * frozen thresholds is unbucketable and drops (the scoreAgainstLm
    * unknown-language rule).
    */
  private[graft] def bucketAgainst(scored: DataFrame,
      thr: DataFrame): DataFrame =
    scored.join(broadcast(thr), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("ppl"),
        when(col("ppl") <= col("t1"), "head")
          .when(col("ppl") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
    // no sort here: ccnetBuckets adds its gated orderBy; compositions
    // (curriculum_order, the streaming twin) must not pay a global
    // sort they immediately destroy with their own shuffle

  /** signal_corr: per-language Pearson correlation between the CHEAP
    * quality signal (the 4dp heuristic composite every gate uses) and
    * the EXPENSIVE one (frozen-LM avg negative log-likelihood) — the
    * standing calibration audit for a multi-signal curation stack: if
    * the heuristic stops tracking the LM on some language, its
    * per-language thresholds are stale (the CCNet/Gopher practice of
    * cross-validating filters before trusting either at scale).
    *
    * Scale shape: both signal frames are per-doc map/probe passes; one
    * equi-join on doc_id, one lang-sized partial agg of integer-unit
    * moments, closed-form r per language (the zipf_fit least-squares
    * posture applied to correlation).
    *
    * Parity + bounds: both signals round to 4dp integer units (score
    * ≤ 1e4, nll-unit ≤ ~4e5), so per-row products stay ≤ 4e9 in a
    * long and every DECIMAL(38,0) moment product stays ≤ ~1e33 at the
    * 1e11-docs-per-language design point — 5 orders of headroom under
    * the decimal cap (the q11 rule, stated because non-ANSI overflow
    * NULLs would silently blank the correlation). One double
    * num/sqrt(dx·dy) at the end, operation order mirrored verbatim.
    */
  def signalCorr(spark: SparkSession, dir: String): DataFrame = {
    val q = docStats(spark, dir)
      .select(col("doc_id"), col("lang"), col("quality").as("score"))
    val p = perplexityScore(spark, dir)
      .select(col("doc_id").as("pdid"), col("avg_nll"))
    val j = q.join(p, col("doc_id") === col("pdid"))
      .select(col("lang"),
        units(col("score"), 10000).as("xu"),
        units(col("avg_nll"), 10000).as("yu"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val m = j.groupBy(col("lang")).agg(count(lit(1)).as("n"),
      sum(d(col("xu"))).as("sx"), sum(d(col("yu"))).as("sy"),
      sum(d(col("xu") * col("yu"))).as("sxy"),
      sum(d(col("xu") * col("xu"))).as("sxx"),
      sum(d(col("yu") * col("yu"))).as("syy"))
    val num = (d(col("n")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val dx = (d(col("n")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val dy = (d(col("n")) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    m.select(col("lang"), col("n").as("n_docs"),
      when(col("n") > 1 && dx =!= 0.0 && dy =!= 0.0,
        r4(num / sqrt(dx * dy)))
        .as("corr"))
      .orderBy(col("lang"))
  }

  /** signal_mi bin count per signal (the PSI 10-bin convention). */
  val MiBins = 10

  /** signal_mi: mutual information between each raw quality signal and
    * the heuristic gate decision — the nonlinear feature-importance
    * view beside [[signalCorr]]'s linear correlation and [[signalAuc]]'s
    * ranking power (a U-shaped signal scores ~0 correlation but high
    * MI). Signals bin on fixed deterministic grids (ratios ×10, word
    * length by integer, volume by ln-decade — data-independent edges,
    * so the frame is reproducible across corpora);
    * MI = Σ p(b,y)·ln(p(b,y)/(p(b)p(y))) in nats.
    *
    * Parity: counts are exact integers; each MI term computes in double
    * with identical operand order, rounds to 6dp integer units, and
    * sums exactly (the decSum-for-entropy posture).
    *
    * Scale shape: the signal and gate projections are two arms of one
    * corpus scan joined on doc_id (merge-hinted — the signal_auc
    * cheap-scan/expensive-projection rule); everything past the
    * (signal, bin, keep) partial agg is ≤ |signals|×[[MiBins]]×2 rows.
    */
  def signalMi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
    val sig = TextAnalysis.qualitySignalsOf(docs)
    val keep = Curation.qualityFilterOf(docs)
      .select(col("doc_id").as("kdid"), col("keep"))
    val b9 = (c: Column) => least(c, lit(MiBins - 1)).cast("int")
    // localCheckpoint BEFORE the bin explode: the generator otherwise
    // re-evaluates the collapsed signal projections once per emitted
    // struct (the chunk_docs Generate rule — 4x the tokenize chain)
    val binned = sig.join(keep.hint("merge"), col("doc_id") === col("kdid"))
      .localCheckpoint(false)
      .select(col("keep"), explode(array(
        struct(lit("n_words").as("signal"),
          b9(floor(log((col("n_words") + 1).cast("double")))).as("bin")),
        struct(lit("avg_word_len").as("signal"),
          b9(floor(col("avg_word_len"))).as("bin")),
        struct(lit("stopword_ratio").as("signal"),
          b9(floor(col("stopword_ratio") * 10)).as("bin")),
        struct(lit("punct_ratio").as("signal"),
          b9(floor(col("punct_ratio") * 10)).as("bin")))).as("s"))
      .select(col("s.signal"), col("s.bin"), col("keep"))
    val c = binned.groupBy(col("signal"), col("bin"), col("keep"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds three margins and the term join
    val cb = c.groupBy(col("signal"), col("bin"))
      .agg(sum(col("c")).as("cb"))
    val cy = c.groupBy(col("signal"), col("keep"))
      .agg(sum(col("c")).as("cy"))
    val nt = c.groupBy(col("signal")).agg(sum(col("c")).as("nt"))
    val tu = units(col("c").cast("double") / col("nt") *
      log(col("c").cast("double") / col("cb") *
        (col("nt").cast("double") / col("cy"))), 1000000)
    c.join(cb, Seq("signal", "bin")).join(cy, Seq("signal", "keep"))
      .join(nt, Seq("signal"))
      .select(col("signal"), col("nt"), tu.as("tu"))
      .groupBy(col("signal"))
      .agg(max(col("nt")).as("n_docs"), sum(col("tu")).as("stu"))
      .select(col("signal"), col("n_docs"),
        (col("stu").cast("double") / 1000000).as("mi"))
      .orderBy(col("signal"))
  }

  private[graft] def lmIndexPath(dir: String): String =
    IndexStore.path("bigram-lm-v1", dir)

  /** (doc_id, lang, w1, w2, n): per-doc bigram multiplicities — rows +
    * lead(), the ngramStats posture (never per-element array lambdas).
    */
  private def docBigramsOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.cpuPartition(
      docs.select(col("doc_id"), col("lang"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), col("lang"),
        posexplode(Dedup.normToks(col("text"))).as(Seq("pos", "w1")))
      .select(col("doc_id"), col("lang"), col("w1"),
        lead(col("w1"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
  }

  /** LM training: the (lang, w1, w2, c2) bigram count table. */
  private[graft] def bigramLmOf(docs: DataFrame): DataFrame =
    docBigramsOf(docs)
      .groupBy(col("lang"), col("w1"), col("w2"))
      .agg(sum(col("n")).as("c2"))

  def buildBigramLm(spark: SparkSession, dir: String, path: String): Unit =
    graft.sources.Sinks.writeSortedParquet(
      bigramLmOf(Tables.documents(spark, dir)), path,
      Seq("lang", "w1", "w2"))

  /** The persisted frozen LM for a corpus (built on first use per JVM,
    * then a plain parquet read).
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val path = lmIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildBigramLm(spark, dir, path))
    Tables.read(spark, path)
  }

  /** Training domain for [[perplexityOod]]: the out-of-domain LM trains
    * on this source only. Single-sourced into the oracle SQL.
    */
  val OodTrainSource = "src0"

  /** perplexity_ood: OUT-OF-DOMAIN perplexity — the literal CCNet shape
    * (Wenzek et al. 2020 train their KenLM on Wikipedia and score the
    * crawl): the bigram LM trains on ONE trusted source
    * ([[OodTrainSource]]) and every OTHER source's documents score
    * against that frozen model. Unlike [[perplexityScore]] (in-domain —
    * self-corpus scoring hits every LM entry by construction), here the
    * smoothing does real work: unseen bigrams take the (0+1)/(c1+V)
    * floor, unseen context words contribute ln(V), and languages the
    * training source never saw are unscorable by a per-language model
    * and drop out (the inner V join — same semantics the frozen-LM spec
    * proves for the streaming scorer).
    *
    * Same build/probe split as the in-domain LM: [[buildOodBigramLm]]
    * persists the training-source count table once per corpus (a scan of
    * the ~1/20 training slice, pushed-down source filter); the query
    * tokenizes only the docs it scores. The streaming path needs no new
    * code — [[graft.streaming.ScoreStream.scoreDocs]] against this
    * artifact IS streaming out-of-domain scoring.
    */
  def perplexityOod(spark: SparkSession, dir: String): DataFrame =
    scoreAgainstLm(
      Tables.documents(spark, dir)
        .filter(col("source") =!= OodTrainSource),
      oodBigramLm(spark, dir))

  private[graft] def oodLmIndexPath(dir: String): String =
    IndexStore.path("bigram-lm-ood-v1", dir)

  def buildOodBigramLm(spark: SparkSession, dir: String, path: String)
      : Unit =
    graft.sources.Sinks.writeSortedParquet(
      bigramLmOf(Tables.documents(spark, dir)
        .filter(col("source") === OodTrainSource)),
      path, Seq("lang", "w1", "w2"))

  /** The persisted out-of-domain LM (trained on [[OodTrainSource]] only). */
  def oodBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val path = oodLmIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildOodBigramLm(spark, dir, path))
    Tables.read(spark, path)
  }

  /** Stupid-backoff discount (Brants et al., EMNLP'07 "Large Language
    * Models in Machine Translation"). α² is a PARSED LITERAL on both
    * engines, not a runtime 0.4·0.4 (which is 0.16000000000000003 in
    * IEEE double — the BmK1Plus1 lesson).
    */
  val BackoffAlpha = 0.4
  val BackoffAlpha2 = 0.16

  /** perplexity_backoff: trigram stupid-backoff scoring against the
    * frozen out-of-domain LMs (the roadmap's trigram/backoff variant,
    * composed with the CCNet posture: train on [[OodTrainSource]],
    * score the complement — backoff exists FOR unseen n-grams, so the
    * out-of-domain query is the one where all three branches do real
    * work; an in-domain self-score would never leave branch 1):
    *
    *   S(w3|w1,w2) = c3/c2(w1w2)               seen trigram
    *               = α · c2(w2w3)/c1(w2)       backoff to bigram
    *               = α² · (c1(w3)+1)/(N+V)     backoff to add-one unigram
    *
    * nll term = ln(1/S), 6dp-rounded × integer multiplicity in DECIMAL
    * (the perplexityScore scaffolding). c1/N/V derive from the frozen
    * BIGRAM artifact by partial-agg sums, so the two LM artifacts stay
    * mutually consistent (c3 > 0 ⇒ its context bigram exists — both
    * counted the same training slice).
    *
    * Plan: one trigram tokenization pass over the scored docs, five
    * equi-joins against vocabulary-bounded LM frames (planner-chosen;
    * only the |langs|-row (N,V) table is forced broadcast), one per-doc
    * partial agg.
    */
  def perplexityBackoff(spark: SparkSession, dir: String): DataFrame =
    backoffScore(
      Tables.documents(spark, dir)
        .filter(col("source") =!= OodTrainSource),
      oodTrigramLm(spark, dir), oodBigramLm(spark, dir))

  private[graft] def oodTrigramLmIndexPath(dir: String): String =
    IndexStore.path("trigram-lm-ood-v1", dir)

  /** (doc_id, lang, w1, w2, w3, n): per-doc trigram multiplicities —
    * rows + two lead()s, the docBigramsOf posture.
    */
  private def docTrigramsOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.cpuPartition(
      docs.select(col("doc_id"), col("lang"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), col("lang"),
        posexplode(Dedup.normToks(col("text"))).as(Seq("pos", "w1")))
      .select(col("doc_id"), col("lang"), col("w1"),
        lead(col("w1"), 1).over(w).as("w2"),
        lead(col("w1"), 2).over(w).as("w3"))
      .filter(col("w3").isNotNull)
      .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("n"))
  }

  private[graft] def trigramLmOf(docs: DataFrame): DataFrame =
    docTrigramsOf(docs)
      .groupBy(col("lang"), col("w1"), col("w2"), col("w3"))
      .agg(sum(col("n")).as("c3"))

  def buildOodTrigramLm(spark: SparkSession, dir: String, path: String)
      : Unit =
    graft.sources.Sinks.writeSortedParquet(
      trigramLmOf(Tables.documents(spark, dir)
        .filter(col("source") === OodTrainSource)),
      path, Seq("lang", "w1", "w2", "w3"))

  /** The persisted out-of-domain trigram LM. */
  def oodTrigramLm(spark: SparkSession, dir: String): DataFrame = {
    val path = oodTrigramLmIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildOodTrigramLm(spark, dir, path))
    Tables.read(spark, path)
  }

  /** Score `docs` with stupid backoff against frozen trigram (`t3`) and
    * bigram (`b2`) count tables from the same training slice.
    */
  private[graft] def backoffScore(docs: DataFrame, t3: DataFrame,
      b2: DataFrame): DataFrame = {
    val c1 = b2.groupBy(col("lang"), col("w1")).agg(sum(col("c2")).as("c1"))
    val nv = c1.groupBy(col("lang"))
      .agg(sum(col("c1")).as("nn"), count(lit(1)).as("v"))
    val term = when(col("c3").isNotNull && col("c2ctx").isNotNull,
        log(col("c2ctx").cast("double") / col("c3")))
      .when(col("c2bo").isNotNull && col("c1w2").isNotNull,
        log(col("c1w2").cast("double") / (lit(BackoffAlpha) * col("c2bo"))))
      .otherwise(log((col("nn") + col("v")).cast("double") /
        (lit(BackoffAlpha2) * (coalesce(col("c1w3"), lit(0L)) + lit(1)))))
    val part = (col("n") * r6(term).cast("decimal(18,6)")).as("part")
    val avg = r6(col("nll_sum").cast("double") / col("n_trigrams"))
    docTrigramsOf(docs)
      .join(t3, Seq("lang", "w1", "w2", "w3"), "left")
      .join(b2.select(col("lang"), col("w1"), col("w2"),
        col("c2").as("c2ctx")), Seq("lang", "w1", "w2"), "left")
      .join(b2.select(col("lang"), col("w1").as("w2"),
        col("w2").as("w3"), col("c2").as("c2bo")),
        Seq("lang", "w2", "w3"), "left")
      .join(c1.select(col("lang"), col("w1").as("w2"),
        col("c1").as("c1w2")), Seq("lang", "w2"), "left")
      .join(c1.select(col("lang"), col("w1").as("w3"),
        col("c1").as("c1w3")), Seq("lang", "w3"), "left")
      .join(broadcast(nv), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n"), part)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("n_trigrams"), sum(col("part")).as("nll_sum"))
      .withColumn("avg_nll", avg)
      .select(col("doc_id"), col("lang"), col("n_trigrams"),
        col("avg_nll"),
        r4(exp(col("avg_nll"))).as("ppl"))
  }

  /** corpus_card short-document threshold (whitespace tokens).
    * Single-sourced into the oracle SQL.
    */
  val CardShortTokens = 50

  /** corpus_card: the one-row dataset datasheet (Gebru et al.,
    * "Datasheets for Datasets") — the summary a data release ships and
    * every downstream consumer reads first: sizes (docs / tokens /
    * chars), diversity (distinct languages and sources), and health
    * (mean quality score, short-document share). Emitting it as a gated
    * query keeps the card provably in sync with the gates it summarizes
    * (the quality term is the IDENTICAL 4dp composite quality_score and
    * quality_thresholds use).
    *
    * Plan: one scan, one multi-aggregate — the distinct counts are
    * Catalyst's expand-based multi-distinct (two count-distincts in one
    * aggregate); nothing grows with the corpus but the scan. Parity:
    * the 4dp score is floor-primitive-exact, so the decimal cast is
    * safe (the perplexity rnd6→DECIMAL pattern); the mean divides the
    * exact decimal sum once in double.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    docStats(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        col("toks_norm").as("toks"),
        col("quality").cast("decimal(18,4)").as("q"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        r4(sum(col("q")).cast("double") / count(lit(1))).as("avg_quality"),
        r4(sum(when(col("toks") < CardShortTokens, 1).otherwise(0))
          .cast("double") / count(lit(1))).as("pct_short"))
  }

  /** source_card: the per-SOURCE datasheet — [[corpusCard]]'s row once
    * per provenance stream (the Dolma/RedPajama release shape: every
    * source ships its own size/diversity/health line, and acquisition
    * decisions — keep, re-crawl, drop — are made per source, not per
    * corpus). Same single-sourced primitives as the corpus card (token
    * counts via the shared normalized tokenizer, the 4dp quality
    * composite), so the per-source rows provably sum/average into the
    * corpus-level card.
    *
    * Plan: one scan, one |sources|-bounded partial agg (the distinct
    * lang count per source is Catalyst's expand-based distinct — still
    * bounded by |sources|×|langs| intermediate rows).
    */
  def sourceCard(spark: SparkSession, dir: String): DataFrame = {
    docStats(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        col("toks_norm").as("toks"),
        col("quality").cast("decimal(18,4)").as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        count_distinct(col("lang")).as("n_langs"),
        r4(sum(col("q")).cast("double") / count(lit(1))).as("avg_quality"),
        r4(sum(when(col("toks") < CardShortTokens, 1).otherwise(0))
          .cast("double") / count(lit(1))).as("pct_short"))
      .orderBy(col("source"))
  }

  /** tokenizer_fertility: the tokenizer-budget audit per language —
    * whitespace words vs BPE-ish regex tokens vs characters, rolled up
    * to fertility (subword tokens per word) and compression (chars per
    * token). The per-language fertility spread is the standing input to
    * tokenizer choice and context-budget planning (a language at 2×
    * fertility costs 2× the context window per word — the
    * multilingual-tokenizer-fairness measurement of Petrov et al. 2023,
    * "Language Model Tokenizers Introduce Unfairness Between
    * Languages"); token_count prices single documents, this prices the
    * corpus mix.
    *
    * Plan: one scan with map-side token counting (the same three
    * counters as token_count), one |langs|-bounded partial agg. Parity:
    * ratios are exact-integer sums divided once in double, 4dp
    * floor-rounded; zero denominators emit 0.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    def ratio(num: Column, den: Column) =
      when(den > 0, r4(num.cast("double") / den)).otherwise(0.0)
    docStats(spark, dir)
      .select(col("lang"), col("toks_ws").as("ws"),
        col("toks_re").as("re"), col("text_len").as("ch"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("re")).as("re_tokens"),
        sum(col("ch")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("re_tokens"), col("n_chars"),
        ratio(col("re_tokens"), col("ws_tokens")).as("fertility"),
        ratio(col("n_chars"), col("re_tokens")).as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** length_hist: the document token-LENGTH histogram per language in
    * power-of-two bins — the pre-packing audit (pack_sequences' budget
    * and pack_stats' straddle fraction are functions of this
    * distribution: a long-tail language straddles more; a short-tail
    * one wastes fill). Per (lang, bin): doc count, token mass, and the
    * doc share within the language. Same normalized tokenizer as the
    * packer, so the histogram prices exactly what packing consumes.
    *
    * Plan: map-side token count + bin (bin index = binary-string
    * length, an exact integer form — no float log2 edge at exact
    * powers of two), one (lang × ~30 bins)-bounded partial agg;
    * language totals re-aggregate the GRID and ride back broadcast.
    */
  def lengthHist(spark: SparkSession, dir: String): DataFrame = {
    val g = docStats(spark, dir)
      .select(col("lang"), col("toks_norm").as("toks"))
      .select(col("lang"), col("toks"),
        when(col("toks") === 0, lit(0L))
          .otherwise(expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(length(bin(toks)) AS INT) - 1)"))
          .as("bin_lo"))
      .groupBy(col("lang"), col("bin_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .localCheckpoint(false) // feeds the grid and the per-language totals
    val lt = g.groupBy(col("lang")).agg(sum(col("n_docs")).as("lang_n"))
    g.join(broadcast(lt), "lang")
      .select(col("lang"), col("bin_lo"), col("n_docs"), col("n_tokens"),
        r4(col("n_docs").cast("double") / col("lang_n")).as("doc_share"))
      .orderBy(col("lang"), col("bin_lo"))
  }

  /** source_divergence: per-source KL divergence of the quality-score
    * distribution against the corpus distribution — the SOURCE-HEALTH
    * drift audit (a crawl stream whose quality histogram diverges from
    * the corpus it feeds is re-negotiating its contract: template
    * rot, spam injection, a parser break — all show here before mean
    * quality moves, because KL sees shape, not just location; the
    * source_card reports the mean, this reports the distribution).
    * Scores land in 10 coarse bins; KL(source ‖ corpus) in nats, 6dp.
    *
    * Plan: one scan to the (source × 10)-bounded bin grid; corpus/
    * source totals re-aggregate the GRID and ride back broadcast.
    * Parity: each bin's log-ratio is ln of double products (factors
    * cast before multiplying — the topic_coverage overflow lesson) in
    * fixed order, 6dp-rounded, × integer multiplicity in DECIMAL, one
    * double divide (the perplexityScore scaffolding). Bins the source
    * lacks contribute 0 (lim p→0 of p·ln p); corpus bins are a
    * superset of every source's by construction, so the ratio is
    * always finite.
    */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val sb = docStats(spark, dir)
      .select(col("source"),
        least(floor(col("quality") * 10), lit(9))
          .cast("int").as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds the grid plus three total re-aggs
    val st = sb.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val cb = sb.groupBy(col("bin")).agg(sum(col("c")).as("cc"))
    val nc = sb.agg(sum(col("c")).as("n_corpus"))
    val t = (col("c") * r6(
      log(col("c").cast("double") * col("n_corpus").cast("double")) -
        log(col("ns").cast("double") * col("cc").cast("double")))
      .cast("decimal(18,6)")).as("t")
    sb.join(broadcast(cb), "bin")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(nc))
      .select(col("source"), col("ns"), t)
      .groupBy(col("source"), col("ns"))
      .agg(sum(col("t")).as("ts"))
      .select(col("source"), col("ns").as("n_docs"),
        r6(col("ts").cast("double") / col("ns")).as("kl_vs_corpus"))
      .orderBy(col("source"))
  }

  // ---- dsir_weights: hashed n-gram importance weights (DSIR) ----------

  /** DSIR feature-hash bucket count. Bounded by construction: the bucket
    * table can never exceed this many rows regardless of corpus size,
    * which is what makes its broadcast principled (vs a vocabulary,
    * which grows with the data). Single-sourced into the oracle SQL.
    */
  val DsirBuckets = 1024

  /** dsir_weights: Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023) — per-document log importance weight of the raw pool
    * against the [[OodTrainSource]] target domain, over HASHED
    * unigram+bigram bag-of-ngram features:
    *
    *   log w(d) = Σ_b n_b(d) · ln( p_tgt(b) / p_raw(b) )
    *   p(b) = (c_b + 1) / (C + B)                       (add-one over B buckets)
    *
    * High-weight docs look like the target domain and survive the
    * resample — the data-selection step between quality filtering and
    * mixture planning (domain_mix decides per-LANGUAGE budgets;
    * dsir_weights ranks individual docs by target-likeness).
    *
    * Build/probe split (the LM posture): [[buildDsirBuckets]] persists
    * the (bucket, target_count, raw_count) table once per corpus —
    * features hash to [[DsirBuckets]] buckets via the same md5 primitive
    * as shuffle_assign (15 hex chars = 60 bits, exact in a signed long).
    * The query featurizes only the docs it scores and joins the FROZEN
    * bucket table (≤B rows, forced broadcast — bounded by construction).
    *
    * Parity: bucket counts are exact integers; each bucket's log-ratio
    * is ln(p_tgt) − ln(p_raw) — two IEEE logs and one subtraction in a
    * fixed order, 6dp-rounded, × integer multiplicity in DECIMAL (the
    * perplexityScore scaffolding; a single-fraction form would overflow
    * BIGINT products at real corpus scale, the difference-of-logs never
    * does).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirScore(Tables.documents(spark, dir)
      .filter(col("source") =!= OodTrainSource), dsirBuckets(spark, dir))

  /** Score `docs` against a frozen (b, tc, rc) bucket table — shared
    * verbatim by the batch query and the streaming twin
    * ([[graft.streaming.ScoreStream.scoreDsir]]), which is what makes
    * the batch-parity spec exact. A feature bucket the table never saw
    * scores the (0+1)/(0+1) smoothed floors via the left-join
    * coalesces (possible only for streamed docs — the batch artifact
    * covers its own corpus by construction).
    */
  private[graft] def dsirScore(docs: DataFrame, bkt: DataFrame)
      : DataFrame = {
    val tot = bkt.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val lr = r6(
      log((coalesce(col("tc"), lit(0L)) + 1).cast("double") /
        (col("tt") + lit(DsirBuckets))) -
      log((coalesce(col("rc"), lit(0L)) + 1).cast("double") /
        (col("rt") + lit(DsirBuckets))))
    docFeatsOf(docs)
      .join(broadcast(bkt), Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n"),
        (col("n") * lr.cast("decimal(18,6)")).as("part"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_feats"), sum(col("part")).as("lw_sum"))
      .select(col("doc_id"), col("n_feats"),
        r6(col("lw_sum").cast("double")).as("log_weight"))
  }

  /** dsir_select parameters: sample size and the Gumbel-noise seed.
    * Single-sourced into the oracle SQL.
    */
  val DsirSelectK = 200
  val DsirSelectSeed = "gsel1"

  /** dsir_select: EXECUTE the DSIR resample — the sampling step the
    * paper defines (Xie et al., NeurIPS 2023, §2: importance resampling
    * over the raw pool) that [[dsirWeights]] only scores. Sampling
    * without replacement ∝ exp(log w) is exactly Gumbel top-k
    * (Vieira 2014; Kool et al., ICML 2019): key = log w + Gumbel(0,1),
    * take the k largest. The Gumbel draw is DETERMINISTIC — the
    * shuffle_assign 60-bit seeded md5 hash → uniform
    * u = (h+0.5)/2^60 → −ln(−ln u) — so one fixed sample reproduces
    * across engines, partitionings, and reruns (no RNG state; the
    * stratified_sample posture applied to weighted sampling).
    *
    * Scale shape: weight scoring is the frozen-bucket probe; the
    * Gumbel key is map-side arithmetic; the global top-k is
    * TakeOrdered (never a total sort); the rank window runs over the
    * k-bounded selection only.
    *
    * Parity: the noise term rounds to 6dp (the one ln-vs-ln surface),
    * the ranking key log_weight + g is then a deterministic IEEE
    * double sum of two 6dp-rounded doubles — ordered unrounded,
    * surfaced re-rounded, doc_id tie-break.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":" + DsirSelectSeed))), 1, 15), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(1.152921504606846976e18)
    val g = r6(-log(-log(u)))
    val top = dsirWeights(spark, dir)
      .withColumn("key", col("log_weight") + g)
      .orderBy(col("key").desc, col("doc_id"))
      .limit(DsirSelectK)
    val wr = Window.orderBy(col("key").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(wr))
      .select(col("doc_id"), col("log_weight"),
        r6(col("key")).as("gkey"),
        col("rank"))
  }

  private[graft] def dsirIndexPath(dir: String): String =
    IndexStore.path("dsir-buckets-v1", dir)

  /** (doc_id, source, b, n): hashed feature multiplicities per doc —
    * unigrams + space-joined bigrams, bucketed by the 60-bit md5 key
    * mod [[DsirBuckets]]. Rows + lead(), the docBigramsOf posture.
    */
  private def docFeatsOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.cpuPartition(
      docs.select(col("doc_id"), col("source"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), col("source"),
        posexplode(Dedup.normToks(col("text"))).as(Seq("pos", "w1")))
      .select(col("doc_id"), col("source"), col("w1"),
        lead(col("w1"), 1).over(w).as("w2"))
      .select(col("doc_id"), col("source"), explode(array(
        col("w1"),
        when(col("w2").isNotNull, concat_ws(" ", col("w1"), col("w2")))))
        .as("gram"))
      .filter(col("gram").isNotNull)
      .select(col("doc_id"), col("source"),
        pmod(conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long"),
          lit(DsirBuckets.toLong)).cast("int").as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("n"))
  }

  /** The (b, tc, rc) bucket table: target vs raw feature counts. */
  private[graft] def dsirBucketsOf(docs: DataFrame): DataFrame =
    docFeatsOf(docs)
      .groupBy(col("b"))
      .agg(
        sum(when(col("source") === OodTrainSource, col("n"))
          .otherwise(lit(0L))).as("tc"),
        sum(when(col("source") =!= OodTrainSource, col("n"))
          .otherwise(lit(0L))).as("rc"))

  def buildDsirBuckets(spark: SparkSession, dir: String, path: String)
      : Unit =
    graft.sources.Sinks.writeSortedParquet(
      dsirBucketsOf(Tables.documents(spark, dir)), path, Seq("b"))

  /** The persisted frozen bucket table for a corpus. */
  def dsirBuckets(spark: SparkSession, dir: String): DataFrame = {
    val path = dsirIndexPath(dir)
    IndexStore.ensureBuilt(path)(buildDsirBuckets(spark, dir, path))
    Tables.read(spark, path)
  }

  // ---- bpe_pairs: tokenizer-training pair statistics ------------------

  val BpeTopK = 30

  /** bpe_pairs: the first BPE iteration's merge-candidate table (Sennrich
    * et al., ACL 2016) — adjacent character pairs over the corpus
    * vocabulary, weighted by word frequency, with the number of distinct
    * word types each pair occurs in. At tokenizer-training scale the
    * insight is that pair counting runs over the VOCABULARY (bounded:
    * distinct normalized words), not the corpus: one corpus-sized
    * groupBy builds (word, freq), and every character-level step after
    * is vocabulary-sized.
    *
    * Plan: tokens explode once (corpus scan) into the word-frequency
    * partial agg; the char-pair explode walks sequence(1, len−1) with
    * only ATTRIBUTE reads in the generator's pass-through (tok, freq —
    * the Generate rule; substring(tok, i, 2) evaluates per element but
    * reads an attribute, not a deferred chain). Two-level (pair, tok)
    * partial agg yields distinct-type counts without count(distinct);
    * global top-k is TakeOrdered.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Dedup.tokenCounts(spark, dir, "freq")
    val pairs = vocab.filter(length(col("tok")) >= 2)
      .select(col("tok"), col("freq"),
        explode(sequence(lit(1), length(col("tok")) - 1)).as("i"))
      .select(col("tok"), col("freq"),
        expr("substring(tok, i, 2)").as("pair"))
    val perType = pairs.groupBy(col("pair"), col("tok"), col("freq"))
      .agg(count(lit(1)).as("k"))
    val top = perType.groupBy(col("pair"))
      .agg(sum(col("k") * col("freq")).as("pair_count"),
        count(lit(1)).as("n_types"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(BpeTopK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("pair_count").desc, col("pair"))))
      .select(col("pair"), col("pair_count"), col("n_types"), col("rank"))
  }

  /** Number of BPE merge rounds learned by [[bpeVocab]] (fixed — the
    * pagerank PrIters posture; real tokenizers run tens of thousands of
    * merges with identical per-round shape).
    */
  val BpeMerges = 8

  /** bpe_vocab: the full BPE MERGE LOOP (Sennrich, Haddow & Birch,
    * "Neural Machine Translation of Rare Words with Subword Units",
    * ACL 2016 §3) — [[BpeMerges]] rounds of: count adjacent symbol
    * pairs over the word vocabulary weighted by word frequency, take
    * the most frequent pair (ties: lexicographic), merge it greedily
    * left-to-right in every word. Output = the learned merge table
    * (merge, left, right, pair_count) — the artifact a tokenizer
    * trainer exports. [[bpePairs]] is round 1's candidate table; this
    * iterates it to a vocabulary.
    *
    * Scale shape: all per-round work is VOCABULARY-sized (the corpus is
    * touched once, in the word-frequency groupBy): the pair count is a
    * partial agg over exploded adjacent pairs, the argmax is a 1-row
    * TakeOrdered broadcast, and the merge is one string `replace` per
    * word — so a round costs O(|vocab|) regardless of corpus size, and
    * rounds are the only sequential dimension (inherent to BPE).
    *
    * Symbols ride a delimited string — every symbol wrapped as
    * \\u0001 sym \\u0002 — so the merge is the engine's literal
    * leftmost-non-overlapping replace-all of the wrapped L,R pair with
    * the wrapped LR: NON-SHARED delimiters make consecutive
    * occurrences independent, which makes replace() exactly BPE's
    * greedy merge on BOTH engines. Adjacent-pair counts include
    * overlapping pairs (Sennrich's get_stats). Tokens containing the
    * two control chars are excluded (mirrored) — they cannot occur in
    * whitespace-tokenized text.
    */
  def bpeMergesPath(dir: String): String =
    IndexStore.path("bpe-merges-v1", dir)

  /** The persisted learned merge table — built once per corpus (the
    * tokenizer artifact a training pipeline ships); [[bpeVocab]] reads
    * it, [[bpeEncode]] applies it.
    */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val path = bpeMergesPath(dir)
    IndexStore.ensureBuilt(path)(
      graft.sources.Sinks.writeSortedParquet(
        bpeVocabLive(spark, dir), path, Seq("merge")))
    Tables.read(spark, path).orderBy(col("merge"))
  }

  /** The live merge loop (the artifact build). */
  private[graft] def bpeVocabLive(spark: SparkSession, dir: String): DataFrame = {
    val S = "\u0001"
    val E = "\u0002"
    var v = Dedup.tokenStream(spark, dir, "tok")
      .filter(!col("tok").contains(S) && !col("tok").contains(E))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("tok"), "(.)", S + "$1" + E).as("seq"),
        col("freq"))
      .localCheckpoint(false)
    var merges = List.empty[DataFrame]
    for (t <- 1 to BpeMerges) {
      val syms = split(trim(col("seq"), S + E), E + S)
      val best = v
        .select(col("freq"), syms.as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("freq"), col("s"),
          explode(sequence(lit(1), size(col("s")) - 1)).as("i"))
        .select(col("freq"), element_at(col("s"), col("i")).as("l"),
          element_at(col("s"), col("i") + 1).as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .localCheckpoint(false) // feeds the output row AND the merge rewrite
      merges :+= best.select(lit(t).as("merge"), col("l").as("left"),
        col("r").as("right"), col("cnt").as("pair_count"))
      v = v.crossJoin(broadcast(best))
        .select(replace(col("seq"),
          concat(lit(S), col("l"), lit(E), lit(S), col("r"), lit(E)),
          concat(lit(S), col("l"), col("r"), lit(E))).as("seq"),
          col("freq"))
        .localCheckpoint(false) // round-over-round lineage cut
    }
    merges.reduce(_ unionByName _).orderBy(col("merge"))
  }

  /** bpe_encode: apply the LEARNED merge table corpus-wide — the encode
    * half of the tokenizer loop (bpe_pairs counts, bpe_vocab learns,
    * THIS tokenizes): every word re-segments under the trained subword
    * vocabulary (the same wrapped-symbol replaces, in merge order — a
    * word's final symbol count is its subword token count), rolled up
    * per language as the TRAINED-tokenizer fertility
    * (subwords per whitespace word — the real-tokenizer twin of
    * tokenizer_fertility's fixed heuristics; the number a tokenizer
    * bake-off actually compares).
    *
    * Scale shape: encoding runs over the DISTINCT word vocabulary
    * (bounded), not the corpus — per-doc token multiplicities join the
    * encoded vocabulary on the word, and the per-lang rollup is a
    * partial agg; the 8 merge applications are chained literal
    * replaces over a 1-row broadcast of the pivoted merge table (a
    * missing merge round — possible on tiny corpora — degrades to a
    * no-op stage on both engines).
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val S = "\u0001"
    val E = "\u0002"
    // the 8 merges pivoted into ONE row (l1,r1..l8,r8), null-padded
    val m = bpeVocab(spark, dir)
    val mcols = (1 to BpeMerges).flatMap(t => Seq(
      max(when(col("merge") === t, col("left"))).as(s"l$t"),
      max(when(col("merge") === t, col("right"))).as(s"r$t")))
    val wide = m.groupBy().agg(mcols.head, mcols.tail: _*)
    val toks = Tables.cpuPartition(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(Dedup.normToks(col("text"))).as("tok"))
      .filter(!col("tok").contains(S) && !col("tok").contains(E))
    val dt = toks.groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds the vocab collapse AND the join back
    val vocab = dt.select(col("tok")).distinct()
      .select(col("tok"),
        regexp_replace(col("tok"), "(.)", S + "$1" + E).as("seq"))
      .crossJoin(broadcast(wide))
    // A missing merge round (possible on tiny corpora) is a NO-OP
    // REPLACE on a pattern that cannot occur — coalescing the null
    // symbol to E yields a search string containing an S+E (empty
    // symbol) boundary, and every symbol in a wrapped seq has ≥1
    // non-marker char. The former `when(isNull, acc).otherwise(
    // replace(acc, …))` fold referenced acc TWICE per level: 2^8
    // duplicated copies of the inner expression in the generated
    // code, which pushed the fused join+agg stage past Janino's
    // 64 KB method limit and dropped the whole corpus-sized stage
    // to interpreted execution (3× "Code grows beyond 64 KB" per
    // sweep, measured r14). The linear replace chain compiles.
    val seqFinal = (1 to BpeMerges).foldLeft(col("seq")) { (acc, t) =>
      replace(acc,
        concat(lit(S), coalesce(col(s"l$t"), lit(E)), lit(E),
          lit(S), coalesce(col(s"r$t"), lit(E)), lit(E)),
        concat(lit(S), coalesce(col(s"l$t"), lit(E)),
          coalesce(col(s"r$t"), lit(E)), lit(E)))
    }
    val enc = vocab.select(col("tok").as("etok"),
      size(split(trim(seqFinal, S + E), E + S)).cast("long").as("n_sub"))
    dt.join(enc, col("tok") === col("etok"))
      .groupBy(col("lang"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sub")).as("n_subwords"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        r4(col("n_subwords").cast("double") / col("n_words"))
          .as("fertility"))
      .orderBy(col("lang"))
  }

  /** Score `docs` against a frozen LM count table. Left joins: a bigram
    * the LM never saw contributes the smoothed floor ln((c1+V)/1); an
    * unseen context word contributes ln(V). Languages absent from the LM
    * are unscorable by a per-language model and are dropped by the inner
    * V join.
    */
  private[graft] def scoreAgainstLm(docs: DataFrame, lm: DataFrame)
      : DataFrame = {
    val c1 = lm.groupBy(col("lang"), col("w1")).agg(sum(col("c2")).as("c1"))
    val v = c1.groupBy(col("lang")).agg(count(lit(1)).as("v"))
    // per-(doc, bigram) nll contribution: multiplicity × the 6dp-rounded
    // ln((c1 + V)/(c2 + 1)), exact in DECIMAL
    val part = (col("n") *
      r6(log(
        (coalesce(col("c1"), lit(0L)) + col("v")).cast("double") /
          (coalesce(col("c2"), lit(0L)) + lit(1))))
        .cast("decimal(18,6)")).as("part")
    val avg = r6(col("nll_sum").cast("double") / col("n_bigrams"))
    docBigramsOf(docs)
      .join(lm, Seq("lang", "w1", "w2"), "left")
      .join(c1, Seq("lang", "w1"), "left")
      .join(broadcast(v), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n"), part)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("n_bigrams"), sum(col("part")).as("nll_sum"))
      .withColumn("avg_nll", avg)
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("avg_nll"),
        r4(exp(col("avg_nll"))).as("ppl"))
  }

  /** token_entropy: per-language Shannon entropy of the unigram
    * distribution, in nats, plus the vocabulary-normalized form
    * H/ln(V) ∈ [0,1] — the lexical-diversity audit next to [[zipfFit]]:
    * a language slice whose normalized entropy collapses is template- or
    * boilerplate-dominated even when its Zipf head looks plausible
    * (entropy sees the whole distribution, not the top-k).
    *
    * Identity used: H = ln N − (1/N)·Σ c·ln c — so the corpus-sized work
    * is ONE groupBy(lang, tok) partial agg, and per-language moments
    * reduce from vocabulary-sized rows. Parity: counts are exact
    * integers; each type's ln c is 6dp-rounded and multiplied by its
    * exact count in DECIMAL (the perplexity primitive); the final
    * ln N − s/N runs in double with verbatim-mirrored operation order.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val types = Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("lang"), col("text")),
      col("lang"))
      .select(col("lang"), explode(Dedup.normToks(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val per = types.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("c") * r6(log(col("c").cast("double")))
          .cast("decimal(18,6)")).as("clogc"))
    val ent = log(col("n_tokens").cast("double")) -
      col("clogc").cast("double") / col("n_tokens")
    per.select(col("lang"), col("n_tokens"), col("vocab"),
      r6(ent).as("entropy"),
      // vocab=1 ⇒ H=0 and ln(V)=0: define the normalized form as 0
      // instead of 0/0 (mirrored in the oracle's CASE)
      when(col("vocab") > 1, r6(ent / log(col("vocab").cast("double"))))
        .otherwise(lit(0.0)).as("entropy_norm"))
      .orderBy(col("lang"))
  }

  /** vocab_growth fraction grid: deciles of the deterministic document
    * hash. Single-sourced into the oracle SQL.
    */
  val VocabBuckets = 10

  /** vocab_growth: the Heaps/Herdan-law curve — vocabulary size vs
    * corpus size at [[VocabBuckets]] nested sample fractions (V(N) ≈
    * K·N^β, β ≈ 0.4-0.6 for natural text; a crawl whose curve flattens
    * early is template-dominated, one that stays near-linear is
    * ID/hash-polluted). The scaling audit beside [[zipfFit]] /
    * [[tokenEntropy]]: those see one corpus size, this sees how lexical
    * diversity GROWS.
    *
    * Scalable form — no N passes over N prefixes: each doc lands in a
    * decile of the stratified_sample hash (exact binary rational,
    * engine-identical), and fraction f's subcorpus is deciles ≤ f.
    * Then per-bucket token counts and each type's MIN bucket (its first
    * appearance along the nesting) reduce via two partial-agg groupBys,
    * and one cumulative window over the ≤10 bucket rows yields every
    * (N_f, V_f) point — the hist_quantiles histogram-cumulative posture
    * applied to vocabulary growth.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus-sized pass: the token explode reduces immediately to
    // the (bucket, type) frame, and both growth series derive from
    // that vocabulary×buckets-sized frame (two direct consumers —
    // localCheckpoint, or the explode re-runs per consumer)
    val bt = Dedup.tokenStream(spark, dir, "tok")
      .withColumn("b",
        floor(Curation.hashU(col("doc_id")) * VocabBuckets).cast("int"))
      .groupBy(col("b"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val perB = bt.groupBy(col("b")).agg(sum(col("c")).as("toks"))
    val firstB = bt.groupBy(col("tok")).agg(min(col("b")).as("mb"))
      .groupBy(col("mb")).agg(count(lit(1)).as("new_types"))
    val joined = perB.join(firstB, col("b") === col("mb"), "full_outer")
      .select(coalesce(col("b"), col("mb")).as("b"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    val wCum = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ≤10 rows from here — the unpartitioned window is deliberate
    joined.select(
      ((col("b") + 1).cast("double") / VocabBuckets).as("fraction"),
      sum(col("toks")).over(wCum).as("n_tokens"),
      sum(col("new_types")).over(wCum).as("vocab"))
      .orderBy(col("fraction"))
  }

  /** heaps_law: the least-squares FIT of the curve vocab_growth plots —
    * ln V = ln k + β·ln N over the [[VocabBuckets]] nested (N_f, V_f)
    * points (Heaps 1978; β ≈ 0.4–0.6 for natural text). vocab_growth
    * shows the shape; this turns it into the two comparable numbers a
    * corpus card wants (k, β) plus the r² that says whether the power
    * law even holds — a low r² means the growth curve has a knee
    * (template flood entering at some crawl slice) and β alone would
    * lie. The zipfFit estimator verbatim on different points: 6dp
    * integer ln units, exact decimal moments, fixed-order double tail;
    * k = exp(intercept) rounds to 4dp (the ppl posture).
    *
    * Empty buckets (N_f or V_f = 0 — possible at tiny sf) carry no
    * information about the power law and are dropped before the logs.
    *
    * Scale shape: the same ONE corpus pass as vocab_growth (the
    * explode reduces straight to the (bucket, type) partial agg), then
    * a ≤[[VocabBuckets]]-row regression. Flat at any corpus size.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val pts = vocabGrowth(spark, dir)
      .filter(col("n_tokens") > 0 && col("vocab") > 0)
    val xu = units(log(col("n_tokens").cast("double")), 1000000)
    val yu = units(log(col("vocab").cast("double")), 1000000)
    val LeastSquares(m, num, dx, dy, icNum) =
      leastSquares(pts.select(xu.as("xu"), yu.as("yu")))
    // distinct cumulative N make dx>0 at n>1; an all-flat V (dy=0)
    // degenerates r² alone — the zipfFit guard split, same reasons
    m.select(col("n").as("n_points"),
      when(col("n") > 1, r6(num / dx)).as("beta"),
      when(col("n") > 1, r6(icNum / dx / 1000000)).as("ln_k"),
      when(col("n") > 1,
        r4(exp(icNum / dx / 1000000))).as("k"),
      when(col("n") > 1 && dy =!= 0.0, r6(num * num / (dx * dy))).as("r2"))
  }

  /** zipf_fit regression window: the head of the rank-frequency curve.
    * 500 terms keeps every moment sum in BIGINT range at any corpus
    * size (xu ≤ ln(500)·1e6, yu ≤ ln(count)·1e6 — even a 1e18-token
    * corpus keeps Σxu·yu under 2^63). Single-sourced into the oracle.
    */
  val ZipfTopK = 500

  /** zipf_fit: least-squares fit of the corpus's rank-frequency curve in
    * log-log space (Zipf's law: ln f ≈ intercept + slope·ln r, slope
    * ≈ −1 for natural language — Piantadosi 2014's standing corpus
    * sanity check). A crawl whose slope is far from −1 is usually
    * boilerplate-dominated (too flat: templated text repeats mid-rank
    * terms) or truncated/deduped too hard (too steep). One row out:
    * n_terms, slope, intercept, r2.
    *
    * Plan: ONE corpus-sized step — the token explode into a groupBy(term)
    * partial agg (vocabulary-sized output). The top-[[ZipfTopK]] head is
    * TakeOrdered; the rank window and moment sums run over those k rows
    * only. Nothing downstream grows with the corpus.
    *
    * Parity: ln(rank)/ln(count) are 6dp-rounded into integer micro-units
    * (the perplexity primitive), moment sums are exact integers, and the
    * closed-form slope/intercept/r² divide exact DECIMAL(38,0) cross
    * products (n·Sxy − Sx·Sy can exceed BIGINT; HUGEINT on the oracle
    * side) as doubles once, in an identical operation order.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val counts = Dedup.tokenCounts(spark, dir, "cnt")
    val top = counts.orderBy(col("cnt").desc, col("tok")).limit(ZipfTopK)
    // k rows from here on — the unpartitioned window is deliberate
    val ranked = top.withColumn("rank", row_number().over(
      Window.orderBy(col("cnt").desc, col("tok"))))
    val xu = units(log(col("rank").cast("double")), 1000000)
    val yu = units(log(col("cnt").cast("double")), 1000000)
    // intercept numerator carries 1e18-scaled units over the 1e12-scaled
    // denominator, hence the extra 1e6 divide; the op ORDER is mirrored
    // verbatim in the oracle so every IEEE step is bit-identical
    val LeastSquares(m, num, dx, dy, icNum) =
      leastSquares(ranked.select(xu.as("xu"), yu.as("yu")))
    // n=1 degenerates every moment difference to 0/0 (NaN — and the two
    // engines disagree on what their floor paths make of it); a
    // single-term head has no fit, so the stats are NULL (the
    // tokenEntropy vocab=1 posture). n>1 guarantees dx>0 (ranks are
    // distinct and adjacent ln-rank micro-units never collide at
    // k≤500) — but NOT dy>0: an all-tied head (every count equal)
    // zeroes dy and r² alone degenerates to 0/0, so r² carries its own
    // guard. Slope/intercept stay well-defined there (a flat line).
    m.select(col("n").as("n_terms"),
      when(col("n") > 1, r6(num / dx)).as("slope"),
      when(col("n") > 1, r6(icNum / dx / 1000000)).as("intercept"),
      when(col("n") > 1 && dy =!= 0.0, r6(num * num / (dx * dy))).as("r2"))
  }

  /** corpus_cube: the CUBE rollup of corpus volume over (lang, source)
    * — all four grouping levels (cell, per-lang, per-source, grand
    * total) in one pass: doc counts, exact character volume, and the
    * 4dp mean length. domain_mix reads one axis; datasheet tooling
    * reads the full matrix plus both margins — this is that matrix,
    * from a single scan.
    *
    * Scale shape: CUBE plans as one Expand (×4) feeding a single
    * partial-agg groupBy — the aggregate input quadruples but the
    * shuffle carries only (lang, source, level) partial sums, the
    * revenue_rollup rule. grouping_id disambiguates a real NULL-keyed
    * cell from a margin row.
    */
  def corpusCube(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        r4(sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        grouping_id(col("lang"), col("source")).cast("int").as("lvl"))
      .orderBy(col("lvl"), col("lang"), col("source"))

  /** signal_auc: per-language ranking quality of the frozen-LM
    * perplexity signal against the rule-based Gopher gate — the exact
    * Mann-Whitney AUC of "lower avg_nll" predicting "quality_filter
    * keeps the doc". signal_corr answers "do the two signals move
    * together"; this answers the operational question "if I ranked by
    * LM score and cut, how much of the gate would I reproduce" — the
    * number that decides whether the expensive signal can replace the
    * cheap gate (or vice versa) on a new language before anyone
    * commits a 100 TB filtering pass to it.
    *
    * Exactness: AUC is computed from the rank-sum closed form over the
    * DISCRETE 4dp nll histogram — per-(lang, nll-unit) pos/neg counts,
    * tied ranks as the integer 2·avg-rank = 2·cum_before + cnt + 1, so
    * every term up to the single final division is exact integer
    * arithmetic (ties land identically in both engines by
    * construction). The window runs over the value histogram, never
    * the corpus (the hist_quantiles posture). Bound: the rank-sum is
    * ≤ 2n² — DECIMAL(38,0) holds to n = 1e18 docs per language.
    *
    * Scale shape: two per-doc probe frames (LM score, gate), one
    * doc_id equi-join, one (lang, unit) partial agg, a bounded-frame
    * window, a ≤|langs| rollup.
    */
  def signalAuc(spark: SparkSession, dir: String): DataFrame = {
    // merge hint: the gate side is a SMALL SCAN under an expensive
    // lambda projection — byte estimates would broadcast it and
    // evaluate the whole gate single-threaded on the build side (the
    // exploded-frame mis-broadcast rule applied to CPU, not rows)
    val keep = Curation.qualityFilterOf(
      Tables.cpuPartition(Tables.documents(spark, dir), col("doc_id")))
      .select(col("doc_id").as("kdid"), col("keep"))
    val j = perplexityScore(spark, dir)
      .select(col("doc_id"), col("lang"),
        units(col("avg_nll"), 10000).as("yu"))
      .join(keep.hint("merge"), col("doc_id") === col("kdid"))
    val h = j.groupBy(col("lang"), col("yu"))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("pv"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("nv"))
    // rank 1 = highest nll: kept docs should then collect the HIGH
    // ranks, so auc = P(kept doc scores better than dropped doc)
    val w = Window.partitionBy(col("lang")).orderBy(col("yu").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val g = h.withColumn("cum", sum(col("pv") + col("nv")).over(w))
      .groupBy(col("lang"))
      .agg(sum(col("pv")).as("np"), sum(col("nv")).as("nn"),
        sum(d(col("pv")) *
          (lit(2) * (col("cum") - col("pv") - col("nv"))
            + col("pv") + col("nv") + 1)).as("r2"))
    g.select(col("lang"), col("np").as("n_pos"), col("nn").as("n_neg"),
      when(col("np") > 0 && col("nn") > 0,
        r6((col("r2") - d(col("np")) * (col("np") + 1)).cast("double")
          / 2 / col("np").cast("double") / col("nn").cast("double")))
        .as("auc"))
      .orderBy(col("lang"))
  }

  /** ngram_diversity: per-source lexical diversity — unigram and bigram
    * type/token ratios (distinct n-grams over total occurrences). The
    * corpus-health twin of ngram_stats: a source whose bigram TTR
    * collapses is template spam (near-identical boilerplate pages), the
    * cheap tripwire that routes a source into the dedup/boilerplate
    * passes (span_hotspots, dedup_*) before it pollutes a training mix.
    *
    * Scale shape: tokens explode once (the ngram_stats lead() posture —
    * no per-element array lambdas), then each TTR is a TWO-LEVEL
    * aggregate — (source, gram) partial counts, then a per-source
    * rollup counting rows for the distinct side — never count(distinct)
    * over the raw occurrence stream, and never a quadratic self-join.
    * Output is ≤|sources| rows; both shuffles key on (source, gram).
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = Tables.cpuPartition(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), col("source"),
        posexplode(Dedup.normToks(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("source"), col("tok"),
        lead(col("tok"), 1).over(w).as("nxt"))
      .localCheckpoint(false) // one tokenize feeds both gram arms
    def ttrArm(gram: Column, keep: Column, pfx: String) =
      toks.filter(keep)
        .groupBy(col("source"), gram.as("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as(s"${pfx}_total"),
          count(lit(1)).as(s"${pfx}_distinct"))
    val uni = ttrArm(col("tok"), lit(true), "uni")
    val bi = ttrArm(concat_ws(" ", col("tok"), col("nxt")),
      col("nxt").isNotNull, "bi")
    val docs = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    docs.join(uni, Seq("source"), "left")
      .join(bi, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("uni_total"), lit(0L)).as("n_tokens"),
        coalesce(col("uni_distinct"), lit(0L)).as("n_unigrams"),
        when(col("uni_total") > 0,
          r4(col("uni_distinct").cast("double") / col("uni_total")))
          .as("uni_ttr"),
        coalesce(col("bi_total"), lit(0L)).as("n_bigram_occ"),
        coalesce(col("bi_distinct"), lit(0L)).as("n_bigrams"),
        when(col("bi_total") > 0,
          r4(col("bi_distinct").cast("double") / col("bi_total")))
          .as("bi_ttr"))
      .orderBy(col("source"))
  }

  /** Minimum document frequency for a burstiness row (below this the
    * variance-to-mean ratio is all sampling noise) and the read-out
    * size.
    */
  val BurstMinDf = 5
  val BurstTopK = 20

  /** burstiness: per-term VARIANCE-TO-MEAN RATIO of the per-document
    * term frequency, zeros included (Church & Gale 1995's burstiness —
    * a Poisson-scattered term reads VMR ≈ 1; a topical term
    * concentrates its occurrences in few documents and reads ≫ 1).
    * The corpus-linguistics column next to zipf_fit: Zipf says how
    * often a term occurs, burstiness says HOW CLUMPED — the signal a
    * stopword-list builder or dedup-shingle selector reads (bursty
    * terms are content, flat terms are glue). Top-[[BurstTopK]] by
    * VMR among terms with df ≥ [[BurstMinDf]].
    *
    * Parity: with s1 = Σtf, s2 = Σtf² over occurrences only, the
    * zero-inclusive moments collapse to VMR = s2/s1 − s1/N — two
    * exact-integer ratios in one fixed-order 4dp expression (no zero
    * rows ever materialize).
    *
    * Scale shape: one tokenize+explode pass, a (term, doc) partial agg,
    * a vocabulary-bounded term agg, TakeOrdered — the ngram_stats cost
    * class.
    */
  /** hapax_ratio: per-source HAPAX LEGOMENA share — the fraction of
    * the source's vocabulary occurring exactly once (and its token
    * share). A classic corpus-health line: natural text runs ~40-60%
    * hapax vocabulary (Zipf's tail); machine-generated or
    * template-heavy sources collapse far below, OCR-noisy ones blow
    * far above — the one-line generator fingerprint next to
    * ngram_diversity.
    *
    * Scale shape: one tokenize pass, a (source, term) partial agg,
    * a per-source rollup — the burstiness cost class.
    */
  def hapaxRatio(spark: SparkSession, dir: String): DataFrame = {
    Tables.cpuPartition(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")),
      col("doc_id"))
      .select(col("source"), explode(Dedup.normToks(col("text")))
        .as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(col("tf")).as("tokens"))
      .select(col("source"), col("vocab"), col("hapax"), col("tokens"),
        r4(col("hapax").cast("double") / col("vocab")).as("hapax_share"),
        r4(col("hapax").cast("double") / col("tokens"))
          .as("hapax_token_share"))
      .orderBy(col("source"))
  }

  /** Largest frequency class reported by [[goodTuring]] — above r≈10
    * the n_r counts thin out and the Turing estimate is noise (the
    * standard Gale & Sampson guidance to smooth or stop).
    */
  val GoodTuringMaxR = 10

  /** good_turing: the BIGRAM frequency-of-frequencies table with the
    * Turing re-estimate (Good 1953; Gale & Sampson 1995) — for each
    * observed bigram count r ≤ [[GoodTuringMaxR]]: the class size n_r,
    * the adjusted count r* = (r+1)·n_{r+1}/n_r, and the implied class
    * probability mass. Bigrams, not unigrams, because that is where
    * the estimate is USED: Katz backoff discounts exactly these counts
    * before falling back to the unigram model — this table is the
    * discount schedule of the [[perplexityBackoff]] bigram LM, and the
    * unseen-mass headline p₀ = n₁/N (repeated per row) is the
    * probability it must reserve for bigrams the corpus never showed
    * (the unigram vocabulary is closed and tiny by comparison —
    * hapax_ratio already covers it).
    *
    * Parity: every count is an exact integer; r* and the masses are
    * single fixed-order divisions rounded 6dp. Adjacent classes join on
    * r+1 (a gap in r means n_{r+1} = 0 and r* = 0 — the raw-table
    * convention; smoothing is the consumer's job).
    *
    * Scale shape: one tokenize pass, one per-doc lead window (the
    * ngram_stats shape), a (gram) partial agg, then a ≤|distinct tf|
    * frequency-class frame (≪ vocabulary) self-joined once.
    */
  def goodTuring(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val fof = Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"),
        posexplode(Dedup.normToks(col("text"))).as(Seq("pos", "w")))
      .select(concat_ws(" ", col("w"), lead(col("w"), 1).over(w)).as("g"),
        lead(col("w"), 1).over(w).isNotNull.as("full"))
      .filter(col("full"))
      .groupBy(col("g")).agg(count(lit(1)).as("tf"))
      .groupBy(col("tf").as("r")).agg(count(lit(1)).as("n_r"))
      .localCheckpoint(false) // feeds both join sides and the totals
    val tots = broadcast(fof.agg(
      sum(col("r") * col("n_r")).as("n_tokens"),
      sum(when(col("r") === 1, col("n_r")).otherwise(0L)).as("n1")))
    val nxt = fof.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
    fof.filter(col("r") <= GoodTuringMaxR)
      .join(nxt, Seq("r"), "left")
      .crossJoin(tots)
      .select(col("r"), col("n_r"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        r6((col("r") + 1).cast("double") *
          coalesce(col("n_next"), lit(0L)) / col("n_r")).as("r_star"),
        r6((col("r") + 1).cast("double") *
          coalesce(col("n_next"), lit(0L)) / col("n_tokens"))
          .as("class_mass"),
        r6(col("n1").cast("double") / col("n_tokens")).as("p_unseen"))
      .orderBy(col("r"))
  }

  /** chi2_terms df floor and per-source read-out size. */
  val Chi2MinDf = 5
  val Chi2TopK = 5

  /** chi2_terms: the most DISCRIMINATIVE terms per source — χ² of the
    * term-presence × source contingency table (the classic text
    * feature-selection statistic, Yang & Pedersen 1997), keeping
    * positively-associated terms only (observed df inside the source
    * above expectation). cluster_terms profiles k-means cells by
    * tf-idf; this profiles SOURCES by a proper significance test — the
    * "what words make this source different" card a corpus curator
    * reads next to source_card.
    *
    * Parity: all four margins are exact integers; a·d − b·c stays in
    * BIGINT (≤ N²/4), squared in DOUBLE; one fixed-order 4dp ratio.
    *
    * Scale shape: a distinct (term, doc) pass, a (source, term) df
    * agg, a vocabulary-bounded margin join, per-source top-k windows
    * on the surviving rows.
    */
  def chi2Terms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.cpuPartition(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")),
      col("doc_id"))
    val pres = docs
      .select(col("doc_id"), col("source"),
        explode(array_distinct(Dedup.normToks(col("text")))).as("term"))
    val bySrc = pres.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("a"))
      .localCheckpoint(false) // feeds the term margin and the scored rows
    val dft = bySrc.groupBy(col("term")).agg(sum(col("a")).as("dft"))
      .filter(col("dft") >= Chi2MinDf)
    val ns = broadcast(docs.groupBy(col("source"))
      .agg(count(lit(1)).as("ns")).localCheckpoint(false))
    val nn = broadcast(docs.agg(count(lit(1)).as("nt")).localCheckpoint(false))
    val d1 = (col("a") * (col("nt") - col("ns") - col("dft") + col("a"))
      - (col("dft") - col("a")) * (col("ns") - col("a"))).cast("double")
    val scored = bySrc.join(dft, Seq("term")).join(ns, Seq("source"))
      .crossJoin(nn)
      // positive association only: observed a above the independence
      // expectation dft·ns/N  ⟺  a·N > dft·ns (exact integers)
      .filter(col("a") * col("nt") > col("dft") * col("ns"))
      .select(col("source"), col("term"), col("a").as("df_in"),
        (col("dft") - col("a")).as("df_out"),
        r4(col("nt").cast("double") * d1 * d1 / col("dft")
          / (col("nt") - col("dft")) / col("ns")
          / (col("nt") - col("ns"))).as("chi2"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("chi2").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Chi2TopK)
      .orderBy(col("source"), col("rank"))
  }

  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
    val nn = broadcast(docs.agg(count(lit(1)).as("nd")).localCheckpoint(false))
    val tf = docs
      .select(col("doc_id"), explode(Dedup.normToks(col("text")))
        .as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("n_occurrences"),
        count(lit(1)).as("n_docs"),
        sum(col("tf") * col("tf")).as("s2"))
      .filter(col("n_docs") >= BurstMinDf)
      .crossJoin(nn)
      .select(col("term"), col("n_occurrences"), col("n_docs"),
        r4(col("s2").cast("double") / col("n_occurrences") -
          col("n_occurrences").cast("double") / col("nd")).as("vmr"))
      .orderBy(col("vmr").desc, col("term"))
      .limit(BurstTopK)
  }

  /** Closed vocabulary size for the OOV audit: the top-1000 corpus
    * tokens by frequency. Bounded, so the vocab side of the membership
    * join is always broadcastable. Single-sourced into the oracle.
    */
  val OovVocabK = 1000

  /** oov_rate: per-source OUT-OF-VOCABULARY rate against the corpus's
    * own top-[[OovVocabK]] closed vocabulary — token mass and distinct
    * types separately (a source can be 2% OOV by mass but 40% by type:
    * a long tail of IDs/typos the fertility audit then prices in
    * subwords). The pre-BPE coverage number tokenizer_fertility
    * complements: fertility says how EXPENSIVE unseen text is to
    * encode, this says how much text is unseen at all — the classic
    * domain-shift early warning per source.
    *
    * Scale shape: one token explode reducing to the (source, type)
    * partial agg; the vocabulary is a bounded top-K (deterministic
    * (freq desc, token) order) that rides a broadcast into the
    * membership join. Source rollups are |sources|-bounded.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("source"), col("text")),
      col("source"))
      .select(col("source"), explode(Dedup.normToks(col("text")))
        .as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds the global vocab AND the source rollup
    val vocab = broadcast(st.groupBy(col("tok"))
      .agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(OovVocabK)
      .select(col("tok"), lit(1).as("in_v")).localCheckpoint(false))
    st.join(vocab, Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("in_v").isNull, col("c")).otherwise(0L))
          .as("n_oov"),
        count(lit(1)).as("n_types"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L))
          .as("n_oov_types"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        r6(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"),
        col("n_types"), col("n_oov_types"),
        r6(col("n_oov_types").cast("double") / col("n_types"))
          .as("type_oov_rate"))
      .orderBy(col("source"))
  }

  /** vocab_coverage cut points: candidate closed-vocabulary sizes.
    * Bounded (the ranked head the audit scans is max(K)); the set
    * brackets [[OovVocabK]] so the oov_rate choice sits on the curve.
    */
  val CoverageKs = Seq(100, 1000, 10000)

  /** vocab_coverage: token-mass coverage of the top-K closed
    * vocabulary at K ∈ [[CoverageKs]] — the decision curve UNDER
    * [[oovRate]]'s K=1000: each row says what fraction of the corpus's
    * token mass (and of its distinct types) a K-entry vocabulary
    * captures, so the OOV rate oov_rate reports can be read as a point
    * on a curve instead of an article of faith. The Zipf head in
    * budget form: coverage(100) ≈ coverage(10000) means a
    * template-flooded corpus; a steep curve means real lexical mass in
    * the tail and a bigger vocabulary buys accuracy.
    *
    * Scale shape: vocabulary partial agg → bounded max(K) ranked head
    * (deterministic (freq desc, token) order) → a |Ks|-row rollup
    * against the exact corpus totals. Flat at any corpus size.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val counts = Dedup.tokenCounts(spark, dir, "cnt")
      .localCheckpoint(false) // totals AND the ranked head
    val tot = broadcast(counts.agg(sum(col("cnt")).as("nn"),
      count(lit(1)).as("v")).localCheckpoint(false))
    val head = counts.orderBy(col("cnt").desc, col("tok"))
      .limit(CoverageKs.max)
      .withColumn("r", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok"))))
    val kCol = CoverageKs.tail.foldLeft(
      lit(CoverageKs.head)) { case (acc, k) =>
        when(col("id") === CoverageKs.indexOf(k), lit(k)).otherwise(acc) }
    val cuts = broadcast(spark.range(CoverageKs.size)
      .select(kCol.as("k")))
    head.crossJoin(cuts)
      .groupBy(col("k"))
      .agg(sum(when(col("r") <= col("k"), col("cnt")).otherwise(0L))
        .as("mass"),
        sum(when(col("r") <= col("k"), 1L).otherwise(0L))
          .as("vocab_used"))
      .crossJoin(tot)
      .select(col("k"), col("vocab_used"),
        r6(col("mass").cast("double") / col("nn")).as("mass_coverage"),
        r6(col("vocab_used").cast("double") / col("v"))
          .as("type_coverage"))
      .orderBy(col("k"))
  }

  /** coverage_pick mass target: the closed vocabulary should cover 95%
    * of token mass — the conventional "OOV under 5%" bar.
    */
  val CoverageTarget = 0.95

  /** coverage_pick: the AUTO-TUNED vocabulary size — smallest
    * [[CoverageKs]] arm whose mass coverage meets [[CoverageTarget]]
    * (fallback: the best-covering arm), with its full coverage line.
    * The nprobe_pick / threshold_pick posture applied to
    * [[vocabCoverage]]: the curve exists so something DECIDES on it,
    * and the decision is a deterministic three-key sort, not a human
    * squinting at three rows.
    *
    * Scale shape: vocab_coverage's bounded frame (|Ks| rows) + a
    * 1-row pick. Flat.
    */
  def coveragePick(spark: SparkSession, dir: String): DataFrame = {
    val arms = vocabCoverage(spark, dir)
      .withColumn("met", col("mass_coverage") >= CoverageTarget)
    // met arms: smallest k wins; no met arm: coverage grows with k,
    // so -k ascending = best-covering arm first
    arms.orderBy(col("met").desc,
        when(col("met"), col("k")).otherwise(-col("k")))
      .limit(1)
      .select(col("k").as("k_pick"), col("vocab_used"),
        col("mass_coverage"), col("type_coverage"), col("met"))
  }

  /** source_lang_assoc: the source × lang contingency audit — Pearson
    * χ² on the zero-filled observed grid and Cramér's V, the one
    * number that says whether "source" and "lang" are measuring the
    * same partition of the corpus (V → 1: each source is monolingual,
    * lang-stratified ops double-stratify; V → 0: every source mixes
    * languages the same way and a per-source mix is redundant).
    * domain_mix and lang_confusion read the two margins; this reads
    * their association.
    *
    * Parity: cell terms (o−e)²/e round to 6dp integer units on the
    * FULL sources × langs grid (zero cells keep their terms — the
    * benford rule); e > 0 for every grid cell by construction (both
    * margins observed). One fixed-order sqrt tail for V.
    *
    * Scale shape: one (source, lang) partial agg; the grid is
    * |sources|×|langs|-bounded. Flat.
    */
  def sourceLangAssoc(spark: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(spark, dir)
      .select(col("source"), col("lang"))
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      .localCheckpoint(false) // margins and the grid both read it
    val rs = obs.groupBy(col("source")).agg(sum(col("o")).as("ns"))
    val cs = obs.groupBy(col("lang")).agg(sum(col("o")).as("nl"))
    val tot = broadcast(obs.agg(sum(col("o")).as("nn"),
      countDistinct(col("source")).as("r"),
      countDistinct(col("lang")).as("c")).localCheckpoint(false))
    val e = col("ns").cast("double") * col("nl") / col("nn")
    val grid = rs.crossJoin(cs)
      .join(obs, Seq("source", "lang"), "left")
      .crossJoin(tot)
      .select(coalesce(col("o"), lit(0L)).as("o"), e.as("e"),
        col("nn"), col("r"), col("c"))
    val t6 = units((col("o") - col("e")) * (col("o") - col("e"))
      / col("e"), 1000000)
    val chi = col("st6").cast("double") / 1000000
    val minrc = least(col("r"), col("c")) - 1
    grid.groupBy(col("nn"), col("r"), col("c"))
      .agg(sum(t6).as("st6"))
      .select(col("nn").as("n_docs"), col("r").as("n_sources"),
        col("c").as("n_langs"), r4(chi).as("chi2"),
        when(minrc > 0,
          r4(sqrt(chi / (col("nn") * minrc)))).as("cramers_v"))
  }

  /** token_gini: the Gini coefficient of the token-frequency
    * distribution — corpus lexical concentration as ONE number beside
    * the curve family ([[zipfFit]] slope, [[hillTail]] α,
    * [[vocabCoverage]]'s arms): a crawl drifting toward templates
    * shows up as Gini creeping toward 1 before any single audit row
    * moves. The giniRevenue grouped-rank identity on the
    * frequency-of-frequencies frame: types with equal count form one
    * rank block, so the Lorenz sum needs only the ≤|distinct counts|
    * grid — never a vocabulary-sized sort window.
    *
    * Parity: exact decimal(38) rank-block arithmetic (the giniRevenue
    * rule verbatim), one fixed-order double at the end.
    *
    * Scale shape: vocabulary partial agg → frequency-class partial agg
    * (bounded like goodTuring's) → one ordered window over the class
    * grid. Flat.
    */
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val counts = Dedup.tokenCounts(spark, dir, "cnt")
    val grid = counts.groupBy(col("cnt")).agg(count(lit(1)).as("c"))
    val wBelow = Window.orderBy(col("cnt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // <= |distinct counts| rows — the unpartitioned window is deliberate
    val m = grid
      .withColumn("k", coalesce(sum(col("c")).over(wBelow), lit(0L)))
      .agg(sum(col("c")).as("n"),
        sum(d38(col("cnt")) * d38(col("c"))).as("s"),
        sum(d38(col("cnt")) * (lit(2) * d38(col("c")) * d38(col("k"))
          + d38(col("c")) * (d38(col("c")) + 1))).as("t2"))
    m.select(col("n").as("n_types"),
      col("s").cast("long").as("n_tokens"),
      when(col("n") > 0 && col("s") > 0,
        r6((col("t2") - (d38(col("n")) + 1) * col("s")).cast("double") /
          (d38(col("n")) * col("s")).cast("double"))).as("gini"))
  }

  /** Hill-estimator order statistics: the top-200 token frequencies.
    * Bounded like [[ZipfTopK]]; single-sourced into the oracle.
    */
  val HillK = 200

  /** hill_tail: the Hill (1975) MLE of the token-frequency tail index —
    * α̂ = k / Σ_{i≤k} ln(c_i / c_{k+1}) over the top-k order statistics.
    * The maximum-likelihood counterweight to [[zipfFit]]'s OLS: log-log
    * regression on rank-frequency points is notoriously biased (the
    * points are neither independent nor homoscedastic — Clauset,
    * Shalizi & Newman 2009), so a corpus card that quotes a Zipf slope
    * should quote the Hill α beside it; when the two disagree
    * materially, the head (OLS, template-dominated) and the tail (Hill)
    * are telling different stories and neither number alone is the law.
    *
    * Parity: per-term ln ratios round to 6dp integer units and sum
    * exactly (the zipfFit rule); one fixed-order double tail for α and
    * its asymptotic se = α/√k. Ties at the threshold resolve by the
    * deterministic (freq desc, token) order on both engines.
    *
    * Scale shape: vocabulary partial agg → bounded top-(k+1) head →
    * a ≤k-row tail. Flat at any corpus size.
    */
  def hillTail(spark: SparkSession, dir: String): DataFrame = {
    val counts = Dedup.tokenCounts(spark, dir, "cnt")
    val top = counts.orderBy(col("cnt").desc, col("tok"))
      .limit(HillK + 1)
    // <= k+1 rows from here — the unpartitioned windows are deliberate
    val ranked = top
      .withColumn("r", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok"))))
      .withColumn("nt", max(col("r")).over(Window.partitionBy(lit(0))))
      .withColumn("xmin", min(col("cnt")).over(Window.partitionBy(lit(0))))
    val m = ranked.filter(col("r") < col("nt"))
      .select(col("nt"), col("xmin"),
        units(log(col("cnt").cast("double") / col("xmin")), 1000000).as("t6"))
      .groupBy(col("nt"), col("xmin"))
      .agg(count(lit(1)).as("k"), sum(col("t6")).as("st6"))
    val a = col("k").cast("double") /
      (col("st6").cast("double") / 1000000)
    m.select(col("k").as("k_used"), col("xmin"),
      when(col("st6") > 0, r6(a)).as("alpha"),
      when(col("st6") > 0, r6(a / sqrt(col("k").cast("double"))))
        .as("alpha_se"))
  }
}
