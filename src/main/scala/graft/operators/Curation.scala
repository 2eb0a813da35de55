package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fixed.{r4, r6, units}
import graft.sources.Tables

/** Corpus-curation operators — the steps between "raw crawl" and
  * "training mix" that the reference's single-tenant store never needs
  * but any 100 TB pipeline runs daily:
  *
  *  - decontaminate — flag training docs sharing n-grams with a held-out
  *    benchmark set (the GPT-3 appendix-C / Gopher eval-decontamination
  *    step: exact n-gram collision against the eval suite)
  *  - stratified_sample — deterministic seeded per-stratum downsampling
  *    (the data-mixing primitive: rates per language/domain)
  *  - pack_sequences — concat-and-chunk sequence packing: assign each doc
  *    an offset and training-sequence bin inside a sharded token stream
  *
  * All three are driver-gated with DuckDB oracles (constants below are
  * the single source for both engines — mirrored in
  * [[graft.oracle.DuckSql]]).
  */
object Curation {

  /** Benchmark membership: doc_id ≡ ContamSlot (mod ContamMod) — a
    * deterministic ~2% stand-in for the external eval suite.
    */
  val ContamMod = 50
  val ContamSlot = 7

  /** Per-language keep rates; [[SampleDefaultRate]] for the tail. The
    * keep decision hashes (doc_id, seed), so re-running the pipeline —
    * or running it on a different cluster layout — keeps the SAME docs.
    */
  val SampleSeed = "graft42"
  val SampleRates: Seq[(String, Double)] = Seq("en" -> 0.5)
  val SampleDefaultRate = 0.25

  /** Packing stream shards and the per-sequence token budget. Each shard
    * is an independent concat-and-chunk stream: the cumulative token
    * offset is windowed PER SHARD, so packing 100 TB never funnels
    * through one global ordering — shards scale with the cluster and the
    * within-shard window is the only sequential structure.
    */
  val PackShards = 8
  val PackBudget = 512

  /** decontaminate: training docs (doc_id ∉ benchmark) that share at
    * least one distinct word-3-gram with any benchmark doc, with the
    * count of contaminated shingles.
    *
    * A REAL eval suite is fixed-size (thousands of docs regardless of
    * corpus scale), and its distinct shingles would broadcast into a
    * map-side semi-join — no shuffle of the 100 TB side. The mod-50
    * membership stand-in here does NOT model that: it grows linearly
    * with the corpus (~2%), so a forced broadcast() would OOM at scale.
    * The join is therefore left to the size-based planner/AQE: small
    * bench side → broadcast hash join for free; large stand-in →
    * shuffle hash join. Callers with a genuinely fixed-size suite can
    * wrap the bench side in broadcast() safely.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleRows(spark, dir)
    val isBench = pmod(col("doc_id"), lit(ContamMod)) === ContamSlot
    val benchG = sh.filter(isBench).select(col("g")).distinct()
    sh.filter(!isBench)
      .join(benchG, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hits"))
  }

  /** decontam_sweep's n-gram lengths: the engine's 3-gram default next
    * to the 8- and 13-gram points the decontamination literature uses
    * (GPT-3 reported 13-gram overlap filtering; PaLM/Llama report
    * similar long-n-gram rules). Single-sourced to the oracle SQL.
    */
  val DecontamSweepNs = Seq(3, 8, 13)

  /** decontam_sweep: SENSITIVITY of the decontamination rule to the
    * n-gram length — per n in [[DecontamSweepNs]]: training docs
    * flagged, eval docs touched, (train doc, gram) collisions, and the
    * eval gram-set size. The table that prices the rule choice: short
    * n flags common phrases (over-removal), long n only true verbatim
    * leakage — a 3-vs-13 row pair that barely differs means the corpus
    * has real copies; one that collapses means the 3-gram hits were
    * phrase noise. The n=3 collisions reconcile with [[decontaminate]]
    * by construction (same grams, same slot rule).
    *
    * Plan (r14): ONE map pass tokenizes and builds all three arms'
    * per-doc DISTINCT gram-fingerprint ARRAYS (the oracle's
    * list_transform shape) — no window sort, no per-arm dedupe
    * exchange: the former lead()-window gram build re-sorted the
    * exploded token frame once per arm and paid a (doc_id, g)
    * dropDuplicates aggregate per arm, all to recover an ordering the
    * token array already has. array_distinct per doc IS the
    * (doc_id, g) dedupe. Grams dedupe/join on a 16-hex md5 fingerprint
    * (a 13-gram is ~70 shuffle bytes, the hash 16 — the bandKey
    * posture; md5 is engine-identical so the mirror hashes too).
    * Candidate generation is the equi-join on the gram — never
    * train × eval. The eval gram set is mod-bounded; the hit frame is
    * materialized once per arm for its three aggregates; everything
    * upstream of the join is map-only over the one checkpointed
    * gram-array frame.
    */
  def decontamSweep(spark: SparkSession, dir: String): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(ContamMod)) === ContamSlot
    def gramArr(k: Int): Column = {
      val ws = col("ws")
      def gram(j: Column) = substring(md5(concat_ws(" ",
        (0 until k).map(i => element_at(ws, j + i + 1)): _*)), 1, 16)
      when(size(ws) >= k,
        array_distinct(transform(sequence(lit(0), size(ws) - k), gram(_))))
        .otherwise(array().cast("array<string>"))
    }
    // one exploded (doc_id, n, g) frame carries ALL arms, keyed on the
    // arm length n — one bench-gram distinct, one candidate equi-join,
    // one hit checkpoint, per-n aggregates (instead of 3 checkpointed
    // per-arm chains built serially): row-identical per n by
    // construction (same grams, same slot rule, join key (n, g))
    val expl = Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), Dedup.normToks(col("text")).as("ws"))
      .select(col("doc_id"), explode(flatten(array(
        DecontamSweepNs.map(k => transform(gramArr(k),
          g => struct(lit(k).as("n"), g.as("g")))): _*))).as("x"))
      .select(col("doc_id"), col("x.n").as("n"), col("x.g").as("g"))
      .localCheckpoint(false) // one tokenize+hash pass feeds all arms
    val bench = expl.filter(isBench)
    val benchG = bench.select(col("n"), col("g")).distinct()
    val hits = expl.filter(!isBench).join(benchG, Seq("n", "g"))
      .localCheckpoint(false) // feeds three aggregates
    val a = hits.groupBy(col("n"))
      .agg(count(lit(1)).as("n_collisions"),
        count_distinct(col("doc_id")).as("n_train_docs_flagged"))
    val b = bench
      .join(hits.select(col("n"), col("g")).distinct(), Seq("n", "g"))
      .groupBy(col("n"))
      .agg(count_distinct(col("doc_id")).as("n_eval_docs_touched"))
    val c = benchG.groupBy(col("n")).agg(count(lit(1)).as("n_eval_grams"))
    // an arm with zero hits/grams must still emit its row (the former
    // per-arm global aggregates always did): left-join from the arm list
    import spark.implicits._
    DecontamSweepNs.toDF("n")
      .join(a, Seq("n"), "left").join(b, Seq("n"), "left")
      .join(c, Seq("n"), "left")
      .select(col("n"),
        coalesce(col("n_train_docs_flagged"), lit(0L))
          .as("n_train_docs_flagged"),
        coalesce(col("n_eval_docs_touched"), lit(0L))
          .as("n_eval_docs_touched"),
        coalesce(col("n_collisions"), lit(0L)).as("n_collisions"),
        coalesce(col("n_eval_grams"), lit(0L)).as("n_eval_grams"))
      .orderBy(col("n"))
  }

  /** contamination_report: the EVAL-side transpose of [[decontaminate]]
    * — per benchmark doc, how compromised is it? (The decontamination
    * papers report both directions: training docs to drop, AND which
    * eval items are no longer trustworthy — an eval doc most of whose
    * n-grams appear in training measures memorization, not capability.)
    * Per bench doc: its distinct-shingle count, how many of those
    * shingles appear in ≥1 training doc, the distinct training docs
    * colliding, total (train doc, shingle) collisions, and the
    * contaminated-shingle fraction. Bench docs with zero collisions
    * stay in the report as explicit zeros (left join).
    *
    * Scale shape: the same shingle equi-join as decontaminate (the
    * bench side is fixed-size for a real eval suite — see the broadcast
    * note there); the two count-distincts are Catalyst's expand-based
    * multi-distinct, bounded by the collision set, grouped per bench
    * doc.
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleRows(spark, dir)
    val isBench = pmod(col("doc_id"), lit(ContamMod)) === ContamSlot
    val bench = sh.filter(isBench)
      .select(col("doc_id").as("bench_id"), col("g"))
    val train = sh.filter(!isBench)
      .select(col("doc_id").as("train_id"), col("g"))
    val hits = bench.join(train, "g")
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_collisions"),
        count_distinct(col("train_id")).as("n_train_docs"),
        count_distinct(col("g")).as("n_hit_shingles"))
    bench.groupBy(col("bench_id")).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_shingles"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_collisions"), lit(0L)).as("n_collisions"),
        r4(coalesce(col("n_hit_shingles"), lit(0L)).cast("double")
          / col("n_shingles"))
          .as("contam_frac"))
      .orderBy(col("bench_id"))
  }

  /** Uniform hash of (doc_id, seed) in [0, 1): the first 8 md5 hex chars
    * as an integer over 2^32 — exact binary rational, so the `< rate`
    * comparison is bit-identical on any engine.
    */
  private[graft] def hashU(id: Column): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":" + SampleSeed))),
      1, 8), 16, 10).cast("long") / lit(4294967296.0)

  /** stratified_sample: keep each doc iff hash(doc_id, seed) < rate(lang).
    * Map-only — no shuffle, no per-stratum state; the rates table is a
    * literal when-chain. Deterministic across runs and cluster layouts,
    * which is what makes the sampled mix reproducible.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.foldRight(lit(SampleDefaultRate): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .filter(hashU(col("doc_id")) < rate)
  }

  /** quality_filter thresholds (Gopher-rule shaped — Rae et al. 2021
    * §A1.1 filter documents on word count, repetition, and stop-word
    * evidence; thresholds tuned to this corpus's distributions).
    * Single-sourced to the engine plan and the oracle SQL.
    */
  val QfMinWords = 20
  val QfMaxDup2gram = 0.08
  val QfMinStopRatio = 0.01

  /** quality_filter: the keep/drop curation GATE — the step between the
    * signal queries (quality_score, repetition_score, toxicity_screen)
    * and the training mix. One document scan computes every signal
    * inline (all are map-shaped column compositions), evaluates the
    * rule set, and emits the decision WITH its reasons — a dropped doc
    * must say why, or the pipeline is undebuggable at 100 TB.
    *
    * Rules (fail ⇒ drop; reasons joined in fixed order):
    *   too_short     — n_words < QfMinWords
    *   repetitive    — dup_2gram_frac > QfMaxDup2gram (Gopher's
    *                   duplicate-n-gram boilerplate signal)
    *   low_stopword  — stopword_ratio < QfMinStopRatio (gibberish /
    *                   non-prose / wrong-language evidence)
    *   toxic         — the toxicity_screen decision
    *
    * Rules compare against the 4dp-ROUNDED signals, so the threshold
    * comparison is over doubles both engines hold bit-identically.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterOf(Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id")))

  /** The quality gate over any (doc_id, text) frame — shared by the
    * batch query above and the streaming ingest gate
    * (graft.streaming.CurateStream).
    */
  private[graft] def qualityFilterOf(docs: DataFrame): DataFrame = {
    val t = filter(split(col("text"), " "), x => x =!= "")
    val tl = filter(split(lower(col("text")), " "), x => x =!= "")
    val nWords = size(t)
    val stopHits = size(filter(t,
      x => array_contains(array(RefVocab.enStopwords.map(lit): _*),
        lower(x))))
    val g2len = greatest(nWords - 1, lit(0))
    val g2 = zip_with(slice(t, lit(1), g2len), slice(t, lit(2), g2len),
      (a, b) => concat_ws(" ", a, b))
    val dup2 = when(size(g2) > 0,
      r4(lit(1.0) - size(array_distinct(g2)).cast("double")
        / size(g2))).otherwise(0.0)
    val toxicHits = size(filter(tl,
      x => array_contains(array(RefVocab.toxicLexicon.map(lit): _*), x)))
    val toxicScore = when(nWords >= RefVocab.toxicMinWords,
      r4(least(lit(1.0), toxicHits * 10.0 / nWords))).otherwise(0.0)
    val sig = docs
      .select(col("doc_id"),
        nWords.cast("int").as("n_words"),
        // 0-word guard: 0/0 is NaN, and Spark's floor path collapses it
        // to 0.0 while DuckDB propagates NaN — define the ratio as 0
        when(nWords > 0, r4(stopHits.cast("double") / nWords))
          .otherwise(0.0).as("stopword_ratio"),
        dup2.as("dup_2gram_frac"),
        toxicScore.as("toxic_score"))
    val rules: Seq[(String, Column)] = Seq(
      "too_short" -> (col("n_words") >= QfMinWords),
      "repetitive" -> (col("dup_2gram_frac") <= QfMaxDup2gram),
      "low_stopword" -> (col("stopword_ratio") >= QfMinStopRatio),
      "toxic" -> !(col("n_words") >= RefVocab.toxicMinWords &&
        col("toxic_score") > RefVocab.toxicThreshold))
    sig.select(col("doc_id"), col("n_words"), col("stopword_ratio"),
      col("dup_2gram_frac"), col("toxic_score"),
      rules.map(_._2).reduce(_ && _).as("keep"),
      concat_ws(";",
        rules.map { case (n, c) => when(!c, lit(n)) }: _*).as("reasons"))
  }

  /** pack_sequences: shard the corpus into [[PackShards]] independent
    * token streams (shard = doc_id mod shards), lay docs end-to-end in
    * doc_id order, and emit each doc's stream offset and training-
    * sequence bin (offset div budget). Token counts are whitespace
    * tokens (the tokenizer stub shared with token_count). Integer
    * arithmetic end-to-end; the only non-map structure is the per-shard
    * running sum.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val shard = pmod(col("doc_id"), lit(PackShards)).cast("int")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    CorpusStats.docStats(spark, dir)
      .select(col("doc_id"), shard.as("shard"),
        col("toks_norm").as("n_tokens"))
      .withColumn("offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", floor(col("offset") / lit(PackBudget)).cast("long"))
  }

  /** pack_stats: the per-shard packing audit over [[packSequences]] —
    * the operational numbers a training-export owner watches: sequences
    * produced (bins), fill ratio of the bin capacity, and DOC-BOUNDARY
    * STRADDLES (documents split across two training sequences — the
    * concat-and-chunk cost: attention bleeds across the cut, and both
    * halves lose context; the fraction tells you whether the budget is
    * sized sanely for the document length distribution).
    *
    * Pure consumer of the pack frame: one shard-sized partial agg.
    * All-integer floor-div on nonnegative operands (offset ≥ 0), so
    * Spark's `div` and DuckDB's `//` agree; ratios floor-round at 4dp.
    */
  def packStats(spark: SparkSession, dir: String): DataFrame = {
    val B = PackBudget
    val straddles = col("n_tokens") > 0 &&
      expr(s"`offset` div $B") =!= expr(s"(`offset` + n_tokens - 1) div $B")
    packSequences(spark, dir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(straddles, 1L).otherwise(0L)).as("straddle_docs"))
      .select(col("shard"), col("n_docs"), col("total_tokens"),
        expr(s"(greatest(total_tokens, 1) - 1) div $B + 1").as("n_bins"),
        col("straddle_docs"),
        r4(col("straddle_docs").cast("double") / col("n_docs"))
          .as("straddle_frac"),
        r4(col("total_tokens").cast("double")
          / (expr(s"(greatest(total_tokens, 1) - 1) div $B + 1") * B))
          .as("fill_ratio"))
      .orderBy(col("shard"))
  }

  /** gate_eval: the quality GATE evaluated as a binary classifier
    * against the frozen-LM label (the gate-calibration audit that
    * closes the signal_corr / classifier_examples family: signal_corr
    * asks "do the signals track the LM", classifier_examples exports
    * training data for a better gate, and THIS measures how the
    * currently-deployed Gopher-rule gate actually performs —
    * precision/recall/F1 of `keep` against head-vs-tail, middle
    * dropped as ambiguous). A falling F1 after a corpus shift is the
    * signal to re-run quality_thresholds or retrain the classifier.
    *
    * One-row output; both sides are per-doc frames already priced, the
    * confusion matrix is a single partial agg.
    */
  /** Bloom geometry for the decontamination pre-filter: m bits, k
    * md5-derived hashes. Single-sourced into the oracle SQL.
    */
  val BloomBits = 65536
  val BloomHashes = 3

  /** bloom_decontaminate: the BLOOM-FILTER pre-filter audit for the
    * decontamination semi-join (Bloom 1970; the third deterministic
    * sketch beside approx_distinct's HLL and heavy_hitters' CMS). At
    * 100 TB the eval suite's distinct shingles broadcast as m BITS —
    * kilobytes — instead of a string set, and the corpus-side join
    * becomes a map-side bit probe; the cost is one-sided false
    * positives that the exact join then re-checks on a tiny candidate
    * set. This query BUILDS the filter over the bench shingles, probes
    * every training shingle, and reports the realized false-positive
    * rate next to the bits-set load factor — the numbers that size m
    * and k for a real suite. All hashes md5-derived, so the filter
    * state and every count hash-compare bit-for-bit in the oracle.
    *
    * Scale shape: the bit set is ≤ m rows (the declarative face of a
    * packed bitmap) built by one pass over the bench shingles and
    * BROADCAST; probes are map-side explode + semi join; the exact
    * truth arm is the decontaminate join this filter would gate.
    */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleRows(spark, dir)
    val isBench = pmod(col("doc_id"), lit(ContamMod)) === ContamSlot
    val benchG = sh.filter(isBench).select(col("g")).distinct()
      .localCheckpoint(false) // feeds the bit build AND the truth arm
    def bitOf(i: Int, g: Column): Column =
      pmod(conv(substring(md5(concat(lit(i + ":"), g)), 1, 15), 16, 10)
        .cast("long"), lit(BloomBits.toLong))
    val bits = (0 until BloomHashes)
      .map(i => benchG.select(bitOf(i, col("g")).as("bit")))
      .reduce(_ union _).distinct().localCheckpoint(false)
    val trainG = sh.filter(!isBench).select(col("g")).distinct()
      .localCheckpoint(false) // probed by the filter AND the truth arm
    val pos = trainG
      .select(col("g"), explode(array((0 until BloomHashes)
        .map(i => bitOf(i, col("g"))): _*)).as("bit"))
      .join(broadcast(bits), Seq("bit"), "left_semi")
      .groupBy(col("g")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomHashes)
    val truth = trainG.join(benchG, Seq("g"), "left_semi")
    trainG.agg(count(lit(1)).as("n_train_shingles"))
      .crossJoin(benchG.agg(count(lit(1)).as("n_bench_shingles")))
      .crossJoin(bits.agg(count(lit(1)).as("bits_set")))
      .crossJoin(pos.agg(count(lit(1)).as("n_bloom_pos")))
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .select(col("n_train_shingles"), col("n_bench_shingles"),
        col("bits_set"),
        r6(col("bits_set").cast("double") / BloomBits).as("load_factor"),
        col("n_bloom_pos"), col("n_true"),
        (col("n_bloom_pos") - col("n_true")).as("n_false_pos"),
        when(col("n_train_shingles") > col("n_true"),
          r6((col("n_bloom_pos") - col("n_true")).cast("double")
            / (col("n_train_shingles") - col("n_true"))))
          .otherwise(0.0).as("fp_rate"))
  }

  /** split_leakage: near-duplicate LEAKAGE across the train/valid/test
    * split — the audit Dodge et al. 2021 ("Documenting Large Webtext
    * Corpora") and the dedup papers motivate: a held-out doc with a
    * near-duplicate in train is memorization surface, and a random
    * hash split (data_split) is exactly what creates such pairs unless
    * dedup ran first. Directed grid over the PERSISTED verified pair
    * set: per (split, other_split) — docs in `split` with ≥1 near-dup
    * in `other_split` (n_docs), and the number of such links
    * (n_links). The off-diagonal (test, train)/(valid, train) rows are
    * the leak counts a release gate reads; the diagonal is residual
    * in-split duplication.
    *
    * Scale shape: pure pair-set consumer (the cluster_stats posture) —
    * symmetrize the pairs, two membership joins against the map-only
    * split frame, one ≤9-row grid agg (the count-distinct is bounded
    * by the pair set, not the corpus).
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dedupPairs(spark, dir).select(col("id_a"), col("id_b"))
    val e = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("u", "v")
    val sp = dataSplit(spark, dir).select(col("doc_id"), col("split"))
    e.join(sp.select(col("doc_id").as("u"), col("split")), Seq("u"))
      .join(sp.select(col("doc_id").as("v"),
        col("split").as("other_split")), Seq("v"))
      .groupBy(col("split"), col("other_split"))
      .agg(count_distinct(col("u")).as("n_docs"),
        count(lit(1)).as("n_links"))
      .orderBy(col("split"), col("other_split"))
  }

  /** sft_export: the trainer-ready FINE-TUNING manifest — the
    * reference's generate_training_examples output
    * (rag_processor.py:177-238 formats instruction/input/output and
    * writes a training file) composed with the two export disciplines
    * any production SFT set needs: a deterministic held-out split
    * ([[dataSplit]] — eval rows must never train) and the seeded
    * global shuffle ([[shuffleAssign]] — adjacent-id interactions
    * would otherwise train adjacently). One row per example:
    * (split, shard, pos) + the formatted triple, ordered by the
    * shuffled (shard, pos) a trainer would read.
    *
    * Scale shape: three per-doc frames equi-joined on doc_id (one
    * co-partitioning); the only non-map structure is shuffle_assign's
    * per-shard rank window. Every stage is the same single-sourced
    * primitive as its standalone gated query, so the manifest provably
    * agrees with the per-stage audits (the export_manifest posture
    * applied to the reference's SFT surface).
    */
  def sftExport(spark: SparkSession, dir: String): DataFrame = {
    val te = graft.operators.TextOps.trainingExamples(spark, dir)
    val ds = dataSplit(spark, dir).select(col("doc_id"), col("split"))
    val sa = shuffleAssign(spark, dir)
      .select(col("doc_id"), col("shard"), col("pos"))
    te.join(ds, "doc_id").join(sa, "doc_id")
      .select(col("doc_id"), col("split"), col("shard"), col("pos"),
        col("instruction"), col("input"), col("output"))
      // checkpoint before the export sort: the range sampler otherwise
      // re-runs the three-frame join (the curate_corpus rule)
      .localCheckpoint(false)
      .orderBy(col("shard"), col("pos"))
  }

  /** gate_eval: the quality-gate LEADERBOARD — precision/recall/F1 of
    * BOTH serving gates (the heuristic rule set and the trained
    * distilled classifier) against the frozen-LM head/tail labels,
    * evaluated on the HELD-OUT split only (the classifier trained on
    * the train split; grading either gate on training rows would
    * overstate it — the index_recall posture applied to gates).
    */
  def gateEval(spark: SparkSession, dir: String): DataFrame = {
    val held = dataSplit(spark, dir)
      .filter(col("split") =!= "train").select(col("doc_id"))
    val arms = qualityFilter(spark, dir)
      .select(lit("heuristic").as("gate"), col("doc_id"), col("keep"))
      .unionByName(classifierApply(spark, dir)
        .select(lit("classifier").as("gate"), col("doc_id"),
          col("pred").as("keep")))
    val lbl = CorpusStats.ccnetBuckets(spark, dir)
      .filter(col("bucket") =!= "middle")
      .select(col("doc_id").as("ld"), (col("bucket") === "head").as("pos"))
    arms.join(held, Seq("doc_id"), "left_semi")
      .join(lbl, col("doc_id") === col("ld"))
      .groupBy(col("gate"))
      .agg(
        sum(when(col("keep") && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("keep") && !col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("keep") && col("pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("keep") && !col("pos"), 1L).otherwise(0L)).as("tn"))
      .select(col("gate"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          r4(col("tp").cast("double") / (col("tp") + col("fp"))))
          .as("prec"),
        when(col("tp") + col("fn") > 0,
          r4(col("tp").cast("double") / (col("tp") + col("fn"))))
          .as("rec"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          r4(lit(2.0) * col("tp").cast("double") /
            (lit(2) * col("tp") + col("fp") + col("fn"))))
          .as("f1"))
      .orderBy(col("gate"))
  }

  /** The held-out labeled score frame shared by [[brierScore]] and
    * [[prCurve]]: every non-train doc with a decisive frozen-LM label
    * (the gate_eval convention — middle tercile excluded), carrying
    * the trained gate's score in EXACT 1e-6 units (the persisted
    * clf-score round-trips: su = floor(score·1e6 + 0.5)).
    */
  private def heldScored(spark: SparkSession, dir: String): DataFrame = {
    val held = dataSplit(spark, dir)
      .filter(col("split") =!= "train").select(col("doc_id"))
    val lbl = CorpusStats.ccnetBuckets(spark, dir)
      .filter(col("bucket") =!= "middle")
      .select(col("doc_id").as("ld"), (col("bucket") === "head").as("pos"))
    classifierApply(spark, dir)
      .select(col("doc_id"),
        units(col("score"), 1000000).as("su"))
      .join(held, Seq("doc_id"), "left_semi")
      .join(lbl, col("doc_id") === col("ld"))
      .select(col("doc_id"), col("su"), col("pos"))
  }

  /** brier_score: the PROBABILISTIC grade of the trained quality gate —
    * mean (score − label)² on the held-out decisive-label set (Brier
    * 1950). gate_eval grades thresholded DECISIONS, clf_calibration
    * grades bin-wise honesty; the Brier score is the single proper
    * scoring rule that punishes both miscalibration and indecision at
    * once (its calibration/refinement decomposition is exactly those
    * two tables). EXACT: scores are 1e-6-unit integers, so each term
    * (su − y·10⁶)² ≤ 10¹² is an exact integer and the mean is one
    * mirrored division — no floating accumulation anywhere.
    *
    * Scale shape: three persisted-artifact probes equi-joined on
    * doc_id, one 1-row agg.
    */
  def brierScore(spark: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    heldScored(spark, dir)
      .select(col("su"),
        when(col("pos"), 1000000L).otherwise(0L).as("yu"))
      .agg(count(lit(1)).as("n_docs"),
        sum(d((col("su") - col("yu")) * (col("su") - col("yu"))))
          .as("sq"))
      .select(col("n_docs"),
        r6(col("sq").cast("double") / 1000000000000L / col("n_docs"))
          .as("brier"))
  }

  /** clf_ks: the Kolmogorov–Smirnov DISCRIMINATION statistic of the
    * trained gate — max |F_pos(s) − F_neg(s)| over the held-out score
    * distributions (the credit-scoring KS; the threshold-free
    * separation twin of [[prCurve]]'s swept operating points, read
    * beside signal_auc's rank-sum AUC). Reports the statistic AND the
    * score where the gap peaks — the natural operating cut.
    *
    * EXACT: the gap maximizes |Cp·Nn − Cn·Np| over the score VALUE
    * grid (integer cross-products, DECIMAL(38,0) at the design point —
    * never a float CDF compare); ties resolve to the smallest score.
    * One double division at the end. Scale shape: a (score-unit)
    * partial agg, bounded cumulative windows over the ≤10⁶-value grid
    * (scores are 1e-6 units — the ks_drift value-grid posture), 1-row
    * output.
    */
  def clfKs(spark: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val g = heldScored(spark, dir)
      .groupBy(col("su"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("cn"))
    val wCum = Window.orderBy(col("su"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.orderBy(col("gap").desc, col("su"))
    g.withColumn("ccp", sum(col("cp")).over(wCum))
      .withColumn("ccn", sum(col("cn")).over(wCum))
      .crossJoin(broadcast(g.agg(sum(col("cp")).as("np"),
        sum(col("cn")).as("nn")).localCheckpoint(false)))
      .select(col("su"), col("np"), col("nn"),
        abs(d(col("ccp")) * d(col("nn")) - d(col("ccn")) * d(col("np")))
          .as("gap"))
      .withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select((col("su").cast("double") / 1000000).as("threshold"),
        col("np").as("n_pos"), col("nn").as("n_neg"),
        r6(col("gap").cast("double") /
          (col("np").cast("double") * col("nn"))).as("ks"))
  }

  /** pr_curve threshold grid in 1e-6 score units (0.1 .. 0.9). */
  val PrThresholds: Seq[Int] = (1 to 9).map(_ * 100000)

  /** pr_curve: precision/recall/F1 of the trained gate swept over the
    * score threshold — the operating-curve table behind gate_eval's
    * single 0.5-cut row: serving picks its own cut per product
    * (high-precision for auto-drop, high-recall for triage), and this
    * is the table it reads the trade-off from. Thresholds compare in
    * exact 1e-6 units (su ≥ t·10⁵ — never a double compare); the
    * counts grid is |thresholds| × 4 integers; null metrics on an
    * empty denominator (the gate_eval convention).
    *
    * Scale shape: the [[heldScored]] probe frame crossed with the
    * 9-row broadcast grid, one partial agg per threshold.
    */
  def prCurve(spark: SparkSession, dir: String): DataFrame = {
    val grid = broadcast(spark.range(1)
      .select(explode(array(PrThresholds.map(lit): _*)).as("tu")))
    heldScored(spark, dir)
      .crossJoin(grid)
      .withColumn("pred", col("su") >= col("tu"))
      .groupBy(col("tu"))
      .agg(
        sum(when(col("pred") && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("pos"), 1L).otherwise(0L)).as("fn"))
      .select((col("tu").cast("double") / 1000000).as("threshold"),
        col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          r4(col("tp").cast("double") / (col("tp") + col("fp"))))
          .as("prec"),
        when(col("tp") + col("fn") > 0,
          r4(col("tp").cast("double") / (col("tp") + col("fn"))))
          .as("rec"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          r4(lit(2.0) * col("tp").cast("double") /
            (lit(2) * col("tp") + col("fp") + col("fn"))))
          .as("f1"))
      .orderBy(col("threshold"))
  }

  /** The precision floor threshold_pick tunes to. Single-sourced to
    * the oracle SQL.
    */
  val GatePrecTarget = 0.8

  /** threshold_pick: the AUTO-TUNED gate operating point — the
    * SMALLEST pr_curve threshold whose precision meets
    * [[GatePrecTarget]] (smallest = maximum recall subject to the
    * precision floor; fallback: the highest-precision row), with that
    * row's full confusion line. The nprobe_pick posture applied to the
    * quality gate: pr_curve shows the whole trade-off, gate_eval the
    * 0.5-cut default — this PICKS, so an auto-drop pipeline sets its
    * cut from a query instead of a human reading the curve.
    *
    * Parity: the consumed curve is already 4dp-rounded on both
    * engines; the pick is a rank window over ≤9 rows with an explicit
    * (met, key, threshold) order — no new rounding surface.
    */
  def thresholdPick(spark: SparkSession, dir: String): DataFrame = {
    val meets = col("prec").isNotNull && col("prec") >= GatePrecTarget
    val wPick = Window.orderBy(
      when(meets, 0).otherwise(1),
      when(meets, col("threshold"))
        .otherwise(lit(2.0) - coalesce(col("prec"), lit(-1.0))),
      col("threshold"))
    prCurve(spark, dir)
      .withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("threshold"), meets.as("met_target"),
        lit(GatePrecTarget).as("target"), col("prec"), col("rec"),
        col("f1"), col("tp"), col("fp"), col("fn"))
  }

  /** data_split parameters: the held-out fractions and the hash seed
    * (independent of [[SampleSeed]] so sampling and splitting are
    * uncorrelated decisions). Test = the remainder above
    * train+valid. Single-sourced into the oracle SQL — including the
    * COMPUTED train+valid double literal, so both engines compare
    * against the identical IEEE value.
    */
  val SplitSeed = "gsplit1"
  val SplitTrain = 0.9
  val SplitValid = 0.05

  /** data_split: deterministic train/valid/test assignment — the
    * held-out-set step every training corpus needs before export, as a
    * pure function of (doc_id, seed): u = first-8-md5-hex/2^32 (the
    * stratified_sample primitive, its own seed), split by fixed
    * thresholds. Per-language fractions hold in expectation by hash
    * uniformity (exact to ~1/√n per stratum — at corpus scale the
    * deviation is noise), and membership is reproducible across runs,
    * engines, and cluster layouts with no RNG state and NO SHUFFLE —
    * the map-only property that matters at 100 TB (an exact per-stratum
    * split would pay a per-language total order for a cosmetic
    * guarantee).
    */
  def dataSplit(spark: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":" + SplitSeed))), 1, 8), 16, 10).cast("long") /
      lit(4294967296.0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        when(u < SplitTrain, "train")
          .when(u < SplitTrain + SplitValid, "valid")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** classifier_examples: the quality-classifier TRAINING SET export —
    * the CCNet/LLaMA practice of distilling the expensive signal into a
    * cheap model (CCNet trains fastText on Wikipedia-vs-crawl; LLaMA
    * trains a classifier on "references-Wikipedia" pages): label = the
    * frozen-LM head/tail tercile ([[CorpusStats.ccnetBuckets]], middle
    * dropped as ambiguous), features = the heuristic quality
    * sub-signals every gate already computes. A downstream fastText /
    * logistic model trains on this frame and replaces the LM probe on
    * the 99% of the corpus where the cheap signals suffice.
    *
    * Scale shape: two per-doc frames (map scan + frozen-LM probe), one
    * doc_id equi-join, the |langs|-row threshold join rides broadcast
    * inside ccnetBuckets. Map-shaped after the joins.
    */
  def classifierExamples(spark: SparkSession, dir: String): DataFrame = {
    val lbl = CorpusStats.ccnetBuckets(spark, dir)
      .filter(col("bucket") =!= "middle")
      .select(col("doc_id").as("ld"),
        when(col("bucket") === "head", 1).otherwise(0).as("label"))
    val lang = Tables.documents(spark, dir)
      .select(col("doc_id").as("dd"), col("lang"))
    TextAnalysis.qualityScore(spark, dir)
      .join(lbl, col("doc_id") === col("ld"))
      .join(lang, col("doc_id") === col("dd"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        col("avg_word_len"), col("stopword_ratio"), col("punct_ratio"),
        col("label"))
      .orderBy(col("doc_id"))
  }

  /** shuffle_assign seed + shard count. The 60-bit key (15 md5 hex
    * chars) stays exact in any engine's signed 64-bit integer.
    */
  val ShuffleSeed = "graft-shuffle"
  val ShuffleShards = 8

  /** shuffle_assign: the deterministic GLOBAL SHUFFLE before training
    * export (the Megatron/Dolma pre-shuffle): every doc draws a 60-bit
    * seeded hash key; shard = hkey mod [[ShuffleShards]], position =
    * rank by (hkey, doc_id) within the shard. Reading shards in
    * position order replays ONE fixed pseudo-random permutation of the
    * corpus — reproducible across runs and cluster layouts, with no RNG
    * state to coordinate.
    *
    * [[packSequences]] decides per-shard OFFSETS over a given order;
    * this op decides the ORDER itself. Scale shape: one shuffle on
    * shard (shard count grows with the corpus; 8 here), within-shard
    * sort by the hash key — the standard sort-by-random-key export,
    * feeding straight into Sinks.writeSortedParquet at 100 TB.
    */
  def shuffleAssign(spark: SparkSession, dir: String): DataFrame = {
    val hkey = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":" + ShuffleSeed))), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("hkey"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("hkey", hkey)
      .withColumn("shard",
        pmod(col("hkey"), lit(ShuffleShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"), col("hkey"))
  }

  /** export_manifest: the END-TO-END training-export manifest — the
    * composition the curation stages exist for, in the order a real
    * export runs them: apply_mix decides each doc's integer repeat
    * count, every COPY then draws its own 60-bit shuffle key (seeded by
    * (doc_id, copy_idx), so a 3× oversampled doc's copies scatter
    * across the permutation instead of training adjacently — the reason
    * the mix must be applied BEFORE the shuffle), and the packer's
    * running token offsets and budget bins are computed over the
    * SHUFFLED per-shard order (not doc_id order — pack_sequences
    * demonstrates the offset mechanics, this is the manifest a trainer
    * would actually read).
    *
    * Scale shape: the mix factors are a |langs|-row broadcast (via
    * applyMix), the copy explode is bounded by ⌈max factor⌉, and the
    * only non-map structure is the per-shard rank/running-sum window —
    * the shuffle_assign posture with copies. Every stage is the same
    * single-sourced primitive as its standalone query, so the manifest
    * provably agrees with the per-stage audits.
    */
  def exportManifest(spark: SparkSession, dir: String): DataFrame = {
    val copies = CorpusStats.applyMix(spark, dir)
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("ci"))
    val hkey = conv(substring(md5(concat(
      col("doc_id").cast("string"), lit(":"),
      col("ci").cast("string"), lit(":" + ShuffleSeed))), 1, 15),
      16, 10).cast("long")
    val wOrd = Window.partitionBy(col("shard"))
      .orderBy(col("hkey"), col("doc_id"), col("copy_idx"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    copies
      .join(CorpusStats.docStats(spark, dir)
        .select(col("doc_id"), col("toks_norm").as("n_tokens")),
        Seq("doc_id"))
      .select(col("doc_id"), col("ci").cast("int").as("copy_idx"),
        col("n_tokens"), hkey.as("hkey"))
      .withColumn("shard",
        pmod(col("hkey"), lit(ShuffleShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(wOrd))
      .withColumn("offset", sum(col("n_tokens")).over(wRun) - col("n_tokens"))
      .withColumn("bin", floor(col("offset") / lit(PackBudget)).cast("long"))
      .select(col("doc_id"), col("copy_idx"), col("shard"), col("pos"),
        col("n_tokens"), col("offset"), col("bin"))
  }

  /** curate_corpus: the END-TO-END curation manifest — every document's
    * fate through the full gate sequence in ONE plan: quality →
    * exact dedup → near dedup (minhash clusters) → decontamination →
    * mixture sampling, with the FIRST failing stage recorded and
    * n_copies from the mix for survivors. The Dolma/RefinedWeb-style
    * "what happened to every doc and why" artifact: each stage's
    * verdict comes from the SAME single-sourced operator the
    * standalone audits gate, so the manifest provably agrees with
    * them (the exportManifest posture applied to the drop side).
    *
    * Semantics: canonicals are corpus-GLOBAL — each stage computes on
    * the full corpus, not the survivors of earlier stages (the
    * engineering-standard choice: stage artifacts are built once; a
    * cluster whose representative fails quality drops whole, which is
    * the conservative direction for training data). The mod-50 eval
    * slice itself flows through the manifest like any doc — the
    * stand-in has no separate eval table to exclude.
    *
    * Plan: five per-doc frames (one scan each; dedup_clusters is a
    * pure consumer of the persisted pair artifact) equi-joined on
    * doc_id — at scale every join shuffles on the same key, so the
    * partitioning is set once and reused; the stage CASE is map-side.
    */
  def curateCorpus(spark: SparkSession, dir: String): DataFrame =
    // the artifact is written range-sorted by doc_id, so this gated
    // tail sort reads back near-sorted runs (no composite re-execution:
    // the RANGE-SAMPLE trap that cost 55.9 s pre-materialization
    // samples a parquet scan now, not a five-stage plan)
    curateManifest(spark, dir).orderBy(col("doc_id"))

  /** The persisted five-stage curation manifest (doc_id → first failing
    * stage, n_copies) — the most expensive composite in the repo, built
    * ONCE behind IndexStore and consumed by [[curateCorpus]] AND
    * [[curationFunnel]] (each previously re-ran all five stages:
    * ~3.8-3.9 s each idle at sf0.1, 12.0 + 17.1 s at 10×; at 100 TB
    * that is two full curation passes per sweep for one deterministic
    * table). Key folds the stage tunables (quality-gate thresholds,
    * mix temperature) per the artifact-key rule; the near-dup stage
    * reads the pair artifact, which folds its own LSH tunables.
    */
  private[graft] def curateManifestPath(dir: String): String =
    IndexStore.path(
      s"curate-manifest-w${QfMinWords}g${(QfMaxDup2gram * 100).round}" +
        s"s${(QfMinStopRatio * 100).round}" +
        s"mt${(CorpusStats.MixTemperature * 10).round}-v1", dir)

  private def curateManifest(spark: SparkSession, dir: String)
      : DataFrame = {
    val path = curateManifestPath(dir)
    IndexStore.ensureBuilt(path)(
      graft.sources.Sinks.writeSortedParquet(
        curateManifestPlan(spark, dir), path, Seq("doc_id")))
    Tables.read(spark, path)
  }

  /** The five-stage manifest PLAN — executed only inside the artifact
    * build above.
    */
  private def curateManifestPlan(spark: SparkSession, dir: String)
      : DataFrame = {
    val qf = qualityFilter(spark, dir).select(col("doc_id"), col("keep"))
    val dx = Dedup.dedupExact(spark, dir)
      .select(col("doc_id"), col("is_dup"))
    val cl = Dedup.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster"))
    val fl = decontaminate(spark, dir)
      .select(col("doc_id"), lit(true).as("contaminated"))
    val mx = CorpusStats.applyMix(spark, dir)
      .select(col("doc_id"), col("n_copies"))
    val kept = col("keep") && !col("is_dup") &&
      col("cluster") === col("doc_id") && col("contaminated").isNull &&
      col("n_copies") >= 1
    qf.join(dx, Seq("doc_id")).join(cl, Seq("doc_id"))
      .join(fl, Seq("doc_id"), "left_outer")
      .join(mx, Seq("doc_id"))
      .select(col("doc_id"),
        when(!col("keep"), "quality")
          .when(col("is_dup"), "exact_dup")
          .when(col("cluster") =!= col("doc_id"), "near_dup")
          .when(col("contaminated").isNotNull, "contaminated")
          .when(col("n_copies") === 0, "sampled_out")
          .otherwise("kept").as("stage"),
        when(kept, col("n_copies")).otherwise(lit(0L)).as("n_copies"))
  }

  /** The funnel's fixed stage order (= [[curateCorpus]]'s CASE
    * precedence, with `kept` closing the table). Single-sourced into
    * the oracle SQL.
    */
  val FunnelStages: Seq[(Int, String)] = Seq(
    1 -> "quality", 2 -> "exact_dup", 3 -> "near_dup",
    4 -> "contaminated", 5 -> "sampled_out", 6 -> "kept")

  /** curation_funnel: the WATERFALL every data paper prints — per
    * curation stage, the docs and token mass dropped there (first
    * failing stage, [[curateCorpus]]'s precedence) and what remains
    * after it. The manifest answers "what happened to THIS doc"; this
    * answers "where does the corpus go" — the one-glance number that
    * says whether the pipeline is deleting your data in the stage you
    * expected (the Dolma/RefinedWeb reporting convention).
    *
    * Scale shape: the manifest's per-doc frames joined once to a
    * token-count scan, one 6-key stage rollup; everything after lives
    * on the fixed 6-row stage grid (zero-completed — an empty stage is
    * a claim, not a gap) with bounded cumulative windows.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val tok = CorpusStats.docStats(spark, dir)
      .select(col("doc_id"), col("toks_ws").as("t"))
    val ag = curateManifest(spark, dir)
      .join(tok, Seq("doc_id"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
    val grid = spark.createDataFrame(FunnelStages).toDF("ord", "stage")
    val g = grid
      .join(ag, Seq("stage"), "left")
      .select(col("ord"), col("stage"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val wCum = Window.orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val drop = (c: Column) =>
      when(col("stage") =!= "kept", c).otherwise(lit(0L))
    g.crossJoin(broadcast(g.agg(sum(col("n_docs")).as("td"),
        sum(col("n_tokens")).as("tt"))))
      .withColumn("cd", sum(drop(col("n_docs"))).over(wCum))
      .withColumn("ct", sum(drop(col("n_tokens"))).over(wCum))
      .select(col("ord"), col("stage"), col("n_docs"), col("n_tokens"),
        (col("td") - col("cd")).as("docs_remaining"),
        (col("tt") - col("ct")).as("tokens_remaining"),
        // td=0 guard (empty shard/corpus): Spark's x/0 yields NULL but
        // DuckDB's IEEE float divide yields inf/NaN — both sides emit
        // NULL explicitly so a degenerate corpus stays in parity
        when(col("td") > 0,
          r4((col("td") - col("cd")).cast("double") / col("td")))
          .as("share_remaining"))
      .orderBy(col("ord"))
  }

  /** arrival_report: the ARRIVING SHARD's admission manifest — the
    * incremental twin of [[curateCorpus]]: per shard doc (the
    * [[Dedup.DeltaRate]] split behind [[Dedup.dedupDelta]]), the first
    * failing stage under the curation precedence. The shard-CI gate a
    * 100 TB ingest runs per arrival, built ENTIRELY from
    * arrival-shaped plans:
    *
    *  - `quality`: the Gopher gate, map-only over the shard;
    *  - `exact_dup`: semi-join against the persisted
    *    [[Dedup.hashStore]] (store wins regardless of id — the
    *    first-come-first-kept ingest rule, deliberately NOT the batch
    *    manifest's global-min canonical) OR a smaller-id shard twin;
    *  - `near_dup`: the PERSISTED arrival pairs ([[Dedup.deltaPairs]]
    *    — the ingest runs dedup_delta once per shard and writes its
    *    output; the report reads pairs, not the pass), dropping the
    *    shard side against the store and the larger id within the
    *    shard;
    *  - `contaminated`: the eval n-gram flag;
    *  - `kept` otherwise. (No mix stage — sampling is corpus-level
    *    planning, not arrival admission.)
    *
    * Plan: shard-linear scans + three artifact reads + broadcast
    * hash-store semi-join; the corpus is never re-curated.
    */
  def arrivalReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = Dedup.exactHashOf(docs.filter(Dedup.isDelta(col("doc_id"))))
      .localCheckpoint(false) // feeds the store probe and the twin window
    val touched = sh.select(col("text_hash")).distinct()
    val inStore = Dedup.hashStore(spark, dir)
      .join(broadcast(touched), Seq("text_hash"), "left_semi")
      .select(col("text_hash"), lit(true).as("in_store"))
    val wH = Window.partitionBy(col("text_hash"))
    val ex = sh.join(broadcast(inStore), Seq("text_hash"), "left")
      .withColumn("min_sh", min(col("doc_id")).over(wH))
      .select(col("doc_id"),
        (coalesce(col("in_store"), lit(false)) ||
          col("doc_id") > col("min_sh")).as("exact_dup"))
    val qf = qualityFilter(spark, dir)
      .filter(Dedup.isDelta(col("doc_id")))
      .select(col("doc_id"), col("keep"))
    val drops = Dedup.deltaPairs(spark, dir)
      .select(when(col("pair_kind") === "delta_base",
        when(Dedup.isDelta(col("id_a")), col("id_a"))
          .otherwise(col("id_b")))
        .otherwise(col("id_b")).as("doc_id"))
      .distinct()
      .select(col("doc_id"), lit(true).as("near_dup"))
    val cont = decontaminate(spark, dir)
      .select(col("doc_id"), lit(true).as("contaminated"))
    qf.join(ex, Seq("doc_id"))
      .join(broadcast(drops), Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("keep"), "quality")
          .when(col("exact_dup"), "exact_dup")
          .when(coalesce(col("near_dup"), lit(false)), "near_dup")
          .when(coalesce(col("contaminated"), lit(false)), "contaminated")
          .otherwise("kept").as("stage"))
      .orderBy(col("doc_id"))
  }

  /** arrival_funnel's fixed stage order (= [[arrivalReport]]'s CASE
    * precedence, `kept` closing the table; no mix stage — sampling is
    * corpus planning, not arrival admission). Single-sourced into the
    * oracle SQL.
    */
  val ArrivalStages: Seq[(Int, String)] = Seq(
    1 -> "quality", 2 -> "exact_dup", 3 -> "near_dup",
    4 -> "contaminated", 5 -> "kept")

  /** arrival_funnel: the arriving shard's WATERFALL — per admission
    * stage, the shard docs and token mass dropped there and what
    * remains after it ([[curationFunnel]]'s read applied to one
    * arrival instead of the corpus: the number an ingest dashboard
    * plots per shard, where a shard whose near-dup share spikes is a
    * re-crawl and one whose quality share spikes is a broken source).
    * Zero-filled stage grid (the benford rule): an absent stage is a
    * zero row, not a missing one.
    *
    * Plan: the per-doc manifest (arrival-shaped, see arrivalReport)
    * joined to the doc-stats artifact for token mass, one ≤5-row grid
    * with a grid-sized cumulative.
    */
  def arrivalFunnel(spark: SparkSession, dir: String): DataFrame = {
    val tok = CorpusStats.docStats(spark, dir)
      .select(col("doc_id"), col("toks_ws").as("t"))
    val ag = arrivalReport(spark, dir)
      .join(tok, Seq("doc_id"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
    val grid = spark.createDataFrame(ArrivalStages).toDF("ord", "stage")
    val g = grid.join(ag, Seq("stage"), "left")
      .select(col("ord"), col("stage"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val wCum = Window.orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val drop = (c: Column) =>
      when(col("stage") =!= "kept", c).otherwise(lit(0L))
    // 5 rows from here — the unpartitioned window is deliberate
    g.crossJoin(broadcast(g.agg(sum(col("n_docs")).as("td"),
        sum(col("n_tokens")).as("tt"))))
      .withColumn("cd", sum(drop(col("n_docs"))).over(wCum))
      .withColumn("ct", sum(drop(col("n_tokens"))).over(wCum))
      .select(col("ord"), col("stage"), col("n_docs"), col("n_tokens"),
        (col("td") - col("cd")).as("docs_remaining"),
        (col("tt") - col("ct")).as("tokens_remaining"),
        // td=0 guard (empty shard/corpus): Spark's x/0 yields NULL but
        // DuckDB's IEEE float divide yields inf/NaN — both sides emit
        // NULL explicitly so a degenerate corpus stays in parity
        when(col("td") > 0,
          r4((col("td") - col("cd")).cast("double") / col("td")))
          .as("share_remaining"))
      .orderBy(col("ord"))
  }

  /** store_coverage: the ARTIFACT RECONCILIATION audit — for each
    * persisted store with a pure membership contract, the measured
    * key population against the contract: band store (every ≥3-token
    * base doc), hash store (every distinct base hash), BQ codes and
    * IVF lists (every vector). Missing keys mean a stale or partial
    * build serving probes; extra keys mean erasure/compaction debt.
    * The ORACLE side emits the contract itself (present = expected,
    * zero drift), so the driver's hash compare IS the reconciliation:
    * a corrupt artifact fails the gate, not just this row.
    *
    * Plan: four artifact reads + rule-sized expected frames, anti-join
    * counts per row — bounded by key counts, no payloads shuffled.
    */
  def storeCoverage(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(!Dedup.isDelta(col("doc_id")))
    val emb = Tables.embeddings(spark, dir)
    def row(name: String, present: DataFrame, expected: DataFrame)
        : DataFrame = {
      val p = present.toDF("k").distinct().localCheckpoint(false)
      val e = expected.toDF("k").distinct().localCheckpoint(false)
      p.agg(count(lit(1)).as("n_present"))
        .crossJoin(e.agg(count(lit(1)).as("n_expected")))
        .crossJoin(e.join(p, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_missing")))
        .crossJoin(p.join(e, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_extra")))
        .select(lit(name).as("artifact"), col("n_present"),
          col("n_expected"), col("n_missing"), col("n_extra"))
    }
    // expected band-store population = docs eligible to shingle (≥3
    // normalized tokens) — the map-only twin of shingleRowsOf's doc
    // set (its 3-gram needs lead(w,2) non-null ⟺ size ≥ 3), without
    // the per-gram explode + window + dedup corpus pass (r14)
    // the four artifact rows BUILD in parallel (Par.build): each row
    // materializes its own present/expected checkpoints — serially
    // those eight waves queued back-to-back
    graft.operators.Par.build(Seq(
      () => row("band_store",
        Dedup.bandStore(spark, dir).select(col("doc_id")),
        base.filter(size(Dedup.normToks(col("text"))) >= 3)
          .select(col("doc_id"))),
      () => row("bq_codes",
        Similarity.bqCodes(spark, dir).select(col("vec_id")),
        emb.select(col("vec_id"))),
      () => row("hash_store",
        Dedup.hashStore(spark, dir).select(col("text_hash")),
        Dedup.exactHashOf(base).select(col("text_hash"))),
      () => row("ivf_lists",
        Similarity.ivfFlatIndex(spark, dir).lists.select(col("vec_id")),
        emb.select(col("vec_id")))))
      .reduce(_ unionByName _)
      .orderBy(col("artifact"))
  }

  /** label_queue depth per language. */
  val LabelQueueK = 10

  /** label_queue: uncertainty-sampled annotation picks — per language,
    * the [[LabelQueueK]] docs whose cheap quality score sits CLOSEST to
    * that language's median (quality_thresholds' p50): the classic
    * active-learning rule that a human label is worth most exactly
    * where the automatic signal is least decisive. Clear passes and
    * clear failures never reach the queue; the boundary does.
    *
    * Scale shape: one scoring pass (map-only), the threshold frame is
    * a ≤|langs|-row broadcast, and the per-language top-k is a rank
    * window ordered by the raw margin (ties by doc_id — the identical
    * doubles order identically in the oracle).
    */
  def labelQueue(spark: SparkSession, dir: String): DataFrame = {
    val scored = CorpusStats.docStats(spark, dir)
      .select(col("doc_id"), col("lang"), col("quality").as("score"))
    val thr = CorpusStats.qualityThresholds(spark, dir)
      .select(col("lang"), col("p50"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("margin"), col("doc_id"))
    scored.join(broadcast(thr), Seq("lang"))
      .withColumn("margin", abs(col("score") - col("p50")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= LabelQueueK)
      .select(col("lang"), col("doc_id"), col("score"),
        r4(col("margin")).as("margin"), col("rank").cast("int").as("rank"))
      .orderBy(col("lang"), col("rank"))
  }

  /** curriculum_order: the training curriculum manifest — quality-kept
    * docs phased by their CCNet perplexity bucket (head → middle →
    * tail: cleanest language first, the curriculum-learning recipe of
    * feeding easy/clean data before noisy data), with a deterministic
    * seeded-hash position inside each phase (the stratified_sample
    * hash, so the within-phase order is an unbiased shuffle that is
    * reproducible across runs and engines — never storage order).
    *
    * Scale shape: two per-doc probe frames (LM bucket, gate) joined on
    * doc_id; the per-phase row_number is a 3-partition ranking of the
    * kept set — the export_manifest posture: a global per-phase order
    * is the DELIVERABLE of this query (a manifest written once), not a
    * step inside a pipeline; consumers stream it in position order.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    // cpuPartition + checkpoint-before-filter: the gate is an expensive
    // lambda projection over a small scan, and a `.filter(keep)` on the
    // live frame is substituted into a predicate that PUSHES THROUGH
    // the repartition down to the scan — the whole gate then runs at
    // input-split parallelism (1-2 cores; 8-10 s at the 10x probe vs
    // ~1 s distributed). Materializing the signal frame first pins the
    // gate behind the repartition; the filter then reads a boolean.
    val keep = qualityFilterOf(Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id")))
      .localCheckpoint(false)
      .filter(col("keep")).select(col("doc_id").as("kdid"))
    val phased = CorpusStats.ccnetBucketsUnsorted(spark, dir)
      .join(keep.hint("merge"), col("doc_id") === col("kdid"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        when(col("bucket") === "head", 0)
          .when(col("bucket") === "middle", 1).otherwise(2).as("phase"),
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":" + SampleSeed))), 1, 8), 16, 10).cast("long").as("h"))
    // distributed rank, not a per-phase global row_number: 3 phases =
    // 3 single-threaded sort tasks at any scale. Sub-bucket by the hash
    // HIGH bits (order by h ≡ order by (hb, h)), rank inside each
    // (phase, hb) partition, and add the cumulative sub-bucket offsets
    // (a ≤256-row window per phase) — the value-histogram ranking
    // posture; identical positions, parallelism phases×256.
    val withHb = phased
      .withColumn("hb", shiftright(col("h"), 24).cast("int"))
      .localCheckpoint(false) // feeds the offset grid and the rank join
    val wOff = Window.partitionBy(col("phase")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = withHb.groupBy(col("phase"), col("hb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", sum(col("c")).over(wOff) - col("c"))
      .select(col("phase").as("op"), col("hb").as("ohb"), col("off"))
    withHb
      .join(broadcast(off),
        col("phase") === col("op") && col("hb") === col("ohb"))
      .withColumn("pos", (row_number().over(
        Window.partitionBy(col("phase"), col("hb"))
          .orderBy(col("h"), col("doc_id"))) + col("off")).cast("long"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        col("phase").cast("int").as("phase"), col("pos"))
  }

  // ---- the distilled quality classifier: train → apply → gate_eval ----
  //
  // classifierExamples exports the CCNet-style distillation training set
  // (frozen-LM tercile labels × heuristic sub-signals); these two
  // operators CLOSE the loop the reference's keyword gate only sketches
  // (prompt_selector.py:180's model-driven classify step): a logistic
  // scorer trained on the examples' train split by fixed-round full-batch
  // gradient descent (the pagerank unrolled-loop posture — each round is
  // one partial-agg pass over the examples, weights are a 1-row
  // broadcast; the oracle unrolls the identical rounds as CTEs), frozen
  // as a persisted weights artifact, applied corpus-wide by a map-only
  // scorer. gate_eval then grades BOTH gates — the heuristic rules and
  // the trained classifier — against the held-out labeled docs.
  //
  // Parity: features are exact 1e-6-unit integers (bias, capped
  // n_words/1000, capped avg_word_len/10, stopword_ratio, punct_ratio —
  // all in [0,1]); weights are exact 1e-6-unit longs; z = Σ wu·xu is an
  // exact long (≤ ~1e14); the sigmoid is the one library call (exp — the
  // BM25-ln precedent: a 1-ulp engine disagreement must land within 1 ulp
  // of a 0.5e-6 rounding boundary to flip the 6dp-rounded p); per-example
  // gradients are exact 1e-12-unit integers accumulated in decimal(38,0),
  // and each weight step re-rounds to 1e-6 units with the shared floor
  // primitive — so training is bit-reproducible under any partitioning.
  //
  // Honesty note (the sparse_knn degenerate-corpus posture): on THIS
  // synthetic corpus the heuristic sub-signals carry essentially no
  // LM-tercile signal — signal_auc reads AUC ≈ 0.31-0.58 and signal_corr
  // ≈ 0 per language — so the trained gate honestly converges near the
  // base rate (weights ~0, scores ~0.51, keep-everything) and gate_eval
  // reports exactly that. On a natural corpus these same signals
  // separate strongly (the Gopher rules exist because they do); the
  // machinery — exact-unit GD, frozen artifact, held-out grading — is
  // what this engine contributes, and signal_auc is the standing check
  // that says whether the distilled gate has anything to learn.

  /** Gradient-descent rounds and learning rate of the distilled gate —
    * fixed (the pagerank PrIters posture) and single-sourced into the
    * unrolled oracle CTEs.
    */
  val ClfRounds = 6
  val ClfLr = 5.0

  /** Feature order of the weight vector (index ↔ xu column). */
  val ClfFeatureNames: Seq[String] =
    Seq("bias", "n_words", "avg_word_len", "stopword_ratio", "punct_ratio")

  def clfWeightsPath(dir: String): String =
    IndexStore.path("clf-weights-v1", dir)

  /** Exact 1e-6-unit feature columns xu0..xu4 over a frame carrying
    * n_words / avg_word_len / stopword_ratio / punct_ratio (the
    * classifier_examples schema = the quality_score sub-signals).
    * Degenerate docs (no words) carry bias only.
    */
  private def clfUnits: Seq[Column] = {
    val guard = col("n_words") > 0
    Seq(
      lit(1000000L).as("xu0"),
      when(guard, least(col("n_words"), lit(1000)).cast("long") * 1000L)
        .otherwise(0L).as("xu1"),
      when(guard,
        units(least(col("avg_word_len"), lit(10.0)) / lit(10.0), 1000000))
        .otherwise(0L).as("xu2"),
      when(guard, units(col("stopword_ratio"), 1000000)).otherwise(0L)
        .as("xu3"),
      when(guard, units(col("punct_ratio"), 1000000)).otherwise(0L).as("xu4"))
  }

  /** z = Σ wu·xu as double (exact long sum / 1e12) — shared by the
    * training rounds and the apply scorer.
    */
  private def clfZ: Column =
    (0 to 4).map(i => col(s"wu$i") * col(s"xu$i")).reduce(_ + _)
      .cast("double") / lit(1.0e12)

  /** p rounded to 1e-6 units as an exact long. */
  private def clfPu: Column =
    floor(lit(1000000.0) / (lit(1.0) + exp(-clfZ)) + lit(0.5)).cast("long")

  /** Train the distilled gate on the examples' TRAIN split and persist
    * the full weight trajectory (`rounds`: one row per round × feature)
    * plus the final 1-row weight vector (`final`) — the frozen artifact
    * every scorer probes (the IndexStore build-once posture).
    */
  def buildClfWeights(spark: SparkSession, dir: String, path: String): Unit = {
    val trainIds = dataSplit(spark, dir)
      .filter(col("split") === "train").select(col("doc_id"))
    val ex = classifierExamples(spark, dir)
      .join(trainIds, Seq("doc_id"), "left_semi")
      .select(clfUnits :+ (col("label").cast("long") * 1000000L).as("yu"): _*)
      .localCheckpoint(false) // one pass per round reads this frame
    var w: DataFrame = spark.range(1)
      .select((0 to 4).map(i => lit(0L).as(s"wu$i")): _*)
    val traj = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to ClfRounds) {
      val g = ex.crossJoin(broadcast(w))
        .select((0 to 4).map(i =>
          (col(s"xu$i") * (col("yu") - clfPu)).cast("decimal(38,0)")
            .as(s"p$i")): _*)
        .agg(sum(col("p0")).as("g0"),
          (1 to 4).map(i => sum(col(s"p$i")).as(s"g$i")) :+
            count(lit(1)).as("n"): _*)
      w = w.crossJoin(broadcast(g))
        .select((0 to 4).map(i =>
          (col(s"wu$i") + floor(lit(ClfLr) * col(s"g$i").cast("double")
            / col("n") / lit(1000000.0) + lit(0.5)).cast("long"))
            .as(s"wu$i")): _*)
        .localCheckpoint(false) // 1 row; cuts the round-over-round lineage
      traj += w.select(lit(t).as("round"),
        posexplode(array((0 to 4).map(i => col(s"wu$i")): _*))
          .as(Seq("fi", "wu")))
    }
    val names = array(ClfFeatureNames.map(lit): _*)
    graft.sources.Sinks.writeSortedParquet(
      traj.reduce(_ unionByName _)
        .select(col("round"), col("fi").cast("int").as("fi"),
          element_at(names, col("fi").cast("int") + 1).as("feature"),
          col("wu")),
      s"$path/rounds", Seq("round", "fi"))
    w.write.mode("overwrite").parquet(s"$path/final")
  }

  private def clfWeights(spark: SparkSession, dir: String): String = {
    val path = clfWeightsPath(dir)
    IndexStore.ensureBuilt(path)(buildClfWeights(spark, dir, path))
    path
  }

  /** classifier_train: the training trajectory of the distilled quality
    * gate — (round, feature, weight) for every gradient round, read from
    * the persisted artifact (the audit view of the build: a diverging or
    * sign-flipping trajectory is the standing sanity check before the
    * frozen weights serve anything).
    */
  def classifierTrain(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, s"${clfWeights(spark, dir)}/rounds")
      .select(col("round"), col("feature"),
        (col("wu").cast("double") / 1000000).as("weight"))
      .orderBy(col("round"), col("feature"))

  /** classifier_apply: score EVERY document with the frozen trained
    * weights — the corpus-wide cheap gate that replaces the frozen-LM
    * probe on the 99% of the corpus where the distilled signal suffices
    * (the CCNet serving step). Map-shaped: one quality-signal pass, a
    * 1-row weight broadcast, no shuffle.
    */
  def classifierApply(spark: SparkSession, dir: String): DataFrame =
    clfScores(spark, dir)

  /** The persisted corpus-wide score table (doc_id, score, pred) of the
    * frozen classifier — the lm-nll-v1 posture applied to the cheap
    * gate: five standing audits (gate_eval, clf_calibration,
    * gate_overlap, dsir_sample, classifier_apply itself) each re-ran
    * the quality-signal tokenize per invocation; the scores are
    * deterministic given corpus + frozen weights, so they are scored
    * once beside the weights. The -v1 suffix is COUPLED to
    * clf-weights-v1: a weight retune must bump both (the artifact is a
    * pure function of that weight table).
    */
  private[graft] def clfScorePath(dir: String): String =
    IndexStore.path("clf-score-v1", dir)

  private[graft] def clfScores(spark: SparkSession, dir: String)
      : DataFrame = {
    val path = clfScorePath(dir)
    IndexStore.ensureBuilt(path)(
      graft.sources.Sinks.writeSortedParquet(
        classifierScoreOf(TextAnalysis.qualityScore(spark, dir),
          Tables.read(spark, s"${clfWeights(spark, dir)}/final")),
        path, Seq("doc_id")))
    Tables.read(spark, path)
  }

  /** Frame-shaped scorer over a quality-signals frame and a frozen
    * 1-row weight vector — shared with the streaming trained-gate
    * twin (graft.streaming.ScoreStream.scoreTrainedGate).
    */
  private[graft] def classifierScoreOf(signals: DataFrame,
      finalWeights: DataFrame): DataFrame =
    signals
      .select(col("doc_id") +: clfUnits: _*)
      .crossJoin(broadcast(finalWeights))
      .select(col("doc_id"), clfPu.as("su"))
      .select(col("doc_id"),
        (col("su").cast("double") / 1000000).as("score"),
        (col("su") >= 500000L).as("pred"))

  /** Reliability-diagram bin count of [[clfCalibration]]. */
  val ClfCalibBins = 10

  /** clf_calibration: the RELIABILITY TABLE of the trained quality gate
    * on the held-out split — scores bucketed into [[ClfCalibBins]]
    * equal-width bins; per bin the mean predicted score, the empirical
    * positive rate (the frozen-LM head/tail label), and their gap (the
    * per-bin term of Expected Calibration Error, Naeini AAAI'15 /
    * Guo ICML'17). [[gateEval]] grades the gate's DECISIONS
    * (precision/recall at the 0.5 cut); this grades its PROBABILITIES —
    * the number that decides whether `score` can be used as a sampling
    * weight / curriculum signal rather than only a keep/drop bit
    * (an uncalibrated gate over-weights its confident regions).
    *
    * Plan: the frozen-weights scorer (map-shaped, 1-row broadcast)
    * joined to the labeled examples on doc_id, held-out semi-join,
    * ≤[[ClfCalibBins]]-row partial agg. Exact: scores ARE 1e-6 longs
    * (su), so per-bin sums are exact integers; the two double divisions
    * mirror the oracle.
    */
  /** gate_overlap: the pairwise AGREEMENT MATRIX of the three
    * keep/drop deciders the curation stack runs — the heuristic rule
    * gate ([[qualityFilter]]), the trained classifier
    * ([[classifierApply]]'s 0.5 cut), and DSIR's importance-sampled
    * selection ([[CorpusStats.dsirSelect]] membership). gate_eval
    * grades each gate against the frozen-LM label; this grades them
    * against EACH OTHER (the arm_overlap posture applied to curation):
    * near-total agreement means the cheap heuristic suffices and the
    * expensive arms add nothing; low agreement localizes WHERE the
    * gates disagree before anyone swaps the production gate.
    *
    * Scale shape: three per-doc decision frames (map passes + frozen
    * artifacts), one doc_id co-partitioned join chain, three 1-row
    * aggregate arms. Jaccard guards empty unions with a null (the
    * gateEval nullif convention).
    */
  def gateOverlap(spark: SparkSession, dir: String): DataFrame = {
    val h = qualityFilter(spark, dir)
      .select(col("doc_id"), col("keep").as("kh"))
    val c = classifierApply(spark, dir)
      .select(col("doc_id"), col("pred").as("kc"))
    val d = CorpusStats.dsirSelect(spark, dir).select(col("doc_id"))
      .withColumn("kd", lit(true))
    val u = h.join(c, "doc_id")
      .join(d, Seq("doc_id"), "left")
      .select(col("doc_id"), col("kh"), col("kc"),
        coalesce(col("kd"), lit(false)).as("kd"))
      .localCheckpoint(false) // feeds three pairwise arms
    def arm(name: String, a: Column, b: Column) =
      u.agg(count(lit(1)).as("n_docs"),
        sum(when(a, 1L).otherwise(0L)).as("n_a"),
        sum(when(b, 1L).otherwise(0L)).as("n_b"),
        sum(when(a && b, 1L).otherwise(0L)).as("n_both"),
        sum(when(a === b, 1L).otherwise(0L)).as("n_agree"))
        .select(lit(name).as("pair"), col("n_a"), col("n_b"),
          col("n_both"),
          when(col("n_a") + col("n_b") - col("n_both") > 0,
            r4(col("n_both").cast("double") /
              (col("n_a") + col("n_b") - col("n_both")))).as("jaccard"),
          r4(col("n_agree").cast("double") / col("n_docs"))
            .as("agree_rate"))
    arm("classifier~dsir", col("kc"), col("kd"))
      .unionAll(arm("heuristic~classifier", col("kh"), col("kc")))
      .unionAll(arm("heuristic~dsir", col("kh"), col("kd")))
      .orderBy(col("pair"))
  }

  def clfCalibration(spark: SparkSession, dir: String): DataFrame = {
    val ho = dataSplit(spark, dir).filter(col("split") =!= "train")
      .select(col("doc_id"))
    val lbl = classifierExamples(spark, dir)
      .select(col("doc_id"), col("label"))
    classifierApply(spark, dir)
      .join(lbl, "doc_id")
      .join(ho, Seq("doc_id"), "left_semi")
      .select(
        least(floor(col("score") * ClfCalibBins), lit(ClfCalibBins - 1))
          .cast("int").as("bin"),
        units(col("score"), 1000000).as("su"),
        col("label"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("su")).as("susum"),
        sum(col("label")).as("npos"))
      .select(col("bin"), col("n"),
        (floor(col("susum").cast("double") / col("n") + 0.5) / 1000000)
          .as("mean_score"),
        r4(col("npos").cast("double") / col("n")).as("pos_rate"))
      .withColumn("gap",
        r4(abs(col("mean_score") - col("pos_rate"))))
      .orderBy(col("bin"))
  }

  /** bottom-k sample size. */
  val SampleK = 500

  /** The deterministic bottom-k membership bound: the k-th smallest
    * (md5(doc_id), doc_id) key as a 1-row broadcast — membership is a
    * comparison against it, so the sample is reproducible on any
    * engine and the full corpus never total-orders (TakeOrdered finds
    * the bound; the bound CLASSIFIES).
    */
  private def sampleBound(docs: DataFrame): DataFrame =
    broadcast(docs
      .select(md5(col("doc_id").cast("string")).as("h"), col("doc_id"))
      .orderBy(col("h"), col("doc_id")).limit(SampleK)
      .agg(max(struct(col("h"), col("doc_id"))).as("b"),
        count(lit(1)).as("n_sample"))
      .select(col("b.h").as("kh"), col("b.doc_id").as("kid"),
        col("n_sample"))
      .localCheckpoint(false))

  /** bottomk_sample: the DETERMINISTIC uniform corpus sample — the
    * [[SampleK]] documents with the smallest md5(doc_id) (a bottom-k
    * sketch used as a sample: hash order is uniform, engine-free, and
    * stable under corpus append — a doc enters/leaves the sample only
    * if the k-th hash bound moves past it, unlike rand()-based
    * sampling which reshuffles everything). The frame every expensive
    * eyeball-or-annotate workflow starts from.
    */
  def bottomkSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs
      .select(md5(col("doc_id").cast("string")).as("h"), col("doc_id"),
        col("source"), col("lang"), col("n_chars"))
      .crossJoin(sampleBound(docs))
      .filter(col("h") < col("kh") ||
        (col("h") === col("kh") && col("doc_id") <= col("kid")))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** sample_audit: IS the sample representative? Two-sample
    * Kolmogorov–Smirnov D between the bottom-k sample and the rest of
    * the corpus on document length (the ks_drift machinery pointed at
    * the sampler) with the asymptotic p — a uniform hash sample should
    * read p ≈ 1; a small p means the sampler is biased and every
    * annotation drawn from it inherits the bias.
    */
  def sampleAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grid = docs
      .select(md5(col("doc_id").cast("string")).as("h"), col("doc_id"),
        col("n_chars"))
      .crossJoin(sampleBound(docs))
      .select(col("n_chars"),
        (col("h") < col("kh") ||
          (col("h") === col("kh") && col("doc_id") <= col("kid")))
          .as("in_sample"))
      .groupBy(col("n_chars"))
      .agg(sum(when(col("in_sample"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("in_sample"), 0L).otherwise(1L)).as("cb"))
    val w = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = grid
      .withColumn("cca", sum(col("ca")).over(w))
      .withColumn("ccb", sum(col("cb")).over(w))
      .crossJoin(broadcast(grid.agg(sum(col("ca")).as("na"),
        sum(col("cb")).as("nb")).localCheckpoint(false)))
      .agg(max(abs(col("cca") * col("nb") - col("ccb") * col("na")))
        .as("dint"), max(col("na")).as("na"), max(col("nb")).as("nb"))
    val ks = r6(col("dint").cast("double") / col("na") / col("nb"))
    d.withColumn("ks_d", when(col("na") > 0 && col("nb") > 0, ks))
      .withColumn("lam", col("ks_d") *
        sqrt(col("na").cast("double") * col("nb") /
          (col("na") + col("nb"))))
      .select(col("na").as("n_sample"), col("nb").as("n_rest"),
        col("ks_d"),
        when(col("ks_d").isNotNull, r6(least(lit(1.0),
          lit(2.0) * exp(lit(-2.0) * col("lam") * col("lam")))))
          .as("p_value"))
  }
}
