package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fixed.{r4, r6, units}
import graft.sources.Tables

/** Corpus text-analysis operators for the training-data pipeline: language
  * ID, document quality scoring, token counting, and winnowing
  * fingerprints. All are single-pass column compositions — no shuffle except
  * the (optional) final explode; at 100 TB these scale embarrassingly with
  * input splits.
  *
  * The reference tokenizes with spaCy (utilities/text_utils.py:53-77);
  * here tokens are whitespace tokens of the cleaned text — the statistics
  * (ratios, counts, fingerprints) are engine features, not model features.
  */
object TextAnalysis {

  private[operators] def toks(c: Column): Column =
    filter(split(c, " "), x => x =!= "")

  /** Encoded argmax over (name, score) pairs: score*100 + (99-i), so
    * `greatest` breaks ties toward the earlier entry (same trick as
    * TextOps.topicEncoded — and the same integer math runs in DuckDB).
    */
  private def encodedBest(scores: Seq[Column]): Column =
    greatest(scores.zipWithIndex.map { case (s, i) => s * 100 + (99 - i) }: _*)

  /** lang_id: stopword-overlap language scoring, argmax, 'und' if no
    * evidence. Distinct tokens, so a repeated article doesn't dominate.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val dtoks = array_distinct(toks(lower(col("text"))))
    val scores = RefVocab.langStopwords.map { case (_, stop) =>
      size(array_intersect(dtoks, array(stop.map(lit): _*)))
    }
    val names = array(RefVocab.langStopwords.map(l => lit(l._1)): _*)
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .withColumn("best", encodedBest(scores))
      .select(col("doc_id"),
        when(col("best") < 100, lit(RefVocab.unknownLang))
          .otherwise(element_at(names,
            (lit(100) - pmod(col("best"), lit(100))).cast("int")))
          .as("lang_pred"),
        floor(col("best") / 100).cast("int").as("score"))
  }

  /** The composite [0,1] quality score of `quality_score`, 4dp-rounded —
    * factored so `quality_thresholds` (CorpusStats) calibrates cutoffs on
    * the IDENTICAL arithmetic it will later gate with.
    */
  private[operators] def qualityScoreCol: Column = {
    val t = toks(col("text"))
    val nWords = size(t)
    val stopHits = size(filter(t,
      x => array_contains(array(RefVocab.enStopwords.map(lit): _*), lower(x))))
    val nChars = length(col("text"))
    val punct = nChars - length(regexp_replace(col("text"), "[.,?!'\":-]", ""))
    r4(least(lit(1.0), nWords / 100.0) * 0.4 +
      stopHits.cast("double") / nWords * 0.3 +
      (lit(1.0) - punct.cast("double") / nChars) * 0.3)
  }

  /** quality_score: length/stopword/punctuation heuristics composited into
    * a [0,1] score — the standard pre-training quality gate shape.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualitySignalsOf(Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id")))

  /** Frame-shaped twin of [[qualityScore]] — shared with the streaming
    * trained-gate scorer (graft.streaming.ScoreStream), which scores
    * arriving micro-batches instead of a corpus directory.
    */
  private[graft] def qualitySignalsOf(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val nWords = size(t)
    val charSum = aggregate(t, lit(0), (acc, x) => acc + length(x))
    val stopHits = size(filter(t,
      x => array_contains(array(RefVocab.enStopwords.map(lit): _*), lower(x))))
    val nChars = length(col("text"))
    val punct = nChars - length(regexp_replace(col("text"), "[.,?!'\":-]", ""))
    val stopRatio = stopHits.cast("double") / nWords
    val punctRatio = punct.cast("double") / nChars
    // rational-valued metrics can land exactly on a 4dp tie, where
    // engine round() implementations disagree; rnd4 is the same
    // floor-based primitive the oracle SQL uses on the same double
    docs
      .select(col("doc_id"),
        nWords.cast("int").as("n_words"),
        r4(charSum.cast("double") / nWords).as("avg_word_len"),
        r4(stopRatio).as("stopword_ratio"),
        r4(punctRatio).as("punct_ratio"),
        qualityScoreCol.as("score"))
  }

  /** token_count: whitespace tokens, BPE-ish regex tokens, chars/4
    * estimate — the three standard token budgets.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    CorpusStats.docStats(spark, dir)
      .select(col("doc_id"),
        col("toks_ws").cast("int").as("ws_tokens"),
        col("toks_re").cast("int").as("re_tokens"),
        ceil(col("text_len") / 4.0).cast("int").as("est_bpe"))

  /** doc_fingerprint: winnowing — word-3-gram rolling hashes, sliding
    * window (w=4) minima, distinct selected fingerprints per document
    * (Schleimer, Wilkerson & Aiken, SIGMOD'03). md5-based hashes, so any
    * engine reproduces the exact fingerprint set.
    *
    * Row-shaped: tokens explode once, 3-grams come from `lead()` and the
    * winnowing minimum from a 4-row sliding frame over the same sort —
    * one shuffle by doc_id, tokenization evaluated once per document (the
    * array formulation hides a per-element re-evaluation; see Dedup).
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprints(spark, dir)

  /** The winnowed fingerprint set (doc_id, fp) — one row per distinct
    * selected fingerprint per document. Factored so `winnow_overlap`
    * ranks pairs over the IDENTICAL selection `doc_fingerprint` emits.
    */
  private[operators] def winnowFingerprints(spark: SparkSession,
      dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val w4 = w.rowsBetween(Window.currentRow, 3)
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("w"), lead(col("w"), 1).over(w),
          lead(col("w"), 2).over(w)).as("g"),
        lead(col("w"), 2).over(w).isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), col("pos"),
        substring(md5(col("g")), 1, 8).as("h"))
      .select(col("doc_id"),
        min(col("h")).over(w4).as("fp"),
        count(lit(1)).over(w4).as("wlen"))
      .filter(col("wlen") === 4)
      .select(col("doc_id"), col("fp"))
      .dropDuplicates("doc_id", "fp")
  }

  /** A fingerprint shared by more documents than this is boilerplate
    * (headers, licenses) — MOSS drops it from matching entirely
    * (Schleimer SIGMOD'03 §5 "too common" postings), which also caps the
    * per-fingerprint pair fan-out at WinnowHotCap² — the same role
    * Dedup.BUCKET_CAP plays for the LSH band joins.
    */
  private[graft] val WinnowHotCap = 200

  /** Pairs sharing fewer winnowed fingerprints than this are noise (a
    * single 6-token collision); MOSS likewise ranks by match count.
    */
  private[graft] val WinnowMinShared = 2

  /** winnow_overlap: MOSS-style cross-document overlap ranking over the
    * winnowed fingerprint set (Schleimer, Wilkerson & Aiken, SIGMOD'03) —
    * the BOUNDED substring index: winnowing keeps ~2/(w+1) of the k-gram
    * hashes yet guarantees every shared run of ≥ w+k-1 tokens still
    * collides, so this finds what `dedup_substring` finds at a fraction
    * of the index size (the 100 TB trade: dedup_substring indexes every
    * token position; this indexes the winnowed selection).
    *
    * Scale shape: fingerprint rows self-join on fp (equi-join, shuffle on
    * fp) after the hot-fp filter bounds every bucket; pair aggregation
    * and per-doc sizes are partial-agg groupBys. No cross product, no
    * full-text re-shuffle — fingerprints are 8-char hashes.
    */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    // feeds the hot-fp filter, both join sides, and the per-doc sizes
    val fps = winnowFingerprints(spark, dir).localCheckpoint(false)
    val keep = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= WinnowHotCap)
      .select(col("fp"))
    val sizes = fps.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n"))
    val shared = fps.join(keep, "fp")
    shared.select(col("fp"), col("doc_id").as("doc_a"))
      .join(shared.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("int").as("shared"))
      .filter(col("shared") >= WinnowMinShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
        r4(col("shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
  }

  /** pii_scrub: C4/Dolma-style PII redaction — emails, IPv4s, phone
    * numbers replaced by typed tokens (RefVocab.piiRules, applied in
    * order), with per-kind match counts taken on the ORIGINAL text.
    * Pure per-row regex work behind a cpuPartition; zero further
    * shuffles.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed = RefVocab.piiRules.foldLeft(col("text")) {
      case (acc, (_, pat, rep)) => regexp_replace(acc, pat, rep)
    }
    val counts = RefVocab.piiRules.map { case (name, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("int").as(s"n_${name}s")
    }
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id") +: scrubbed.as("scrubbed") +: counts: _*)
  }

  /** lang_confusion: the language-ID audit matrix — predicted vs
    * declared language counts with per-declared-language rates (the
    * confusion matrix every lang-ID gate gets judged by before its
    * predictions route documents in stratified_sample / domain_mix).
    * Off-diagonal mass flags either classifier weakness or mislabeled
    * metadata — both actionable.
    *
    * Plan: the langId scan (map-only) joined to nothing — the declared
    * lang rides the same documents scan — then one partial-agg groupBy
    * on the ≤|langs|² matrix; rates normalize within the declared
    * language via a window over matrix-sized rows.
    */
  /** Per-document (lang, lang_pred) — the shared prediction frame of
    * [[langConfusion]] and [[langidF1]].
    */
  private def langPredFrame(spark: SparkSession, dir: String): DataFrame = {
    val dtoks = array_distinct(toks(lower(col("text"))))
    val scores = RefVocab.langStopwords.map { case (_, stop) =>
      size(array_intersect(dtoks, array(stop.map(lit): _*)))
    }
    val names = array(RefVocab.langStopwords.map(l => lit(l._1)): _*)
    Tables.cpuPartition(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text")),
      col("doc_id"))
      .withColumn("best", encodedBest(scores))
      .select(col("lang"),
        when(col("best") < 100, lit(RefVocab.unknownLang))
          .otherwise(element_at(names,
            (lit(100) - pmod(col("best"), lit(100))).cast("int")))
          .as("lang_pred"))
  }

  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val wl = Window.partitionBy(col("lang"))
    langPredFrame(spark, dir)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("lang_pred"), col("n"),
        r6(col("n").cast("double") / sum(col("n")).over(wl)).as("rate"))
  }

  /** langid_f1: the classifier scorecard over the confusion counts —
    * per-label precision/recall/F1 (harmonic form 2·TP/(pred+true):
    * one exact-integer division, no P·R roundtrip) plus a `__macro__`
    * row averaging the 4dp per-label metrics (macro-precision averages
    * the DEFINED precisions — a label never predicted has none). The
    * confusion matrix (lang_confusion) shows WHERE the router leaks;
    * this is the one-line go/no-go a per-language pipeline gate reads.
    *
    * Scale shape: one prediction pass to |labels|² confusion counts,
    * then label-sized rollups; the macro row is a 1-row broadcast
    * crossJoin. Labels = the TRUE label set (an unknown-pred column
    * costs recall, not a phantom row).
    */
  def langidF1(spark: SparkSession, dir: String): DataFrame = {
    val p = langPredFrame(spark, dir)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds true/pred/tp rollups
    val tn = p.groupBy(col("lang")).agg(sum(col("n")).as("true_n"))
    val pn = p.groupBy(col("lang_pred"))
      .agg(sum(col("n")).as("pred_n"))
      .select(col("lang_pred").as("lang"), col("pred_n"))
    val tp = p.filter(col("lang") === col("lang_pred"))
      .select(col("lang"), col("n").as("tp"))
    val per = tn
      .join(pn, Seq("lang"), "left")
      .join(tp, Seq("lang"), "left")
      .select(col("lang"), coalesce(col("tp"), lit(0L)).as("tp"),
        col("true_n"), coalesce(col("pred_n"), lit(0L)).as("pred_n"))
      .select(col("lang"), col("tp"), col("true_n"), col("pred_n"),
        when(col("pred_n") > 0,
          r4(col("tp").cast("double") / col("pred_n"))).as("precision"),
        r4(col("tp").cast("double") / col("true_n")).as("recall"),
        r4(lit(2) * col("tp").cast("double") /
          (col("pred_n") + col("true_n"))).as("f1"))
      .localCheckpoint(false) // feeds the macro rollup and the union
    // 4dp values ×1e4 are exact integers — the macro means stay exact
    val macroRow = per.agg(
      sum(col("tp")).as("tp"), sum(col("true_n")).as("true_n"),
      sum(col("pred_n")).as("pred_n"),
      (floor(sum(col("precision") * 10000) / count(col("precision"))
        + 0.5) / 10000).as("precision"),
      (floor(sum(col("recall") * 10000) / count(col("recall")) + 0.5)
        / 10000).as("recall"),
      (floor(sum(col("f1") * 10000) / count(col("f1")) + 0.5) / 10000)
        .as("f1"))
      .select(lit("__macro__").as("lang"), col("tp"), col("true_n"),
        col("pred_n"), col("precision"), col("recall"), col("f1"))
    per.unionByName(macroRow).orderBy(col("lang"))
  }

  /** readability: Flesch-Kincaid grade level per document —
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, with the
    * standard heuristics (sentences = runs of [.!?], clamped ≥1;
    * syllables = vowel-group runs per lowercased word, clamped ≥1 —
    * "rhythm"-class words still count one). The readability band is a
    * standing curation signal next to quality_score: very low grades
    * flag template/listicle text, very high ones OCR garbage and
    * run-on boilerplate.
    *
    * Plan: map-shaped — one explode of the shared space-token list
    * (the per-word ≥1 clamp needs per-word evaluation), one partial-agg
    * groupBy(doc_id); the sentence count rides the aggregate as max()
    * of a per-doc constant. Parity: counts are exact integers; the
    * grade is a fixed-order double expression (two divides, two
    * multiplies, one subtract — bit-identical across engines), rounded
    * once via the shared floor primitive. Tokenless docs drop out of
    * the explode on both engines.
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val fk = r4(lit(0.39) *
      (col("n_words").cast("double") / col("n_sentences")) +
      lit(11.8) * (col("n_syllables").cast("double") / col("n_words")) -
      lit(15.59))
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), col("text"),
        explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_words"),
        max(greatest(lit(1), regexp_count(col("text"), lit("[.!?]+"))))
          .cast("int").as("n_sentences"),
        sum(greatest(lit(1), regexp_count(lower(col("tok")),
          lit("[aeiouy]+")))).as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), fk.as("fk_grade"))
  }

  /** repetition_score: Gopher/Dolma-style repetition signals — the
    * duplicate-line fraction and the duplicate-word-2-gram fraction of
    * each document (boilerplate and stutter detection). Array ops over
    * materialized token arrays (zip_with over slices, NOT
    * element_at-over-sequence — see the shape rules); zero shuffles
    * beyond the cpuPartition.
    */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame = {
    val lines = filter(transform(split(col("text"), "\n"), l => trim(l)),
      l => l =!= "")
    val t = toks(col("text"))
    val g2len = greatest(size(t) - 1, lit(0))
    val g2 = zip_with(slice(t, lit(1), g2len), slice(t, lit(2), g2len),
      (a, b) => concat_ws(" ", a, b))
    def dupFrac(arr: Column): Column =
      when(size(arr) > 0,
        r4(lit(1.0) - size(array_distinct(arr)).cast("double")
          / size(arr))).otherwise(0.0)
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), lines.as("ls"), t.as("ts"), g2.as("g2"))
      .select(col("doc_id"),
        size(col("ls")).cast("int").as("n_lines"),
        dupFrac(col("ls")).as("dup_line_frac"),
        size(col("g2")).cast("int").as("n_2grams"),
        dupFrac(col("g2")).as("dup_2gram_frac"))
  }

  /** toxicity_screen: stub of the reference's response toxicity gate
    * (/root/reference/text_generator.py:270-299 `is_toxic`). The model
    * is stubbed (as embed_text's is): a lexicon-density score stands in
    * for the classifier probability. The decision shape is the
    * reference's exactly — responses under 5 words short-circuit to
    * non-toxic (:274-276) and the threshold is `score > 0.7` (:296).
    * Map-shaped; embarrassingly parallel at any scale.
    */
  def toxicityScreen(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(lower(col("text")))
    val lex = array(RefVocab.toxicLexicon.map(lit): _*)
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"),
        size(t).cast("int").as("n_words"),
        size(filter(t, x => array_contains(lex, x))).cast("int")
          .as("toxic_hits"))
      .withColumn("toxic_score",
        when(col("n_words") >= RefVocab.toxicMinWords,
          r4(least(lit(1.0),
            col("toxic_hits") * 10.0 / col("n_words"))))
          .otherwise(0.0))
      .withColumn("is_toxic",
        col("n_words") >= RefVocab.toxicMinWords &&
          col("toxic_score") > RefVocab.toxicThreshold)
  }

  /** char_entropy histogram bin width (nats). */
  val CharEntBin = 0.25

  /** char_entropy: per-document CHARACTER-level Shannon entropy,
    * rolled up as a per-source histogram — the compressibility screen
    * under the word-level quality signals: natural prose sits ~3.5-4.5
    * nats-ish of char entropy; template spam, repeated padding, and
    * binary-ish junk fall far below (one symbol dominating → H → 0),
    * the cheap proxy for "would gzip collapse this doc" that corpus
    * filters (e.g. CCNet's ilter family) apply before anything
    * token-based. token_entropy profiles the corpus VOCABULARY; this
    * profiles each document's SYMBOL stream.
    *
    * Parity: H = ln n − (Σ c·ln c)/n with 6dp-rounded c·ln c terms and
    * exact integer sums (the sessionEntropy formula applied to char
    * counts); the bin floor applies to the 6dp-rounded H.
    *
    * Scale shape: one char explode (bounded by corpus bytes), a
    * (doc, char) partial agg, a per-doc rollup, a bin-bounded
    * histogram agg.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perChar = Tables.cpuPartition(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("source"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val tl =
      units(col("c").cast("double") * log(col("c").cast("double")), 1000000)
    perChar
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n"), sum(tl).as("stl"))
      .select(col("source"),
        floor(r6(log(col("n").cast("double")) -
          (col("stl").cast("double") / 1000000) / col("n"))
          / CharEntBin).cast("long").as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("bin"),
        (col("bin") * CharEntBin).as("bin_lo"), col("n_docs"))
      .orderBy(col("source"), col("bin"))
  }
}
