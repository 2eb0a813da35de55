package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fixed.r4
import graft.functions.VectorFunctions.collectSorted
import graft.functions.{CleanStep, CleanText, KeywordRules, TextFunctions}
import graft.sources.Tables

/** Text surface of the reference app. The plans are `functions._`
  * compositions around two Catalyst kernels (graft.functions, no UDFs):
  * [[graft.functions.CleanText]] runs the clean-text pipeline as one pass
  * over the decoded string, and [[graft.functions.KeywordRules]] answers
  * every keyword-rule question (first matching template, encoded topic
  * argmax, category bitmask) with one Aho–Corasick pass over the bytes.
  * Both are byte-identical to the `replace`/`regexp_replace`/`translate`
  * fold over [[cleanSteps]] and the per-keyword `contains` chains they
  * replace; the DuckDB oracle SQL is still generated from [[cleanSteps]]
  * and RefVocab. Exactness rules the kernels keep:
  *  - nulls: clean_text(null) is null; a null text matches no keyword
  *    (template "Others", the default topic, category "Others");
  *  - keywords match as byte substrings (`UTF8String.contains`), once per
  *    listing, multi-word keywords included;
  *  - entity replaces are sequential (`&amp;lt;` becomes `&lt;`), an
  *    unterminated `<` survives the tag strip, the URL step is the same
  *    `java.util.regex` pattern;
  *  - the charset filter drops whole code points, `\s` is the six ASCII
  *    whitespace chars, and the final trim strips only `' '`.
  *
  *  - clean_text        — /root/reference/utilities/text_utils.py:26-49 +
  *                        /root/reference/prompt_selector.py:62-76
  *  - template_classify — /root/reference/prompt_selector.py:36-57,180-240
  *  - topic_detect      — /root/reference/prompt_selector.py:242-330
  *  - safety_screen     — /root/reference/safety_handler.py:15-78
  *  - effectiveness     — /root/reference/prompt_selector.py:332-395
  *  - training_examples — /root/reference/rag_processor.py:182-238
  *
  * Documented deviations from the reference (kept intentionally):
  *  - html.unescape is approximated by the six entities that occur in
  *    practice (&amp; &lt; &gt; &quot; &#39;/&#x27; &nbsp;);
  *  - the URL regex is the standard simplified form, not the reference's
  *    500-char monster (identical on all URLs with a scheme or www.);
  *  - token overlap uses lowercased whitespace tokens, not spaCy lemmas
  *    (no JVM spaCy; the *metric* — |Q∩R|/|Q| over token sets — is the
  *    reference's, prompt_selector.py:369-377);
  *  - the reference's final `.replace("'", "''")` SQL-escape step is a
  *    string-SQL-building artifact, not text semantics, and is dropped.
  */
object TextOps {
  import CleanStep._

  /** The clean-text steps, in reference order (html unescape, tag strip,
    * URL removal, unicode punctuation folding, charset filter,
    * whitespace collapse). The DuckDB oracle SQL is generated from this
    * list, each step as its typed primitive; the Spark plans run it as
    * the [[graft.functions.CleanText]] kernel, which declares the same
    * list (checked below).
    */
  val cleanSteps: Seq[CleanStep] = Seq(
    Lit("&nbsp;", " "),
    Lit("&lt;", "<"),
    Lit("&gt;", ">"),
    Lit("&quot;", "\""),
    Lit("&#39;", "'"),
    Lit("&#x27;", "'"),
    Lit("&amp;", "&"),
    Re("<[^>]*>", ""),
    Re("(?i)\\b(https?://\\S+|www\\.\\S+)", ""),
    Tr("’—“”", "'-\"\""),
    Lit("…", "..."),
    Re("[^a-zA-Z0-9\\s.,?!'\":-]", ""),
    Re("\\s+", " "))

  require(CleanText.steps == cleanSteps,
    "the CleanText kernel implements a different step list than " +
      "TextOps.cleanSteps, from which the oracle SQL is generated")

  /** The reference clean-text pipeline as one kernel column. */
  def cleanText(c: Column): Column = TextFunctions.cleanText(c)

  /** First-match-priority template over a lowercased clean text column:
    * primary keyword lists, then the category-info fallback stems
    * (RefVocab.templateRules — prompt_selector.py steps 1 and 3).
    */
  def templateCol(lc: Column): Column = {
    val names = array((RefVocab.templateRules.map(_._1) :+
      RefVocab.defaultTemplate).map(lit): _*)
    element_at(names, TextFunctions.keywordRules(lc,
      RefVocab.templateRules.map(_._2), KeywordRules.FirstMatch) + 1)
  }

  /** Argmax-encoded topic score: score*100 + (99 - idx), where a score
    * counts the keywords present as substrings (prompt_selector.py:273
    * counts keywords, not occurrences), so the max picks the highest
    * score and, among ties, the earliest taxonomy entry — exactly Python
    * `max()` over insertion order. The same integer encoding runs in
    * DuckDB, so both engines agree bit-for-bit.
    */
  def topicEncoded(lc: Column): Column =
    TextFunctions.keywordRules(lc, RefVocab.taxonomy.map(_._2),
      KeywordRules.EncodedArgmax)

  def topicFromEncoded(best: Column): Column = {
    val names = array(RefVocab.taxonomy.map(t => lit(t._1)): _*)
    when(best < 100, lit(RefVocab.defaultTopic))
      .otherwise(element_at(names, (lit(100) - pmod(best, lit(100))).cast("int")))
  }

  def topicScoreFromEncoded(best: Column): Column =
    floor(best / 100).cast("int")

  /** documents + cleaned lowercased text. cpuPartition first: the test
    * corpora are single-row-group parquet files, so file splits cannot
    * parallelize the clean/match chain (at 100 TB the multi-file layout
    * provides the splits and this exchange is co-partitioning by doc).
    */
  private def lcClean(spark: SparkSession, dir: String): DataFrame =
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      // cl materializes once; lc/downstream outputs derive from the
      // column (multi-referenced non-cheap aliases stay in their own
      // projection, and same-stage reuse is a local variable read)
      .select(col("doc_id"), col("text"), cleanText(col("text")).as("cl"))
      .select(col("doc_id"), col("text"), col("cl"),
        lower(col("cl")).as("lc"))

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  /** clean_text: the normalization pipeline over every document. */
  def cleanTextQ(spark: SparkSession, dir: String): DataFrame =
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), cleanText(col("text")).as("clean"))
      .select(col("doc_id"), col("clean"),
        length(col("clean")).cast("int").as("clean_chars"))

  /** template_classify: keyword -> prompt template, first match wins. */
  def templateClassify(spark: SparkSession, dir: String): DataFrame =
    lcClean(spark, dir)
      .select(col("doc_id"), templateCol(col("lc")).as("template"))

  /** topic_detect: taxonomy keyword-count scoring, argmax with tie-break. */
  def topicDetect(spark: SparkSession, dir: String): DataFrame =
    lcClean(spark, dir)
      .withColumn("best", topicEncoded(col("lc")))
      .select(col("doc_id"),
        topicFromEncoded(col("best")).as("topic"),
        topicScoreFromEncoded(col("best")).as("score"))

  /** safety_screen: first matching harmful-content category, or 'none'. */
  def safetyScreen(spark: SparkSession, dir: String): DataFrame = {
    val cat = RefVocab.safetyCategories.foldRight(lit("none")) {
      case ((name, _, pat), fallback) =>
        when(col("text").rlike(pat), lit(name)).otherwise(fallback)
    }
    val sev = RefVocab.safetyCategories.foldRight(lit("none")) {
      case ((name, severity, _), fallback) =>
        when(col("category") === name, lit(severity)).otherwise(fallback)
    }
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), cat.as("category"))
      .select(col("doc_id"), (col("category") =!= "none").as("is_harmful"),
        col("category"), sev.as("severity"))
  }

  /** effectiveness: response-quality metrics over (question, response)
    * pairs; here consecutive documents stand in for an interaction pair.
    */
  def effectiveness(spark: SparkSession, dir: String): DataFrame = {
    val c = lcClean(spark, dir).select(col("doc_id"), col("lc"))
    val q = c.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("q_id"), col("lc").as("ql"))
    val r = c.select(col("doc_id").as("r_id"), col("lc").as("rl"))
    val toks = (s: Column) => filter(split(s, " "), x => x =!= "")
    val paired = q.join(r, col("r_id") === col("q_id") + 1)
      .select(col("q_id"), col("r_id"), col("ql"), col("rl"),
        toks(col("ql")).as("qt"), toks(col("rl")).as("rt"))
    val qd = array_distinct(col("qt"))
    val rd = array_distinct(col("rt"))
    val overlap = when(size(qd) > 0,
      size(array_intersect(qd, rd)).cast("double") / size(qd)).otherwise(0d)
    paired
      .withColumn("template", templateCol(col("ql")))
      .select(
        col("q_id"), col("r_id"),
        size(col("rt")).cast("int").as("response_length"),
        when(size(col("rt")) < 20, "too_short")
          .when(size(col("rt")) > 500, "too_long")
          .otherwise("appropriate").as("length_quality"),
        r4(overlap).as("term_overlap"),
        col("template"),
        when(col("template") === "Question" && instr(col("rl"), "?") > 0, "high")
          .when(col("template") === "Empathy and Validation" &&
            col("rl").rlike("(understand|feel|valid)"), "high")
          .otherwise("medium").as("template_adherence"))
  }

  /** template_effect: the PRODUCT question of the reference's whole
    * effectiveness loop (prompt_selector.py:332-395 scores each
    * response so someone can ask "which prompt templates actually
    * work") — per template: pair count, exact-decimal mean term
    * overlap, high-adherence count/share, appropriate-length count,
    * mean response length. One bounded agg over the [[effectiveness]]
    * frame (|templates| groups regardless of corpus size).
    */
  def templateEffect(spark: SparkSession, dir: String): DataFrame = {
    effectiveness(spark, dir)
      .groupBy(col("template"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("term_overlap").cast("decimal(18,4)")).as("ovs"),
        sum(when(col("template_adherence") === "high", 1L).otherwise(0L))
          .as("n_high"),
        sum(when(col("length_quality") === "appropriate", 1L)
          .otherwise(0L)).as("n_appropriate"),
        sum(col("response_length").cast("long")).as("lsum"))
      .select(col("template"), col("n_pairs"),
        r4(col("ovs").cast("double") / col("n_pairs")).as("mean_overlap"),
        col("n_high"),
        r4(col("n_high").cast("double") / col("n_pairs")).as("high_share"),
        col("n_appropriate"),
        r4(col("lsum").cast("double") / col("n_pairs")).as("mean_length"))
      .orderBy(col("template"))
  }

  /** One lemma rule chain application (RefVocab.lemmaRules, first match
    * wins) — pure ends-with + substr, identical semantics in DuckDB.
    */
  def lemmaOf(t: Column): Column =
    RefVocab.lemmaRules.foldRight(t) {
      case ((suf, minLen, cut, app), fallback) =>
        val stripped =
          if (cut == 0) t
          else if (app.isEmpty) t.substr(lit(1), length(t) - cut)
          else concat(t.substr(lit(1), length(t) - cut), lit(app))
        when(t.endsWith(suf) && length(t) >= minLen, stripped)
          .otherwise(fallback)
    }

  /** lemma_tokens: tokenize + rule-lemmatize + stopword-filter with the
    * keep-words override (text_utils.py:51 tokenize_and_lemmatize; the
    * spaCy lemmatizer/stop-list are stubbed by RefVocab.lemmaRules/
    * lemmaStopwords — deterministic, engine-neutral). Entirely per-row
    * array ops: zero shuffles, scales embarrassingly.
    */
  def lemmaTokens(spark: SparkSession, dir: String): DataFrame = {
    // trims the same char set as the oracle's
    // regexp_replace(t, '^[.,?!''":-]+|[.,?!''":-]+$', '')
    val stripPunct = (t: Column) => btrim(t, lit(".,?!'\":-"))
    val toks = filter(
      transform(split(lower(cleanText(col("text"))), " "), stripPunct),
      t => t =!= "")
    val keep = typedlit(RefVocab.keepWords)
    val stop = typedlit(RefVocab.lemmaStopwords)
    val lemmas = filter(transform(toks, lemmaOf(_)),
      l => array_contains(keep, l) || !array_contains(stop, l))
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), lemmas.as("ls"))
      .select(col("doc_id"), array_join(col("ls"), " ").as("lemmas"),
        size(col("ls")).cast("int").as("n_kept"))
  }

  /** category_info: multi-label category assignment
    * (prompt_selector.py:99-160) — one output row per matching rule,
    * or the Others default. Per-row array build + explode: no shuffle.
    */
  def categoryInfo(spark: SparkSession, dir: String): DataFrame = {
    // Execution-shape notes (all measured at the 10x probe — this is the
    // operator where every shape mistake was found, because its rules
    // are evaluated unconditionally and its output survives column
    // pruning):
    //  1. cpuPartition BEFORE the clean/match work: a pre-exchange
    //     projection executes at input-split parallelism (1-2 splits at
    //     test SF → one core ran the whole load, 8.5s vs 0.4s over 32).
    //  2. The match results cross the Generate as ONE materialized int
    //     (the rule bitmask) through a second exchange: a codegen'd
    //     Generate re-evaluates its generator AND deferred pass-through
    //     columns once per EMITTED element (10x the matching work,
    //     measured 17-22s), and a post-explode filter on a non-attribute
    //     column re-triggers the same class of blowup via pushdown alias
    //     substitution. Exploding cheap index slots derived from the
    //     mask ATTRIBUTE and filtering on the GENERATED column keeps the
    //     per-element work at a few ALU ops.
    //  3. The rule mask is its own projection, so the kernel runs once
    //     per row while the default bit reads it twice.
    val n = RefVocab.categoryRules.size
    val mask = TextFunctions.keywordRules(col("lc"),
      RefVocab.categoryRules.map(_._2), KeywordRules.Bitmask)
    val withDefault = col("m0")
      .bitwiseOR(when(col("m0") === 0, lit(1 << n)).otherwise(lit(0)))
    val slots = array((0 to n).map(j =>
      when(expr(s"(m >> $j) & 1") === 1, lit(j))
        .otherwise(lit(null))): _*)
    val (dn, dd) = RefVocab.defaultCategory
    val names = typedlit(RefVocab.categoryRules.map(_._1) :+ dn)
    val descs = typedlit(RefVocab.categoryRules.map(_._3) :+ dd)
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), lower(cleanText(col("text"))).as("lc"))
      .select(col("doc_id"), mask.as("m0"))
      .select(col("doc_id"), withDefault.as("m"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(slots).as("i"))
      .filter(col("i").isNotNull)
      .select(col("doc_id"),
        element_at(names, col("i") + 1).as("category"),
        element_at(descs, col("i") + 1).as("description"))
  }

  /** response_clean: generated-response artifact cleanup
    * (text_generator.py:149-243 _clean_therapeutic_response), the
    * declaratively-expressible core: marker truncation (steps 4 + the
    * instruction-marker loop, merged), artifact regex removal (steps 5-6),
    * order-preserving sentence dedup (the repetition fix), whitespace
    * collapse (step 7). The model-coupled steps — dialogue re-extraction
    * and canned fallback responses (steps 1-3, 8) — are generation-side
    * behavior, not data transformation, and are intentionally out.
    *
    * Sentence dedup keeps the FIRST occurrence in order: sentences become
    * rows (split marker injected after [.!?]), min(pos) per distinct
    * sentence, re-assembled sorted — two partial-agg groupBys on doc_id,
    * no window, no driver state.
    */
  def responseClean(spark: SparkSession, dir: String): DataFrame = {
    val cut = RefVocab.responseMarkers.map { m =>
      val p = instr(lower(col("text")), m.toLowerCase)
      when(p > 0, p).otherwise(length(col("text")) + 1)
    }.reduce(least(_, _))
    val truncated = trim(col("text").substr(lit(1), cut - 1))
    val cleaned = RefVocab.responseArtifacts.foldLeft(truncated) {
      case (acc, (pat, rep)) => regexp_replace(acc, pat, rep)
    }
    val marked = regexp_replace(cleaned, "([.!?])\\s+", "$1\u0001")
    // Sentences are trimmed and empties dropped INSIDE the generator
    // array (the reference's untrimmed compare lets a leading-space copy
    // of a sentence survive its own dedup; we trim — documented
    // deviation). The HOFs also force the interpreted Generate path, so
    // the regex chain feeding `marked` evaluates once per row instead of
    // once per emitted sentence (see categoryInfo's shape notes).
    val sents = filter(transform(split(marked, "\u0001"), s => trim(s)),
      s => s =!= "")
    Tables.cpuPartition(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), posexplode(sents).as(Seq("pos", "s")))
      .groupBy(col("doc_id"), col("s")).agg(min(col("pos")).as("p"))
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", collectSorted("p", "s")).as("prelim"),
        count(lit(1)).cast("int").as("n_sentences"))
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(col("prelim"), "\\s+", " "),
          "\\(\\s*\\)", "")).as("cleaned"),
        col("n_sentences"))
  }

  /** training_examples: instruction/input/output formatting with the
    * template+topic detectors composed in (rag_processor.py:216-227).
    */
  def trainingExamples(spark: SparkSession, dir: String): DataFrame =
    lcClean(spark, dir)
      .withColumn("template", templateCol(col("lc")))
      // its own column: topicFromEncoded reads the code twice
      .withColumn("best", topicEncoded(col("lc")))
      .withColumn("topic", topicFromEncoded(col("best")))
      .select(col("doc_id"),
        concat(lit("You are a therapeutic AI assistant skilled in "),
          col("template"),
          lit(". Provide a compassionate and helpful response about "),
          col("topic"), lit(".")).as("instruction"),
        substring(col("text"), 1, 120).as("input"),
        substring(col("cl"), 1, 120).as("output"))
}
