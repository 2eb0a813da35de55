package graft.oracle

import graft.operators.{RefVocab, TextOps}

/** DuckDB oracle SQL, *generated* from the same constants
  * (graft.operators.RefVocab, TextOps.cleanSteps) that drive the Spark
  * plans. One source of truth means a keyword edit cannot silently desync
  * the correctness gate.
  *
  * DuckDB string literals do not process backslash escapes, so Java/RE2
  * patterns embed verbatim; only single quotes need doubling.
  */
object DuckSql {

  /** SQL-escape a string for a single-quoted literal. */
  def sq(s: String): String = s.replace("'", "''")

  /** The clean-text pipeline, each step as its typed primitive
    * (CleanStep: literal replace / translate / regex).
    */
  def cleanSql(e: String): String = {
    import graft.functions.CleanStep._
    "trim(" + TextOps.cleanSteps.foldLeft(e) {
      case (acc, Re(pat, rep)) =>
        s"regexp_replace($acc, '${sq(pat)}', '${sq(rep)}', 'g')"
      case (acc, Lit(from, to)) =>
        s"replace($acc, '${sq(from)}', '${sq(to)}')"
      case (acc, Tr(from, to)) =>
        s"translate($acc, '${sq(from)}', '${sq(to)}')"
    } + ")"
  }

  /** Substring-presence disjunction (the Spark side answers it with
    * graft.functions.KeywordRules — the keywords are literals, so strpos
    * equals the regex alternation).
    */
  private def anyKwSql(lc: String, kws: Seq[String]): String =
    kws.map(k => s"strpos($lc, '${sq(k)}') > 0").mkString("(", " OR ", ")")

  private def kwScoreSql(lc: String, kws: Seq[String]): String =
    kws.map(k => s"(CASE WHEN strpos($lc, '${sq(k)}')>0 THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")

  def templateCaseSql(lc: String): String =
    "CASE " + RefVocab.templateRules.map { case (name, kws) =>
      s"WHEN ${anyKwSql(lc, kws)} THEN '${sq(name)}'"
    }.mkString(" ") + s" ELSE '${RefVocab.defaultTemplate}' END"

  def topicEncodedSql(lc: String): String =
    "greatest(" + RefVocab.taxonomy.zipWithIndex.map { case ((_, kws), i) =>
      s"${kwScoreSql(lc, kws)} * 100 + ${99 - i}"
    }.mkString(", ") + ")"

  private def topicNamesList: String =
    RefVocab.taxonomy.map(t => s"'${sq(t._1)}'").mkString("[", ", ", "]")

  def topicDecodeSql(best: String): String =
    s"CASE WHEN $best < 100 THEN '${RefVocab.defaultTopic}' " +
      s"ELSE list_extract($topicNamesList, 100 - $best % 100) END"

  /** Shared CTE: documents with the cleaned and lowercased text. */
  private val docsCte =
    s"""WITH t0 AS (SELECT doc_id, text, ${cleanSql("text")} AS cl FROM documents),
       |t AS (SELECT doc_id, text, cl, lower(cl) AS lc FROM t0)""".stripMargin

  // ------------------------------------------------------------------

  val cleanText: String =
    s"""$docsCte
       |SELECT doc_id, cl AS clean, length(cl)::INT AS clean_chars FROM t""".stripMargin

  val templateClassify: String =
    s"""$docsCte
       |SELECT doc_id, ${templateCaseSql("lc")} AS template FROM t""".stripMargin

  val topicDetect: String =
    s"""$docsCte,
       |b AS (SELECT doc_id, ${topicEncodedSql("lc")} AS best FROM t)
       |SELECT doc_id, ${topicDecodeSql("best")} AS topic,
       |  (best // 100)::INT AS score FROM b""".stripMargin

  val safetyScreen: String = {
    val catCase = "CASE " + RefVocab.safetyCategories.map {
      case (name, _, pat) =>
        s"WHEN regexp_matches(text, '${sq(pat)}') THEN '$name'"
    }.mkString(" ") + " ELSE 'none' END"
    val sevCase = "CASE category " + RefVocab.safetyCategories.map {
      case (name, sev, _) => s"WHEN '$name' THEN '$sev'"
    }.mkString(" ") + " ELSE 'none' END"
    s"""WITH c AS (SELECT doc_id, $catCase AS category FROM documents)
       |SELECT doc_id, (category <> 'none') AS is_harmful, category,
       |  $sevCase AS severity FROM c""".stripMargin
  }

  val effectiveness: String =
    s"WITH ${effectivenessCtes("fx")} SELECT * FROM fx"

  /** The effectiveness pipeline as CTEs ending in `<out>(q_id, r_id,
    * response_length, length_quality, term_overlap, template,
    * template_adherence)` — shared by effectiveness and templateEffect.
    * (docsCte already opens WITH.)
    */
  private def effectivenessCtes(out: String): String =
    s"""${docsCte.stripPrefix("WITH ")},
       |p AS (SELECT q.doc_id AS q_id, r.doc_id AS r_id, q.lc AS ql, r.lc AS rl
       |      FROM t q JOIN t r ON r.doc_id = q.doc_id + 1 WHERE q.doc_id % 2 = 0),
       |tok AS (SELECT q_id, r_id, ql, rl,
       |  list_distinct(list_filter(string_split(ql, ' '), x -> x <> '')) AS qd,
       |  list_distinct(list_filter(string_split(rl, ' '), x -> x <> '')) AS rd,
       |  len(list_filter(string_split(rl, ' '), x -> x <> '')) AS rn FROM p),
       |m AS (SELECT q_id, r_id, ql, rl, rn,
       |  len(list_filter(qd, x -> list_contains(rd, x))) AS inter, len(qd) AS qn,
       |  ${templateCaseSql("ql")} AS template FROM tok),
       |$out AS (SELECT q_id, r_id, rn::INT AS response_length,
       |  CASE WHEN rn < 20 THEN 'too_short' WHEN rn > 500 THEN 'too_long'
       |       ELSE 'appropriate' END AS length_quality,
       |  floor((CASE WHEN qn > 0 THEN inter::DOUBLE / qn ELSE 0 END) * 10000 + 0.5) / 10000 AS term_overlap,
       |  template,
       |  CASE WHEN template = 'Question' AND strpos(rl, '?') > 0 THEN 'high'
       |       WHEN template = 'Empathy and Validation'
       |            AND regexp_matches(rl, '(understand|feel|valid)') THEN 'high'
       |       ELSE 'medium' END AS template_adherence
       |FROM m)""".stripMargin

  /** Mirror of TextOps.templateEffect: one bounded agg over the shared
    * effectiveness CTEs — exact DECIMAL(18,4) overlap accumulation,
    * 4dp floor-rounded ratios.
    */
  val templateEffect: String =
    s"""WITH ${effectivenessCtes("fx")}
       |SELECT template, count(*)::BIGINT AS n_pairs,
       |  floor(sum(CAST(term_overlap AS DECIMAL(18,4)))::DOUBLE / count(*)
       |        * 10000 + 0.5) / 10000 AS mean_overlap,
       |  sum(CASE WHEN template_adherence = 'high' THEN 1 ELSE 0 END)::BIGINT
       |    AS n_high,
       |  floor(sum(CASE WHEN template_adherence = 'high' THEN 1 ELSE 0 END)::DOUBLE
       |        / count(*) * 10000 + 0.5) / 10000 AS high_share,
       |  sum(CASE WHEN length_quality = 'appropriate' THEN 1 ELSE 0 END)::BIGINT
       |    AS n_appropriate,
       |  floor(sum(response_length)::DOUBLE / count(*) * 10000 + 0.5) / 10000
       |    AS mean_length
       |FROM fx GROUP BY template ORDER BY template""".stripMargin

  val trainingExamples: String =
    s"""$docsCte,
       |x AS (SELECT doc_id, text, cl, ${templateCaseSql("lc")} AS template,
       |      ${topicEncodedSql("lc")} AS best FROM t)
       |SELECT doc_id,
       |  'You are a therapeutic AI assistant skilled in ' || template ||
       |  '. Provide a compassionate and helpful response about ' ||
       |  ${topicDecodeSql("best")} || '.' AS instruction,
       |  substr(text, 1, 120) AS input, substr(cl, 1, 120) AS output
       |FROM x""".stripMargin

  /** Mirror of TextOps.lemmaTokens: same rule chain, generated from
    * RefVocab.lemmaRules as ends_with + substr (no regex dialect risk).
    */
  val lemmaTokens: String = {
    def lemmaCase(x: String): String =
      "CASE " + RefVocab.lemmaRules.map { case (suf, minLen, cut, app) =>
        val res =
          if (cut == 0) x
          else s"substr($x, 1, length($x) - $cut)" +
            (if (app.nonEmpty) s" || '${sq(app)}'" else "")
        s"WHEN ends_with($x, '${sq(suf)}') AND length($x) >= $minLen THEN $res"
      }.mkString(" ") + s" ELSE $x END"
    s"""$docsCte,
       |w AS (SELECT doc_id, list_filter(
       |  list_transform(string_split(lc, ' '),
       |    x -> regexp_replace(x, '^[.,?!''":-]+|[.,?!''":-]+$$', '', 'g')),
       |  x -> x <> '') AS ts FROM t),
       |l AS (SELECT doc_id, list_filter(
       |  list_transform(ts, x -> ${lemmaCase("x")}),
       |  x -> list_contains(${listLit(RefVocab.keepWords)}, x)
       |       OR NOT list_contains(${listLit(RefVocab.lemmaStopwords)}, x)) AS ls FROM w)
       |SELECT doc_id, array_to_string(ls, ' ') AS lemmas, len(ls)::INT AS n_kept
       |FROM l""".stripMargin
  }

  /** Mirror of TextOps.categoryInfo: one UNION ALL branch per rule plus
    * the Others default when no rule fires.
    */
  val categoryInfo: String = {
    val branches = RefVocab.categoryRules.map { case (name, kws, desc) =>
      s"SELECT doc_id, '${sq(name)}' AS category, '${sq(desc)}' AS description" +
        s" FROM t WHERE ${anyKwSql("lc", kws)}"
    }
    val anyMatch = RefVocab.categoryRules
      .map { case (_, kws, _) => anyKwSql("lc", kws) }
      .mkString("(", " OR ", ")")
    val (dn, dd) = RefVocab.defaultCategory
    s"""$docsCte
       |${branches.mkString("\nUNION ALL ")}
       |UNION ALL SELECT doc_id, '${sq(dn)}' AS category,
       |  '${sq(dd)}' AS description FROM t WHERE NOT $anyMatch""".stripMargin
  }

  /** Mirror of TextOps.responseClean: marker cut, artifact regexes,
    * sentence dedup keeping first occurrence (parallel unnest for the
    * sentence position), final whitespace collapse.
    */
  val responseClean: String = {
    val cut = RefVocab.responseMarkers.map { m =>
      val p = s"strpos(lower(text), '${sq(m.toLowerCase)}')"
      s"CASE WHEN $p > 0 THEN $p ELSE length(text) + 1 END"
    }.mkString("least(", ", ", ")")
    val arts = RefVocab.responseArtifacts.foldLeft("tr") {
      case (acc, (pat, rep)) =>
        s"regexp_replace($acc, '${sq(pat)}', '${sq(rep)}', 'g')"
    }
    s"""WITH r AS (SELECT doc_id, trim(substr(text, 1, $cut - 1)) AS tr
       |           FROM documents),
       |c AS (SELECT doc_id, $arts AS t FROM r),
       |mk AS (SELECT doc_id, string_split(
       |  regexp_replace(t, '([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)) AS ss
       |  FROM c),
       |sx AS (SELECT doc_id, trim(unnest(ss)) AS s,
       |  unnest(range(1, len(ss) + 1)) AS pos FROM mk),
       |g AS (SELECT doc_id, s, min(pos) AS p FROM sx WHERE s <> ''
       |      GROUP BY doc_id, s),
       |a AS (SELECT doc_id, string_agg(s, ' ' ORDER BY p) AS prelim,
       |      count(*)::INT AS n_sentences FROM g GROUP BY doc_id)
       |SELECT doc_id,
       |  trim(regexp_replace(regexp_replace(prelim, '\\s+', ' ', 'g'),
       |       '\\(\\s*\\)', '', 'g')) AS cleaned,
       |  n_sentences FROM a""".stripMargin
  }

  val conversationHistory: String =
    """SELECT user_id, rn, event_id, event_type,
      |  round(value, 2) AS value,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |                                   ORDER BY event_id DESC) AS rn
      |      FROM events)
      |WHERE rn <= 5""".stripMargin

  val topicInteractions: String =
    s"""WITH e AS (SELECT user_id, event_id,
       |  list_extract($topicNamesList,
       |    (CAST(json_extract_string(props, '$$.k') AS INT) % ${RefVocab.taxonomy.size}) + 1) AS topic
       |  FROM events)
       |SELECT user_id, rn, event_id, topic
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |                                   ORDER BY event_id DESC) AS rn
       |      FROM e WHERE topic = 'Anxiety')
       |WHERE rn <= 3""".stripMargin

  // ---- text analysis -------------------------------------------------

  private def listLit(xs: Seq[String]): String =
    xs.map(x => s"'${sq(x)}'").mkString("[", ", ", "]")

  val langId: String = {
    val scores = RefVocab.langStopwords.zipWithIndex.map {
      case ((_, stop), i) =>
        s"len(list_filter(dt, x -> list_contains(${listLit(stop)}, x))) * 100 + ${99 - i}"
    }
    val names = listLit(RefVocab.langStopwords.map(_._1))
    s"""WITH w AS (SELECT doc_id,
       |  list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS dt
       |  FROM documents),
       |b AS (SELECT doc_id, greatest(${scores.mkString(", ")}) AS best FROM w)
       |SELECT doc_id,
       |  CASE WHEN best < 100 THEN '${RefVocab.unknownLang}'
       |       ELSE list_extract($names, 100 - best % 100) END AS lang_pred,
       |  (best // 100)::INT AS score FROM b""".stripMargin
  }

  /** Mirror of TextAnalysis.langConfusion: the langId argmax chain with
    * the declared lang carried through, matrix counts, within-declared
    * rate normalization.
    */
  val langConfusion: String = {
    val scores = RefVocab.langStopwords.zipWithIndex.map {
      case ((_, stop), i) =>
        s"len(list_filter(dt, x -> list_contains(${listLit(stop)}, x))) * 100 + ${99 - i}"
    }
    val names = listLit(RefVocab.langStopwords.map(_._1))
    s"""WITH w AS (SELECT doc_id, lang,
       |  list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS dt
       |  FROM documents),
       |b AS (SELECT doc_id, lang,
       |        greatest(${scores.mkString(", ")}) AS best FROM w),
       |p AS (SELECT lang,
       |  CASE WHEN best < 100 THEN '${RefVocab.unknownLang}'
       |       ELSE list_extract($names, 100 - best % 100) END AS lang_pred
       |  FROM b),
       |c AS (SELECT lang, lang_pred, count(*)::BIGINT AS n
       |      FROM p GROUP BY lang, lang_pred)
       |SELECT lang, lang_pred, n,
       |  floor(n::DOUBLE / (sum(n) OVER (PARTITION BY lang))::DOUBLE
       |    * 1000000 + 0.5) / 1000000 AS rate
       |FROM c""".stripMargin
  }

  val qualityScore: String =
    s"""WITH w AS (SELECT doc_id, text,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |m AS (SELECT doc_id, len(t) AS n_words,
       |  list_sum(list_transform(t, x -> length(x))) AS char_sum,
       |  len(list_filter(t, x -> list_contains(${listLit(RefVocab.enStopwords)}, lower(x)))) AS stop_hits,
       |  length(text) AS n_chars,
       |  length(text) - length(regexp_replace(text, '[.,?!'':"-]', '', 'g')) AS punct
       |  FROM w)
       |SELECT doc_id, n_words::INT AS n_words,
       |  floor(char_sum::DOUBLE / n_words * 10000 + 0.5) / 10000 AS avg_word_len,
       |  floor(stop_hits::DOUBLE / n_words * 10000 + 0.5) / 10000 AS stopword_ratio,
       |  floor(punct::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS punct_ratio,
       |  floor((least(1.0, n_words / 100.0) * 0.4 + (stop_hits::DOUBLE / n_words) * 0.3
       |        + (1.0 - punct::DOUBLE / n_chars) * 0.3) * 10000 + 0.5) / 10000 AS score
       |FROM m""".stripMargin

  /** Mirror of TextAnalysis.toxicityScreen: lexicon-density score from
    * the shared RefVocab lexicon, the reference's <5-word short-circuit
    * and 0.7 threshold.
    */
  val toxicityScreen: String =
    s"""WITH w AS (SELECT doc_id,
       |  list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
       |  FROM documents),
       |h AS (SELECT doc_id, len(ws)::INT AS n_words,
       |  len(list_filter(ws, x -> list_contains(${listLit(RefVocab.toxicLexicon)}, x)))::INT AS toxic_hits
       |  FROM w),
       |s AS (SELECT doc_id, n_words, toxic_hits,
       |  CASE WHEN n_words >= ${RefVocab.toxicMinWords}
       |       THEN floor(least(CAST(1.0 AS DOUBLE), toxic_hits * 10.0 / n_words) * 10000 + 0.5) / 10000
       |       ELSE 0.0::DOUBLE END AS toxic_score
       |  FROM h)
       |SELECT doc_id, n_words, toxic_hits, toxic_score,
       |  (n_words >= ${RefVocab.toxicMinWords}
       |   AND toxic_score > ${RefVocab.toxicThreshold}) AS is_toxic
       |FROM s""".stripMargin

  val tokenCount: String =
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '), x -> x <> ''))::INT AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::INT AS re_tokens,
      |  ceil(length(text) / 4.0)::INT AS est_bpe
      |FROM documents""".stripMargin

  /** Mirror of TextAnalysis.piiScrub: same ordered patterns, counts on
    * the original text.
    */
  val piiScrub: String = {
    val scrubbed = RefVocab.piiRules.foldLeft("text") {
      case (acc, (_, pat, rep)) =>
        s"regexp_replace($acc, '${sq(pat)}', '${sq(rep)}', 'g')"
    }
    val counts = RefVocab.piiRules.map { case (name, pat, _) =>
      s"len(regexp_extract_all(text, '${sq(pat)}'))::INT AS n_${name}s"
    }
    s"""SELECT doc_id, $scrubbed AS scrubbed, ${counts.mkString(", ")}
       |FROM documents""".stripMargin
  }

  /** Mirror of TextAnalysis.repetitionScore: duplicate-line and
    * duplicate-2-gram fractions with the shared floor-at-half rounding.
    */
  val repetitionScore: String = {
    def dupFrac(arr: String) =
      s"CASE WHEN len($arr) > 0 THEN floor((1.0 - len(list_distinct($arr))::DOUBLE / len($arr)) * 10000 + 0.5) / 10000 ELSE 0.0::DOUBLE END"
    """WITH w AS (SELECT doc_id,
      |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
      |              l -> l <> '') AS ls,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |g AS (SELECT doc_id, ls,
      |  CASE WHEN len(ts) >= 2
      |    THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
      |    ELSE []::VARCHAR[] END AS g2 FROM w)
      |SELECT doc_id, len(ls)::INT AS n_lines, DUPLINE AS dup_line_frac,
      |  len(g2)::INT AS n_2grams, DUP2GRAM AS dup_2gram_frac
      |FROM g""".stripMargin
      .replace("DUPLINE", dupFrac("ls"))
      .replace("DUP2GRAM", dupFrac("g2"))
  }

  /** Shared CTE: the winnowed fingerprint rows of docFingerprint. */
  private val winnowCte =
    """WITH w AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(ws) >= 6
      |  THEN list_transform(range(1, len(ws) - 1),
      |    j -> substr(md5(ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2]), 1, 8))
      |  ELSE []::VARCHAR[] END AS hs FROM w),
      |f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
      |  THEN list_distinct(list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3])))
      |  ELSE []::VARCHAR[] END AS wins FROM s),
      |fps AS (SELECT doc_id, unnest(wins) AS fp FROM f)""".stripMargin

  val docFingerprint: String =
    winnowCte + "\nSELECT doc_id, fp FROM fps"

  /** Mirror of TextAnalysis.winnowOverlap: hot-fp filter, fp self-join,
    * pair counts, containment vs the smaller fingerprint set.
    */
  val winnowOverlap: String = {
    val cap = graft.operators.TextAnalysis.WinnowHotCap
    val minShared = graft.operators.TextAnalysis.WinnowMinShared
    winnowCte +
      s""",
         |keep AS (SELECT fp FROM fps GROUP BY fp
         |         HAVING count(*) BETWEEN 2 AND $cap),
         |sz AS (SELECT doc_id, count(*)::INT AS n FROM fps GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        count(*)::INT AS shared
         |      FROM fps a JOIN keep k ON a.fp = k.fp
         |      JOIN fps b ON b.fp = a.fp
         |      WHERE a.doc_id < b.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= $minShared)
         |SELECT doc_a, doc_b, shared, sa.n AS n_a, sb.n AS n_b,
         |  floor(shared::DOUBLE / least(sa.n, sb.n) * 10000 + 0.5) / 10000
         |    AS containment
         |FROM p JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b""".stripMargin
  }

  // ---- dedup family --------------------------------------------------

  /** Shared CTE: normalized tokens + distinct word-3-gram shingle sets. */
  private val shCte =
    """WITH n AS (SELECT doc_id, lang, source,
      |  list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |              x -> x <> '') AS ws FROM documents),
      |sh AS (SELECT doc_id, source,
      |  list_distinct(list_transform(range(1, len(ws) - 1),
      |    j -> ws[j] || ' ' || ws[j+1] || ' ' || ws[j+2])) AS s
      |  FROM n WHERE len(ws) >= 3)""".stripMargin

  private val jacSql =
    "floor(len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE" +
      " / len(list_distinct(sa.s || sb.s)) * 10000 + 0.5) / 10000"

  /** Exact-dup chain over an in-scope `n(doc_id, …, ws)` — ends in
    * `dxc(doc_id, text_hash, canonical)`. Consumed by dedupExact and
    * curateCorpus.
    */
  private val exactDupCtes: String =
    """dx AS (SELECT doc_id, md5(array_to_string(ws, ' ')) AS text_hash
      |       FROM n),
      |dxc AS (SELECT doc_id, text_hash,
      |          min(doc_id) OVER (PARTITION BY text_hash) AS canonical
      |        FROM dx)""".stripMargin

  val dedupExact: String =
    s"""$shCte,
      |$exactDupCtes
      |SELECT doc_id, text_hash, canonical, (doc_id <> canonical) AS is_dup
      |FROM dxc""".stripMargin

  /** MinHash pair CTE chain (appended after shCte): `j` holds verified
    * (id_a, id_b, jaccard) candidates — shared by dedupMinhash and
    * dedupClusters.
    */
  private val minhashJCtes: String = {
    val mins = (0 until 12)
      .map(j => s"min((v1 + $j*v2) % 2147483647) AS m$j").mkString(", ")
    val bandStrs = (0 until 4).map { b =>
      s"m${3 * b}::VARCHAR || '_' || m${3 * b + 1}::VARCHAR || '_' || m${3 * b + 2}::VARCHAR"
    }.mkString("[", ", ", "]")
    s"""ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |hv AS (SELECT doc_id,
       |  ('0x' || substr(md5(g), 1, 8))::BIGINT AS v1,
       |  ('0x' || substr(md5(g), 9, 8))::BIGINT AS v2 FROM ex),
       |mh AS (SELECT doc_id, $mins FROM hv GROUP BY doc_id),
       |bands AS (SELECT doc_id, b,
       |  substr(md5(list_extract($bandStrs, b + 1)), 1, 16) AS key
       |  FROM mh, range(0, 4) t(b)
       |  QUALIFY count(*) OVER (PARTITION BY b, key) <= 1000),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM bands a JOIN bands b2
       |    ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id),
       |j AS (SELECT id_a, id_b, $jacSql AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
       |            JOIN sh sb ON sb.doc_id = cand.id_b)""".stripMargin
  }

  /** Shared near-dup threshold (single-sourced from the engine constant —
    * see Dedup.JaccardThreshold).
    */
  private val jacThresh = graft.operators.Dedup.JaccardThreshold

  val dedupMinhash: String =
    s"""$shCte,
       |$minhashJCtes
       |SELECT * FROM j WHERE jaccard >= $jacThresh""".stripMargin

  /** Shared CTE chain ending in `labels(doc_id, cluster)` — the
    * connected components of the verified minhash pairs as a recursive
    * transitive closure (the oracle-sized formulation; the engine side
    * is log-round pointer jumping), singletons labeling themselves.
    * Consumed by dedupClusters and clusterStats.
    */
  private val clusterLabelCtes: String =
    s"""${shCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$minhashJCtes,
       |p AS (SELECT id_a, id_b FROM j WHERE jaccard >= $jacThresh),
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster
       |        FROM reach GROUP BY u),
       |labels AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
       |           FROM documents d LEFT JOIN lbl l USING (doc_id))""".stripMargin

  /** Mirror of Dedup.dedupClusters (see [[clusterLabelCtes]]). */
  val dedupClusters: String =
    s"""$clusterLabelCtes
       |SELECT doc_id, cluster FROM labels""".stripMargin

  /** Mirror of Dedup.dedupKeepBest: the same component labels joined
    * with the 4dp quality composite (unique qw/qm/qs names), per-
    * cluster argmax via row_number (score DESC, doc_id).
    */
  val dedupKeepBest: String =
    s"""$clusterLabelCtes,
       |qw AS (SELECT doc_id, text,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |qm AS (SELECT doc_id, len(t) AS n_words,
       |  len(list_filter(t, x -> list_contains(${listLit(RefVocab.enStopwords)}, lower(x)))) AS stop_hits,
       |  length(text) AS n_chars,
       |  length(text) - length(regexp_replace(text, '[.,?!'':"-]', '', 'g')) AS punct
       |  FROM qw),
       |qs AS (SELECT doc_id,
       |  floor((least(1.0, n_words / 100.0) * 0.4 + (stop_hits::DOUBLE / n_words) * 0.3
       |        + (1.0 - punct::DOUBLE / n_chars) * 0.3) * 10000 + 0.5) / 10000 AS score
       |  FROM qm)
       |SELECT l.doc_id, l.cluster, q.score,
       |  (row_number() OVER (PARTITION BY l.cluster
       |                      ORDER BY q.score DESC, l.doc_id) = 1) AS keep
       |FROM labels l JOIN qs q ON q.doc_id = l.doc_id
       |ORDER BY l.doc_id""".stripMargin

  /** Mirror of Dedup.dupTokens: same component labels × normToks token
    * counts, per-cluster exact sums and floor-div excess, bucket agg
    * with the 1-row corpus total.
    */
  val dupTokens: String =
    s"""$clusterLabelCtes,
       |dtk AS (SELECT doc_id,
       |  len(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |      x -> x <> ''))::BIGINT AS nt FROM documents),
       |dcl AS (SELECT l.cluster, count(*)::BIGINT AS sz,
       |         sum(t.nt)::BIGINT AS tok_sum
       |       FROM labels l JOIN dtk t USING (doc_id) GROUP BY l.cluster),
       |dex AS (SELECT cluster, sz, tok_sum,
       |         (tok_sum - tok_sum // sz)::BIGINT AS excess FROM dcl),
       |dtot AS (SELECT sum(tok_sum)::BIGINT AS corpus_tokens FROM dcl)
       |SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
       |  sum(tok_sum)::BIGINT AS n_tokens,
       |  floor(sum(tok_sum)::DOUBLE / dtot.corpus_tokens * 1000000 + 0.5)
       |    / 1000000 AS token_share,
       |  sum(excess)::BIGINT AS excess_tokens
       |FROM dex, dtot GROUP BY sz, dtot.corpus_tokens
       |ORDER BY cluster_size""".stripMargin

  /** Mirror of Dedup.clusterStats: the cluster-size histogram over the
    * same component labels.
    */
  val clusterStats: String =
    s"""$clusterLabelCtes,
       |cs AS (SELECT cluster, count(*) AS cluster_size FROM labels
       |       GROUP BY cluster)
       |SELECT cluster_size::INT AS cluster_size, count(*) AS n_clusters,
       |  (cluster_size * count(*))::BIGINT AS n_docs
       |FROM cs GROUP BY cluster_size""".stripMargin

  /** Mirror of Dedup.sourceOverlap: verified pairs joined to their
    * sources, grouped on the unordered source pair; mean jaccard via
    * exact integer accumulation of the 4dp pair values.
    */
  val sourceOverlap: String =
    s"""$shCte,
       |$minhashJCtes,
       |v AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $jacThresh),
       |s AS (SELECT least(da.source, db.source) AS src_lo,
       |        greatest(da.source, db.source) AS src_hi,
       |        CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS j4
       |      FROM v JOIN documents da ON da.doc_id = v.id_a
       |             JOIN documents db ON db.doc_id = v.id_b)
       |SELECT src_lo, src_hi, count(*) AS n_pairs,
       |  floor(sum(j4)::DOUBLE / count(*) + 0.5) / 10000 AS avg_jaccard
       |FROM s GROUP BY src_lo, src_hi""".stripMargin

  val dedupSimhash: String = {
    val bitTerms = (0 until 64).map { i =>
      val pos = i / 4 + 1
      val shift = 3 - i % 4
      s"(CASE WHEN list_sum(list_transform(hs, h -> " +
        s"(((strpos('0123456789abcdef', h[$pos]) - 1) >> $shift) & 1) * 2 - 1)) >= 0 " +
        s"THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""$shCte,
       |hsrc AS (SELECT doc_id, list_transform(s, x -> md5(x)) AS hs FROM sh),
       |sg AS (SELECT doc_id, $bitTerms AS sig FROM hsrc),
       |bands AS (SELECT doc_id, b, substr(sig, 1 + 16*b, 16) AS key
       |  FROM sg, range(0, 4) t(b)
       |  QUALIFY count(*) OVER (PARTITION BY b, key) <= 1000),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM bands a JOIN bands b2
       |    ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id),
       |h AS (SELECT id_a, id_b,
       |  len(list_filter(range(1, 65), i -> ga.sig[i] <> gb.sig[i]))::INT AS hamming
       |  FROM cand JOIN sg ga ON ga.doc_id = cand.id_a
       |            JOIN sg gb ON gb.doc_id = cand.id_b)
       |SELECT * FROM h WHERE hamming <= 8""".stripMargin
  }

  /** Mirror of Dedup.dedupSubstring: 8-token window hashes with
    * positions (struct unnest — DuckDB range() can't take lateral
    * column args), cross-doc duplicated hashes, gaps-and-islands span
    * merge. Integer arithmetic end-to-end.
    */
  val dedupSubstring: String = {
    import graft.operators.Dedup.{SubGramN, SubMinGrams}
    val g1 = SubGramN - 1 // 7: slice end offset and span-length pad
    s"""WITH n AS (SELECT doc_id,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |g AS (SELECT doc_id,
       |  unnest(list_transform(range(1, greatest(len(ws) - ${g1 - 1}, 1)),
       |    j -> {'pos': j - 1, 'h': md5(array_to_string(ws[j:j+$g1], ' '))})) AS u
       |  FROM n),
       |gp AS (SELECT doc_id, u.pos::INT AS pos, u.h AS h FROM g),
       |dup AS (SELECT h FROM (SELECT h, doc_id FROM gp GROUP BY h, doc_id)
       |        GROUP BY h HAVING count(*) >= 2),
       |dp AS (SELECT gp.doc_id, gp.pos,
       |         row_number() OVER (PARTITION BY gp.doc_id ORDER BY gp.pos) AS rn
       |       FROM gp JOIN dup USING (h))
       |SELECT doc_id, min(pos)::INT AS span_start,
       |  (count(*) + $g1)::INT AS span_tokens, count(*)::INT AS n_grams
       |FROM dp GROUP BY doc_id, pos - rn HAVING count(*) >= $SubMinGrams""".stripMargin
  }

  /** Mirror of Dedup.spanHotspots: the same window-hash frame as
    * dedupSubstring, one multi-distinct aggregate, top-k by
    * (n_docs, n_occ, h).
    */
  val spanHotspots: String = {
    import graft.operators.Dedup.{HotSpanTopK, SubGramN}
    val g1 = SubGramN - 1
    s"""WITH n AS (SELECT doc_id,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |g AS (SELECT doc_id,
       |  unnest(list_transform(range(1, greatest(len(ws) - ${g1 - 1}, 1)),
       |    j -> md5(array_to_string(ws[j:j+$g1], ' ')))) AS h
       |  FROM n),
       |a AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |        count(*)::BIGINT AS n_occ
       |      FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
       |SELECT h, n_docs, n_occ, rank::INT AS rank FROM (
       |  SELECT h, n_docs, n_occ,
       |    row_number() OVER (ORDER BY n_docs DESC, n_occ DESC, h) AS rank
       |  FROM a) WHERE rank <= $HotSpanTopK
       |ORDER BY rank""".stripMargin
  }

  val dedupNgram: String =
    s"""$shCte
       |SELECT source, id_a, id_b, jaccard FROM (
       |  SELECT sa.source AS source, sa.doc_id AS id_a, sb.doc_id AS id_b,
       |    $jacSql AS jaccard
       |  FROM sh sa JOIN sh sb
       |    ON sa.source = sb.source AND sa.doc_id < sb.doc_id)
       |WHERE jaccard > 0""".stripMargin

  // ---- lexical retrieval (graft.operators.Retrieval constants) --------

  /** Shared CTE: one row per token occurrence (the postings source),
    * same normalization as the Spark tokenRows.
    */
  private val tokCte =
    """WITH n AS (SELECT doc_id,
      |  list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |              x -> x <> '') AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM n)""".stripMargin

  /** BM25 CTE chain through the per-(query, doc) score `agg` — shared by
    * bm25Topk and hybridRetrieve. Identical arithmetic order to the Spark
    * plan everywhere; per-term parts round to 6dp and accumulate in
    * DECIMAL. All explicit ::DOUBLE casts — a bare `df + 0.5` would be
    * DECIMAL arithmetic in DuckDB and double in Spark.
    */
  private def bm25CtesCap(cap: Long): String = {
    import graft.operators.Retrieval.{BmB, BmK1, BmK1Plus1, QueryMod}
    val isQ = s"((doc_id % $QueryMod) + $QueryMod) % $QueryMod = 0"
    s"""$tokCte,
       |ctf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |        WHERE NOT ($isQ) GROUP BY doc_id, term),
       |dlen AS (SELECT doc_id, count(*) AS dl FROM tok
       |         WHERE NOT ($isQ) GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs,
       |                 sum(dl)::DOUBLE / count(*) AS avgdl FROM dlen),
       |qt AS (SELECT DISTINCT doc_id AS q_id, term FROM tok WHERE $isQ),
       |dft AS (SELECT term, count(*) AS df FROM ctf GROUP BY term),
       |idf AS (SELECT term,
       |  floor(ln(1.0 + (s.n_docs::DOUBLE - df + 0.5) / (df::DOUBLE + 0.5))
       |        * 1000000 + 0.5) / 1000000 AS idf
       |  FROM dft, stats s),
       |qte AS (SELECT q_id, term, idf FROM (
       |  SELECT q.q_id, q.term, i.idf,
       |    row_number() OVER (PARTITION BY q.q_id
       |                       ORDER BY i.idf DESC, q.term) AS qr
       |  FROM qt q JOIN idf i ON i.term = q.term)
       |  WHERE qr <= ${graft.operators.Retrieval.BmMaxQueryTerms}),
       |cimp AS (SELECT doc_id, term, tf, dl FROM (
       |  SELECT c.doc_id, c.term, c.tf, d.dl,
       |    row_number() OVER (PARTITION BY c.term
       |      ORDER BY (c.tf::DOUBLE * $BmK1Plus1) /
       |        (c.tf::DOUBLE + $BmK1 * (1.0 - $BmB + $BmB * (d.dl::DOUBLE / s.avgdl))) DESC,
       |        c.doc_id) AS ir
       |  FROM ctf c JOIN dlen d USING (doc_id), stats s)
       |  WHERE ir <= $cap),
       |sc AS (SELECT q.q_id, c.doc_id,
       |  CAST(floor(q.idf * ((c.tf::DOUBLE * $BmK1Plus1) /
       |    (c.tf::DOUBLE + $BmK1 * (1.0 - $BmB + $BmB * (c.dl::DOUBLE / s.avgdl))))
       |    * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM cimp c JOIN qte q ON q.term = c.term, stats s),
       |agg AS (SELECT q_id, doc_id, sum(part) AS score FROM sc
       |        GROUP BY q_id, doc_id)""".stripMargin
  }

  private val bm25Ctes: String =
    bm25CtesCap(graft.operators.Retrieval.BmImpactCap)

  private def bm25TopkCap(cap: Long): String = {
    import graft.operators.Retrieval.BmTopK
    s"""${bm25CtesCap(cap)}
       |SELECT q_id, doc_id, score::DOUBLE AS score, rank::INT AS rank
       |FROM (SELECT q_id, doc_id, score,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY score DESC, doc_id) AS rank
       |      FROM agg) WHERE rank <= $BmTopK""".stripMargin
  }

  val bm25Topk: String =
    bm25TopkCap(graft.operators.Retrieval.BmImpactCap)

  /** QL-specific CTEs of the query-likelihood mirror — consume `tok`,
    * `ctf` and `dlen` from [[bm25CtesCap]] (the two rankers share the
    * postings scaffolding, exactly as the Spark plans do). Emits `qlr`:
    * the depth-unbounded (q_id, doc_id, score DECIMAL, rank) ranking.
    */
  private def qlCtes(cap: Long): String = {
    import graft.operators.Retrieval.{QlMaxQueryTerms, QlMu, QueryMod}
    val isQ = s"((doc_id % $QueryMod) + $QueryMod) % $QueryMod = 0"
    s"""qlcoll AS (SELECT term, sum(tf)::BIGINT AS ctf FROM ctf
       |           GROUP BY term),
       |qlstat AS (SELECT sum(dl)::BIGINT AS total_len FROM dlen),
       |qlqte AS (SELECT q_id, term, ctf FROM (
       |  SELECT q.doc_id AS q_id, q.term, c.ctf,
       |    row_number() OVER (PARTITION BY q.doc_id
       |                       ORDER BY c.ctf ASC, q.term) AS qr
       |  FROM (SELECT DISTINCT doc_id, term FROM tok WHERE $isQ) q
       |  JOIN qlcoll c ON c.term = q.term)
       |  WHERE qr <= $QlMaxQueryTerms),
       |qlqlen AS (SELECT q_id, count(*)::BIGINT AS qlen FROM qlqte
       |           GROUP BY q_id),
       |qlcimp AS (SELECT doc_id, term, tf, dl FROM (
       |  SELECT c.doc_id, c.term, c.tf, d.dl,
       |    row_number() OVER (PARTITION BY c.term
       |                       ORDER BY c.tf DESC, c.doc_id) AS ir
       |  FROM ctf c JOIN dlen d USING (doc_id))
       |  WHERE ir <= $cap),
       |qlsc AS (SELECT q.q_id, c.doc_id, c.dl,
       |  CAST(floor(ln(1.0::DOUBLE + (c.tf::DOUBLE * s.total_len::DOUBLE)
       |      / (${QlMu}::DOUBLE * q.ctf::DOUBLE)) * 1000000 + 0.5)
       |    / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM qlcimp c JOIN qlqte q ON q.term = c.term, qlstat s),
       |qlagg AS (SELECT q_id, doc_id, sum(part) AS psum, max(dl) AS dl
       |          FROM qlsc GROUP BY q_id, doc_id),
       |qlr AS (SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY score DESC, doc_id) AS rank
       |  FROM (SELECT a.q_id, a.doc_id,
       |      a.psum + CAST(floor(ln(${QlMu}::DOUBLE
       |          / (a.dl::DOUBLE + ${QlMu}::DOUBLE)) * 1000000 + 0.5)
       |        / 1000000 AS DECIMAL(18,6)) * l.qlen AS score
       |    FROM qlagg a JOIN qlqlen l USING (q_id)))""".stripMargin
  }

  /** Mirror of Retrieval.qlTopk. Rides on the bm25 CTE chain for
    * tok/ctf/dlen (the unreferenced bm25-only CTEs are never evaluated
    * — none are MATERIALIZED here).
    */
  val qlTopk: String = {
    import graft.operators.Retrieval.{QlImpactCap, QlTopK}
    s"""${bm25CtesCap(graft.operators.Retrieval.BmImpactCap)},
       |${qlCtes(QlImpactCap)}
       |SELECT q_id, doc_id, score::DOUBLE AS score, rank::INT AS rank
       |FROM qlr WHERE rank <= $QlTopK""".stripMargin
  }

  /** Mirror of Retrieval.hybridRetrieve: RRF over the BM25 `agg` ranking
    * and the brute-force cosine ranking — only integer ranks cross the
    * fusion boundary, and 1/(K+rank) is one exact double division.
    */
  /** Mirror of Retrieval.ndcgEval: the same bm25/dense/hybrid chains,
    * graded truth from the dense top-k, 6dp decimal discount weights.
    */
  val ndcgEval: String = {
    import graft.operators.Retrieval.{BmTopK, HybridTopK, NdcgK, QueryMod, RrfK}
    val isVq = s"((vec_id % $QueryMod) + $QueryMod) % $QueryMod = 0"
    s"""$bm25Ctes,
       |${qlCtes(graft.operators.Retrieval.QlImpactCap)},
       |lex AS (SELECT q_id, doc_id, rank AS pos
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY score DESC, doc_id) AS rank
       |        FROM agg) WHERE rank <= $BmTopK),
       |qla AS (SELECT q_id, doc_id, rank AS pos FROM qlr
       |        WHERE rank <= ${graft.operators.Retrieval.QlTopK}),
       |vq AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE $isVq),
       |vsc AS (SELECT q.q_id, e.vec_id AS doc_id,
       |  list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s
       |  FROM embeddings e, vq q WHERE NOT ($isVq)),
       |ex AS (SELECT q_id, doc_id, rnk AS pos
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY s DESC, doc_id) AS rnk
       |        FROM vsc) WHERE rnk <= $NdcgK),
       |rel AS (SELECT q_id, doc_id, (${NdcgK + 1} - pos) AS rel FROM ex),
       |f AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
       |        coalesce(l.doc_id, v.doc_id) AS doc_id,
       |        floor((coalesce(1.0::DOUBLE / ($RrfK + l.pos), 0.0)
       |             + coalesce(1.0::DOUBLE / ($RrfK + v.pos), 0.0))
       |              * 1000000 + 0.5) / 1000000 AS rrf
       |      FROM lex l FULL OUTER JOIN ex v
       |        ON l.q_id = v.q_id AND l.doc_id = v.doc_id),
       |hyb AS (SELECT q_id, doc_id, rank AS pos
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY rrf DESC, doc_id) AS rank
       |        FROM f) WHERE rank <= $HybridTopK),
       |arms AS (
       |  SELECT 'dense_exact' AS arm, q_id, doc_id, pos FROM ex
       |  UNION ALL SELECT 'bm25', q_id, doc_id, pos FROM lex
       |  UNION ALL SELECT 'hybrid', q_id, doc_id, pos FROM hyb
       |  UNION ALL SELECT 'ql', q_id, doc_id, pos FROM qla),
       |tm AS (SELECT a.arm, a.q_id,
       |  coalesce(r.rel, 0) *
       |    CAST(floor(1.0 / log2(a.pos + 1) * 1000000 + 0.5) / 1000000
       |         AS DECIMAL(18,6)) AS t
       |  FROM arms a LEFT JOIN rel r
       |    ON r.q_id = a.q_id AND r.doc_id = a.doc_id
       |  WHERE a.pos <= $NdcgK),
       |d AS (SELECT arm, q_id, sum(t) AS dcgs FROM tm GROUP BY 1, 2),
       |i AS (SELECT q_id, dcgs AS ideal FROM d WHERE arm = 'dense_exact')
       |SELECT arm, q_id,
       |  floor(dcgs::DOUBLE * 1000000 + 0.5) / 1000000 AS dcg,
       |  floor(dcgs::DOUBLE / ideal::DOUBLE * 1000000 + 0.5) / 1000000
       |    AS ndcg
       |FROM d JOIN i USING (q_id) ORDER BY arm, q_id""".stripMargin
  }

  /** Mirror of Similarity.dimVariance: ordinal unnest of the stored
    * vectors, 1e-7 integer units, DECIMAL(38,0) moments, verbatim
    * division order.
    */
  val dimVariance: String =
    """WITH x AS (SELECT u.d AS dim,
      |    floor(u.v::DOUBLE * 10000000 + 0.5)::BIGINT AS vu
      |  FROM (SELECT unnest(list_transform(range(1, len(embedding) + 1),
      |          j -> {'d': j - 1, 'v': embedding[j]})) AS u
      |        FROM embeddings)),
      |g AS (SELECT dim, count(*)::BIGINT AS n,
      |        sum(vu::DECIMAL(38,0)) AS sv,
      |        sum((vu * vu)::DECIMAL(38,0)) AS svv,
      |        min(vu) AS mn, max(vu) AS mx
      |      FROM x GROUP BY dim)
      |SELECT dim,
      |  floor(sv::DOUBLE / 10000000 / n * 1000000 + 0.5) / 1000000
      |    AS mean,
      |  floor((n::DECIMAL(38,0) * svv - sv * sv)::DOUBLE / n::DOUBLE / n
      |        / 100000000000000 * 1000000 + 0.5) / 1000000 AS variance,
      |  mn::DOUBLE / 10000000 AS min_v,
      |  mx::DOUBLE / 10000000 AS max_v
      |FROM g ORDER BY dim""".stripMargin

  /** Mirror of Retrieval.fusionSweep: the ndcgEval lex/ex/rel CTEs
    * with raw scores, per-query min-max norms (6dp, all-equal guard),
    * one interpolated arm per alpha (rank cutoff NdcgK), identical
    * 6dp DECIMAL discount weights, per-alpha exact-DECIMAL ndcg means.
    */
  lazy val fusionSweep: String = {
    import graft.operators.Retrieval.{BmTopK, FusionAlphas, NdcgK, QueryMod}
    val isVq = s"((vec_id % $QueryMod) + $QueryMod) % $QueryMod = 0"
    val disc =
      s"""CAST(floor(1.0 / log2(a.pos + 1) * 1000000 + 0.5) / 1000000
         |         AS DECIMAL(18,6))""".stripMargin
    def mm(src: String, out: String) =
      s"""SELECT q_id, doc_id, pos,
         |  CASE WHEN mx > mn
         |       THEN floor((s - mn) / (mx - mn) * 1000000 + 0.5) / 1000000
         |       ELSE 1.0::DOUBLE END AS $out
         |FROM (SELECT q_id, doc_id, pos, s,
         |        min(s) OVER (PARTITION BY q_id) AS mn,
         |        max(s) OVER (PARTITION BY q_id) AS mx
         |      FROM $src)""".stripMargin
    val perA = FusionAlphas.zipWithIndex.map { case (a, ix) =>
      val b = 1 - a
      s"""f$ix AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
         |        coalesce(l.doc_id, v.doc_id) AS doc_id,
         |        floor(($a::DOUBLE * coalesce(l.ln, 0.0)
         |             + $b::DOUBLE * coalesce(v.vn, 0.0))
         |              * 1000000 + 0.5) / 1000000 AS blend
         |      FROM lexn l FULL OUTER JOIN exn v
         |        ON l.q_id = v.q_id AND l.doc_id = v.doc_id),
         |h$ix AS (SELECT q_id, doc_id,
         |          row_number() OVER (PARTITION BY q_id
         |                             ORDER BY blend DESC, doc_id) AS pos
         |        FROM f$ix),
         |t$ix AS (SELECT a.q_id, coalesce(r.rel, 0) * $disc AS t
         |  FROM h$ix a LEFT JOIN rel r
         |    ON r.q_id = a.q_id AND r.doc_id = a.doc_id
         |  WHERE a.pos <= $NdcgK),
         |d$ix AS (SELECT q_id, sum(t) AS dcgs FROM t$ix GROUP BY 1),
         |n$ix AS (SELECT CAST(floor(d.dcgs::DOUBLE / i.ideal::DOUBLE
         |          * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS ndcg
         |        FROM d$ix d JOIN i ON i.q_id = d.q_id)""".stripMargin
    }
    val rows = FusionAlphas.zipWithIndex.map { case (a, ix) =>
      s"""SELECT $a::DOUBLE AS alpha, count(*)::BIGINT AS n_queries,
         |  floor(sum(ndcg)::DOUBLE / count(*) * 1000000 + 0.5) / 1000000
         |    AS mean_ndcg
         |FROM n$ix""".stripMargin
    }
    s"""$bm25Ctes,
       |lexr AS (SELECT q_id, doc_id, score AS s, rank AS pos
       |  FROM (SELECT q_id, doc_id, score,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY score DESC, doc_id) AS rank
       |        FROM agg) WHERE rank <= $BmTopK),
       |lexn AS (${mm("lexr", "ln")}),
       |vq AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE $isVq),
       |vsc AS (SELECT q.q_id, e.vec_id AS doc_id,
       |  list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s
       |  FROM embeddings e, vq q WHERE NOT ($isVq)),
       |ex AS (SELECT q_id, doc_id, s, rnk AS pos
       |  FROM (SELECT q_id, doc_id, s,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY s DESC, doc_id) AS rnk
       |        FROM vsc) WHERE rnk <= $NdcgK),
       |exn AS (${mm("ex", "vn")}),
       |rel AS (SELECT q_id, doc_id, (${NdcgK + 1} - pos) AS rel FROM ex),
       |ti AS (SELECT a.q_id, coalesce(r.rel, 0) * $disc AS t
       |  FROM ex a LEFT JOIN rel r
       |    ON r.q_id = a.q_id AND r.doc_id = a.doc_id
       |  WHERE a.pos <= $NdcgK),
       |i AS (SELECT q_id, sum(t) AS ideal FROM ti GROUP BY 1),
       |${perA.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY alpha""".stripMargin
  }

  val hybridRetrieve: String = {
    import graft.operators.Retrieval.{BmTopK, HybridTopK, QueryMod, RrfK}
    val isVq = s"((vec_id % $QueryMod) + $QueryMod) % $QueryMod = 0"
    s"""$bm25Ctes,
       |lex AS (SELECT q_id, doc_id, rank AS lrank
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY score DESC, doc_id) AS rank
       |        FROM agg) WHERE rank <= $BmTopK),
       |vq AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE $isVq),
       |vsc AS (SELECT q.q_id, e.vec_id AS doc_id,
       |  list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s
       |  FROM embeddings e, vq q WHERE NOT ($isVq)),
       |vr AS (SELECT q_id, doc_id, rnk AS vrank
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY s DESC, doc_id) AS rnk
       |        FROM vsc) WHERE rnk <= $BmTopK),
       |f AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
       |        coalesce(l.doc_id, v.doc_id) AS doc_id,
       |        floor((coalesce(1.0::DOUBLE / ($RrfK + l.lrank), 0.0)
       |             + coalesce(1.0::DOUBLE / ($RrfK + v.vrank), 0.0))
       |              * 1000000 + 0.5) / 1000000 AS rrf
       |      FROM lex l FULL OUTER JOIN vr v
       |        ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
       |SELECT q_id, doc_id, rrf, rank::INT AS rank
       |FROM (SELECT q_id, doc_id, rrf,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY rrf DESC, doc_id) AS rank
       |      FROM f) WHERE rank <= $HybridTopK""".stripMargin
  }

  /** Mirror of Retrieval.irMetrics: the hybridRetrieve CTE chain
    * supplies lex/vr/hybrid; prfExpand embeds as a subquery; binary
    * relevance = vr membership; per-arm per-query first-hit aggs with
    * 6dp DECIMAL reciprocal ranks.
    */
  lazy val irMetrics: String = {
    import graft.operators.Retrieval.{BmTopK, HybridTopK, NdcgK, QueryMod,
      RrfK}
    val isVq = s"((vec_id % $QueryMod) + $QueryMod) % $QueryMod = 0"
    def armAgg(name: String, rel: String) =
      s"""SELECT '$name' AS arm, nq.nq AS n_queries,
         |  floor(coalesce(rrsum, 0)::DOUBLE / nq.nq * 1000000 + 0.5)
         |    / 1000000 AS mrr,
         |  floor(hits::DOUBLE / (nq.nq * $NdcgK) * 10000 + 0.5) / 10000
         |    AS recall,
         |  floor(p1s::DOUBLE / nq.nq * 10000 + 0.5) / 10000 AS p_at_1
         |FROM (SELECT
         |    sum(CAST(floor(1.0::DOUBLE / frp * 1000000 + 0.5) / 1000000
         |        AS DECIMAL(18,6))) AS rrsum,
         |    sum(hits)::BIGINT AS hits, sum(p1)::BIGINT AS p1s
         |  FROM (SELECT a.q_id,
         |      min(CASE WHEN r.doc_id IS NOT NULL THEN a.pos END) AS frp,
         |      sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |        AS hits,
         |      sum(CASE WHEN a.pos = 1 AND r.doc_id IS NOT NULL
         |          THEN 1 ELSE 0 END) AS p1
         |    FROM $rel a LEFT JOIN relr r
         |      ON r.q_id = a.q_id AND r.doc_id = a.doc_id
         |    GROUP BY a.q_id)), nq""".stripMargin
    s"""$bm25Ctes,
       |${qlCtes(graft.operators.Retrieval.QlImpactCap)},
       |qla AS (SELECT q_id, doc_id, rank AS pos FROM qlr
       |        WHERE rank <= ${graft.operators.Retrieval.QlTopK}),
       |lex AS MATERIALIZED (SELECT q_id, doc_id, rank AS pos
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY score DESC, doc_id) AS rank
       |        FROM agg) WHERE rank <= $BmTopK),
       |vq AS (SELECT vec_id AS q_id, embedding FROM embeddings
       |       WHERE $isVq),
       |vsc AS (SELECT q.q_id, e.vec_id AS doc_id,
       |  list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s
       |  FROM embeddings e, vq q WHERE NOT ($isVq)),
       |vr AS MATERIALIZED (SELECT q_id, doc_id, rnk AS pos
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY s DESC, doc_id) AS rnk
       |        FROM vsc) WHERE rnk <= $BmTopK),
       |relr AS MATERIALIZED (SELECT q_id, doc_id FROM vr),
       |hf AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
       |        coalesce(l.doc_id, v.doc_id) AS doc_id,
       |        floor((coalesce(1.0::DOUBLE / ($RrfK + l.pos), 0.0)
       |             + coalesce(1.0::DOUBLE / ($RrfK + v.pos), 0.0))
       |              * 1000000 + 0.5) / 1000000 AS rrf
       |      FROM lex l FULL OUTER JOIN vr v
       |        ON l.q_id = v.q_id AND l.doc_id = v.doc_id),
       |hy AS (SELECT q_id, doc_id, rank AS pos
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY rrf DESC, doc_id) AS rank
       |        FROM hf) WHERE rank <= $HybridTopK),
       |pr AS (SELECT q_id, doc_id, rank AS pos FROM ($prfExpand)),
       |nq AS (SELECT count(*)::BIGINT AS nq FROM vq)
       |${armAgg("bm25", "lex")}
       |UNION ALL
       |${armAgg("dense_exact", "vr")}
       |UNION ALL
       |${armAgg("hybrid", "hy")}
       |UNION ALL
       |${armAgg("prf", "pr")}
       |UNION ALL
       |${armAgg("ql", "qla")}
       |ORDER BY arm""".stripMargin
  }

  /** Mirror of Retrieval.sparseKnn: the tfidfVectors chain to pruned
    * 1e-4-unit vectors, exact integer dot/norms, mirrored division,
    * per-query top-k.
    */
  private def sparseKnnCap(cap: Long): String = {
    import graft.operators.Retrieval.{QueryMod, SparseK, TfidfTopTerms}
    val isQ = s"((doc_id % $QueryMod) + $QueryMod) % $QueryMod = 0"
    s"""$tokCte,
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       GROUP BY doc_id, term),
       |stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |idf AS (SELECT term,
       |  floor((ln((s.n_docs::DOUBLE + 1.0) / (df::DOUBLE + 1.0)) + 1.0)
       |        * 1000000 + 0.5) / 1000000 AS idf
       |  FROM dft, stats s),
       |x AS (SELECT t.doc_id, t.term, t.tf,
       |        floor(t.tf::DOUBLE * i.idf * 10000 + 0.5) / 10000 AS tfidf
       |      FROM tf t JOIN idf i ON i.term = t.term),
       |v AS MATERIALIZED (SELECT doc_id, term,
       |    floor(tfidf * 10000 + 0.5)::BIGINT AS u
       |  FROM (SELECT doc_id, term, tfidf,
       |          row_number() OVER (PARTITION BY doc_id
       |                             ORDER BY tfidf DESC, term) AS rank
       |        FROM x) WHERE rank <= $TfidfTopTerms),
       |nn2 AS MATERIALIZED (SELECT doc_id, sum(u * u)::BIGINT AS n2
       |       FROM v GROUP BY doc_id),
       |dcap AS (SELECT doc_id, term, u FROM (
       |    SELECT doc_id, term, u,
       |      row_number() OVER (PARTITION BY term
       |                         ORDER BY u DESC, doc_id) AS ir
       |    FROM v WHERE NOT ($isQ)) WHERE ir <= $cap),
       |pd AS (SELECT q.doc_id AS q_id, d.doc_id, sum(q.u * d.u)::BIGINT
       |         AS dotu
       |       FROM v q JOIN dcap d ON d.term = q.term
       |       WHERE ${isQ.replace("doc_id", "q.doc_id")}
       |       GROUP BY 1, 2),
       |sc AS (SELECT p.q_id, p.doc_id,
       |    p.dotu::DOUBLE / sqrt(qn.n2::DOUBLE) / sqrt(dn.n2::DOUBLE)
       |      AS cos
       |  FROM pd p JOIN nn2 qn ON qn.doc_id = p.q_id
       |            JOIN nn2 dn ON dn.doc_id = p.doc_id)
       |SELECT q_id, doc_id, rank::INT AS rank,
       |  floor(cos * 1000000 + 0.5) / 1000000 AS cos
       |FROM (SELECT q_id, doc_id, cos,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY cos DESC, doc_id) AS rank
       |      FROM sc) WHERE rank <= $SparseK
       |ORDER BY q_id, rank""".stripMargin
  }

  val sparseKnn: String =
    sparseKnnCap(graft.operators.Retrieval.SparseImpactCap)

  /** Mirror of Retrieval.impactRecall: the capped (gated default) and
    * uncapped bm25/sparse rankings as embedded subqueries (the annRecall
    * embedding shape), per-query truth left-join, exact integer
    * micro-average per arm.
    */
  lazy val impactRecall: String = {
    val unc = Int.MaxValue.toLong
    def armAgg(name: String, u: String, c: String) =
      s"""SELECT '$name' AS arm, count(*)::BIGINT AS n_queries,
         |  sum(n_truth)::BIGINT AS n_truth,
         |  sum(n_matched)::BIGINT AS n_matched,
         |  floor(sum(n_matched)::DOUBLE / sum(n_truth) * 10000 + 0.5)
         |    / 10000 AS recall
         |FROM (SELECT u.q_id, count(*) AS n_truth,
         |        count(c.doc_id) AS n_matched
         |      FROM $u u LEFT JOIN $c c
         |        ON c.q_id = u.q_id AND c.doc_id = u.doc_id
         |      GROUP BY u.q_id)""".stripMargin
    s"""WITH lexc AS (SELECT q_id, doc_id FROM (${bm25TopkCap(
          graft.operators.Retrieval.BmImpactCap)})),
       |lexu AS (SELECT q_id, doc_id FROM (${bm25TopkCap(unc)})),
       |spc AS (SELECT q_id, doc_id FROM (${sparseKnnCap(
          graft.operators.Retrieval.SparseImpactCap)})),
       |spu AS (SELECT q_id, doc_id FROM (${sparseKnnCap(unc)}))
       |${armAgg("bm25", "lexu", "lexc")}
       |UNION ALL
       |${armAgg("sparse", "spu", "spc")}
       |ORDER BY arm""".stripMargin
  }

  /** Mirror of Retrieval.prfExpand: the bm25 CTE chain supplies the seed
    * ranking and postings; feedback weights are 1e-6-unit BIGINT sums of
    * tf/dl, expansion idf over the restricted vocab, the same impact-cap
    * window on the rescore join, 6dp DECIMAL part accumulation. Fresh
    * CTE names (pdl/fb/expq/ev/eidf/ecap/esc/eagg) — qt/dft/idf/cimp
    * belong to the seed chain.
    */
  lazy val prfExpand: String = {
    import graft.operators.Retrieval.{BmB, BmK1, BmK1Plus1, BmImpactCap,
      PrfFbDocs, PrfFbTerms, PrfK}
    s"""${bm25CtesCap(BmImpactCap)},
       |seed AS (SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id) AS rank FROM agg)
       |  WHERE rank <= $PrfFbDocs),
       |pdl AS MATERIALIZED (SELECT c.doc_id, c.term, c.tf, d.dl
       |      FROM ctf c JOIN dlen d USING (doc_id)),
       |fb AS (SELECT s.q_id, p.term,
       |        sum(floor(p.tf::DOUBLE / p.dl * 1000000 + 0.5)::BIGINT)
       |          AS wu
       |       FROM seed s JOIN pdl p ON p.doc_id = s.doc_id
       |       GROUP BY s.q_id, p.term),
       |expq AS (SELECT q_id, term, wu FROM (
       |    SELECT q_id, term, wu, row_number() OVER (PARTITION BY q_id
       |      ORDER BY wu DESC, term) AS er FROM fb)
       |  WHERE er <= $PrfFbTerms),
       |ev AS (SELECT DISTINCT term FROM expq),
       |eidf AS (SELECT e.term,
       |  floor(ln(1.0 + (s.n_docs::DOUBLE - e.df + 0.5) / (e.df::DOUBLE + 0.5))
       |        * 1000000 + 0.5) / 1000000 AS idf
       |  FROM (SELECT p.term, count(*) AS df FROM pdl p
       |        JOIN ev USING (term) GROUP BY p.term) e, stats s),
       |ecap AS (SELECT doc_id, term, tf, dl FROM (
       |    SELECT p.doc_id, p.term, p.tf, p.dl,
       |      row_number() OVER (PARTITION BY p.term
       |        ORDER BY (p.tf::DOUBLE * $BmK1Plus1) /
       |          (p.tf::DOUBLE + $BmK1 * (1.0 - $BmB + $BmB * (p.dl::DOUBLE / s.avgdl))) DESC,
       |          p.doc_id) AS ir
       |    FROM pdl p JOIN ev USING (term), stats s)
       |  WHERE ir <= $BmImpactCap),
       |esc AS (SELECT e.q_id, c.doc_id,
       |  CAST(floor((e.wu::DOUBLE / 1000000.0) * i.idf *
       |    ((c.tf::DOUBLE * $BmK1Plus1) /
       |     (c.tf::DOUBLE + $BmK1 * (1.0 - $BmB + $BmB * (c.dl::DOUBLE / s.avgdl))))
       |    * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM ecap c JOIN expq e ON e.term = c.term
       |       JOIN eidf i ON i.term = c.term, stats s),
       |eagg AS (SELECT q_id, doc_id, sum(part) AS score FROM esc
       |         GROUP BY q_id, doc_id)
       |SELECT q_id, doc_id, score::DOUBLE AS score, rank::INT AS rank
       |FROM (SELECT q_id, doc_id, score,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY score DESC, doc_id) AS rank
       |      FROM eagg) WHERE rank <= $PrfK ORDER BY q_id, rank""".stripMargin
  }

  /** Mirror of Curation.labelQueue: the qualityThresholds p50 per lang,
    * raw-double margin ranking, 4dp margin at output.
    */
  lazy val labelQueue: String = {
    import graft.operators.Curation.LabelQueueK
    s"""$qualityScoreCtes,
       |qth AS (SELECT lang,
       |    max(CASE WHEN rn = (n - 1) * 1 // 2 + 1 THEN score END) AS p50
       |  FROM (SELECT lang, score,
       |          row_number() OVER (PARTITION BY lang
       |                             ORDER BY score, doc_id) AS rn,
       |          count(*) OVER (PARTITION BY lang) AS n
       |        FROM s) GROUP BY lang),
       |mg AS (SELECT s.lang, s.doc_id, s.score,
       |    abs(s.score - qth.p50) AS margin
       |  FROM s JOIN qth ON qth.lang = s.lang)
       |SELECT lang, doc_id, score,
       |  floor(margin * 10000 + 0.5) / 10000 AS margin, rank::INT AS rank
       |FROM (SELECT lang, doc_id, score, margin,
       |        row_number() OVER (PARTITION BY lang
       |                           ORDER BY margin, doc_id) AS rank
       |      FROM mg) WHERE rank <= $LabelQueueK
       |ORDER BY lang, rank""".stripMargin
  }

  /** Mirror of Sessions.robustStats: the 2dp-cents value histogram,
    * positional quantiles, exact integer clamp-sum winsorizing.
    */
  val robustStats: String =
    """WITH h AS (SELECT event_type,
      |    floor(value * 100 + 0.5)::BIGINT AS cents, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |x AS (SELECT *,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY cents
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |qs AS (SELECT event_type, max(n) AS n,
      |    min(CASE WHEN cum >= (n - 1) * 1 // 20 + 1 THEN cents END) AS p5,
      |    min(CASE WHEN cum >= (n - 1) * 1 // 2 + 1 THEN cents END) AS p50,
      |    min(CASE WHEN cum >= (n - 1) * 19 // 20 + 1 THEN cents END)
      |      AS p95
      |  FROM x GROUP BY event_type),
      |ag AS (SELECT h.event_type, max(qs.n)::BIGINT AS n_events,
      |    sum(h.c * h.cents) AS sc,
      |    sum(h.c * least(greatest(h.cents, qs.p5), qs.p95)) AS swc,
      |    max(qs.p50) AS p50c
      |  FROM h JOIN qs ON qs.event_type = h.event_type
      |  GROUP BY h.event_type)
      |SELECT event_type, n_events,
      |  floor(sc::DOUBLE / n_events / 100 * 10000 + 0.5) / 10000 AS mean,
      |  floor(p50c::DOUBLE + 0.5) / 100 AS median,
      |  floor(swc::DOUBLE / n_events / 100 * 10000 + 0.5) / 10000
      |    AS winsorized_mean
      |FROM ag ORDER BY event_type""".stripMargin

  /** Mirror of Retrieval.armOverlap: the bm25 and dense top-k chains
    * (hybridRetrieve's lex/vr CTEs verbatim), full-outer overlap join,
    * 4dp jaccard and mean rank displacement.
    */
  val armOverlap: String = {
    import graft.operators.Retrieval.{BmTopK, QueryMod}
    val isVq = s"((vec_id % $QueryMod) + $QueryMod) % $QueryMod = 0"
    s"""$bm25Ctes,
       |lex AS (SELECT q_id, doc_id, rank AS lrank
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY score DESC, doc_id) AS rank
       |        FROM agg) WHERE rank <= $BmTopK),
       |vq AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE $isVq),
       |vsc AS (SELECT q.q_id, e.vec_id AS doc_id,
       |  list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s
       |  FROM embeddings e, vq q WHERE NOT ($isVq)),
       |vr AS (SELECT q_id, doc_id, rnk AS vrank
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY s DESC, doc_id) AS rnk
       |        FROM vsc) WHERE rnk <= $BmTopK),
       |jo AS (SELECT coalesce(l.q_id, v.q_id) AS q_id, l.lrank, v.vrank
       |       FROM lex l FULL OUTER JOIN vr v
       |         ON l.q_id = v.q_id AND l.doc_id = v.doc_id),
       |g AS (SELECT q_id, count(lrank)::BIGINT AS n_lex,
       |        count(vrank)::BIGINT AS n_dense,
       |        sum(CASE WHEN lrank IS NOT NULL AND vrank IS NOT NULL
       |                 THEN 1 ELSE 0 END)::BIGINT AS n_common,
       |        sum(CASE WHEN lrank IS NOT NULL AND vrank IS NOT NULL
       |                 THEN abs(lrank - vrank) END)::BIGINT AS gap_sum
       |      FROM jo GROUP BY q_id)
       |SELECT q_id, n_lex, n_dense, n_common,
       |  floor(n_common::DOUBLE / (n_lex + n_dense - n_common)
       |        * 10000 + 0.5) / 10000 AS jaccard,
       |  CASE WHEN n_common > 0 THEN
       |    floor(gap_sum::DOUBLE / n_common * 10000 + 0.5) / 10000
       |  END AS mean_rank_gap
       |FROM g ORDER BY q_id""".stripMargin
  }

  /** Mirror of Retrieval.rankCorr: the bm25 lex CTE and prfExpand as a
    * subquery, inner join on common docs, tie-free re-ranks within the
    * intersection, exact integer Σd² and denominator, one 6dp double
    * division.
    */
  lazy val rankCorr: String = {
    import graft.operators.Retrieval.BmTopK
    s"""$bm25Ctes,
       |lex AS (SELECT q_id, doc_id, rank AS lrank
       |  FROM (SELECT q_id, doc_id,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY score DESC, doc_id) AS rank
       |        FROM agg) WHERE rank <= $BmTopK),
       |pr AS (SELECT q_id, doc_id, rank AS vrank FROM ($prfExpand)),
       |co AS (SELECT l.q_id, l.lrank, v.vrank
       |       FROM lex l JOIN pr v
       |         ON l.q_id = v.q_id AND l.doc_id = v.doc_id),
       |rr AS (SELECT q_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY lrank)
       |           AS la,
       |         row_number() OVER (PARTITION BY q_id ORDER BY vrank)
       |           AS va
       |       FROM co),
       |g AS (SELECT q_id, count(*)::BIGINT AS n_common,
       |        sum((la - va) * (la - va))::BIGINT AS sd2
       |      FROM rr GROUP BY q_id)
       |SELECT q_id, n_common,
       |  CASE WHEN n_common >= 2 THEN
       |    floor((1.0::DOUBLE - 6.0::DOUBLE * sd2 /
       |           (n_common * (n_common * n_common - 1))) * 1000000 + 0.5)
       |      / 1000000 END AS spearman
       |FROM g ORDER BY q_id""".stripMargin
  }

  /** Mirror of Tenancy.forgetUser: conditional purge counts per table
    * with the orders→lineitem cascade via the orderkey join.
    */
  val forgetUser: String = {
    val m = graft.operators.Tenancy.ForgetMod
    s"""WITH ev AS (SELECT 'events' AS table_name,
       |    count(*)::BIGINT AS n_rows,
       |    sum(CASE WHEN user_id % $m = 0 THEN 1 ELSE 0 END)::BIGINT
       |      AS n_purge FROM events),
       |cu AS (SELECT 'customer', count(*)::BIGINT,
       |    sum(CASE WHEN c_custkey % $m = 0 THEN 1 ELSE 0 END)::BIGINT
       |  FROM customer),
       |orr AS (SELECT 'orders', count(*)::BIGINT,
       |    sum(CASE WHEN o_custkey % $m = 0 THEN 1 ELSE 0 END)::BIGINT
       |  FROM orders),
       |po AS (SELECT o_orderkey FROM orders WHERE o_custkey % $m = 0),
       |li AS (SELECT 'lineitem', count(*)::BIGINT,
       |    sum(CASE WHEN po.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |  FROM lineitem l LEFT JOIN po ON l.l_orderkey = po.o_orderkey),
       |u AS (SELECT * FROM ev UNION ALL SELECT * FROM cu
       |      UNION ALL SELECT * FROM orr UNION ALL SELECT * FROM li)
       |SELECT table_name, n_rows, n_purge,
       |  floor(n_purge::DOUBLE / n_rows * 10000 + 0.5) / 10000
       |    AS purge_pct
       |FROM u ORDER BY table_name""".stripMargin
  }

  /** Mirror of Tenancy.dpRelease: seeded-hash uniform (h+½)/2³², the
    * same fixed-order Laplace inverse CDF, 6dp noise, rounded release.
    */
  val dpRelease: String = {
    import graft.operators.Tenancy.{DpEpsilon, DpSeed}
    s"""WITH per AS (SELECT source, count(*)::BIGINT AS n_docs
       |             FROM documents GROUP BY source),
       |x AS (SELECT source, n_docs,
       |  (('0x' || substr(md5(source || ':${sq(DpSeed)}'), 1, 8))::BIGINT::DOUBLE + 0.5)
       |    / 4294967296.0 AS u
       |  FROM per),
       |l AS (SELECT source, n_docs,
       |  floor((CASE WHEN u - 0.5 >= 0
       |         THEN -ln(1.0 - 2.0 * (u - 0.5))
       |         ELSE ln(1.0 + 2.0 * (u - 0.5)) END) / $DpEpsilon
       |        * 1000000 + 0.5) / 1000000 AS noise
       |  FROM x)
       |SELECT source, n_docs, noise,
       |  (n_docs + floor(noise + 0.5)::BIGINT)::BIGINT AS released,
       |  abs((n_docs + floor(noise + 0.5)::BIGINT) - n_docs)::BIGINT
       |    AS abs_err
       |FROM l ORDER BY source""".stripMargin
  }

  /** Mirror of Tenancy.kAnonymity: QI equivalence classes over
    * (nation, segment, balance bucket), crossed with the literal k grid,
    * exact integer counts, one 4dp share.
    */
  val kAnonymity: String = {
    import graft.operators.Tenancy.{KAnonBalBucket, KAnonKs}
    val grid = KAnonKs.map(k => s"($k)").mkString(", ")
    s"""WITH cls AS (SELECT c_nationkey, c_mktsegment,
       |    floor(c_acctbal / $KAnonBalBucket)::BIGINT AS bal_bucket,
       |    count(*)::BIGINT AS cnt
       |  FROM customer GROUP BY 1, 2, 3),
       |ks(k) AS (VALUES $grid)
       |SELECT k::INT AS k, count(*)::BIGINT AS n_classes,
       |  sum(CASE WHEN cnt < k THEN 1 ELSE 0 END)::BIGINT
       |    AS n_classes_below,
       |  sum(CASE WHEN cnt < k THEN cnt ELSE 0 END)::BIGINT
       |    AS rows_at_risk,
       |  floor((1.0 - sum(CASE WHEN cnt < k THEN cnt ELSE 0 END)::DOUBLE
       |         / sum(cnt)) * 10000 + 0.5) / 10000 AS anonymous_share
       |FROM cls, ks GROUP BY k ORDER BY k""".stripMargin
  }

  /** Mirror of Retrieval.tfidfVectors: smoothed idf, 6dp idf rounding,
    * 4dp tfidf rounding, top terms per doc.
    */
  val tfidfVectors: String = {
    import graft.operators.Retrieval.TfidfTopTerms
    s"""$tokCte,
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       GROUP BY doc_id, term),
       |stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |idf AS (SELECT term,
       |  floor((ln((s.n_docs::DOUBLE + 1.0) / (df::DOUBLE + 1.0)) + 1.0)
       |        * 1000000 + 0.5) / 1000000 AS idf
       |  FROM dft, stats s),
       |x AS (SELECT t.doc_id, t.term, t.tf,
       |        floor(t.tf::DOUBLE * i.idf * 10000 + 0.5) / 10000 AS tfidf
       |      FROM tf t JOIN idf i ON i.term = t.term)
       |SELECT doc_id, term, tf, tfidf, rank::INT AS rank
       |FROM (SELECT doc_id, term, tf, tfidf,
       |        row_number() OVER (PARTITION BY doc_id
       |                           ORDER BY tfidf DESC, term) AS rank
       |      FROM x) WHERE rank <= $TfidfTopTerms""".stripMargin
  }

  // ---- sessions / windows --------------------------------------------

  val sessionize: String =
    s"""WITH e AS (SELECT user_id, event_id, value,
       |  floor(epoch(ts))::BIGINT AS ts_sec FROM events),
       |l AS (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY event_id) AS prev FROM e),
       |s AS (SELECT *, CASE WHEN prev IS NULL OR ts_sec - prev > ${graft.operators.Sessions.GapSec}
       |                     THEN 1 ELSE 0 END AS is_new FROM l),
       |x AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id
       |                                  ROWS UNBOUNDED PRECEDING) AS session_idx FROM s)
       |SELECT user_id, session_idx::INT AS session_idx, count(*)::INT AS n_events,
       |  min(event_id) AS first_event, max(event_id) AS last_event,
       |  (max(ts_sec) - min(ts_sec)) AS duration_sec,
       |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS total_value
       |FROM x GROUP BY user_id, session_idx""".stripMargin

  /** Mirror of Sessions.sessionGaps: the sessionize chain to
    * per-session bounds, per-user session lag, exact power-of-two
    * binning, grid-bounded share.
    */
  val sessionGaps: String =
    s"""WITH e AS (SELECT user_id, event_id,
       |  floor(epoch(ts))::BIGINT AS ts_sec FROM events),
       |l AS (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY event_id) AS prev FROM e),
       |s AS (SELECT *, CASE WHEN prev IS NULL OR ts_sec - prev > ${graft.operators.Sessions.GapSec}
       |                     THEN 1 ELSE 0 END AS is_new FROM l),
       |x AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY event_id
       |                                  ROWS UNBOUNDED PRECEDING) AS session_idx FROM s),
       |se AS (SELECT user_id, session_idx, min(ts_sec) AS start_sec,
       |         max(ts_sec) AS end_sec
       |       FROM x GROUP BY 1, 2),
       |gp AS (SELECT start_sec - lag(end_sec) OVER
       |         (PARTITION BY user_id ORDER BY session_idx) AS gap_sec
       |       FROM se),
       |g AS (SELECT (1::BIGINT << (length(bin(gap_sec)) - 1)) AS bin_lo,
       |        count(*)::BIGINT AS n_gaps
       |      FROM gp WHERE gap_sec IS NOT NULL GROUP BY 1),
       |t AS (SELECT sum(n_gaps)::BIGINT AS total FROM g)
       |SELECT bin_lo, n_gaps,
       |  floor(n_gaps::DOUBLE / total * 10000 + 0.5) / 10000 AS gap_share
       |FROM g, t ORDER BY bin_lo""".stripMargin

  /** Mirror of Sessions.asofJoin, as a genuinely INDEPENDENT formulation:
    * DuckDB's native ASOF LEFT JOIN (greatest d.ts <= e.ts per key)
    * against the engine's union+carry-forward window — the two agreeing
    * covers both the carry logic and the tie semantics.
    */
  val asofJoin: String =
    """WITH d0 AS (SELECT user_id, ts, event_id, value FROM events
      |            WHERE event_type = 'purchase'),
      |d AS (SELECT user_id, ts, event_id, value FROM (
      |        SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |                                     ORDER BY event_id DESC) AS rn
      |        FROM d0) WHERE rn = 1)
      |SELECT e.event_id, e.user_id, e.event_type,
      |  d.event_id AS asof_event, round(d.value, 2) AS asof_value
      |FROM events e ASOF LEFT JOIN d
      |  ON e.user_id = d.user_id AND e.ts >= d.ts""".stripMargin

  /** Mirror of Sessions.scd2Build: same tie-collapsed purchase versions
    * as the asofJoin oracle, then version rank + lead() interval close.
    * epoch() on the NULL open-version next_ts stays NULL on both engines.
    */
  val scd2Build: String =
    """WITH d0 AS (SELECT user_id, ts, event_id, value FROM events
      |            WHERE event_type = 'purchase'),
      |d AS (SELECT user_id, ts, event_id, value FROM (
      |        SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |                                     ORDER BY event_id DESC) AS rn
      |        FROM d0) WHERE rn = 1),
      |v AS (SELECT user_id, ts, event_id, value,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts) AS version,
      |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS next_ts
      |      FROM d)
      |SELECT user_id, version::INT AS version, event_id AS dim_event,
      |  round(value, 2) AS dim_value,
      |  floor(epoch(ts))::BIGINT AS valid_from_sec,
      |  floor(epoch(next_ts))::BIGINT AS valid_to_sec
      |FROM v""".stripMargin

  /** Mirror of Sessions.forecastBaseline: the daily grid, the t−7
    * self-join, exact integer MAE/bias sums, 6dp-unit MAPE terms.
    */
  val forecastBaseline: String =
    """WITH dg AS (SELECT event_type,
      |    floor(epoch(ts))::BIGINT // 86400 AS day,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |pr AS (SELECT event_type AS pt, day + 7 AS pd, n AS np FROM dg),
      |j AS (SELECT dg.event_type,
      |    abs(dg.n - pr.np)::BIGINT AS ae,
      |    (dg.n - pr.np)::BIGINT AS e,
      |    floor(abs(dg.n - pr.np)::DOUBLE / dg.n * 1000000 + 0.5)::BIGINT
      |      AS t6
      |  FROM dg JOIN pr ON dg.event_type = pr.pt AND dg.day = pr.pd),
      |g AS (SELECT event_type, count(*)::BIGINT AS n_days,
      |        sum(ae)::BIGINT AS sae, sum(e)::BIGINT AS se,
      |        sum(t6)::BIGINT AS st6
      |      FROM j GROUP BY 1)
      |SELECT event_type, n_days,
      |  floor(sae::DOUBLE / n_days * 10000 + 0.5) / 10000 AS mae,
      |  floor(st6::DOUBLE / 1000000 / n_days * 10000 + 0.5) / 10000
      |    AS mape,
      |  floor(se::DOUBLE / n_days * 10000 + 0.5) / 10000 AS bias
      |FROM g ORDER BY event_type""".stripMargin

  /** Mirror of Sessions.scd2Lookup: the scd2Build chain as the
    * dimension, click facts joined on user + validity refine.
    */
  val scd2Lookup: String =
    """WITH d0 AS (SELECT user_id, ts, event_id, value FROM events
      |            WHERE event_type = 'purchase'),
      |d AS (SELECT user_id, ts, event_id, value FROM (
      |        SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |                                     ORDER BY event_id DESC) AS rn
      |        FROM d0) WHERE rn = 1),
      |v AS (SELECT user_id, ts, event_id, value,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts) AS version,
      |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS next_ts
      |      FROM d),
      |dim AS (SELECT user_id, version::INT AS version,
      |          event_id AS dim_event, round(value, 2) AS dim_value,
      |          floor(epoch(ts))::BIGINT AS valid_from_sec,
      |          floor(epoch(next_ts))::BIGINT AS valid_to_sec
      |        FROM v),
      |f AS (SELECT event_id, user_id AS fuid,
      |        floor(epoch(ts))::BIGINT AS sec
      |      FROM events WHERE event_type = 'click')
      |SELECT f.event_id, dim.user_id, f.sec, dim.version, dim.dim_event,
      |  dim.dim_value
      |FROM f JOIN dim ON f.fuid = dim.user_id
      |  AND f.sec >= dim.valid_from_sec
      |  AND (dim.valid_to_sec IS NULL OR f.sec < dim.valid_to_sec)
      |ORDER BY f.event_id""".stripMargin

  /** Mirror of Sessions.intervalJoin as the DIRECT inequality join (the
    * oracle-sized formulation; the engine side is bucket-explode +
    * refine, an equi-join on (user_id, bucket)).
    */
  val intervalJoin: String = {
    val w = graft.operators.Sessions.AttributionSec
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |  floor(epoch(ts))::BIGINT AS sec FROM events),
       |p AS (SELECT event_id AS purchase_id, user_id, sec AS p_sec
       |      FROM e WHERE event_type = 'purchase'),
       |c AS (SELECT event_id AS click_id, user_id, sec AS c_sec
       |      FROM e WHERE event_type = 'click')
       |SELECT p.purchase_id, c.click_id, p.user_id,
       |  p.p_sec - c.c_sec AS gap_sec
       |FROM p JOIN c ON c.user_id = p.user_id
       |  AND c.c_sec > p.p_sec - $w AND c.c_sec <= p.p_sec""".stripMargin
  }

  /** Mirror of Sessions.funnel: first-touch times per user, null-safe
    * ordered-step predicates, inline steps table.
    */
  val funnel: String =
    """WITH e AS (SELECT user_id, event_type,
      |  floor(epoch(ts))::BIGINT AS sec FROM events),
      |u AS (SELECT user_id,
      |  min(CASE WHEN event_type = 'signup' THEN sec END) AS t_signup,
      |  min(CASE WHEN event_type = 'click' THEN sec END) AS t_click,
      |  min(CASE WHEN event_type = 'purchase' THEN sec END) AS t_purchase
      |  FROM e GROUP BY user_id),
      |f AS (SELECT
      |  sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n1,
      |  sum(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
      |            AND t_click > t_signup THEN 1 ELSE 0 END)::BIGINT AS n2,
      |  sum(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
      |            AND t_click > t_signup AND t_purchase IS NOT NULL
      |            AND t_purchase > t_click THEN 1 ELSE 0 END)::BIGINT AS n3
      |  FROM u)
      |SELECT 1 AS step, 'signup' AS event_type, n1 AS n_users FROM f
      |UNION ALL SELECT 2, 'click', n2 FROM f
      |UNION ALL SELECT 3, 'purchase', n3 FROM f""".stripMargin

  /** Mirror of Sessions.sessionStats: the sessionize statement wrapped
    * as a derived table, minute-bin histogram cumulative, integer-form
    * percentile picks, fixed-order 4dp averages.
    */
  val sessionStats: String =
    s"""WITH sess AS (SELECT n_events, duration_sec,
       |  (duration_sec // 60) AS bin FROM ($sessionize)),
       |t AS (SELECT count(*)::BIGINT AS n_sessions,
       |        sum(n_events)::BIGINT AS se,
       |        sum(duration_sec)::BIGINT AS sd FROM sess),
       |h AS (SELECT bin, count(*)::BIGINT AS cnt FROM sess GROUP BY bin),
       |c AS (SELECT bin, sum(cnt) OVER (ORDER BY bin
       |        ROWS UNBOUNDED PRECEDING) AS cum FROM h),
       |p AS (SELECT
       |  min(CASE WHEN cum * 100 >= n_sessions * 50 THEN bin END) AS b50,
       |  min(CASE WHEN cum * 100 >= n_sessions * 90 THEN bin END) AS b90
       |  FROM c, t)
       |SELECT n_sessions,
       |  floor(se::DOUBLE / n_sessions * 10000 + 0.5) / 10000 AS avg_events,
       |  floor(sd::DOUBLE / n_sessions * 10000 + 0.5) / 10000 AS avg_duration,
       |  (b50 * 60)::BIGINT AS p50_duration_sec,
       |  (b90 * 60)::BIGINT AS p90_duration_sec
       |FROM t, p""".stripMargin

  /** Mirror of Sessions.activeUsers: the same (user, day) dedup, DAU /
    * MAU partial aggs over 28-day epoch periods, fixed-order 4dp
    * divisions.
    */
  val activeUsers: String = {
    import graft.operators.Sessions.AuPeriodDays
    s"""WITH ud AS (SELECT DISTINCT user_id,
       |  (floor(epoch(ts))::BIGINT // 86400) AS day FROM events),
       |u2 AS (SELECT user_id, day, (day // $AuPeriodDays) AS period
       |       FROM ud),
       |d AS (SELECT period, day, count(*) AS dau FROM u2 GROUP BY 1, 2),
       |ds AS (SELECT period, sum(dau)::BIGINT AS dau_sum,
       |         count(*)::BIGINT AS n_days FROM d GROUP BY 1),
       |m AS (SELECT period, count(*)::BIGINT AS mau
       |      FROM (SELECT DISTINCT period, user_id FROM u2) GROUP BY 1)
       |SELECT period, n_days, mau,
       |  floor(dau_sum::DOUBLE / n_days * 10000 + 0.5) / 10000 AS avg_dau,
       |  floor(dau_sum::DOUBLE / n_days / mau * 10000 + 0.5) / 10000
       |    AS stickiness
       |FROM ds JOIN m USING (period) ORDER BY period""".stripMargin
  }

  /** Mirror of Sessions.cohortRetention: epoch-week floors (nanos div
    * 604800e9 on the engine side = seconds div 604800 here, identical
    * for nonnegative timestamps).
    */
  val cohortRetention: String =
    """WITH e AS (SELECT user_id,
      |  (floor(epoch(ts))::BIGINT // 604800) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
      |d AS (SELECT DISTINCT e.user_id, f.cohort_wk,
      |        (e.wk - f.cohort_wk)::INT AS week_no
      |      FROM e JOIN f USING (user_id))
      |SELECT cohort_wk, week_no, count(*) AS n_users
      |FROM d GROUP BY cohort_wk, week_no""".stripMargin

  /** Mirror of Sessions.cohortLtv: same cohort definition as
    * cohortRetention, exact 1e-4-unit purchase sums on the sparse
    * (cohort, week) grid, ROWS cumulative, one double divide per row.
    */
  val cohortLtv: String =
    """WITH e AS (SELECT user_id,
      |  (floor(epoch(ts))::BIGINT // 604800) AS wk, event_type, value
      |  FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
      |sz AS (SELECT cohort_wk, count(*)::BIGINT AS cohort_users
      |       FROM f GROUP BY cohort_wk),
      |g AS (SELECT f.cohort_wk, (e.wk - f.cohort_wk)::INT AS week_no,
      |        sum(CAST(floor(e.value * 10000 + 0.5) AS BIGINT))::BIGINT AS wu
      |      FROM e JOIN f USING (user_id)
      |      WHERE e.event_type = 'purchase'
      |      GROUP BY f.cohort_wk, (e.wk - f.cohort_wk)),
      |c AS (SELECT cohort_wk, week_no, wu,
      |        sum(wu) OVER (PARTITION BY cohort_wk ORDER BY week_no
      |                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cu
      |      FROM g)
      |SELECT c.cohort_wk, c.week_no, sz.cohort_users,
      |  floor(c.wu::DOUBLE / 100 + 0.5) / 100 AS week_value,
      |  floor(c.cu::DOUBLE / sz.cohort_users + 0.5) / 10000 AS ltv_per_user
      |FROM c JOIN sz USING (cohort_wk)
      |ORDER BY cohort_wk, week_no""".stripMargin

  /** Mirror of Sessions.eventPivot: FILTER counts per type column from
    * the shared EventTypes list (0 where Spark's coalesced pivot-null
    * lands), same (epoch_day + 4) mod 7 dow.
    */
  val eventPivot: String = {
    val cols = graft.operators.Sessions.EventTypes.map(t =>
      s"count(*) FILTER (event_type = '${sq(t)}')::BIGINT AS $t")
      .mkString(",\n|  ")
    s"""SELECT dow,
       |  $cols
       |FROM (SELECT ((floor(epoch(ts))::BIGINT // 86400 + 4) % 7) AS dow,
       |        event_type FROM events)
       |GROUP BY dow""".stripMargin
  }

  /** Mirror of Sessions.eventAnomalies: same epoch-day floor, same
    * fixed operand order for the moments (var = S2/d − (S1/d)·(S1/d) on
    * exact integer sums, clamped at 0), sqrt + the 3σ compare on the
    * unrounded doubles.
    */
  /** Mirror of Sessions.approxDistinct: the identical md5-derived HLL —
    * 60-bit hash, mod-64 bucket, exact binary-string ρ, integer-scaled
    * register sum, same α/correction literals, 6dp estimate.
    */
  val approxDistinct: String =
    """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      |hh AS (SELECT event_type,
      |  ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM du),
      |rh AS (SELECT event_type, (h % 64)::INT AS bucket,
      |  CASE WHEN (h // 64) = 0 THEN 55
      |       ELSE 55 - length(bin(h // 64)) END AS rho
      |  FROM hh),
      |regs AS (SELECT event_type, bucket, max(rho) AS r
      |         FROM rh GROUP BY 1, 2),
      |a AS (SELECT event_type, count(*)::BIGINT AS nb,
      |        sum(1::BIGINT << (55 - r))::BIGINT AS sp
      |      FROM regs GROUP BY 1),
      |ex AS (SELECT event_type, count(*)::BIGINT AS n_exact
      |       FROM du GROUP BY 1),
      |e AS (SELECT a.event_type, nb, n_exact,
      |        sp + (64 - nb) * 36028797018963968 AS s
      |      FROM a JOIN ex USING (event_type)),
      |est AS (SELECT event_type, n_exact, nb,
      |  CASE WHEN (64 - nb) > 0
      |        AND (0.709 * 4096.0
      |             / (s::DOUBLE / 36028797018963968::DOUBLE)) <= 160.0
      |       THEN floor(64.0 * ln(64.0 / (64 - nb)) * 1000000 + 0.5)
      |            / 1000000
      |       ELSE floor((0.709 * 4096.0
      |             / (s::DOUBLE / 36028797018963968::DOUBLE))
      |            * 1000000 + 0.5) / 1000000 END AS hll_est
      |  FROM e)
      |SELECT event_type, n_exact, nb::INT AS n_buckets, hll_est,
      |  floor(abs(hll_est - n_exact) / n_exact * 10000 + 0.5) / 10000
      |    AS rel_err
      |FROM est ORDER BY event_type""".stripMargin

  /** Mirror of Sessions.heavyHitters: identical md5 row-hashes, 1024
    * counter cells, min-over-rows estimate on the exact top-k arm.
    */
  val heavyHitters: String = {
    import graft.operators.Sessions.{CmsDepth, CmsTopK, CmsWidth}
    s"""WITH uc AS (SELECT user_id, count(*)::BIGINT AS n
       |           FROM events GROUP BY user_id),
       |dd AS (SELECT user_id, n, d::INT AS d
       |       FROM uc, range(0, $CmsDepth) t(d)),
       |kb AS (SELECT user_id, n, d,
       |  (('0x' || substr(md5(d::VARCHAR || ':' || user_id::VARCHAR),
       |            1, 15))::BIGINT % $CmsWidth)::INT AS bucket
       |  FROM dd),
       |cells AS (SELECT d, bucket, sum(n)::BIGINT AS c
       |          FROM kb GROUP BY 1, 2),
       |top AS (SELECT user_id, n FROM uc
       |        ORDER BY n DESC, user_id LIMIT $CmsTopK),
       |est AS (SELECT k.user_id, k.n, min(c.c)::BIGINT AS cms_est
       |        FROM kb k JOIN top USING (user_id)
       |             JOIN cells c ON c.d = k.d AND c.bucket = k.bucket
       |        GROUP BY 1, 2)
       |SELECT user_id,
       |  row_number() OVER (ORDER BY n DESC, user_id)::INT AS rank,
       |  n AS n_events, cms_est, (cms_est - n)::BIGINT AS overest
       |FROM est ORDER BY rank""".stripMargin
  }

  /** Mirror of Tenancy.tenantUsage: per-shard rollup + argmax, decimal
    * value accumulation.
    */
  val tenantUsage: String = {
    import graft.operators.Tenancy.TenantShards
    s"""WITH pu AS (SELECT (user_id % $TenantShards)::INT AS tenant_shard,
       |  user_id, count(*)::BIGINT AS n,
       |  sum(CAST(value AS DECIMAL(28,6))) AS v
       |  FROM events GROUP BY 1, 2),
       |top AS (SELECT tenant_shard, user_id AS top_user, n AS top_n FROM (
       |  SELECT *, row_number() OVER (PARTITION BY tenant_shard
       |                               ORDER BY n DESC, user_id) AS rn
       |  FROM pu) WHERE rn = 1),
       |agg AS (SELECT tenant_shard, count(*)::BIGINT AS n_tenants,
       |          sum(n)::BIGINT AS n_events,
       |          round(sum(v)::DOUBLE, 2) AS total_value
       |        FROM pu GROUP BY 1)
       |SELECT a.tenant_shard, n_tenants, n_events, total_value, top_user,
       |  floor(top_n::DOUBLE / n_events * 10000 + 0.5) / 10000
       |    AS top_user_share
       |FROM agg a JOIN top USING (tenant_shard)
       |ORDER BY a.tenant_shard""".stripMargin
  }

  val eventAnomalies: String =
    """WITH e AS (SELECT event_type,
      |  (floor(epoch(ts))::BIGINT // 86400) AS day FROM events),
      |g AS (SELECT event_type, day, count(*)::BIGINT AS n FROM e
      |      GROUP BY event_type, day),
      |s AS (SELECT event_type, count(*)::BIGINT AS d,
      |        sum(n)::BIGINT AS s1, sum(n * n)::BIGINT AS s2
      |      FROM g GROUP BY event_type),
      |m AS (SELECT event_type, s1::DOUBLE / d AS mean,
      |        sqrt(greatest(
      |          s2::DOUBLE / d - (s1::DOUBLE / d) * (s1::DOUBLE / d),
      |          0.0)) AS sigma
      |      FROM s)
      |SELECT g.event_type, g.day, g.n,
      |  floor(m.mean * 1000000 + 0.5) / 1000000 AS mean_n,
      |  CASE WHEN m.sigma > 0
      |       THEN floor((g.n - m.mean) / m.sigma * 10000 + 0.5) / 10000
      |       ELSE 0.0::DOUBLE END AS z,
      |  g.n > m.mean + 3 * m.sigma AS is_anomaly
      |FROM g JOIN m USING (event_type)""".stripMargin

  /** Mirror of Sessions.cusumShift: the eventAnomalies day-grid/stats
    * CTEs, z in exact 1e-4 BIGINT units, CUSUM closed form as two
    * cumulative windows (prefix sum + running min) per type.
    */
  val cusumShift: String = {
    import graft.operators.Sessions.{CusumSlackU, CusumThreshU}
    s"""WITH e AS (SELECT event_type,
       |  (floor(epoch(ts))::BIGINT // 86400) AS day FROM events),
       |g AS (SELECT event_type, day, count(*)::BIGINT AS n FROM e
       |      GROUP BY event_type, day),
       |s AS (SELECT event_type, count(*)::BIGINT AS d,
       |        sum(n)::BIGINT AS s1, sum(n * n)::BIGINT AS s2
       |      FROM g GROUP BY event_type),
       |m AS (SELECT event_type, s1::DOUBLE / d AS mean,
       |        sqrt(greatest(
       |          s2::DOUBLE / d - (s1::DOUBLE / d) * (s1::DOUBLE / d),
       |          0.0)) AS sigma
       |      FROM s),
       |f AS (SELECT g.event_type, g.day, g.n,
       |        CASE WHEN m.sigma > 0
       |             THEN floor((g.n - m.mean) / m.sigma * 10000 + 0.5)::BIGINT
       |             ELSE 0 END AS zu
       |      FROM g JOIN m USING (event_type)),
       |p AS (SELECT event_type, day, n, zu,
       |        sum(zu - $CusumSlackU) OVER w AS pu,
       |        sum(-zu - $CusumSlackU) OVER w AS pd
       |      FROM f
       |      WINDOW w AS (PARTITION BY event_type ORDER BY day
       |                   ROWS UNBOUNDED PRECEDING)),
       |c AS (SELECT event_type, day, n, zu,
       |        pu - least(0, min(pu) OVER w) AS su,
       |        pd - least(0, min(pd) OVER w) AS sd
       |      FROM p
       |      WINDOW w AS (PARTITION BY event_type ORDER BY day
       |                   ROWS UNBOUNDED PRECEDING))
       |SELECT event_type, day, n, zu::DOUBLE / 10000 AS z,
       |  su::DOUBLE / 10000 AS cusum_up,
       |  sd::DOUBLE / 10000 AS cusum_down,
       |  (su > $CusumThreshU OR sd > $CusumThreshU) AS is_shift
       |FROM c ORDER BY event_type, day""".stripMargin
  }

  /** Mirror of Sessions.conversionLift: the approx_distinct md5 hash
    * split, exact conditional counts, pooled-SE z with identical
    * operand order (all ::DOUBLE explicit — a bare 1.0 is DECIMAL).
    */
  val conversionLift: String = {
    import graft.operators.Sessions.LiftZCrit
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
       |  FROM events GROUP BY user_id),
       |a AS (SELECT
       |    (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2)::INT
       |      AS arm, cv
       |  FROM u),
       |g AS (SELECT
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
       |    sum(CASE WHEN arm = 0 THEN cv ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nb,
       |    sum(CASE WHEN arm = 1 THEN cv ELSE 0 END)::BIGINT AS cb
       |  FROM a),
       |x AS (SELECT *,
       |    sqrt((ca + cb)::DOUBLE / (na + nb)
       |         * (1.0::DOUBLE - (ca + cb)::DOUBLE / (na + nb))
       |         * (1.0::DOUBLE / na + 1.0::DOUBLE / nb)) AS se
       |  FROM g)
       |SELECT na AS n_a, ca AS conv_a,
       |  floor(ca::DOUBLE / na * 1000000 + 0.5) / 1000000 AS p_a,
       |  nb AS n_b, cb AS conv_b,
       |  floor(cb::DOUBLE / nb * 1000000 + 0.5) / 1000000 AS p_b,
       |  floor((ca::DOUBLE / na - cb::DOUBLE / nb) * 1000000 + 0.5)
       |    / 1000000 AS lift,
       |  CASE WHEN se > 0
       |       THEN floor((ca::DOUBLE / na - cb::DOUBLE / nb) / se
       |                  * 10000 + 0.5) / 10000
       |       ELSE 0.0::DOUBLE END AS z_score,
       |  (se > 0 AND abs((ca::DOUBLE / na - cb::DOUBLE / nb) / se)
       |   > $LiftZCrit) AS is_significant
       |FROM x""".stripMargin
  }

  /** Mirror of Sessions.kmRetention: lifetime grid with last-week
    * censoring, at-risk via the 1-preceding cumulative, 6dp-integer ln
    * factors summed exactly, exp once, cumulative zero flag.
    */
  val kmRetention: String =
    """WITH e AS (SELECT user_id,
      |  (floor(epoch(ts))::BIGINT // 604800) AS wk FROM events),
      |sp AS (SELECT user_id, min(wk) AS f, max(wk) AS l
      |       FROM e GROUP BY user_id),
      |mx AS (SELECT max(l) AS maxwk FROM sp),
      |nn AS (SELECT count(*)::BIGINT AS n_users FROM sp),
      |g AS (SELECT (sp.l - sp.f)::INT AS t, count(*)::BIGINT AS leave,
      |        sum(CASE WHEN sp.l = mx.maxwk THEN 0 ELSE 1 END)::BIGINT
      |          AS d,
      |        sum(CASE WHEN sp.l = mx.maxwk THEN 1 ELSE 0 END)::BIGINT
      |          AS c
      |      FROM sp, mx GROUP BY 1),
      |w1 AS (SELECT g.*, (nn.n_users - coalesce(
      |          sum(leave) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
      |                           PRECEDING AND 1 PRECEDING), 0))::BIGINT
      |          AS n_risk
      |       FROM g, nn),
      |w2 AS (SELECT *,
      |        CASE WHEN d < n_risk
      |             THEN floor(ln(1.0::DOUBLE - d::DOUBLE / n_risk)
      |                        * 1000000 + 0.5)::BIGINT
      |             ELSE 0 END AS lnu,
      |        CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dd
      |       FROM w1),
      |w3 AS (SELECT *, sum(lnu) OVER wc AS lns, max(dd) OVER wc AS dead
      |       FROM w2
      |       WINDOW wc AS (ORDER BY t ROWS UNBOUNDED PRECEDING))
      |SELECT t, n_risk, d AS n_churn, c AS n_censored,
      |  CASE WHEN dead = 1 THEN 0.0::DOUBLE
      |       ELSE floor(exp(lns::DOUBLE / 1000000) * 1000000 + 0.5)
      |            / 1000000 END AS survival
      |FROM w3 ORDER BY t""".stripMargin

  /** Mirror of Sessions.nelsonAalen: kmRetention's actuarial grid, 6dp
    * integer hazard increments summed exactly, one exp tail.
    */
  val nelsonAalen: String =
    """WITH e AS (SELECT user_id,
      |  (floor(epoch(ts))::BIGINT // 604800) AS wk FROM events),
      |sp AS (SELECT user_id, min(wk) AS f, max(wk) AS l
      |       FROM e GROUP BY user_id),
      |mx AS (SELECT max(l) AS maxwk FROM sp),
      |nn AS (SELECT count(*)::BIGINT AS n_users FROM sp),
      |g AS (SELECT (sp.l - sp.f)::INT AS t, count(*)::BIGINT AS leave,
      |        sum(CASE WHEN sp.l = mx.maxwk THEN 0 ELSE 1 END)::BIGINT
      |          AS d,
      |        sum(CASE WHEN sp.l = mx.maxwk THEN 1 ELSE 0 END)::BIGINT
      |          AS c
      |      FROM sp, mx GROUP BY 1),
      |w1 AS (SELECT g.*, (nn.n_users - coalesce(
      |          sum(leave) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
      |                           PRECEDING AND 1 PRECEDING), 0))::BIGINT
      |          AS n_risk
      |       FROM g, nn),
      |w2 AS (SELECT *,
      |        floor(d::DOUBLE / n_risk * 1000000 + 0.5)::BIGINT AS hu
      |       FROM w1),
      |w3 AS (SELECT *, sum(hu) OVER (ORDER BY t ROWS UNBOUNDED
      |                               PRECEDING) AS hs
      |       FROM w2)
      |SELECT t, n_risk, d AS n_churn, c AS n_censored,
      |  hs::DOUBLE / 1000000 AS cum_hazard,
      |  floor(exp(-(hs::DOUBLE) / 1000000) * 1000000 + 0.5) / 1000000
      |    AS survival_fh
      |FROM w3 ORDER BY t""".stripMargin

  /** Mirror of Sessions.logrankTest: the survival grid split by the
    * conversionLift md5 arm, 6dp-integer expectation/variance terms
    * summed exactly, one χ² double tail. Window sums and all counts
    * cast ::BIGINT (the n_risk HUGEINT lesson); the user totals come
    * from the `tot` CTE, not the filtered grid, so an all-censored
    * corpus still reports its arm sizes.
    */
  val logrankTest: String = {
    import graft.operators.Sessions.LogrankChi2Crit
    s"""WITH e AS (SELECT user_id,
       |  (floor(epoch(ts))::BIGINT // 604800) AS wk FROM events),
       |sp AS (SELECT user_id, min(wk) AS f, max(wk) AS l
       |       FROM e GROUP BY user_id),
       |ar AS (SELECT
       |    (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
       |     % 2)::INT AS arm, f, l
       |  FROM sp),
       |mx AS (SELECT max(l) AS maxwk FROM ar),
       |tot AS (SELECT
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS nu_a,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nu_b
       |  FROM ar),
       |g AS (SELECT (ar.l - ar.f)::INT AS t,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS leave_a,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS leave_b,
       |    sum(CASE WHEN arm = 0 AND ar.l <> mx.maxwk
       |             THEN 1 ELSE 0 END)::BIGINT AS d_a,
       |    sum(CASE WHEN arm = 1 AND ar.l <> mx.maxwk
       |             THEN 1 ELSE 0 END)::BIGINT AS d_b
       |  FROM ar, mx GROUP BY 1),
       |w1 AS (SELECT g.*,
       |    (tot.nu_a - coalesce(sum(leave_a) OVER wp, 0))::BIGINT AS n_a,
       |    (tot.nu_b - coalesce(sum(leave_b) OVER wp, 0))::BIGINT AS n_b
       |  FROM g, tot
       |  WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
       |                AND 1 PRECEDING)),
       |w2 AS (SELECT *,
       |    floor((d_a + d_b)::DOUBLE * n_a / (n_a + n_b) * 1000000
       |          + 0.5)::BIGINT AS eu,
       |    CASE WHEN n_a + n_b > 1
       |         THEN floor((d_a + d_b)::DOUBLE * n_a / (n_a + n_b)
       |                    * n_b / (n_a + n_b)
       |                    * (n_a + n_b - (d_a + d_b))::DOUBLE
       |                    / (n_a + n_b - 1)::DOUBLE * 1000000
       |                    + 0.5)::BIGINT
       |         ELSE 0 END AS vu
       |  FROM w1 WHERE d_a + d_b > 0),
       |s AS (SELECT count(*)::BIGINT AS n_times,
       |    sum(d_a)::BIGINT AS churn_a, sum(d_b)::BIGINT AS churn_b,
       |    sum(eu)::BIGINT AS esum, sum(vu)::BIGINT AS vsum
       |  FROM w2)
       |SELECT tot.nu_a AS n_users_a, tot.nu_b AS n_users_b, s.n_times,
       |  s.churn_a, s.churn_b, s.esum::DOUBLE / 1000000 AS expected_a,
       |  CASE WHEN s.vsum > 0
       |       THEN floor((s.churn_a::DOUBLE - s.esum::DOUBLE / 1000000)
       |                  * (s.churn_a::DOUBLE - s.esum::DOUBLE / 1000000)
       |                  / (s.vsum::DOUBLE / 1000000) * 10000 + 0.5)
       |            / 10000
       |       ELSE 0.0::DOUBLE END AS chi2,
       |  (s.vsum > 0 AND
       |   (s.churn_a::DOUBLE - s.esum::DOUBLE / 1000000)
       |   * (s.churn_a::DOUBLE - s.esum::DOUBLE / 1000000)
       |   / (s.vsum::DOUBLE / 1000000) > $LogrankChi2Crit)
       |    AS is_significant
       |FROM s, tot""".stripMargin
  }

  /** Mirror of Sessions.cupedLift: exact long moments (every sum
    * ::BIGINT, centered products in BIGINT per the chi2_terms rule),
    * one fixed-order double tail; the unrounded θ feeds lift_cuped.
    */
  val cupedLift: String =
    """WITH e AS (SELECT user_id,
      |  (floor(epoch(ts))::BIGINT // 604800) AS wk FROM events),
      |md AS (SELECT (min(wk) + max(wk) + 1) // 2 AS mid FROM e),
      |u AS (SELECT user_id,
      |    sum(CASE WHEN wk < md.mid THEN 1 ELSE 0 END)::BIGINT AS x,
      |    sum(CASE WHEN wk >= md.mid THEN 1 ELSE 0 END)::BIGINT AS y
      |  FROM e, md GROUP BY user_id),
      |a AS (SELECT
      |    (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
      |     % 2)::INT AS arm, x, y
      |  FROM u),
      |g AS (SELECT count(*)::BIGINT AS n,
      |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
      |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
      |    sum(x * y)::BIGINT AS sxy,
      |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
      |    sum(CASE WHEN arm = 0 THEN x ELSE 0 END)::BIGINT AS sxa,
      |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS sya,
      |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nb,
      |    sum(CASE WHEN arm = 1 THEN x ELSE 0 END)::BIGINT AS sxb,
      |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS syb
      |  FROM a),
      |x AS (SELECT *,
      |    (n * sxy - sx * sy)::BIGINT AS covn,
      |    (n * sxx - sx * sx)::BIGINT AS varxn,
      |    (n * syy - sy * sy)::BIGINT AS varyn
      |  FROM g)
      |SELECT na AS n_a, nb AS n_b,
      |  CASE WHEN varxn > 0 AND varyn > 0 AND na > 0 AND nb > 0
      |       THEN floor(covn::DOUBLE / varxn::DOUBLE * 1000000 + 0.5)
      |            / 1000000
      |       ELSE 0.0::DOUBLE END AS theta,
      |  CASE WHEN na > 0 AND nb > 0
      |       THEN floor((sya::DOUBLE / na - syb::DOUBLE / nb) * 1000000
      |                  + 0.5) / 1000000
      |       ELSE 0.0::DOUBLE END AS lift_raw,
      |  CASE WHEN varxn > 0 AND varyn > 0 AND na > 0 AND nb > 0
      |       THEN floor((sya::DOUBLE / na - syb::DOUBLE / nb
      |                   - covn::DOUBLE / varxn::DOUBLE
      |                     * (sxa::DOUBLE / na - sxb::DOUBLE / nb))
      |                  * 1000000 + 0.5) / 1000000
      |       ELSE 0.0::DOUBLE END AS lift_cuped,
      |  CASE WHEN varxn > 0 AND varyn > 0 AND na > 0 AND nb > 0
      |       THEN floor(covn::DOUBLE * covn::DOUBLE
      |                  / (varxn::DOUBLE * varyn::DOUBLE) * 1000000
      |                  + 0.5) / 1000000
      |       ELSE 0.0::DOUBLE END AS var_reduction
      |FROM x""".stripMargin

  /** Mirror of Sessions.fdrBh: the ksDrift mirror as the p-value
    * source, ranks tie-broken on event_type, the BH step-up cutoff as
    * a max over an exact flag; α interpolates ::DOUBLE (bare literals
    * are DECIMAL).
    */
  lazy val fdrBh: String = { // lazy: composes ksDrift, declared later
    import graft.operators.Sessions.FdrAlpha
    s"""WITH base AS (SELECT event_type, p_value FROM ($ksDrift)
       |              WHERE p_value IS NOT NULL),
       |mm AS (SELECT count(*)::BIGINT AS m FROM base),
       |r AS (SELECT b.event_type, b.p_value, mm.m,
       |    row_number() OVER (ORDER BY b.p_value, b.event_type)::INT
       |      AS rank
       |  FROM base b, mm),
       |k AS (SELECT *, rank::DOUBLE * $FdrAlpha::DOUBLE / m AS bh_line
       |      FROM r),
       |km AS (SELECT max(CASE WHEN p_value <= bh_line THEN rank
       |                       ELSE 0 END)::INT AS kmax FROM k)
       |SELECT k.event_type, k.p_value, k.rank, k.m,
       |  floor(bh_line * 1000000 + 0.5) / 1000000 AS bh_threshold,
       |  (k.rank <= km.kmax) AS is_discovery
       |FROM k, km ORDER BY k.rank""".stripMargin
  }

  /** Mirror of Sessions.sessionEntropy: (user, type) exact counts, 6dp
    * integer c·ln c terms summed exactly, one mirrored double tail.
    */
  val sessionEntropy: String =
    """WITH pt AS (SELECT user_id, event_type, count(*)::BIGINT AS c
      |            FROM events GROUP BY 1, 2),
      |t AS (SELECT user_id, c,
      |        floor(c::DOUBLE * ln(c::DOUBLE) * 1000000 + 0.5)::BIGINT
      |          AS tl
      |      FROM pt),
      |g AS (SELECT user_id, sum(c)::BIGINT AS n_events,
      |        count(*)::INT AS n_types, sum(tl)::BIGINT AS stl
      |      FROM t GROUP BY user_id)
      |SELECT user_id, n_events, n_types,
      |  floor((ln(n_events::DOUBLE) - (stl::DOUBLE / 1000000) / n_events)
      |        * 1000000 + 0.5) / 1000000 AS entropy
      |FROM g ORDER BY user_id""".stripMargin

  /** Mirror of Analytics.discountElasticity: exact-cent grid points,
    * one mirrored mean division per level, zipf_fit's DECIMAL(38,0)
    * OLS moments and verbatim-ordered final divisions.
    */
  val discountElasticity: String =
    """WITH lv AS (SELECT
      |    floor(l_discount * 100 + 0.5)::BIGINT AS xu,
      |    floor(l_quantity * 100 + 0.5)::BIGINT AS qu
      |  FROM lineitem),
      |g AS (SELECT xu, count(*)::BIGINT AS nl, sum(qu)::BIGINT AS sq
      |      FROM lv GROUP BY xu),
      |p AS (SELECT xu,
      |        floor(sq::DOUBLE / nl / 100 * 1000000 + 0.5)::BIGINT AS yu
      |      FROM g),
      |m AS (SELECT count(*)::BIGINT AS n,
      |        sum(xu)::BIGINT AS sx, sum(yu)::BIGINT AS sy,
      |        sum(xu * yu)::BIGINT AS sxy, sum(xu * xu)::BIGINT AS sxx,
      |        sum(yu * yu)::BIGINT AS syy
      |      FROM p),
      |d AS (SELECT n,
      |        (n::DECIMAL(38,0) * sxy - sx::DECIMAL(38,0) * sy)::DOUBLE
      |          AS num,
      |        (n::DECIMAL(38,0) * sxx - sx::DECIMAL(38,0) * sx)::DOUBLE
      |          AS dx,
      |        (n::DECIMAL(38,0) * syy - sy::DECIMAL(38,0) * sy)::DOUBLE
      |          AS dy,
      |        (sy::DECIMAL(38,0) * sxx - sx::DECIMAL(38,0) * sxy)::DOUBLE
      |          AS icnum
      |      FROM m)
      |SELECT n AS n_levels,
      |  CASE WHEN n > 1
      |       THEN floor(num / dx / 10000 * 1000000 + 0.5) / 1000000 END
      |    AS slope,
      |  CASE WHEN n > 1
      |       THEN floor(icnum / dx / 1000000 * 1000000 + 0.5) / 1000000
      |       END AS intercept,
      |  CASE WHEN n > 1 AND dy <> 0.0
      |       THEN floor(num * num / (dx * dy) * 1000000 + 0.5) / 1000000
      |       END AS r2
      |FROM d""".stripMargin

  /** Mirror of Sessions.conversionLatency: funnel-convention first
    * signup/purchase pair, minute-bin histogram cumulative quantiles,
    * exact-second mean.
    */
  val conversionLatency: String =
    """WITH e AS (SELECT user_id, event_type,
      |  floor(epoch(ts))::BIGINT AS sec FROM events),
      |p AS (SELECT user_id,
      |        min(CASE WHEN event_type = 'signup' THEN sec END) AS ts,
      |        min(CASE WHEN event_type = 'purchase' THEN sec END) AS tp
      |      FROM e GROUP BY user_id),
      |l AS (SELECT tp - ts AS lat FROM p
      |      WHERE ts IS NOT NULL AND tp IS NOT NULL AND tp > ts),
      |h AS (SELECT lat // 60 AS bin, count(*)::BIGINT AS c,
      |        sum(lat)::BIGINT AS sl FROM l GROUP BY 1),
      |x AS (SELECT *, sum(c) OVER (ORDER BY bin
      |        ROWS UNBOUNDED PRECEDING) AS cum FROM h),
      |t AS (SELECT sum(c)::BIGINT AS n, sum(sl)::BIGINT AS tl FROM h)
      |SELECT max(t.n) AS n_converted,
      |  min(CASE WHEN cum * 100 >= t.n * 50 THEN bin * 60 END) AS p50_sec,
      |  min(CASE WHEN cum * 100 >= t.n * 90 THEN bin * 60 END) AS p90_sec,
      |  max(floor(t.tl::DOUBLE / t.n * 10000 + 0.5) / 10000) AS mean_sec
      |FROM x, t""".stripMargin

  /** Mirror of Analytics.rfmSegments: per-customer RFM frame, quartile
    * thresholds from histogram cumulatives (4·cum ≥ k·N exact-integer
    * form), map-side scoring. The monetary bin width interpolates from
    * the engine constant.
    */
  val rfmSegments: String = {
    val bin = graft.operators.Analytics.RfmMonBucketCents
    def hist(src: String, v: String, p: String): String =
      s"""${p}h AS (SELECT $v AS v, count(*) AS cnt FROM $src GROUP BY 1),
         |${p}c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM ${p}h),
         |${p}q AS (SELECT min(CASE WHEN 4*cum >= n.n THEN v END) AS ${p}1,
         |  min(CASE WHEN 4*cum >= 2*n.n THEN v END) AS ${p}2,
         |  min(CASE WHEN 4*cum >= 3*n.n THEN v END) AS ${p}3 FROM ${p}c, n)""".stripMargin
    def sc(v: String, p: String): String =
      s"(1 + ($v > ${p}1)::INT + ($v > ${p}2)::INT + ($v > ${p}3)::INT)"
    s"""WITH per AS (SELECT o_custkey AS c_custkey,
       |  max(floor(epoch(o_orderdate))::BIGINT) AS last_sec,
       |  count(*) AS frequency,
       |  CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
       |    * 100 + 0.5) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |r AS (SELECT max(last_sec) AS ref_sec FROM per),
       |b AS (SELECT c_custkey,
       |  ((r.ref_sec - last_sec) // 86400)::INT AS recency_days,
       |  frequency, cents, cents // $bin AS mon_bin FROM per, r),
       |n AS (SELECT count(*) AS n FROM b),
       |${hist("b", "recency_days", "r")},
       |${hist("b", "frequency", "f")},
       |${hist("b", "mon_bin", "m")},
       |s AS (SELECT c_custkey, recency_days, frequency,
       |  cents::DOUBLE / 100 AS monetary,
       |  (5 - ${sc("recency_days", "r")}) AS r_score,
       |  ${sc("frequency", "f")} AS f_score,
       |  ${sc("mon_bin", "m")} AS m_score
       |  FROM b, rq, fq, mq)
       |SELECT c_custkey, recency_days, frequency, monetary,
       |  r_score, f_score, m_score,
       |  (r_score * 100 + f_score * 10 + m_score) AS rfm,
       |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
       |       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
       |       WHEN f_score >= 3 THEN 'loyal'
       |       WHEN r_score >= 4 THEN 'recent'
       |       ELSE 'hibernating' END AS segment
       |FROM s""".stripMargin
  }

  /** Mirror of Sessions.eventTransitions: lead() within (sec, event_id)
    * per-user order, pair counts, per-from row normalization. n is an
    * exact BIGINT on both sides; the quotient's operands are exact in
    * DOUBLE, so the 6dp floor-round agrees bit-for-bit.
    */
  val eventTransitions: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |  floor(epoch(ts))::BIGINT AS sec FROM events),
      |s AS (SELECT event_type AS from_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id)
      |    AS to_type FROM e),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM s
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  floor(n::DOUBLE / (sum(n) OVER (PARTITION BY from_type))::DOUBLE
      |    * 1000000 + 0.5) / 1000000 AS p
      |FROM c""".stripMargin

  /** Mirror of Sessions.eventPaths: same ordering window as
    * eventTransitions, two leads, top-k with path tie-break.
    */
  val eventPaths: String = {
    import graft.operators.Sessions.PathTopK
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |  floor(epoch(ts))::BIGINT AS sec FROM events),
       |l AS (SELECT event_type AS t1,
       |  lead(event_type, 1) OVER w AS t2,
       |  lead(event_type, 2) OVER w AS t3
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
       |p AS (SELECT t1 || '>' || t2 || '>' || t3 AS path,
       |        count(*)::BIGINT AS n
       |      FROM l WHERE t3 IS NOT NULL GROUP BY 1)
       |SELECT path, n, rank::INT AS rank
       |FROM (SELECT path, n,
       |        row_number() OVER (ORDER BY n DESC, path) AS rank
       |      FROM p) WHERE rank <= $PathTopK""".stripMargin
  }

  /** Mirror of Analytics.keySkew: one groupBy + totals, identical
    * double arithmetic order for share and skew factor.
    */
  val keySkew: String = {
    import graft.operators.Analytics.SkewTopK
    s"""WITH c AS (SELECT l_partkey, count(*)::BIGINT AS cnt
       |           FROM lineitem GROUP BY l_partkey),
       |t AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS n_keys
       |      FROM c),
       |r AS (SELECT l_partkey, cnt,
       |        row_number() OVER (ORDER BY cnt DESC, l_partkey) AS rank
       |      FROM c)
       |SELECT l_partkey, cnt,
       |  floor(cnt::DOUBLE / total * 1000000 + 0.5) / 1000000 AS share,
       |  floor(cnt::DOUBLE * n_keys / total * 10000 + 0.5) / 10000 AS skew,
       |  rank::INT AS rank
       |FROM r, t WHERE rank <= $SkewTopK""".stripMargin
  }

  val windowAgg: String =
    """WITH e AS (SELECT (floor(epoch(ts))::BIGINT // 3600) AS hr, event_type, value
      |           FROM events)
      |SELECT strftime(make_timestamp(hr * 3600 * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*)::INT AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_value,
      |  floor(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_value
      |FROM e GROUP BY hr, event_type""".stripMargin

  /** Byte-true mirror of the binary-column metadata: magic and first-byte
    * are computed over the UTF-8 bytes (hex(encode(text)) — two hex chars
    * per byte), not over characters, so a non-ASCII document agrees with
    * Spark's substring-on-binary ops (r2 ADVICE: char-based substr/ascii
    * only coincided because the corpus happened to be pure ASCII).
    */
  val multimodalMeta: String =
    """WITH b AS (SELECT doc_id, source, text,
      |             octet_length(encode(text))::INT AS byte_len,
      |             hex(encode(text)) AS hx
      |           FROM documents)
      |SELECT doc_id, source, byte_len,
      |  lower(substr(hx, 1, 8)) AS magic,
      |  md5(text) AS content_md5,
      |  ((byte_len * 7 + 13) % 640 + 1)::INT AS width,
      |  ((byte_len * 3 +
      |    CASE WHEN byte_len > 0
      |         THEN (strpos('0123456789ABCDEF', substr(hx, 1, 1)) - 1) * 16
      |            + (strpos('0123456789ABCDEF', substr(hx, 2, 1)) - 1)
      |         ELSE 0 END)
      |   % 480 + 1)::INT AS height,
      |  3 AS channels
      |FROM b""".stripMargin

  /** Mirror of Embedder.embedText: 64 ±1-bit sums per doc, L2-normalized. */
  val embedText: String = {
    val sums = (0 until 64).map { i =>
      val pos = i / 4 + 1
      val shift = 3 - i % 4
      s"sum((((strpos('0123456789abcdef', h[$pos]) - 1) >> $shift) & 1) * 2 - 1) AS s$i"
    }
    val normTerms = (0 until 64)
      .map(i => s"s$i::DOUBLE * s$i::DOUBLE").mkString(" + ")
    val comps = (0 until 64)
      .map(i => s"round(s$i::DOUBLE / nrm, 6)").mkString("[", ", ", "]")
    val zeros = Seq.fill(64)("0.0").mkString("[", ", ", "]")
    // Exploded to (doc_id, i, component) scalar rows: the driver's pandas
    // hash-compare cannot hash an array-typed column (r2 ADVICE).
    s"""WITH n AS (SELECT doc_id,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |ex AS (SELECT doc_id, md5(unnest(ws)) AS h FROM n),
       |s AS (SELECT doc_id, ${sums.mkString(", ")} FROM ex GROUP BY doc_id),
       |m AS (SELECT *, sqrt($normTerms) AS nrm FROM s),
       |f AS (SELECT doc_id,
       |        CASE WHEN nrm > 0 THEN $comps ELSE $zeros END AS emb
       |      FROM m)
       |SELECT doc_id, (i - 1)::INT AS i, emb[i::INT] AS component
       |FROM f, range(1, 65) t(i)""".stripMargin
  }

  /** Shared k-means CTE builders (mirror Similarity.assign/recompute):
    * full-dimension cosine assignment, long-integer-accumulated means.
    */
  private def kmAssignCte(cents: String, out: String) =
    s"""$out AS (SELECT vec_id, embedding, cid FROM (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS rn
       |  FROM embeddings e, $cents c) WHERE rn = 1)""".stripMargin

  private def kmRecomputeCte(assigned: String, out: String) =
    s"""$out AS (SELECT cid, list(cv ORDER BY i) AS cvec FROM (
       |  SELECT cid, i,
       |    CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE) / (count(*) * 10) + 0.5) / 1000000 AS FLOAT) AS cv
       |  FROM $assigned, range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid)""".stripMargin

  /** Shared PQ CTE builders (mirror Similarity.assignPq/recomputePq):
    * unrolled left-associative inner products = the Spark DotProduct
    * loop bit-for-bit.
    */
  private def pqIp(a: String, b: String): String = (1 to 8)
    .map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
    .mkString(" + ")

  private def pqD2(a: String, b: String): String =
    s"(${pqIp(a, a)}) - 2.0 * (${pqIp(a, b)}) + (${pqIp(b, b)})"

  private def pqAssignCte(cb: String, out: String) =
    s"""$out AS (SELECT vec_id, m, sub, cid FROM (
       |  SELECT sv.vec_id, sv.m, sv.sub, c.cid,
       |    row_number() OVER (PARTITION BY sv.vec_id, sv.m
       |      ORDER BY ${pqD2("sv.sub", "c.cvec")}, c.cid) AS rn
       |  FROM sv JOIN $cb c ON c.m = sv.m) WHERE rn = 1)""".stripMargin

  private def pqRecomputeCte(assigned: String, out: String) =
    s"""$out AS (SELECT m, cid, list(cv ORDER BY i) AS cvec FROM (
       |  SELECT m, cid, i,
       |    CAST(floor(CAST(sum(CAST(floor(CAST(sub[i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE) / (count(*) * 10) + 0.5) / 1000000 AS FLOAT) AS cv
       |  FROM $assigned, range(1, 9) t(i) GROUP BY m, cid, i)
       |  GROUP BY m, cid)""".stripMargin

  /** Shared PQ CTE prefix: codebook training + encode over a caller-
    * provided `sv` CTE of (vec_id, m, sub) subvector rows.
    */
  private val pqTrainCtes: String =
    s"""pq0 AS (SELECT m, vec_id::INT AS cid, sub AS cvec FROM sv
       |        WHERE vec_id < 16),
       |${pqAssignCte("pq0", "pqa1")},
       |${pqRecomputeCte("pqa1", "pq1")},
       |${pqAssignCte("pq1", "pqa2")},
       |${pqRecomputeCte("pqa2", "pq2")},
       |${pqAssignCte("pq2", "pqenc")},
       |codes AS (SELECT vec_id, m, cid FROM pqenc)""".stripMargin

  /** Shared ADC-parts CTE over the trained codebook `pq2`. */
  private val adcCte: String =
    s"""adc AS (SELECT q.vec_id AS q_id, c.m, c.cid,
       |  CAST(floor((${pqIp("list_slice(q.embedding, c.m*8 + 1, c.m*8 + 8)", "c.cvec")})
       |       * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM embeddings q, pq2 c WHERE q.vec_id % 100 = 0)""".stripMargin

  /** Mirror of Similarity.annIvfKmeans: 2 unrolled Lloyd iterations from
    * the deterministic init, then probe + rank inside trained clusters.
    */
  val annIvfKmeans: String = ivfProbeSql(2)

  /** The trained-kmeans chain's CTE prefix (c0 → … → c2 centroids,
    * `idx` assignment) — shared by the probe mirrors and the graph
    * family.
    */
  private def kmChainCtes: String =
    s"""c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2")},
       |${kmAssignCte("c2", "idx")}""".stripMargin

  /** The full trained-IVF probe at a given nprobe (the annIvfKmeans
    * body, parameterized for graphRecall's nprobe-1 baseline arm).
    */
  private def ivfProbeSql(nprobe: Int): String =
    s"""WITH $kmChainCtes,
       |probes AS (SELECT q_id, pcid FROM (
       |  SELECT q.vec_id AS q_id, c.cid AS pcid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS pr
       |  FROM embeddings q, c2 c WHERE q.vec_id % 100 = 0)
       |  WHERE pr <= $nprobe),
       |cand AS (SELECT p.q_id, x.vec_id AS neighbor_id,
       |    list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
       |  FROM probes p JOIN idx x ON x.cid = p.pcid
       |       JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE x.vec_id <> p.q_id)
       |SELECT q_id, neighbor_id, round(s, 6) AS sim, rank::INT AS rank FROM (
       |  SELECT q_id, neighbor_id, s,
       |    row_number() OVER (PARTITION BY q_id ORDER BY s DESC, neighbor_id) AS rank
       |  FROM cand) WHERE rank <= 3""".stripMargin

  /** Mirror of Similarity.annGraph: the kmeans chain, the symmetrized
    * per-vector nprobe-2 top-K graph, the nprobe-1 entry pool, and
    * [[graft.operators.Similarity.GraphRounds]] unrolled best-first
    * rounds (dedup by max over identical scores, rank windows with id
    * tie-break), top-3 of everything visited.
    */
  lazy val annGraph: String = {
    import graft.operators.Similarity
    s"""WITH $graphWalkCtes
       |SELECT q_id, neighbor_id, round(s, 6) AS sim, rank::INT AS rank FROM (
       |  SELECT q_id, vec_id AS neighbor_id, s,
       |    row_number() OVER (PARTITION BY q_id ORDER BY s DESC, vec_id) AS rank
       |  FROM vis${Similarity.GraphRounds}) WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Mirror of Similarity.beamCurve: per-rounds arms over the shared
    * walk chain's vis1..visR frames — top-3 vs the exact truth plus the
    * mean visited-set size.
    */
  lazy val beamCurve: String = {
    import graft.operators.Similarity
    val arms = (1 to Similarity.GraphRounds).map { r =>
      (s"""t$r AS (SELECT q_id, vec_id FROM (
          |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
          |    ORDER BY s DESC, vec_id) AS rk FROM vis$r) WHERE rk <= 3),
          |m$r AS (SELECT count(DISTINCT ex.q_id)::BIGINT AS n_queries,
          |    count(a.vec_id)::BIGINT AS n_matched
          |  FROM ex LEFT JOIN t$r a ON a.q_id = ex.q_id
          |                         AND a.vec_id = ex.neighbor_id),
          |cv$r AS (SELECT sum(nv)::BIGINT AS tv, count(*)::BIGINT AS nq
          |  FROM (SELECT q_id, count(*)::BIGINT AS nv FROM vis$r
          |        GROUP BY q_id))""".stripMargin,
        s"""SELECT $r AS rounds, n_queries, n_matched,
           |  floor(n_matched::DOUBLE / (n_queries * 3) * 10000 + 0.5)
           |    / 10000 AS recall,
           |  floor(tv::DOUBLE / nq * 100 + 0.5) / 100 AS mean_visited
           |FROM m$r, cv$r""".stripMargin)
    }
    s"""WITH $graphWalkCtes,
       |ex AS MATERIALIZED (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |${arms.map(_._1).mkString(",\n")}
       |SELECT * FROM (${arms.map(_._2).mkString("\nUNION ALL\n")})
       |ORDER BY rounds""".stripMargin
  }

  /** Mirror of Similarity.roundsPick: the beamCurve arms under the
    * meets-then-cheapest rank window (slack-relative recall floor,
    * single-sourced).
    */
  lazy val roundsPick: String = {
    import graft.operators.Similarity
    val sl = Similarity.RoundsRecallSlack
    s"""SELECT rounds, recall, best_recall, $sl::DOUBLE AS slack,
       |  mean_visited
       |FROM (
       |  SELECT *, row_number() OVER (ORDER BY
       |      CASE WHEN met THEN 0 ELSE 1 END,
       |      CASE WHEN met THEN rounds::DOUBLE
       |           ELSE -coalesce(recall, 0) END,
       |      rounds) AS rk
       |  FROM (SELECT *, max(recall) OVER () AS best_recall,
       |          recall >= floor(max(recall) OVER () * $sl * 10000)
       |            / 10000 AS met
       |        FROM ($beamCurve)))
       |WHERE rk = 1""".stripMargin
  }

  /** Mirror of Similarity.graphDegree: the graph-build chain's
    * symmetrized edges, per-node degree, exact power-of-two bins.
    */
  lazy val graphDegree: String =
    s"""WITH $graphEdgeCtes,
       |dg AS (SELECT src, count(*)::BIGINT AS deg FROM g GROUP BY src),
       |hb AS (SELECT (1::BIGINT << (length(bin(deg)) - 1)) AS bin_lo
       |       FROM dg),
       |gr AS (SELECT bin_lo, count(*)::BIGINT AS n_nodes FROM hb
       |       GROUP BY bin_lo),
       |tt AS (SELECT sum(n_nodes)::BIGINT AS t FROM gr)
       |SELECT bin_lo, n_nodes,
       |  floor(n_nodes::DOUBLE / t * 10000 + 0.5) / 10000 AS node_share
       |FROM gr, tt ORDER BY bin_lo""".stripMargin

  /** The kmeans chain + graph-build CTEs, ending at the symmetrized
    * edge set `g` — shared by the walk chain and graphDegree.
    */
  private lazy val graphEdgeCtes: String = {
    import graft.operators.Similarity
    s"""$kmChainCtes,
       |gp AS (SELECT gv, pcid FROM (
       |  SELECT v.vec_id AS gv, c.cid AS pcid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_cosine_similarity(v.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS pr
       |  FROM embeddings v, c2 c) WHERE pr <= 2),
       |ge AS (SELECT gv AS src, nv AS dst FROM (
       |  SELECT p.gv, x.vec_id AS nv,
       |    row_number() OVER (PARTITION BY p.gv
       |      ORDER BY list_cosine_similarity(x.embedding::DOUBLE[], ve.embedding::DOUBLE[]) DESC,
       |               x.vec_id) AS rk
       |  FROM gp p JOIN idx x ON x.cid = p.pcid
       |       JOIN embeddings ve ON ve.vec_id = p.gv
       |  WHERE x.vec_id <> p.gv) WHERE rk <= ${Similarity.GraphK}),
       |g AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM ge UNION ALL SELECT dst, src FROM ge))""".stripMargin
  }

  /** The walk chain over edge CTE `g` with CTE-name suffix `sfx`:
    * entry pool + unrolled rounds, ending at vis0$sfx..visR$sfx and
    * f0$sfx..fR$sfx. Suffixing lets two walks (appended vs rebuilt
    * graph) share one query; the entry pool always reads the FRESH
    * inverted lists (`idx`), mirroring the engine.
    */
  private def walkCtesOver(g: String, sfx: String): String = {
    import graft.operators.Similarity
    val (ent, beam, rounds) = (Similarity.GraphEntries,
      Similarity.GraphBeam, Similarity.GraphRounds)
    val roundCtes = (1 to rounds).map { r =>
      s"""nb$r$sfx AS (SELECT DISTINCT f.q_id, gg.dst AS vec_id
         |  FROM f${r - 1}$sfx f JOIN $g gg ON gg.src = f.vec_id),
         |sc$r$sfx AS (SELECT n.q_id, n.vec_id,
         |    list_cosine_similarity(ne.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
         |  FROM nb$r$sfx n JOIN embeddings ne ON ne.vec_id = n.vec_id
         |       JOIN embeddings qe ON qe.vec_id = n.q_id
         |  WHERE n.vec_id <> n.q_id),
         |vis$r$sfx AS MATERIALIZED (SELECT q_id, vec_id, max(s) AS s FROM (
         |    SELECT * FROM vis${r - 1}$sfx UNION ALL SELECT * FROM sc$r$sfx)
         |  GROUP BY q_id, vec_id),
         |f$r$sfx AS (SELECT q_id, vec_id, s FROM (
         |    SELECT q_id, vec_id, s, row_number() OVER (PARTITION BY q_id
         |      ORDER BY s DESC, vec_id) AS rk FROM vis$r$sfx)
         |  WHERE rk <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""p1$sfx AS (SELECT q_id, pcid FROM (
       |  SELECT q.vec_id AS q_id, c.cid AS pcid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS pr
       |  FROM embeddings q, c2 c WHERE q.vec_id % 100 = 0) WHERE pr = 1),
       |vis0$sfx AS MATERIALIZED (SELECT q_id, vec_id, s FROM (
       |  SELECT p.q_id, x.vec_id,
       |    list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s,
       |    row_number() OVER (PARTITION BY p.q_id
       |      ORDER BY list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) DESC,
       |               x.vec_id) AS rk
       |  FROM p1$sfx p JOIN idx x ON x.cid = p.pcid
       |       JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE x.vec_id <> p.q_id) WHERE rk <= $ent),
       |f0$sfx AS (SELECT * FROM vis0$sfx),
       |$roundCtes""".stripMargin
  }

  /** The full walk chain: graph edges + entry pool + unrolled rounds,
    * ending at vis0..visR and f0..fR — shared by annGraph and
    * beamCurve.
    */
  private lazy val graphWalkCtes: String =
    s"""$graphEdgeCtes,
       |${walkCtesOver("g", "")}""".stripMargin

  /** The APPENDED graph's edge CTEs on top of [[graphEdgeCtes]]: base
    * edges (non-delta probes over non-delta members) plus the real
    * append's edges (delta probes over ALL members — the frozen
    * quantizer's add-after-train contract), both symmetrized — the
    * mirror of Similarity.buildAppendedKnnGraph.
    */
  private lazy val appendedEdgeCtes: String = {
    import graft.operators.Similarity
    s"""geb AS (SELECT gv AS src, nv AS dst FROM (
       |  SELECT p.gv, x.vec_id AS nv,
       |    row_number() OVER (PARTITION BY p.gv
       |      ORDER BY list_cosine_similarity(x.embedding::DOUBLE[], ve.embedding::DOUBLE[]) DESC,
       |               x.vec_id) AS rk
       |  FROM gp p JOIN idx x ON x.cid = p.pcid
       |       JOIN embeddings ve ON ve.vec_id = p.gv
       |  WHERE x.vec_id <> p.gv AND NOT ${isDeltaSql("x.vec_id")}
       |        AND NOT ${isDeltaSql("p.gv")})
       |  WHERE rk <= ${Similarity.GraphK}),
       |gea AS (SELECT gv AS src, nv AS dst FROM (
       |  SELECT p.gv, x.vec_id AS nv,
       |    row_number() OVER (PARTITION BY p.gv
       |      ORDER BY list_cosine_similarity(x.embedding::DOUBLE[], ve.embedding::DOUBLE[]) DESC,
       |               x.vec_id) AS rk
       |  FROM gp p JOIN idx x ON x.cid = p.pcid
       |       JOIN embeddings ve ON ve.vec_id = p.gv
       |  WHERE x.vec_id <> p.gv AND ${isDeltaSql("p.gv")})
       |  WHERE rk <= ${Similarity.GraphK}),
       |gapp AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM geb UNION ALL SELECT dst, src FROM geb
       |  UNION ALL
       |  SELECT src, dst FROM gea UNION ALL SELECT dst, src FROM gea))"""
      .stripMargin
  }

  /** Mirror of Similarity.appendRecall: both walk chains (appended
    * edge set `gapp` with suffix `a`, rebuilt `g` with suffix `r`)
    * against the brute exact top-3, one row per arm.
    */
  lazy val appendRecall: String = {
    import graft.operators.Similarity
    val R = Similarity.GraphRounds
    def armSql(name: String, sfx: String) =
      s"""SELECT '$name' AS arm, n_queries, n_matched,
         |  floor(n_matched::DOUBLE / (n_queries * 3) * 10000 + 0.5)
         |    / 10000 AS recall
         |FROM (SELECT count(DISTINCT ex.q_id)::BIGINT AS n_queries,
         |        count(a.vec_id)::BIGINT AS n_matched
         |      FROM ex LEFT JOIN t$sfx a ON a.q_id = ex.q_id
         |                              AND a.vec_id = ex.neighbor_id)"""
        .stripMargin
    s"""WITH $graphWalkCtes,
       |$appendedEdgeCtes,
       |${walkCtesOver("gapp", "a")},
       |ex AS MATERIALIZED (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |ta AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY s DESC, vec_id) AS rk FROM vis${R}a) WHERE rk <= 3),
       |tr AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY s DESC, vec_id) AS rk FROM vis$R) WHERE rk <= 3)
       |SELECT * FROM (
       |  ${armSql("appended", "a")}
       |  UNION ALL
       |  ${armSql("rebuilt", "r")})
       |ORDER BY arm""".stripMargin
  }

  /** Mirror of Similarity.appendChurn: appended-edge mass share of
    * `gapp`, per-query top-3 symmetric difference between the two
    * walks, and the rebuild_due decision on the rounded shares.
    */
  lazy val appendChurn: String = {
    import graft.operators.Similarity
    val R = Similarity.GraphRounds
    s"""WITH $graphWalkCtes,
       |$appendedEdgeCtes,
       |${walkCtesOver("gapp", "a")},
       |em AS (SELECT count(*)::BIGINT AS n_edges,
       |    sum(CASE WHEN ${isDeltaSql("src")} OR ${isDeltaSql("dst")}
       |        THEN 1 ELSE 0 END)::BIGINT AS n_appended FROM gapp),
       |ta AS (SELECT q_id AS q, vec_id AS n, TRUE AS ia FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY s DESC, vec_id) AS rk FROM vis${R}a) WHERE rk <= 3),
       |tr AS (SELECT q_id AS q, vec_id AS n, TRUE AS ir FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY s DESC, vec_id) AS rk FROM vis$R) WHERE rk <= 3),
       |ch AS (SELECT count(*)::BIGINT AS n_queries,
       |    sum(chg)::BIGINT AS n_changed FROM (
       |  SELECT q, max(CASE WHEN ia IS NULL OR ir IS NULL
       |      THEN 1 ELSE 0 END) AS chg
       |  FROM ta FULL OUTER JOIN tr USING (q, n) GROUP BY q))
       |SELECT n_edges, n_appended,
       |  floor(n_appended::DOUBLE / n_edges * 10000 + 0.5) / 10000
       |    AS append_share,
       |  n_queries, n_changed,
       |  floor(n_changed::DOUBLE / n_queries * 10000 + 0.5) / 10000
       |    AS churn,
       |  (floor(n_appended::DOUBLE / n_edges * 10000 + 0.5) / 10000
       |     > ${Similarity.AppShareMax}
       |   OR floor(n_changed::DOUBLE / n_queries * 10000 + 0.5) / 10000
       |     > ${Similarity.AppChurnMax}) AS rebuild_due
       |FROM em, ch""".stripMargin
  }

  /** Mirror of Similarity.graphRecall: dense truth vs the graph walk
    * and its own nprobe-1 entry baseline, one micro row per arm.
    */
  lazy val graphRecall: String =
    s"""WITH ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |ga AS (SELECT q_id, neighbor_id FROM ($annGraph)),
       |pa AS (SELECT q_id, neighbor_id FROM (${ivfProbeSql(1)})),
       |m1 AS (SELECT count(DISTINCT ex.q_id)::BIGINT AS n_queries,
       |         count(a.neighbor_id)::BIGINT AS n_matched
       |       FROM ex LEFT JOIN ga a ON a.q_id = ex.q_id
       |                             AND a.neighbor_id = ex.neighbor_id),
       |m2 AS (SELECT count(DISTINCT ex.q_id)::BIGINT AS n_queries,
       |         count(a.neighbor_id)::BIGINT AS n_matched
       |       FROM ex LEFT JOIN pa a ON a.q_id = ex.q_id
       |                             AND a.neighbor_id = ex.neighbor_id)
       |SELECT * FROM (
       |  SELECT 'graph' AS arm, n_queries, n_matched,
       |    floor(n_matched::DOUBLE / (n_queries * 3) * 10000 + 0.5) / 10000
       |      AS recall FROM m1
       |  UNION ALL
       |  SELECT 'ivf_probe1', n_queries, n_matched,
       |    floor(n_matched::DOUBLE / (n_queries * 3) * 10000 + 0.5) / 10000
       |      FROM m2)
       |ORDER BY arm""".stripMargin

  /** Mirror of Similarity.lshAnn (moved from SparkEntry's inline map so
    * indexRecall can embed it): 64 deterministic md5-sign hyperplanes,
    * 8x8-bit bands, capped buckets, true-cosine rerank.
    */
  val lshAnn: String =
    """WITH hp AS (
      |  SELECT j, list(CASE WHEN substr(md5(j::VARCHAR || '_' || i::VARCHAR), 1, 1) >= '8'
      |                      THEN CAST(1.0 AS FLOAT) ELSE CAST(-1.0 AS FLOAT) END ORDER BY i) AS h
      |  FROM range(0, 64) t1(j), range(0, 64) t2(i) GROUP BY j),
      |sig AS (
      |  SELECT e.vec_id,
      |    string_agg(CASE WHEN list_sum(list_transform(range(1, 65),
      |        k -> e.embedding[k]::DOUBLE * hp.h[k]::DOUBLE)) >= 0
      |      THEN '1' ELSE '0' END, '' ORDER BY hp.j) AS sg
      |  FROM embeddings e, hp GROUP BY e.vec_id),
      |banded AS (
      |  SELECT vec_id, b::INT AS band, substr(sg, (1 + 8*b)::INT, 8) AS key
      |  FROM sig, range(0, 8) t(b)),
      |capped AS (
      |  SELECT * FROM banded
      |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 1000),
      |qb AS (SELECT vec_id AS q_id, band AS qband, key AS qkey
      |       FROM banded WHERE vec_id % 100 = 0),
      |cand AS (
      |  SELECT DISTINCT qb.q_id, c.vec_id AS neighbor_id
      |  FROM capped c JOIN qb ON c.band = qb.qband AND c.key = qb.qkey
      |                        AND c.vec_id <> qb.q_id),
      |scored AS (
      |  SELECT cand.q_id, cand.neighbor_id,
      |    list_cosine_similarity(ne.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
      |  FROM cand JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
      |            JOIN embeddings qe ON qe.vec_id = cand.q_id)
      |SELECT q_id, neighbor_id, round(s, 6) AS sim, rank::INT AS rank FROM (
      |  SELECT q_id, neighbor_id, s,
      |    row_number() OVER (PARTITION BY q_id ORDER BY s DESC, neighbor_id) AS rank
      |  FROM scored) WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  /** Mirror of Similarity.annRecall: exact brute-force top-3 for the
    * %100 eval queries, left-joined with the trained-IVF probe's top-3
    * (the full annIvfKmeans chain as a subquery).
    */
  val annRecall: String =
    s"""WITH ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |ap AS (SELECT q_id, neighbor_id FROM ($annIvfKmeans))
       |SELECT ex.q_id, count(ap.neighbor_id) AS n_matched,
       |  floor(count(ap.neighbor_id)::DOUBLE / 3 * 10000 + 0.5) / 10000 AS recall
       |FROM ex LEFT JOIN ap ON ap.q_id = ex.q_id AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.q_id""".stripMargin

  /** Mirror of Similarity.semDedup: the same trained k-means cells as
    * annIvfKmeans (identical CTE chain), within-cell pairs at or above
    * the shared threshold on the 6dp-rounded cosine, each duplicate
    * reporting its lowest-id cluster-mate.
    */
  val semDedup: String = {
    val thr = graft.operators.Similarity.SemDedupThreshold
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2")},
       |${kmAssignCte("c2", "idx")},
       |p AS (SELECT b.vec_id, b.cid AS ccell, a.vec_id AS id_a,
       |        round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
       |      FROM idx a JOIN idx b ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |SELECT vec_id, ccell, id_a AS dup_of, sim
       |FROM (SELECT vec_id, ccell, id_a, sim,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY id_a) AS rn
       |      FROM p WHERE sim >= $thr) WHERE rn = 1""".stripMargin
  }

  /** Mirror of Similarity.annPq. Inner products are unrolled 8-term
    * left-associative sums of double-cast float products — the exact
    * arithmetic of the Spark DotProduct loop, so distances and
    * orderings agree bit-for-bit; ADC parts round to 6dp and accumulate
    * in DECIMAL (order-independent).
    */
  /** Raw-vector subvector rows (ann_pq trains on the vectors
    * themselves; the residual variant lives in annIvfPq).
    */
  private val rawSvCte: String =
    s"""sv AS (SELECT vec_id, m::INT AS m,
       |  list_slice(embedding, m*8 + 1, m*8 + 8) AS sub
       |  FROM embeddings, range(0, 8) t(m))""".stripMargin

  /** Mirror of Similarity.pqDistortion: the trained codebook chain's
    * assignments, per-row fixed-order squared distance (the pqD2 form
    * sqDist mirrors), 6dp rounds × DECIMAL accumulation, one divide.
    */
  val pqDistortion: String =
    s"""WITH $rawSvCte,
       |$pqTrainCtes,
       |d AS (SELECT e.m,
       |  CAST(floor((${pqD2("e.sub", "c.cvec")}) * 1000000 + 0.5) / 1000000
       |       AS DECIMAL(18,6)) AS d2
       |  FROM pqenc e JOIN pq2 c ON c.m = e.m AND c.cid = e.cid)
       |SELECT m, count(*)::BIGINT AS n_vecs,
       |  floor(sum(d2)::DOUBLE / count(*) * 1000000 + 0.5) / 1000000 AS mse
       |FROM d GROUP BY m ORDER BY m""".stripMargin

  /** Shared PQ-refresh CTEs (assume `sv`/`pqenc`/`pq2` in scope from
    * [[rawSvCte]] + [[pqTrainCtes]]): per-subspace MSE of the standing
    * codes, the worst-subspace flag (mse DESC, m — both engines rank
    * the identical rounded doubles), one scoped Lloyd step (centroid
    * update from the standing assignment via the shared recompute CTE,
    * then re-encode — the assign CTE's join on m restricts to the
    * flagged subspace because cbnew only holds its codewords), and the
    * spliced (codes2, cb2) pair. Mirrors Similarity.pqRefreshedIndex.
    */
  private val pqRefreshCtes: String =
    s"""mb AS (SELECT e.m, count(*)::BIGINT AS n_vecs,
       |    floor(sum(CAST(floor((${pqD2("e.sub", "c.cvec")})
       |          * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))::DOUBLE
       |          / count(*) * 1000000 + 0.5) / 1000000 AS mse_before
       |  FROM pqenc e JOIN pq2 c ON c.m = e.m AND c.cid = e.cid
       |  GROUP BY e.m),
       |flag AS (SELECT m AS fm FROM mb ORDER BY mse_before DESC, m
       |         LIMIT 1),
       |asgf AS (SELECT vec_id, m, sub, cid FROM pqenc
       |         WHERE m = (SELECT fm FROM flag)),
       |${pqRecomputeCte("asgf", "cbnew")},
       |${pqAssignCte("cbnew", "encf")},
       |codes2 AS (SELECT vec_id, m, sub, cid FROM pqenc
       |           WHERE m <> (SELECT fm FROM flag)
       |           UNION ALL SELECT vec_id, m, sub, cid FROM encf),
       |cb2 AS (SELECT m, cid, cvec FROM pq2
       |        WHERE m <> (SELECT fm FROM flag)
       |        UNION ALL SELECT m, cid, cvec FROM cbnew)""".stripMargin

  /** Mirror of Similarity.pqRefresh: the receipt row per subspace —
    * before/after MSE, the flag, integer code churn.
    */
  val pqRefresh: String =
    s"""WITH $rawSvCte,
       |$pqTrainCtes,
       |$pqRefreshCtes,
       |ma AS (SELECT e.m,
       |    floor(sum(CAST(floor((${pqD2("e.sub", "c.cvec")})
       |          * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)))::DOUBLE
       |          / count(*) * 1000000 + 0.5) / 1000000 AS mse_after
       |  FROM codes2 e JOIN cb2 c ON c.m = e.m AND c.cid = e.cid
       |  GROUP BY e.m),
       |ch AS (SELECT o.m,
       |    sum(CASE WHEN n.cid <> o.cid THEN 1 ELSE 0 END)::BIGINT
       |      AS n_changed
       |  FROM pqenc o JOIN codes2 n ON n.vec_id = o.vec_id AND n.m = o.m
       |  GROUP BY o.m)
       |SELECT mb.m, mb.n_vecs, mb.mse_before,
       |  (mb.m = (SELECT fm FROM flag)) AS refreshed,
       |  ma.mse_after, ch.n_changed,
       |  floor(ch.n_changed::DOUBLE / mb.n_vecs * 10000 + 0.5) / 10000
       |    AS churn
       |FROM mb JOIN ma ON ma.m = mb.m JOIN ch ON ch.m = mb.m
       |ORDER BY mb.m""".stripMargin

  /** Mirror of Similarity.pqRefreshRecall: the annPq ADC scoring chain
    * for both codebook arms, top-3 per query, micro recall per arm vs
    * the brute exact top-3.
    */
  val pqRefreshRecall: String =
    s"""WITH $rawSvCte,
       |$pqTrainCtes,
       |$pqRefreshCtes,
       |adcb AS (SELECT q.vec_id AS q_id, c.m, c.cid,
       |  CAST(floor((${pqIp("list_slice(q.embedding, c.m*8 + 1, c.m*8 + 8)", "c.cvec")})
       |       * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM embeddings q, pq2 c WHERE q.vec_id % 100 = 0),
       |adcr AS (SELECT q.vec_id AS q_id, c.m, c.cid,
       |  CAST(floor((${pqIp("list_slice(q.embedding, c.m*8 + 1, c.m*8 + 8)", "c.cvec")})
       |       * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM embeddings q, cb2 c WHERE q.vec_id % 100 = 0),
       |ab AS (SELECT aq, an FROM (
       |    SELECT q_id AS aq, neighbor_id AS an,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY s DESC, neighbor_id) AS rank
       |    FROM (SELECT a.q_id, k.vec_id AS neighbor_id,
       |            sum(a.part) AS s
       |          FROM codes k JOIN adcb a ON a.m = k.m AND a.cid = k.cid
       |          WHERE k.vec_id <> a.q_id GROUP BY a.q_id, k.vec_id))
       |  WHERE rank <= 3),
       |ar AS (SELECT aq, an FROM (
       |    SELECT q_id AS aq, neighbor_id AS an,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY s DESC, neighbor_id) AS rank
       |    FROM (SELECT a.q_id, k.vec_id AS neighbor_id,
       |            sum(a.part) AS s
       |          FROM codes2 k JOIN adcr a ON a.m = k.m AND a.cid = k.cid
       |          WHERE k.vec_id <> a.q_id GROUP BY a.q_id, k.vec_id))
       |  WHERE rank <= 3),
       |ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
       |                   q.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |SELECT 'base' AS arm, count(DISTINCT ex.q_id)::BIGINT AS n_queries,
       |  count(ab.an)::BIGINT AS n_matched,
       |  floor(count(ab.an)::DOUBLE / (count(DISTINCT ex.q_id) * 3)
       |        * 10000 + 0.5) / 10000 AS recall
       |FROM ex LEFT JOIN ab ON ab.aq = ex.q_id AND ab.an = ex.neighbor_id
       |UNION ALL
       |SELECT 'refreshed', count(DISTINCT ex.q_id)::BIGINT,
       |  count(ar.an)::BIGINT,
       |  floor(count(ar.an)::DOUBLE / (count(DISTINCT ex.q_id) * 3)
       |        * 10000 + 0.5) / 10000
       |FROM ex LEFT JOIN ar ON ar.aq = ex.q_id AND ar.an = ex.neighbor_id
       |ORDER BY arm""".stripMargin

  /** Shared SQ8 CTE pair: per-dimension (min, max) ranges over the
    * corpus (comparison-based, exact) and the midpoint dequantization
    * of every component — the exact fixed-order double expression of
    * Similarity.sqDequant (code = least(255, floor((v-mn)/(mx-mn)*256)),
    * dv = (mn + (code+0.5)*(mx-mn)/256)::FLOAT), with Spark's 0-based
    * posexplode index. Degenerate (mx = mn) dims code to 0.
    */
  private val sqDqCtes: String =
    """comp AS MATERIALIZED (SELECT e.vec_id, (t.i - 1)::INT AS i,
      |    e.embedding[t.i]::FLOAT AS v
      |  FROM embeddings e, range(1, 65) t(i)),
      |sqst AS (SELECT i, min(v) AS mn, max(v) AS mx FROM comp GROUP BY i),
      |sqdq AS (SELECT c.vec_id, c.i, c.v,
      |    (s.mn::DOUBLE + ((CASE WHEN s.mx > s.mn
      |        THEN least(255.0, floor((c.v::DOUBLE - s.mn::DOUBLE)
      |               / (s.mx::DOUBLE - s.mn::DOUBLE) * 256))
      |        ELSE 0.0::DOUBLE END) + 0.5)
      |      * (s.mx::DOUBLE - s.mn::DOUBLE) / 256)::FLOAT AS dv
      |  FROM comp c JOIN sqst s ON s.i = c.i)""".stripMargin

  /** Mirror of Similarity.sqDistortion: the shared SQ8 dequant CTEs,
    * 6dp-rounded per-component squared error accumulated in DECIMAL,
    * one double divide per dimension.
    */
  val sqDistortion: String =
    s"""WITH $sqDqCtes,
       |d AS (SELECT i,
       |  CAST(floor((v::DOUBLE - dv::DOUBLE) * (v::DOUBLE - dv::DOUBLE)
       |       * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS e2
       |  FROM sqdq)
       |SELECT i, count(*)::BIGINT AS n_vecs,
       |  floor(sum(e2)::DOUBLE / count(*) * 1000000 + 0.5) / 1000000 AS mse
       |FROM d GROUP BY i ORDER BY i""".stripMargin

  /** Mirror of Similarity.sqRecall: dequantized corpus vectors
    * (list-collected per vec in dimension order), asymmetric 6dp-rounded
    * cosine vs the full-precision %100 queries, top-3 left-joined with
    * the brute full-precision top-3 (annRecall's ex arm).
    */
  val sqRecall: String =
    s"""WITH $sqDqCtes,
       |dq AS (SELECT vec_id, list(dv ORDER BY i) AS dvec
       |       FROM sqdq GROUP BY vec_id),
       |approx AS (SELECT aq, an FROM (
       |    SELECT q.vec_id AS aq, d.vec_id AS an,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(d.dvec::DOUBLE[],
       |                   q.embedding::DOUBLE[]), 6) DESC, d.vec_id) AS rank
       |    FROM dq d, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND d.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |SELECT ex.q_id, count(a.an) AS n_matched,
       |  floor(count(a.an)::DOUBLE / 3 * 10000 + 0.5) / 10000 AS recall
       |FROM ex LEFT JOIN approx a
       |  ON a.aq = ex.q_id AND a.an = ex.neighbor_id
       |GROUP BY ex.q_id""".stripMargin

  /** Mirror of Similarity.annSq: the trained-kmeans probe chain of
    * annIvfKmeans, candidates scored against their SQ8 midpoint
    * reconstruction (the shared sqDq CTEs), full-precision queries.
    */
  val annSq: String =
    s"""WITH $sqDqCtes,
       |dq AS (SELECT vec_id, list(dv ORDER BY i) AS dvec
       |       FROM sqdq GROUP BY vec_id),
       |c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |       FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2")},
       |${kmAssignCte("c2", "idx")},
       |probes AS (SELECT q_id, pcid FROM (
       |  SELECT q.vec_id AS q_id, c.cid AS pcid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS pr
       |  FROM embeddings q, c2 c WHERE q.vec_id % 100 = 0) WHERE pr <= 2),
       |cand AS (SELECT p.q_id, x.vec_id AS neighbor_id,
       |    list_cosine_similarity(d.dvec::DOUBLE[], qe.embedding::DOUBLE[]) AS s
       |  FROM probes p JOIN idx x ON x.cid = p.pcid
       |       JOIN dq d ON d.vec_id = x.vec_id
       |       JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE x.vec_id <> p.q_id)
       |SELECT q_id, neighbor_id, round(s, 6) AS sim, rank::INT AS rank FROM (
       |  SELECT q_id, neighbor_id, s,
       |    row_number() OVER (PARTITION BY q_id ORDER BY s DESC, neighbor_id) AS rank
       |  FROM cand) WHERE rank <= 3""".stripMargin

  /** Shared refit-bounds CTEs (assumes `comp` from [[sqDqCtes]] is in
    * scope): the 1e-7-integer value grid per dimension, dim-partitioned
    * cumulative rank blocks, the clip-rank boundary pick (mirrors
    * Similarity.sqRefitBounds — ⌈n/SqClipDen⌉ each side, single-sourced
    * constants), and the clamped midpoint dequantization `rdq` (the
    * same fixed-order double chain as sqdq plus greatest(0, ·)).
    */
  private val sqRefitCtes: String = {
    import graft.operators.Similarity.SqClipDen
    s"""vg AS (SELECT i, CAST(floor(v::DOUBLE * 10000000 + 0.5) AS BIGINT)
       |    AS vu, count(*)::BIGINT AS c FROM comp GROUP BY 1, 2),
       |cum AS (SELECT i, vu, c,
       |    coalesce(sum(c) OVER (PARTITION BY i ORDER BY vu
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS cb,
       |    (sum(c) OVER (PARTITION BY i))::BIGINT AS n
       |  FROM vg),
       |bdd AS (SELECT i, n, vlo, vhi,
       |    vlo::DOUBLE / 10000000 AS lo, vhi::DOUBLE / 10000000 AS hi
       |  FROM (SELECT i, n,
       |      min(CASE WHEN cb < rlo AND rlo <= cb + c THEN vu END)::BIGINT
       |        AS vlo,
       |      min(CASE WHEN cb < rhi AND rhi <= cb + c THEN vu END)::BIGINT
       |        AS vhi
       |    FROM (SELECT *, (n + ${SqClipDen - 1}) // $SqClipDen AS rlo,
       |            n + 1 - ((n + ${SqClipDen - 1}) // $SqClipDen) AS rhi
       |          FROM cum)
       |    GROUP BY i, n)),
       |rdq AS (SELECT c.vec_id, c.i, c.v,
       |    (b.lo + ((CASE WHEN b.hi > b.lo THEN least(255.0,
       |        greatest(0.0,
       |          floor((c.v::DOUBLE - b.lo) / (b.hi - b.lo) * 256)))
       |      ELSE 0.0::DOUBLE END) + 0.5) * (b.hi - b.lo) / 256)::FLOAT
       |      AS dv
       |  FROM comp c JOIN bdd b ON b.i = c.i)""".stripMargin
  }

  /** Mirror of Similarity.sqRefit: the refit receipt — old float
    * min/max (::DOUBLE, exact), quantile bounds from the shared refit
    * CTEs, integer clip counts on the same vu units, 4dp share.
    */
  val sqRefit: String =
    s"""WITH $sqDqCtes,
       |$sqRefitCtes,
       |cl AS (SELECT c.i, b.n, b.lo, b.hi,
       |    sum(CASE WHEN
       |          CAST(floor(c.v::DOUBLE * 10000000 + 0.5) AS BIGINT) < b.vlo
       |          OR
       |          CAST(floor(c.v::DOUBLE * 10000000 + 0.5) AS BIGINT) > b.vhi
       |        THEN 1 ELSE 0 END)::BIGINT AS n_clipped
       |  FROM comp c JOIN bdd b ON b.i = c.i GROUP BY 1, 2, 3, 4)
       |SELECT cl.i, cl.n AS n_vecs, s.mn::DOUBLE AS mn, s.mx::DOUBLE AS mx,
       |  cl.lo, cl.hi, cl.n_clipped,
       |  floor(cl.n_clipped::DOUBLE / cl.n * 10000 + 0.5) / 10000
       |    AS clip_share
       |FROM cl JOIN sqst s USING (i) ORDER BY i""".stripMargin

  /** Mirror of Similarity.sqRefitDistortion: sqDistortion's 6dp DECIMAL
    * error aggregation over BOTH dequant arms (sqdq = old range, rdq =
    * refit range) and both cuts (all components / the unclipped
    * in-range mass), one row per (arm, dim) from a 64-row arm unpivot.
    */
  val sqRefitDistortion: String =
    s"""WITH $sqDqCtes,
       |$sqRefitCtes,
       |j AS (SELECT s.i,
       |    CAST(floor((s.v::DOUBLE - s.dv::DOUBLE)
       |         * (s.v::DOUBLE - s.dv::DOUBLE) * 1000000 + 0.5) / 1000000
       |      AS DECIMAL(18,6)) AS eb,
       |    CAST(floor((r.v::DOUBLE - r.dv::DOUBLE)
       |         * (r.v::DOUBLE - r.dv::DOUBLE) * 1000000 + 0.5) / 1000000
       |      AS DECIMAL(18,6)) AS er,
       |    CAST(floor(s.v::DOUBLE * 10000000 + 0.5) AS BIGINT)
       |      BETWEEN b.vlo AND b.vhi AS inr
       |  FROM sqdq s
       |  JOIN rdq r ON r.vec_id = s.vec_id AND r.i = s.i
       |  JOIN bdd b ON b.i = s.i),
       |g AS (SELECT i, count(*)::BIGINT AS n_vecs,
       |    sum(eb) AS seb, sum(er) AS ser,
       |    sum(CASE WHEN inr THEN 1 ELSE 0 END)::BIGINT AS n_inrange,
       |    sum(CASE WHEN inr THEN eb END) AS sebi,
       |    sum(CASE WHEN inr THEN er END) AS seri
       |  FROM j GROUP BY i)
       |SELECT 'base' AS arm, i, n_vecs,
       |  floor(seb::DOUBLE / n_vecs * 1000000 + 0.5) / 1000000 AS mse,
       |  n_inrange,
       |  floor(sebi::DOUBLE / n_inrange * 1000000 + 0.5) / 1000000
       |    AS mse_inrange
       |FROM g
       |UNION ALL
       |SELECT 'refit', i, n_vecs,
       |  floor(ser::DOUBLE / n_vecs * 1000000 + 0.5) / 1000000,
       |  n_inrange,
       |  floor(seri::DOUBLE / n_inrange * 1000000 + 0.5) / 1000000
       |FROM g ORDER BY arm, i""".stripMargin

  /** Mirror of Similarity.sqRefitRecall: sqRecall's brute exact arm and
    * 6dp-rounded asymmetric approx ranking, run for both dequant arms
    * and aggregated to one micro row per arm.
    */
  val sqRefitRecall: String =
    s"""WITH $sqDqCtes,
       |$sqRefitCtes,
       |dqb AS (SELECT vec_id, list(dv ORDER BY i) AS dvec
       |        FROM sqdq GROUP BY vec_id),
       |dqr AS (SELECT vec_id, list(dv ORDER BY i) AS dvec
       |        FROM rdq GROUP BY vec_id),
       |ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
       |                   q.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |ab AS (SELECT aq, an FROM (
       |    SELECT q.vec_id AS aq, d.vec_id AS an,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(d.dvec::DOUBLE[],
       |                   q.embedding::DOUBLE[]), 6) DESC, d.vec_id) AS rank
       |    FROM dqb d, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND d.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |ar AS (SELECT aq, an FROM (
       |    SELECT q.vec_id AS aq, d.vec_id AS an,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(d.dvec::DOUBLE[],
       |                   q.embedding::DOUBLE[]), 6) DESC, d.vec_id) AS rank
       |    FROM dqr d, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND d.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |SELECT 'base' AS arm, count(DISTINCT ex.q_id)::BIGINT AS n_queries,
       |  count(ab.an)::BIGINT AS n_matched,
       |  floor(count(ab.an)::DOUBLE / (count(DISTINCT ex.q_id) * 3)
       |        * 10000 + 0.5) / 10000 AS recall
       |FROM ex LEFT JOIN ab ON ab.aq = ex.q_id AND ab.an = ex.neighbor_id
       |UNION ALL
       |SELECT 'refit', count(DISTINCT ex.q_id)::BIGINT,
       |  count(ar.an)::BIGINT,
       |  floor(count(ar.an)::DOUBLE / (count(DISTINCT ex.q_id) * 3)
       |        * 10000 + 0.5) / 10000
       |FROM ex LEFT JOIN ar ON ar.aq = ex.q_id AND ar.an = ex.neighbor_id
       |ORDER BY arm""".stripMargin

  val annPq: String =
    s"""WITH $rawSvCte,
       |$pqTrainCtes,
       |$adcCte,
       |sc AS (SELECT a.q_id, k.vec_id AS neighbor_id, sum(a.part) AS s
       |  FROM codes k JOIN adc a ON a.m = k.m AND a.cid = k.cid
       |  WHERE k.vec_id <> a.q_id GROUP BY a.q_id, k.vec_id)
       |SELECT q_id, neighbor_id, s::DOUBLE AS approx_dot, rank::INT AS rank
       |FROM (SELECT q_id, neighbor_id, s,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY s DESC, neighbor_id) AS rank
       |      FROM sc) WHERE rank <= 3""".stripMargin

  /** Mirror of Similarity.annIvfPq (residual IVFADC): the trained
    * coarse quantizer routes queries to nprobe=2 cells; PQ codebooks are
    * trained on RESIDUALS (x - centroid(cell(x))); each query gets one
    * ADC table per probed cell, built from the query's residual against
    * that cell. Float subtraction is IEEE-identical across engines.
    */
  val annIvfPq: String =
    s"""WITH ck0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |             FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("ck0", "cka1")},
       |${kmRecomputeCte("cka1", "ck1")},
       |${kmAssignCte("ck1", "cka2")},
       |${kmRecomputeCte("cka2", "ck2")},
       |${kmAssignCte("ck2", "cells0")},
       |cells AS (SELECT vec_id, embedding, cid AS ccell FROM cells0),
       |sv AS (SELECT c.vec_id, m::INT AS m,
       |  list_slice(list_transform(range(1, 65),
       |    i -> c.embedding[i] - k.cvec[i]), m*8 + 1, m*8 + 8) AS sub
       |  FROM cells c JOIN ck2 k ON k.cid = c.ccell, range(0, 8) t(m)),
       |$pqTrainCtes,
       |probes AS (SELECT q_id, pcell FROM (
       |  SELECT q.vec_id AS q_id, c.cid AS pcell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS pr
       |  FROM embeddings q, ck2 c WHERE q.vec_id % 100 = 0) WHERE pr <= 2),
       |qs AS (SELECT p.q_id, p.pcell, m::INT AS m,
       |  list_slice(list_transform(range(1, 65),
       |    i -> q.embedding[i] - k.cvec[i]), m*8 + 1, m*8 + 8) AS qsub
       |  FROM probes p JOIN embeddings q ON q.vec_id = p.q_id
       |       JOIN ck2 k ON k.cid = p.pcell, range(0, 8) t(m)),
       |adc AS (SELECT qs.q_id, qs.pcell, c.m, c.cid,
       |  CAST(floor((${pqIp("qs.qsub", "c.cvec")})
       |       * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM qs JOIN pq2 c ON c.m = qs.m),
       |cand AS (SELECT p.q_id, p.pcell, c.vec_id FROM cells c
       |  JOIN probes p ON c.ccell = p.pcell WHERE c.vec_id <> p.q_id),
       |sc AS (SELECT cand.q_id, cand.vec_id AS neighbor_id, sum(a.part) AS s
       |  FROM cand JOIN codes k ON k.vec_id = cand.vec_id
       |       JOIN adc a ON a.q_id = cand.q_id AND a.pcell = cand.pcell
       |                 AND a.m = k.m AND a.cid = k.cid
       |  GROUP BY cand.q_id, cand.vec_id)
       |SELECT q_id, neighbor_id, s::DOUBLE AS approx_dot, rank::INT AS rank
       |FROM (SELECT q_id, neighbor_id, s,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY s DESC, neighbor_id) AS rank
       |      FROM sc) WHERE rank <= 3""".stripMargin

  /** Mirror of Similarity.nprobeCurve: the trained-kmeans chain once
    * (materialized — three arms reference it), the exact brute top-3
    * CTE, one aggregated left-join recall arm per swept nprobe.
    */
  lazy val nprobeCurve: String = {
    import graft.operators.Similarity.NprobeSweep
    val probeCtes = NprobeSweep.map { np =>
      s"""pb$np AS MATERIALIZED (SELECT q_id, pcid FROM (
         |    SELECT q.vec_id AS q_id, c.cid AS pcid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
         |                 c.cid) AS pr
         |    FROM embeddings q, c2 c WHERE q.vec_id % 100 = 0)
         |  WHERE pr <= $np)""".stripMargin
    }
    def arm(np: Int) =
      s"""SELECT $np AS nprobe, (count(*) / 3)::BIGINT AS n_queries,
         |  floor(count(ap.neighbor_id)::DOUBLE / count(*) * 10000 + 0.5)
         |    / 10000 AS recall,
         |  (SELECT floor(sum(z.sc)::DOUBLE / count(*) * 100 + 0.5) / 100
         |   FROM (SELECT p.q_id, sum(cs.csz) AS sc FROM pb$np p
         |         JOIN csz cs ON cs.cid = p.pcid GROUP BY p.q_id) z)
         |    AS mean_scanned
         |FROM ex LEFT JOIN (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY s DESC, neighbor_id) AS rank
         |    FROM (SELECT p.q_id, x.vec_id AS neighbor_id,
         |        list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
         |      FROM pb$np p
         |      JOIN idx x ON x.cid = p.pcid
         |      JOIN embeddings qe ON qe.vec_id = p.q_id
         |      WHERE x.vec_id <> p.q_id)) WHERE rank <= 3) ap
         |  ON ap.q_id = ex.q_id AND ap.neighbor_id = ex.neighbor_id""".stripMargin
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2x")},
       |c2 AS MATERIALIZED (SELECT * FROM c2x),
       |${kmAssignCte("c2", "idx0")},
       |idx AS MATERIALIZED (SELECT * FROM idx0),
       |csz AS MATERIALIZED (SELECT cid, count(*)::BIGINT AS csz
       |  FROM idx GROUP BY cid),
       |${probeCtes.mkString(",\n")},
       |ex AS MATERIALIZED (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |SELECT nprobe, n_queries, recall, mean_scanned FROM (
       |${NprobeSweep.map(arm).mkString("\nUNION ALL\n")})
       |ORDER BY nprobe""".stripMargin
  }

  /** Mirror of Similarity.hubness: the brute top-[[HubDepth]] lists of
    * the sampled anchors, neighbor in-degree, top-k with share.
    */
  lazy val hubness: String = {
    import graft.operators.Similarity.{HubDepth, HubTopK}
    s"""WITH ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= $HubDepth),
       |deg AS MATERIALIZED (SELECT neighbor_id, count(*)::BIGINT AS n_lists
       |  FROM ex GROUP BY neighbor_id),
       |tot AS (SELECT sum(n_lists)::BIGINT AS t FROM deg)
       |SELECT neighbor_id, n_lists,
       |  floor(n_lists::DOUBLE / t * 10000 + 0.5) / 10000 AS share,
       |  rank::INT AS rank
       |FROM (SELECT neighbor_id, n_lists,
       |        row_number() OVER (ORDER BY n_lists DESC, neighbor_id) AS rank
       |      FROM deg), tot
       |WHERE rank <= $HubTopK ORDER BY rank""".stripMargin
  }

  /** Mirror of Similarity.semdedupRecall: the trained-cell assignments
    * (kmeans chain), the sampled-anchor ≥-threshold pair truth, same-cell
    * rollup.
    */
  lazy val semdedupRecall: String = {
    import graft.operators.Similarity.SemDedupThreshold
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2")},
       |${kmAssignCte("c2", "idx0")},
       |cells AS MATERIALIZED (SELECT vec_id, cid FROM idx0),
       |pr AS MATERIALIZED (SELECT q.vec_id AS q_id, e.vec_id AS n_id
       |  FROM embeddings e, embeddings q
       |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id
       |    AND round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6)
       |        >= $SemDedupThreshold),
       |ct AS (SELECT count(*)::BIGINT AS n_pairs FROM pr),
       |cg AS (SELECT count(*)::BIGINT AS n_same_cell
       |  FROM pr JOIN cells ca ON ca.vec_id = pr.q_id
       |          JOIN cells cb ON cb.vec_id = pr.n_id
       |  WHERE ca.cid = cb.cid)
       |SELECT n_pairs, n_same_cell,
       |  CASE WHEN n_pairs > 0
       |       THEN floor(n_same_cell::DOUBLE / n_pairs * 10000 + 0.5) / 10000
       |  END AS recall
       |FROM ct, cg""".stripMargin
  }

  /** Mirror of Similarity.silhouette: the trained-kmeans chain, per-vec
    * own/other centroid cosines via conditional max, the same fixed-order
    * double silhouette expression rounded to 6dp, DECIMAL accumulation,
    * 4dp cell mean.
    */
  lazy val silhouette: String =
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2")},
       |${kmAssignCte("c2", "idx0")},
       |cs AS (SELECT x.vec_id, x.cid AS own, c.cid,
       |    list_cosine_similarity(x.embedding::DOUBLE[], c.cvec::DOUBLE[]) AS cos
       |  FROM idx0 x, c2 c),
       |pv AS (SELECT vec_id, own,
       |    max(CASE WHEN cid = own THEN cos END) AS cown,
       |    max(CASE WHEN cid <> own THEN cos END) AS cother
       |  FROM cs GROUP BY vec_id, own),
       |sl AS (SELECT own AS ccell,
       |    CASE WHEN greatest(1.0 - cown, 1.0 - cother) > 0
       |      THEN CAST(floor(((1.0 - cother) - (1.0 - cown))
       |             / greatest(1.0 - cown, 1.0 - cother) * 1000000 + 0.5)
       |           / 1000000 AS DECIMAL(18,6))
       |      ELSE CAST(0.0 AS DECIMAL(18,6)) END AS sil
       |  FROM pv)
       |SELECT ccell, count(*)::BIGINT AS n_vecs,
       |  floor(sum(sil)::DOUBLE / count(*) * 10000 + 0.5) / 10000
       |    AS mean_sil
       |FROM sl GROUP BY ccell ORDER BY ccell""".stripMargin

  /** Mirror of Similarity.bitextMine: the brute anchor sweep (%50)
    * supplies ranked neighbor lists; per-anchor 1e-6-unit top-AvgK mean,
    * mutual top-CandK anchor pairs, the ratio margin, global top-N.
    */
  lazy val bitextMine: String = {
    import graft.operators.Similarity.{BitextAvgK, BitextCandK, BitextTopN}
    s"""WITH tr AS MATERIALIZED (SELECT q_id, neighbor_id, s, rank FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 50 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= $BitextCandK),
       |avgk AS (SELECT q_id,
       |    floor(sum(floor(s * 1000000 + 0.5)::BIGINT)::DOUBLE / $BitextAvgK + 0.5)
       |      / 1000000 AS avgk
       |  FROM tr WHERE rank <= $BitextAvgK GROUP BY q_id),
       |fwd AS (SELECT q_id AS x, neighbor_id AS y, s FROM tr
       |        WHERE neighbor_id % 50 = 0),
       |pairs AS (SELECT f.x, f.y, f.s FROM fwd f
       |  WHERE f.x < f.y AND EXISTS (SELECT 1 FROM fwd r
       |          WHERE r.x = f.y AND r.y = f.x)),
       |scored AS (SELECT p.x, p.y,
       |    floor(p.s * 1000000 + 0.5) / 1000000 AS cos,
       |    floor((floor(p.s * 1000000 + 0.5) / 1000000)
       |      / ((a.avgk + b.avgk) / 2.0) * 10000 + 0.5) / 10000 AS margin
       |  FROM pairs p JOIN avgk a ON a.q_id = p.x
       |       JOIN avgk b ON b.q_id = p.y
       |  WHERE (a.avgk + b.avgk) / 2.0 > 0)
       |SELECT x, y, cos, margin, rank::INT AS rank
       |FROM (SELECT x, y, cos, margin,
       |        row_number() OVER (ORDER BY margin DESC, x, y) AS rank
       |      FROM scored)
       |WHERE rank <= $BitextTopN ORDER BY rank""".stripMargin
  }

  /** Mirror of Similarity.centeredShift: the brute anchor pool (%100,
    * truth depth), the mean6f corpus-mean floats, centered members via
    * widen-subtract-narrow, centered rerank vs raw top-3.
    */
  lazy val centeredShift: String = {
    import graft.operators.Similarity.{CenterTopK, DenseTruthDepth}
    s"""WITH pool AS MATERIALIZED (SELECT q_id, neighbor_id, rank FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= $DenseTruthDepth),
       |mu AS (SELECT (t.i - 1)::INT AS i,
       |    CAST(floor(CAST(sum(CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE) / (count(*) * 10) + 0.5) / 1000000 AS FLOAT) AS m
       |  FROM embeddings, range(1, 65) t(i) GROUP BY t.i),
       |pm AS (SELECT DISTINCT q_id AS vid FROM pool
       |       UNION SELECT DISTINCT neighbor_id FROM pool),
       |cv AS MATERIALIZED (SELECT e.vec_id,
       |    list(CAST(e.embedding[t.i]::DOUBLE - m.m::DOUBLE AS FLOAT)
       |         ORDER BY t.i) AS cvec
       |  FROM embeddings e SEMI JOIN pm ON pm.vid = e.vec_id,
       |       range(1, 65) t(i) JOIN mu m ON m.i = t.i - 1
       |  GROUP BY e.vec_id),
       |cr AS (SELECT q_id, neighbor_id, crk FROM (
       |    SELECT p.q_id, p.neighbor_id,
       |      row_number() OVER (PARTITION BY p.q_id
       |        ORDER BY list_cosine_similarity(a.cvec::DOUBLE[], b.cvec::DOUBLE[]) DESC,
       |                 p.neighbor_id) AS crk
       |    FROM pool p JOIN cv a ON a.vec_id = p.q_id
       |         JOIN cv b ON b.vec_id = p.neighbor_id)
       |  WHERE crk <= $CenterTopK),
       |raw3 AS (SELECT q_id, neighbor_id, rank AS rrk FROM pool
       |         WHERE rank <= $CenterTopK)
       |SELECT q_id,
       |  sum(CASE WHEN rrk IS NOT NULL AND crk IS NOT NULL THEN 1
       |      ELSE 0 END)::BIGINT AS n_overlap,
       |  floor(sum(CASE WHEN rrk IS NOT NULL AND crk IS NOT NULL THEN 1
       |        ELSE 0 END)::DOUBLE / $CenterTopK * 10000 + 0.5) / 10000
       |    AS overlap,
       |  (max(CASE WHEN rrk = 1 AND crk = 1 THEN 1 ELSE 0 END) = 1)
       |    AS top1_same
       |FROM (SELECT coalesce(r.q_id, c.q_id) AS q_id, r.rrk, c.crk
       |      FROM raw3 r FULL OUTER JOIN cr c
       |        ON c.q_id = r.q_id AND c.neighbor_id = r.neighbor_id)
       |GROUP BY q_id ORDER BY q_id""".stripMargin
  }

  /** Mirror of Similarity.indexRecall: one exact brute-force CTE, four
    * left-join recall arms — each embedding the full probe oracle as a
    * subquery (annIvfKmeans / annPq / annIvfPq / lshAnn).
    */
  val indexRecall: String = {
    def arm(name: String, approxSql: String) =
      s"""SELECT '$name' AS index_name, ex.q_id,
         |  count(ap.neighbor_id) AS n_matched,
         |  floor(count(ap.neighbor_id)::DOUBLE / 3 * 10000 + 0.5) / 10000 AS recall
         |FROM ex LEFT JOIN (SELECT q_id, neighbor_id FROM ($approxSql)) ap
         |  ON ap.q_id = ex.q_id AND ap.neighbor_id = ex.neighbor_id
         |GROUP BY ex.q_id""".stripMargin
    s"""WITH ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |${arm("ivf_kmeans", annIvfKmeans)}
       |UNION ALL
       |${arm("pq", annPq)}
       |UNION ALL
       |${arm("ivfpq", annIvfPq)}
       |UNION ALL
       |${arm("lsh", lshAnn)}""".stripMargin
  }

  val interactionHistory: String =
    """SELECT user_id, row_number() OVER (PARTITION BY user_id
      |                                   ORDER BY event_id) AS seq,
      |  event_id, event_type, round(value, 2) AS value,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events""".stripMargin

  val conversationContext: String =
    """SELECT user_id, event_id,
      |  coalesce(string_agg('Q: ' || event_type || ' A: ' || value::VARCHAR, ' ')
      |    OVER (PARTITION BY user_id ORDER BY event_id
      |          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '') AS context
      |FROM events""".stripMargin

  val mediaFrames: String =
    """WITH f AS (SELECT doc_id,
      |  (octet_length(encode(text)) % 7 + 1)::INT AS n_frames FROM documents),
      |x AS (SELECT doc_id, n_frames,
      |  unnest(range(0, n_frames))::INT AS frame_idx FROM f)
      |SELECT doc_id, n_frames, frame_idx,
      |  md5(md5(doc_id::VARCHAR) || '#' || frame_idx::VARCHAR) AS frame_md5
      |FROM x""".stripMargin

  /** Mirror of Interactions.effectivenessTrend: weekly rollup of the
    * 2dp-exact overlap metric, DECIMAL accumulation, 4dp floor shares;
    * the pass predicate is the highQuality gate's.
    */
  val effectivenessTrend: String =
    """WITH e AS (SELECT
      |  (floor(epoch(ts))::BIGINT // 604800) AS week, user_id,
      |  round(CAST(json_extract_string(props, '$.k') AS INT) / 100.0, 2) AS ov,
      |  CASE WHEN event_type = 'purchase' THEN 'high'
      |       WHEN event_type = 'signup' THEN 'medium'
      |       ELSE 'low' END AS adh
      |  FROM events)
      |SELECT week, count(*)::BIGINT AS n_interactions,
      |  count(DISTINCT user_id)::BIGINT AS n_users,
      |  floor(sum(CAST(ov AS DECIMAL(18,2)))::DOUBLE / count(*)
      |        * 10000 + 0.5) / 10000 AS mean_overlap,
      |  floor(sum(CASE WHEN adh = 'high' THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*) * 10000 + 0.5) / 10000 AS high_share,
      |  floor(sum(CASE WHEN ov >= 0.7 OR adh = 'high' THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*) * 10000 + 0.5) / 10000 AS pass_share
      |FROM e GROUP BY week ORDER BY week""".stripMargin

  val highQuality: String =
    """WITH e AS (SELECT event_id, user_id,
      |  round(CAST(json_extract_string(props, '$.k') AS INT) / 100.0, 2) AS term_overlap,
      |  CASE WHEN event_type = 'purchase' THEN 'high'
      |       WHEN event_type = 'signup' THEN 'medium'
      |       ELSE 'low' END AS template_adherence
      |  FROM events)
      |SELECT * FROM e
      |WHERE term_overlap >= 0.7 OR template_adherence = 'high'
      |ORDER BY event_id DESC LIMIT 100""".stripMargin

  /** Mirror of Interactions.highQualityTopic: the reference's
    * topic_filter clause ANDed with the effectiveness gate.
    */
  val highQualityTopic: String =
    s"""WITH e AS (SELECT event_id, user_id,
       |  list_extract($topicNamesList,
       |    (CAST(json_extract_string(props, '$$.k') AS INT) % ${RefVocab.taxonomy.size}) + 1) AS topic,
       |  round(CAST(json_extract_string(props, '$$.k') AS INT) / 100.0, 2) AS term_overlap,
       |  CASE WHEN event_type = 'purchase' THEN 'high'
       |       WHEN event_type = 'signup' THEN 'medium'
       |       ELSE 'low' END AS template_adherence
       |  FROM events)
       |SELECT * FROM e
       |WHERE topic = 'Anxiety'
       |  AND (term_overlap >= 0.7 OR template_adherence = 'high')
       |ORDER BY event_id DESC LIMIT 100""".stripMargin

  // ---- corpus curation (graft.operators.Curation constants) ----------

  /** Mirror of Curation.decontaminate: distinct-shingle collisions of
    * training docs against the benchmark slot. pmod semantics (Spark's
    * pmod vs DuckDB's dividend-signed %) so the two engines agree even
    * for negative doc_id.
    */
  /** Contamination chain over an in-scope `sh(doc_id, s)` — ends in
    * `flagged(doc_id, hits)`. Own shingle explode (`cex`) so the name
    * never collides with the minhash chain's `ex` when composed.
    * Consumed by decontaminate and curateCorpus.
    */
  private val contamCtes: String = {
    import graft.operators.Curation.{ContamMod, ContamSlot}
    val slot = s"((doc_id % $ContamMod) + $ContamMod) % $ContamMod"
    s"""cex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |bench AS (SELECT DISTINCT g FROM cex WHERE $slot = $ContamSlot),
       |flagged AS (SELECT doc_id, count(*) AS hits
       |            FROM cex JOIN bench USING (g)
       |            WHERE $slot <> $ContamSlot GROUP BY doc_id)""".stripMargin
  }

  val decontaminate: String =
    s"""$shCte,
       |$contamCtes
       |SELECT doc_id, hits FROM flagged""".stripMargin

  /** Mirror of Curation.contaminationReport: the eval-side transpose —
    * per bench doc, shingle totals, collision counts (expand-style
    * distincts), 4dp contaminated fraction, zero-collision rows kept.
    */
  val contaminationReport: String = {
    import graft.operators.Curation.{ContamMod, ContamSlot}
    val slot = s"((doc_id % $ContamMod) + $ContamMod) % $ContamMod"
    s"""$shCte,
       |cex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |b AS (SELECT doc_id AS bench_id, g FROM cex WHERE $slot = $ContamSlot),
       |tr AS (SELECT doc_id AS train_id, g FROM cex WHERE $slot <> $ContamSlot),
       |h AS (SELECT bench_id, count(*)::BIGINT AS n_collisions,
       |        count(DISTINCT train_id)::BIGINT AS n_train_docs,
       |        count(DISTINCT g)::BIGINT AS n_hit_shingles
       |      FROM b JOIN tr USING (g) GROUP BY bench_id),
       |p AS (SELECT bench_id, count(*)::BIGINT AS n_shingles
       |      FROM b GROUP BY bench_id)
       |SELECT p.bench_id, p.n_shingles,
       |  coalesce(h.n_hit_shingles, 0)::BIGINT AS n_hit_shingles,
       |  coalesce(h.n_train_docs, 0)::BIGINT AS n_train_docs,
       |  coalesce(h.n_collisions, 0)::BIGINT AS n_collisions,
       |  floor(coalesce(h.n_hit_shingles, 0)::DOUBLE / p.n_shingles
       |        * 10000 + 0.5) / 10000 AS contam_frac
       |FROM p LEFT JOIN h USING (bench_id) ORDER BY p.bench_id""".stripMargin
  }

  /** Mirror of Curation.qualityFilter: the same signal fragments as the
    * qualityScore / repetitionScore / toxicityScreen oracles, thresholds
    * interpolated from the shared constants, reasons in fixed order.
    */
  /** Quality-gate chain (self-contained over `documents`) — ends in
    * `qf(doc_id, n_words, stopword_ratio, dup_2gram_frac, toxic_score,
    * keep, reasons)`. q-prefixed names so it composes into statements
    * that already bind w/m/sig (curateCorpus).
    */
  private val qualityKeepCtes: String = {
    import graft.operators.Curation.{QfMaxDup2gram, QfMinStopRatio, QfMinWords}
    import graft.operators.RefVocab.{toxicMinWords, toxicThreshold}
    val toxicFired = s"(n_words >= $toxicMinWords AND toxic_score > $toxicThreshold)"
    s"""qw AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t,
       |  list_filter(string_split(lower(text), ' '), x -> x <> '') AS tl
       |  FROM documents),
       |qm AS (SELECT doc_id, len(t) AS n_words,
       |  len(list_filter(t, x -> list_contains(${listLit(RefVocab.enStopwords)}, lower(x)))) AS stop_hits,
       |  CASE WHEN len(t) >= 2
       |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |    ELSE []::VARCHAR[] END AS g2,
       |  len(list_filter(tl, x -> list_contains(${listLit(RefVocab.toxicLexicon)}, x))) AS toxic_hits
       |  FROM qw),
       |qsig AS (SELECT doc_id, n_words::INT AS n_words,
       |  CASE WHEN n_words > 0
       |       THEN floor(stop_hits::DOUBLE / n_words * 10000 + 0.5) / 10000
       |       ELSE 0.0::DOUBLE END AS stopword_ratio,
       |  CASE WHEN len(g2) > 0
       |       THEN floor((1.0 - len(list_distinct(g2))::DOUBLE / len(g2)) * 10000 + 0.5) / 10000
       |       ELSE 0.0::DOUBLE END AS dup_2gram_frac,
       |  CASE WHEN n_words >= $toxicMinWords
       |       THEN floor(least(CAST(1.0 AS DOUBLE), toxic_hits * 10.0 / n_words) * 10000 + 0.5) / 10000
       |       ELSE 0.0::DOUBLE END AS toxic_score
       |  FROM qm),
       |qf AS (SELECT doc_id, n_words, stopword_ratio, dup_2gram_frac, toxic_score,
       |  (n_words >= $QfMinWords AND dup_2gram_frac <= $QfMaxDup2gram
       |   AND stopword_ratio >= $QfMinStopRatio AND NOT $toxicFired) AS keep,
       |  concat_ws(';',
       |    CASE WHEN n_words < $QfMinWords THEN 'too_short' END,
       |    CASE WHEN dup_2gram_frac > $QfMaxDup2gram THEN 'repetitive' END,
       |    CASE WHEN stopword_ratio < $QfMinStopRatio THEN 'low_stopword' END,
       |    CASE WHEN $toxicFired THEN 'toxic' END) AS reasons
       |FROM qsig)""".stripMargin
  }

  val qualityFilter: String =
    s"""WITH $qualityKeepCtes
       |SELECT doc_id, n_words, stopword_ratio, dup_2gram_frac,
       |  toxic_score, keep, reasons
       |FROM qf""".stripMargin

  /** Mirror of CorpusStats.signalMi: the qualityScore signal CTE and
    * the qualityKeepCtes gate joined on doc_id, fixed deterministic
    * bins, exact-count margins, 6dp-integer MI terms summed exactly.
    */
  lazy val signalMi: String = {
    import graft.operators.CorpusStats.MiBins
    val b9 = (e: String) => s"least($e, ${MiBins - 1})::INT"
    s"""WITH $qualityKeepCtes,
       |sw AS (SELECT doc_id, text,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |sm AS (SELECT doc_id, len(t) AS n_words,
       |  list_sum(list_transform(t, x -> length(x))) AS char_sum,
       |  len(list_filter(t, x -> list_contains(${listLit(
        graft.operators.RefVocab.enStopwords)}, lower(x)))) AS stop_hits,
       |  length(text) AS n_chars,
       |  length(text) - length(regexp_replace(text, '[.,?!'':"-]', '', 'g')) AS punct
       |  FROM sw),
       |sg AS (SELECT doc_id, n_words::INT AS n_words,
       |  floor(char_sum::DOUBLE / n_words * 10000 + 0.5) / 10000
       |    AS avg_word_len,
       |  floor(stop_hits::DOUBLE / n_words * 10000 + 0.5) / 10000
       |    AS stopword_ratio,
       |  floor(punct::DOUBLE / n_chars * 10000 + 0.5) / 10000
       |    AS punct_ratio
       |  FROM sm),
       |jj AS (SELECT sg.*, qf.keep FROM sg JOIN qf USING (doc_id)),
       |u AS (SELECT 'n_words' AS signal,
       |        ${b9("floor(ln((n_words + 1)::DOUBLE))")} AS bin, keep
       |      FROM jj
       |      UNION ALL
       |      SELECT 'avg_word_len', ${b9("floor(avg_word_len)")}, keep
       |      FROM jj
       |      UNION ALL
       |      SELECT 'stopword_ratio', ${b9("floor(stopword_ratio * 10)")},
       |        keep
       |      FROM jj
       |      UNION ALL
       |      SELECT 'punct_ratio', ${b9("floor(punct_ratio * 10)")}, keep
       |      FROM jj),
       |c AS (SELECT signal, bin, keep, count(*)::BIGINT AS c
       |      FROM u GROUP BY 1, 2, 3),
       |cb AS (SELECT signal, bin, sum(c)::BIGINT AS cb FROM c
       |       GROUP BY 1, 2),
       |cy AS (SELECT signal, keep, sum(c)::BIGINT AS cy FROM c
       |       GROUP BY 1, 2),
       |nt AS (SELECT signal, sum(c)::BIGINT AS nt FROM c GROUP BY 1),
       |tm AS (SELECT c.signal, nt.nt,
       |         floor(c.c::DOUBLE / nt.nt
       |               * ln(c.c::DOUBLE / cb.cb * (nt.nt::DOUBLE / cy.cy))
       |               * 1000000 + 0.5)::BIGINT AS tu
       |       FROM c JOIN cb ON cb.signal = c.signal AND cb.bin = c.bin
       |              JOIN cy ON cy.signal = c.signal AND cy.keep = c.keep
       |              JOIN nt ON nt.signal = c.signal)
       |SELECT signal, max(nt)::BIGINT AS n_docs,
       |  sum(tu)::BIGINT::DOUBLE / 1000000 AS mi
       |FROM tm GROUP BY signal ORDER BY signal""".stripMargin
  }

  /** Mirror of Curation.stratifiedSample: the same (doc_id, seed) hash
    * in [0,1) — first 8 md5 hex chars over 2^32, an exact binary
    * rational — against the same per-language rate chain.
    */
  val stratifiedSample: String = {
    import graft.operators.Curation.{SampleDefaultRate, SampleRates, SampleSeed}
    val rateCase = SampleRates
      .map { case (l, r) => s"WHEN lang = '${sq(l)}' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $SampleDefaultRate END")
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(SampleSeed)}'), 1, 8))::BIGINT
       |      / 4294967296.0 < $rateCase""".stripMargin
  }

  /** Mirror of Curation.packSequences: per-shard running token offsets
    * and budget bins, integer arithmetic end-to-end. pmod shard id to
    * match Spark's pmod for any doc_id sign.
    */
  val packSequences: String =
    s"WITH ${packSequencesCtes("pk")} SELECT * FROM pk"

  /** The sequence-packing pipeline as CTEs ending in
    * `<out>(doc_id, shard, n_tokens, offset, bin)` — shared by
    * packSequences and packStats.
    */
  private def packSequencesCtes(out: String): String = {
    import graft.operators.Curation.{PackBudget, PackShards}
    s"""n AS (SELECT doc_id, (((doc_id % $PackShards) + $PackShards) % $PackShards)::INT AS shard,
       |  len(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |      x -> x <> ''))::BIGINT AS n_tokens FROM documents),
       |o AS (SELECT *, (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |        ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS "offset" FROM n),
       |$out AS (SELECT doc_id, shard, n_tokens, "offset",
       |  floor("offset" / $PackBudget)::BIGINT AS bin FROM o)""".stripMargin
  }

  /** Mirror of Curation.packStats: per-shard packing audit over the
    * same CTEs — bin count from the exact token total, boundary
    * straddles via nonnegative integer floor-div (operands ≥ 0, so
    * DuckDB's `//` equals Spark's `div`).
    */
  val packStats: String = {
    import graft.operators.Curation.PackBudget
    val B = PackBudget
    s"""WITH ${packSequencesCtes("pk")},
       |ag AS (SELECT shard, count(*)::BIGINT AS n_docs,
       |         sum(n_tokens)::BIGINT AS total_tokens,
       |         sum(CASE WHEN n_tokens > 0 AND
       |               ("offset" // $B) <> (("offset" + n_tokens - 1) // $B)
       |             THEN 1 ELSE 0 END)::BIGINT AS straddle_docs
       |       FROM pk GROUP BY shard)
       |SELECT shard, n_docs, total_tokens,
       |  ((greatest(total_tokens, 1) - 1) // $B + 1)::BIGINT AS n_bins,
       |  straddle_docs,
       |  floor(straddle_docs::DOUBLE / n_docs * 10000 + 0.5) / 10000
       |    AS straddle_frac,
       |  floor(total_tokens::DOUBLE
       |        / (((greatest(total_tokens, 1) - 1) // $B + 1) * $B)
       |        * 10000 + 0.5) / 10000 AS fill_ratio
       |FROM ag ORDER BY shard""".stripMargin
  }

  /** Mirror of Similarity.kbConsistency: two ANTI-join sides, each
    * aggregated to one always-present row (count + id range).
    */
  val kbConsistency: String =
    """WITH ue AS (SELECT doc_id FROM documents
      |            ANTI JOIN embeddings ON doc_id = vec_id),
      |ov AS (SELECT vec_id FROM embeddings
      |       ANTI JOIN documents ON vec_id = doc_id)
      |SELECT 'unembedded' AS side, count(*)::BIGINT AS n,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id FROM ue
      |UNION ALL
      |SELECT 'orphan_vectors', count(*)::BIGINT,
      |  min(vec_id), max(vec_id) FROM ov
      |ORDER BY side""".stripMargin

  /** Mirror of Similarity.embeddingDrift: doc⋈vec join, the
    * kmRecomputeCte exact long-unit component means per source and
    * globally, 6dp norm means in DECIMAL, one rounded cosine per
    * source.
    */
  val embeddingDrift: String = {
    def meanCv(alias: String) =
      s"""CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE) / (count(*) * 10) + 0.5) / 1000000 AS FLOAT) AS $alias"""
    s"""WITH ej AS (SELECT d.source, e.embedding
       |            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |cmp AS (SELECT source, i, ${meanCv("cv")}
       |        FROM ej, range(1, 65) t(i) GROUP BY source, i),
       |sv AS (SELECT source, list(cv ORDER BY i) AS cvec
       |       FROM cmp GROUP BY source),
       |gc AS (SELECT i, ${meanCv("gv")}
       |       FROM ej, range(1, 65) t(i) GROUP BY i),
       |gl AS (SELECT list(gv ORDER BY i) AS gvec FROM gc),
       |st AS (SELECT source, count(*)::BIGINT AS n_vecs,
       |         floor(sum(CAST(round(sqrt(list_sum(list_transform(range(1,65),
       |             k -> embedding[k]::DOUBLE * embedding[k]::DOUBLE))), 6)
       |           AS DECIMAL(18,6)))::DOUBLE / count(*) * 1000000 + 0.5)
       |           / 1000000 AS mean_norm
       |       FROM ej GROUP BY source)
       |SELECT st.source, st.n_vecs, st.mean_norm,
       |  round(list_cosine_similarity(sv.cvec::DOUBLE[], gl.gvec::DOUBLE[]), 6)
       |    AS drift_cos
       |FROM st JOIN sv USING (source), gl
       |ORDER BY st.source""".stripMargin
  }

  /** Mirror of Similarity.embeddingNorms: 6dp norms (irrational sqrt —
    * round() safe), exact DECIMAL mean re-rounded via the floor
    * primitive.
    */
  val embeddingNorms: String =
    s"""WITH nm AS (SELECT label,
       |  round(sqrt(list_sum(list_transform(range(1,65),
       |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))), 6) AS norm
       |  FROM embeddings)
       |SELECT label, count(*)::BIGINT AS n_vecs,
       |  sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END)::BIGINT AS zero_vecs,
       |  floor(sum(CAST(norm AS DECIMAL(18,6)))::DOUBLE / count(*)
       |        * 1000000 + 0.5) / 1000000 AS mean_norm,
       |  min(norm) AS min_norm, max(norm) AS max_norm
       |FROM nm GROUP BY label ORDER BY label""".stripMargin

  /** Mirror of Curation.shuffleAssign: the same 60-bit seeded md5 key
    * (15 hex chars stay exact in a signed BIGINT; key >= 0 so plain %
    * equals Spark's pmod), same (hkey, doc_id) rank within shard.
    */
  val shuffleAssign: String = {
    import graft.operators.Curation.{ShuffleSeed, ShuffleShards}
    s"""WITH h AS (SELECT doc_id,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(ShuffleSeed)}'), 1, 15))::BIGINT AS hkey
       |  FROM documents)
       |SELECT doc_id, (hkey % $ShuffleShards)::INT AS shard,
       |  row_number() OVER (PARTITION BY hkey % $ShuffleShards
       |                     ORDER BY hkey, doc_id)::INT AS pos,
       |  hkey
       |FROM h""".stripMargin
  }

  // ---- corpus statistics (graft.operators.CorpusStats constants) -----

  /** Shared normalized-token-list CTE (`n(doc_id, lang, ws)`) — the
    * Dedup.normToks tokenizer with lang carried through.
    */
  private val normCte: String =
    """WITH n AS (SELECT doc_id, lang,
      |  list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |              x -> x <> '') AS ws FROM documents)""".stripMargin

  /** Mirror of Retrieval.chunkDocs: same normToks token list, chunk
    * count via the shared floor-division primitive (`//` floors like
    * Spark's `div`, so the negative short-doc case lands on 0 on both
    * engines), inclusive 1-based list_slice = Spark's slice(start, W)
    * capped by the list end.
    */
  val chunkDocs: String = {
    import graft.operators.Retrieval.{ChunkTokens, ChunkStride}
    val (w, s) = (ChunkTokens, ChunkStride)
    s"""$normCte,
       |m AS (SELECT doc_id, ws, len(ws) AS n FROM n WHERE len(ws) > 0),
       |k AS (SELECT doc_id, ws, n,
       |        unnest(range(0, greatest(0, (n - $w + $s - 1) // $s) + 1)) AS k
       |      FROM m)
       |SELECT doc_id, k::INT AS chunk_id, (k * $s)::INT AS start_tok,
       |  least($w, n - k * $s)::INT AS n_tokens,
       |  array_to_string(list_slice(ws, k * $s + 1, least(k * $s + $w, n)), ' ')
       |    AS chunk_text
       |FROM k""".stripMargin
  }

  /** Mirror of CorpusStats.ngramStats: bigram rows, two-level (gram,
    * doc) aggregation, top-k by (count desc, gram). sum casts back to
    * BIGINT (DuckDB sums BIGINT into HUGEINT; Spark stays long).
    */
  /** Mirror of CorpusStats.vocabGrowth: the same hash-decile nesting
    * (exact binary rational, identical op order), per-bucket counts +
    * min-bucket first appearances, cumulative over the bucket grid.
    */
  val vocabGrowth: String = {
    import graft.operators.Curation.SampleSeed
    import graft.operators.CorpusStats.VocabBuckets
    s"""$normCte,
       |tok AS (SELECT doc_id, unnest(ws) AS tok FROM n),
       |tb AS (SELECT tok,
       |  CAST(floor(('0x' || substr(md5(doc_id::VARCHAR || ':${sq(SampleSeed)}'), 1, 8))::BIGINT
       |             / 4294967296.0 * $VocabBuckets) AS INT) AS b
       |  FROM tok),
       |bt AS (SELECT b, tok, count(*)::BIGINT AS c FROM tb GROUP BY b, tok),
       |pb AS (SELECT b, sum(c)::BIGINT AS toks FROM bt GROUP BY b),
       |fb AS (SELECT mb, count(*)::BIGINT AS new_types
       |       FROM (SELECT tok, min(b) AS mb FROM bt GROUP BY tok)
       |       GROUP BY mb),
       |j AS (SELECT coalesce(pb.b, fb.mb) AS b,
       |        coalesce(toks, 0) AS toks,
       |        coalesce(new_types, 0) AS new_types
       |      FROM pb FULL OUTER JOIN fb ON pb.b = fb.mb)
       |SELECT (b + 1)::DOUBLE / $VocabBuckets AS fraction,
       |  (sum(toks) OVER w)::BIGINT AS n_tokens,
       |  (sum(new_types) OVER w)::BIGINT AS vocab
       |FROM j
       |WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
       |             AND CURRENT ROW)
       |ORDER BY fraction""".stripMargin
  }

  /** Mirror of CorpusStats.tokenEntropy: same ln N − (1/N)Σ c·ln c
    * identity, 6dp per-type log terms × exact counts in DECIMAL, and a
    * verbatim-order double expression per emitted stat. The vocab=1
    * guard keeps the normalized entropy at 0.0 instead of 0/0.
    */
  /** Mirror of CorpusStats.lengthHist: same normToks counts, the exact
    * binary-string-length bin form, grid-bounded share re-agg.
    */
  val lengthHist: String =
    s"""$normCte,
       |t AS (SELECT lang, len(ws)::BIGINT AS toks FROM n),
       |b AS (SELECT lang, toks,
       |  CASE WHEN toks = 0 THEN 0
       |       ELSE (1::BIGINT << (length(bin(toks)) - 1)) END AS bin_lo
       |  FROM t),
       |g AS (SELECT lang, bin_lo, count(*)::BIGINT AS n_docs,
       |        sum(toks)::BIGINT AS n_tokens
       |      FROM b GROUP BY 1, 2),
       |lt AS (SELECT lang, sum(n_docs)::BIGINT AS lang_n FROM g GROUP BY 1)
       |SELECT g.lang, g.bin_lo, g.n_docs, g.n_tokens,
       |  floor(g.n_docs::DOUBLE / lt.lang_n * 10000 + 0.5) / 10000
       |    AS doc_share
       |FROM g JOIN lt USING (lang) ORDER BY g.lang, g.bin_lo""".stripMargin

  val tokenEntropy: String = {
    s"""$normCte,
       |ty AS (SELECT lang, tok, count(*) AS c
       |       FROM (SELECT lang, unnest(ws) AS tok FROM n)
       |       GROUP BY lang, tok),
       |p AS (SELECT lang, sum(c)::BIGINT AS n_tokens,
       |        count(*) AS vocab,
       |        sum(c * CAST(floor(ln(c::DOUBLE) * 1000000 + 0.5) / 1000000
       |                     AS DECIMAL(18,6))) AS clogc
       |      FROM ty GROUP BY lang)
       |SELECT lang, n_tokens, vocab::BIGINT AS vocab,
       |  floor((ln(n_tokens::DOUBLE) - clogc::DOUBLE / n_tokens)
       |        * 1000000 + 0.5) / 1000000 AS entropy,
       |  CASE WHEN vocab > 1 THEN
       |    floor((ln(n_tokens::DOUBLE) - clogc::DOUBLE / n_tokens)
       |          / ln(vocab::DOUBLE) * 1000000 + 0.5) / 1000000
       |  ELSE 0.0::DOUBLE END AS entropy_norm
       |FROM p ORDER BY lang""".stripMargin
  }

  /** Mirror of CorpusStats.zipfFit: same top-k head, 6dp micro-unit
    * logs, exact HUGEINT cross products (they exceed BIGINT — the Spark
    * side uses DECIMAL(38,0)), and a verbatim-order double division per
    * emitted stat. DuckDB's sum(BIGINT) is already HUGEINT; the explicit
    * casts make the n·Sxy−Sx·Sy products exact too.
    */
  val zipfFit: String = {
    import graft.operators.CorpusStats.ZipfTopK
    s"""$normCte,
       |c AS (SELECT tok, count(*) AS cnt
       |      FROM (SELECT unnest(ws) AS tok FROM n) GROUP BY tok),
       |t AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT $ZipfTopK),
       |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
       |      FROM t),
       |u AS (SELECT
       |  CAST(floor(ln(rank::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xu,
       |  CAST(floor(ln(cnt::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS yu
       |  FROM r),
       |m AS (SELECT count(*) AS n,
       |  sum(xu)::HUGEINT AS sx, sum(yu)::HUGEINT AS sy,
       |  sum(xu*yu)::HUGEINT AS sxy, sum(xu*xu)::HUGEINT AS sxx,
       |  sum(yu*yu)::HUGEINT AS syy FROM u)
       |SELECT n::BIGINT AS n_terms,
       |  CASE WHEN n > 1 THEN
       |    floor((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE
       |          * 1000000 + 0.5) / 1000000 END AS slope,
       |  CASE WHEN n > 1 THEN
       |    floor((sy*sxx - sx*sxy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE
       |          / 1000000 * 1000000 + 0.5) / 1000000 END AS intercept,
       |  CASE WHEN n > 1 AND (n*syy - sy*sy)::DOUBLE <> 0.0 THEN
       |    floor((n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE
       |          / ((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE)
       |          * 1000000 + 0.5) / 1000000 END AS r2
       |FROM m""".stripMargin
  }

  val ngramStats: String = {
    import graft.operators.CorpusStats.NgramTopK
    s"""$normCte,
       |g AS (SELECT doc_id,
       |  unnest(list_transform(range(1, len(ws)), j -> ws[j] || ' ' || ws[j+1])) AS gram
       |  FROM n),
       |pd AS (SELECT gram, doc_id, count(*) AS c FROM g GROUP BY gram, doc_id),
       |c AS (SELECT gram, sum(c)::BIGINT AS n_occurrences, count(*) AS n_docs
       |      FROM pd GROUP BY gram)
       |SELECT gram, n_occurrences, n_docs, rank::INT AS rank
       |FROM (SELECT gram, n_occurrences, n_docs,
       |        row_number() OVER (ORDER BY n_occurrences DESC, gram) AS rank
       |      FROM c) WHERE rank <= $NgramTopK""".stripMargin
  }

  /** Mirror of CorpusStats.cooccurPmi: stopword-filtered token list
    * with ordinal positions (struct-unnest), the same W lead() columns
    * per position, canonical least/greatest pairs, min-support HAVING,
    * identical-operand-order PMI ratio, 6dp ln.
    */
  val cooccurPmi: String = {
    import graft.operators.CorpusStats.{PmiMinPairs, PmiTopK, PmiWindow}
    import graft.operators.RefVocab
    val stops = listLit(RefVocab.enStopwords)
    val leads = (1 to PmiWindow)
      .map(k => s"lead(term, $k) OVER w AS t$k").mkString(", ")
    val arr = (1 to PmiWindow).map(k => s"t$k").mkString("[", ", ", "]")
    s"""$normCte,
       |f AS (SELECT doc_id,
       |        list_filter(ws, x -> NOT list_contains($stops, x)) AS fs
       |      FROM n),
       |tk AS (SELECT doc_id, unnest(list_transform(range(1, len(fs) + 1),
       |          j -> {'p': j, 't': fs[j]})) AS u FROM f),
       |t2 AS (SELECT doc_id, u.p AS pos, u.t AS term FROM tk),
       |ld AS (SELECT doc_id, term, $leads FROM t2
       |       WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |pp AS (SELECT least(term, o) AS term_a, greatest(term, o) AS term_b
       |       FROM (SELECT term, unnest($arr) AS o FROM ld)
       |       WHERE o IS NOT NULL),
       |pc AS (SELECT term_a, term_b, count(*)::BIGINT AS n_pair
       |       FROM pp GROUP BY 1, 2 HAVING count(*) >= $PmiMinPairs),
       |un AS (SELECT term, count(*)::BIGINT AS cu FROM t2 GROUP BY term),
       |tt AS (SELECT sum(cu)::BIGINT AS t FROM un),
       |pt AS (SELECT sum(n_pair)::BIGINT AS p FROM pc)
       |SELECT term_a, term_b, n_pair,
       |  floor(ln(n_pair::DOUBLE / pt.p * (tt.t::DOUBLE / ua.cu)
       |           * (tt.t::DOUBLE / ub.cu)) * 1000000 + 0.5) / 1000000
       |    AS pmi
       |FROM pc JOIN un ua ON ua.term = pc.term_a
       |        JOIN un ub ON ub.term = pc.term_b, tt, pt
       |ORDER BY pmi DESC, term_a, term_b LIMIT $PmiTopK""".stripMargin
  }

  /** Mirror of CorpusStats.domainMix: per-language token inventory vs the
    * shared LangTargets recipe. The target CASE casts to DOUBLE (a bare
    * 0.50 literal is DECIMAL in DuckDB, double in Spark).
    */
  val domainMix: String = {
    val tgt = graft.operators.CorpusStats.LangTargets
      .map { case (l, t) => s"WHEN lang = '${sq(l)}' THEN $t" }
      .mkString("(CASE ", " ", " ELSE 0.0::DOUBLE END)::DOUBLE")
    s"""$normCte,
       |p AS (SELECT lang, count(*) AS n_docs, sum(len(ws))::BIGINT AS tokens
       |      FROM n GROUP BY lang),
       |t AS (SELECT sum(tokens)::BIGINT AS total_tokens FROM p)
       |SELECT lang, n_docs, tokens,
       |  floor(tokens::DOUBLE / total_tokens * 1000000 + 0.5) / 1000000 AS natural_share,
       |  $tgt AS target_share,
       |  floor($tgt * total_tokens::DOUBLE / tokens * 1000000 + 0.5) / 1000000 AS sample_factor,
       |  floor($tgt * total_tokens::DOUBLE)::BIGINT AS planned_tokens
       |FROM p, t ORDER BY lang""".stripMargin
  }

  /** Mirror of CorpusStats.mixTemperature: 6dp shares, p^T = exp(T·ln p)
    * on the rounded share re-rounded to 6dp DECIMAL, exact DECIMAL
    * denominator, mirrored double divisions.
    */
  /** The mixTemperature CTE chain at an explicit τ, CTE names suffixed
    * so [[mixSensitivity]] can stack one chain per arm.
    */
  private def mixTempCtes(tau: Double, sfx: String): String =
    s"""per$sfx AS (SELECT source, count(*)::BIGINT AS n_docs
       |             FROM documents GROUP BY source),
       |tot$sfx AS (SELECT sum(n_docs)::BIGINT AS total FROM per$sfx),
       |sh$sfx AS (SELECT source, n_docs,
       |        floor(n_docs::DOUBLE / total * 1000000 + 0.5) / 1000000
       |          AS share
       |       FROM per$sfx, tot$sfx),
       |up$sfx AS (SELECT source, n_docs, share,
       |        CAST(CASE WHEN share > 0
       |          THEN floor(exp($tau * ln(share)) * 1000000 + 0.5)
       |               / 1000000
       |          ELSE 0.0::DOUBLE END AS DECIMAL(18,6)) AS u
       |       FROM sh$sfx),
       |de$sfx AS (SELECT sum(u) AS du FROM up$sfx)""".stripMargin

  private val twSql =
    "floor(u::DOUBLE / du::DOUBLE * 1000000 + 0.5) / 1000000"

  val mixTemperature: String = {
    import graft.operators.CorpusStats.MixTemperature
    s"""WITH ${mixTempCtes(MixTemperature, "")}
       |SELECT source, n_docs, share, $twSql AS t_weight,
       |  floor(($twSql) / share * 10000 + 0.5) / 10000 AS boost
       |FROM up, de ORDER BY source""".stripMargin
  }

  /** Mirror of CorpusStats.mixSensitivity: one mixTemperature chain per
    * τ arm, stacked and unioned with the τ literal.
    */
  lazy val mixSensitivity: String = {
    import graft.operators.CorpusStats.MixSweepTaus
    val arms = MixSweepTaus.zipWithIndex
    def arm(t: Double, i: Int) =
      s"""SELECT CAST($t AS DOUBLE) AS tau, source, share,
         |  $twSql AS t_weight,
         |  floor(($twSql) / share * 10000 + 0.5) / 10000 AS boost
         |FROM up_$i, de_$i""".stripMargin
    s"""WITH ${arms.map { case (t, i) => mixTempCtes(t, s"_$i") }
          .mkString(",\n")}
       |SELECT tau, source, share, t_weight, boost FROM (
       |${arms.map { case (t, i) => arm(t, i) }.mkString("\nUNION ALL\n")})
       |ORDER BY tau, source""".stripMargin
  }

  /** Mirror of CorpusStats.epochPlan: the mixTemperature chain plus a
    * per-source token agg; allocation/epochs/effective-tokens in the
    * identical fixed-order double arithmetic.
    */
  val epochPlan: String = {
    import graft.operators.CorpusStats.{EpochBudgetFactor, EpochRStar,
      MixTemperature}
    val tw = "floor(u::DOUBLE / du::DOUBLE * 1000000 + 0.5) / 1000000"
    s"""WITH per AS (SELECT source, count(*)::BIGINT AS n_docs
       |             FROM documents GROUP BY source),
       |tot AS (SELECT sum(n_docs)::BIGINT AS total FROM per),
       |sh AS (SELECT source, n_docs,
       |        floor(n_docs::DOUBLE / total * 1000000 + 0.5) / 1000000
       |          AS share
       |       FROM per, tot),
       |up AS (SELECT source, share,
       |        CAST(CASE WHEN share > 0
       |          THEN floor(exp($MixTemperature * ln(share)) * 1000000 + 0.5)
       |               / 1000000
       |          ELSE 0.0::DOUBLE END AS DECIMAL(18,6)) AS u
       |       FROM sh),
       |de AS (SELECT sum(u) AS du FROM up),
       |wt AS (SELECT source, $tw AS t_weight FROM up, de),
       |tk AS (SELECT source,
       |         sum(len(list_filter(string_split(text, ' '),
       |                             x -> x <> ''))::BIGINT)::BIGINT
       |           AS n_tokens
       |       FROM documents GROUP BY source),
       |tt AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM tk),
       |al AS (SELECT tk.source, tk.n_tokens, wt.t_weight,
       |         floor(wt.t_weight
       |               * (tt.total_tokens * $EpochBudgetFactor)::DOUBLE
       |               + 0.5)::BIGINT AS alloc_tokens
       |       FROM tk JOIN wt ON wt.source = tk.source, tt),
       |ep AS (SELECT *,
       |         floor(alloc_tokens::DOUBLE / n_tokens * 10000 + 0.5)
       |           / 10000 AS epochs
       |       FROM al),
       |ef AS (SELECT *,
       |         floor(n_tokens::DOUBLE * ${EpochRStar}::DOUBLE
       |               * (1.0::DOUBLE - exp(-(epochs) / ${EpochRStar}::DOUBLE))
       |               + 0.5)::BIGINT AS eff_tokens
       |       FROM ep)
       |SELECT source, n_tokens, t_weight, alloc_tokens, epochs,
       |  eff_tokens,
       |  CASE WHEN alloc_tokens > 0
       |       THEN floor(eff_tokens::DOUBLE / alloc_tokens * 10000 + 0.5)
       |            / 10000
       |       ELSE 0.0::DOUBLE END AS utilization
       |FROM ef ORDER BY source""".stripMargin
  }

  /** Mirror of CorpusStats.qualityPsi: shared 4dp score CTEs, fixed
    * 10-bin grid with zero-fill, add-1-smoothed shares, per-bin 6dp
    * DECIMAL terms.
    */
  lazy val qualityPsi: String = {
    import graft.operators.CorpusStats.PsiBins
    val p = s"(f.c + 1)::DOUBLE / (ns.n + $PsiBins)"
    val q = s"(cb.cc + 1)::DOUBLE / (nt.nt + $PsiBins)"
    s"""$qualityScoreCtes,
       |sb AS (SELECT d.source,
       |    least(floor(s.score * $PsiBins), ${PsiBins - 1})::INT AS bin
       |  FROM s JOIN documents d ON d.doc_id = s.doc_id),
       |pc AS (SELECT source, bin, count(*)::BIGINT AS c
       |       FROM sb GROUP BY 1, 2),
       |fullg AS MATERIALIZED (SELECT g.source, b.bin, coalesce(pc.c, 0)::BIGINT AS c
       |  FROM (SELECT DISTINCT source FROM pc) g
       |  CROSS JOIN (SELECT i::INT AS bin FROM range(0, $PsiBins) t(i)) b
       |  LEFT JOIN pc ON pc.source = g.source AND pc.bin = b.bin),
       |ns AS (SELECT source, sum(c)::BIGINT AS n FROM fullg GROUP BY source),
       |cb AS (SELECT bin, sum(c)::BIGINT AS cc FROM fullg GROUP BY bin),
       |nt AS (SELECT sum(cc)::BIGINT AS nt FROM cb),
       |t AS (SELECT f.source, ns.n,
       |    CAST(floor((($p - $q) * ln(($p) / ($q))) * 1000000 + 0.5)
       |         / 1000000 AS DECIMAL(18,6)) AS term
       |  FROM fullg f JOIN ns ON ns.source = f.source
       |       JOIN cb ON cb.bin = f.bin, nt)
       |SELECT source, max(n)::BIGINT AS n_docs, sum(term)::DOUBLE AS psi
       |FROM t GROUP BY source ORDER BY source""".stripMargin
  }

  /** Mirror of CorpusStats.applyMix: the domainMix sample_factor per
    * language (same 6dp floor form), realized per doc with the
    * stratified_sample hash fraction — an exact binary rational on both
    * engines, so the fractional-part compare has no FP edge.
    */
  /** Shared CTE chain ending in `nc(doc_id, n_tokens, n_copies)` — the
    * applyMix repeat counts plus token lengths, consumed by applyMix
    * and exportManifest.
    */
  /** applyMix CTE chain over an in-scope `n(doc_id, lang, ws, …)` —
    * ends in `nc(doc_id, lang, sample_factor, n_tokens, n_copies)`.
    * Internal names are mix-prefixed so the fragment composes into
    * statements that already bind p/t/f (curateCorpus).
    */
  private val mixFromNCtes: String = {
    import graft.operators.Curation.SampleSeed
    val tgt = graft.operators.CorpusStats.LangTargets
      .map { case (l, t) => s"WHEN lang = '${sq(l)}' THEN $t" }
      .mkString("(CASE ", " ", " ELSE 0.0::DOUBLE END)::DOUBLE")
    s"""mp AS (SELECT lang, sum(len(ws))::BIGINT AS tokens FROM n GROUP BY lang),
       |mt AS (SELECT sum(tokens)::BIGINT AS total_tokens FROM mp),
       |mf AS (SELECT lang,
       |        floor($tgt * total_tokens::DOUBLE / tokens * 1000000 + 0.5) / 1000000
       |          AS sample_factor
       |      FROM mp, mt),
       |nc AS (SELECT n.doc_id, n.lang, mf.sample_factor,
       |  len(n.ws)::BIGINT AS n_tokens,
       |  (floor(mf.sample_factor)::BIGINT + CASE WHEN
       |     ('0x' || substr(md5(n.doc_id::VARCHAR || ':${sq(SampleSeed)}'), 1, 8))::BIGINT
       |       / 4294967296.0 < mf.sample_factor - floor(mf.sample_factor)
       |     THEN 1 ELSE 0 END)::BIGINT AS n_copies
       |FROM n JOIN mf USING (lang))""".stripMargin
  }

  private val mixCopiesCtes: String =
    s"""$normCte,
       |$mixFromNCtes""".stripMargin

  val applyMix: String =
    s"""$mixCopiesCtes
       |SELECT doc_id, lang, sample_factor, n_copies FROM nc""".stripMargin

  /** Mirror of Curation.exportManifest: applyMix copies exploded, a
    * per-copy 60-bit shuffle key, per-shard rank + running token
    * offsets over the shuffled order — every primitive identical to
    * its standalone query's oracle.
    */
  val exportManifest: String = {
    import graft.operators.Curation.{PackBudget, ShuffleSeed, ShuffleShards}
    s"""$mixCopiesCtes,
       |c AS (SELECT doc_id, n_tokens, unnest(range(0, n_copies)) AS ci
       |      FROM nc WHERE n_copies >= 1),
       |k AS (SELECT doc_id, ci::INT AS copy_idx, n_tokens,
       |        ('0x' || substr(md5(doc_id::VARCHAR || ':' || ci::VARCHAR
       |                            || ':${sq(ShuffleSeed)}'), 1, 15))::BIGINT AS hkey
       |      FROM c),
       |s AS (SELECT *, (hkey % $ShuffleShards)::INT AS shard FROM k),
       |o AS (SELECT doc_id, copy_idx, shard, n_tokens,
       |        row_number() OVER w AS pos,
       |        (sum(n_tokens) OVER (PARTITION BY shard
       |           ORDER BY hkey, doc_id, copy_idx
       |           ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS "offset"
       |      FROM s
       |      WINDOW w AS (PARTITION BY shard ORDER BY hkey, doc_id, copy_idx))
       |SELECT doc_id, copy_idx, shard, pos::INT AS pos, n_tokens, "offset",
       |  floor("offset" / $PackBudget)::BIGINT AS bin
       |FROM o""".stripMargin
  }

  /** Mirror of CorpusStats.qualityThresholds: the qualityScore composite
    * (same fragments as the qualityScore oracle), discrete lower
    * quantiles at integer positions under (score, doc_id) — position
    * arithmetic is integer division on both engines.
    */
  /** Shared CTE chain ending in `s(doc_id, lang, score)` — the 4dp
    * quality-score composite, consumed by qualityThresholds and
    * histQuantiles.
    */
  private val qualityScoreCtes: String =
    s"""WITH w AS (SELECT doc_id, lang, text,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |m AS (SELECT doc_id, lang, len(t) AS n_words,
       |  len(list_filter(t, x -> list_contains(${listLit(RefVocab.enStopwords)}, lower(x)))) AS stop_hits,
       |  length(text) AS n_chars,
       |  length(text) - length(regexp_replace(text, '[.,?!'':"-]', '', 'g')) AS punct
       |  FROM w),
       |s AS (SELECT doc_id, lang,
       |  floor((least(1.0, n_words / 100.0) * 0.4 + (stop_hits::DOUBLE / n_words) * 0.3
       |        + (1.0 - punct::DOUBLE / n_chars) * 0.3) * 10000 + 0.5) / 10000 AS score
       |  FROM m)""".stripMargin

  /** Mirror of CorpusStats.corpusCard: the same 4dp quality composite
    * (shared CTE chain), normToks token counts, expand-style distinct
    * counts, floor-primitive means.
    */
  val corpusCard: String = {
    import graft.operators.CorpusStats.CardShortTokens
    s"""$qualityScoreCtes,
       |nt AS (SELECT doc_id, source, n_chars,
       |  len(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |      x -> x <> ''))::BIGINT AS toks
       |  FROM documents)
       |SELECT count(*)::BIGINT AS n_docs,
       |  sum(nt.toks)::BIGINT AS n_tokens,
       |  sum(nt.n_chars)::BIGINT AS total_chars,
       |  count(DISTINCT s.lang)::BIGINT AS n_langs,
       |  count(DISTINCT nt.source)::BIGINT AS n_sources,
       |  floor(sum(CAST(s.score AS DECIMAL(18,4)))::DOUBLE / count(*)
       |        * 10000 + 0.5) / 10000 AS avg_quality,
       |  floor(sum(CASE WHEN nt.toks < $CardShortTokens THEN 1 ELSE 0 END)::DOUBLE
       |        / count(*) * 10000 + 0.5) / 10000 AS pct_short
       |FROM s JOIN nt USING (doc_id)""".stripMargin
  }

  /** Mirror of CorpusStats.qualityByLength: the shared quality CTEs ×
    * lengthHist's binary-length bins, exact-decimal 4dp means.
    */
  lazy val qualityByLength: String = {
    val cut =
      s"CAST(${graft.operators.CorpusStats.QualityLowCut} AS DOUBLE)"
    s"""$qualityScoreCtes,
       |nt AS (SELECT doc_id,
       |  len(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |      x -> x <> ''))::BIGINT AS toks
       |  FROM documents),
       |b AS (SELECT CAST(s.score AS DECIMAL(18,4)) AS q,
       |        (s.score < $cut) AS lowq,
       |        CASE WHEN nt.toks = 0 THEN 0
       |             ELSE (1::BIGINT << (length(bin(nt.toks)) - 1)) END
       |          AS bin_lo
       |      FROM s JOIN nt USING (doc_id))
       |SELECT bin_lo, count(*)::BIGINT AS n_docs,
       |  floor(sum(q)::DOUBLE / count(*) * 10000 + 0.5) / 10000
       |    AS mean_quality,
       |  floor(sum(CASE WHEN lowq THEN 1 ELSE 0 END)::DOUBLE / count(*)
       |        * 10000 + 0.5) / 10000 AS low_share
       |FROM b GROUP BY bin_lo ORDER BY bin_lo""".stripMargin
  }

  /** Mirror of Curation.decontamSweep: per n, the gram lists come from
    * one list_transform over the shared normalized token list (the
    * shCte idiom generalized to n), fingerprinted to the same 16-hex
    * md5 key the Spark side dedupes/joins on, the hit set is the gram
    * equi-join, and the four counters are scalar subqueries per arm.
    */
  lazy val decontamSweep: String = {
    import graft.operators.Curation.{ContamMod, ContamSlot, DecontamSweepNs}
    val slot = s"((doc_id % $ContamMod) + $ContamMod) % $ContamMod"
    def gramExpr(k: Int) =
      (0 until k).map(i => s"ws[j+$i]").mkString(" || ' ' || ")
    def ctes(k: Int) =
      s"""g$k AS (SELECT DISTINCT doc_id, substr(md5(g0), 1, 16) AS g
         |  FROM (SELECT doc_id, unnest(
         |    list_transform(range(1, len(ws) - ${k - 2}),
         |                   j -> ${gramExpr(k)})) AS g0
         |    FROM n WHERE len(ws) >= $k) t$k),
         |b$k AS (SELECT doc_id, g FROM g$k WHERE $slot = $ContamSlot),
         |bg$k AS (SELECT DISTINCT g FROM b$k),
         |h$k AS (SELECT t.doc_id, t.g FROM g$k t JOIN bg$k USING (g)
         |        WHERE ((t.doc_id % $ContamMod) + $ContamMod)
         |              % $ContamMod <> $ContamSlot)""".stripMargin
    def arm(k: Int) =
      s"""SELECT $k AS n,
         |  (SELECT count(DISTINCT doc_id) FROM h$k)::BIGINT
         |    AS n_train_docs_flagged,
         |  (SELECT count(DISTINCT b.doc_id) FROM b$k b
         |   JOIN (SELECT DISTINCT g FROM h$k) hg USING (g))::BIGINT
         |    AS n_eval_docs_touched,
         |  (SELECT count(*) FROM h$k)::BIGINT AS n_collisions,
         |  (SELECT count(*) FROM bg$k)::BIGINT AS n_eval_grams""".stripMargin
    s"""$normCte,
       |${DecontamSweepNs.map(ctes).mkString(",\n")}
       |SELECT n, n_train_docs_flagged, n_eval_docs_touched,
       |       n_collisions, n_eval_grams FROM (
       |${DecontamSweepNs.map(arm).mkString("\nUNION ALL\n")})
       |ORDER BY n""".stripMargin
  }

  /** Mirror of CorpusStats.sourceCard: the corpusCard aggregate GROUPed
    * BY source — same shared quality CTEs, normToks counts, 4dp
    * floor-primitive means.
    */
  val sourceCard: String = {
    import graft.operators.CorpusStats.CardShortTokens
    s"""$qualityScoreCtes,
       |nt AS (SELECT doc_id, source, n_chars,
       |  len(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |      x -> x <> ''))::BIGINT AS toks
       |  FROM documents)
       |SELECT nt.source, count(*)::BIGINT AS n_docs,
       |  sum(nt.toks)::BIGINT AS n_tokens,
       |  sum(nt.n_chars)::BIGINT AS total_chars,
       |  count(DISTINCT s.lang)::BIGINT AS n_langs,
       |  floor(sum(CAST(s.score AS DECIMAL(18,4)))::DOUBLE / count(*)
       |        * 10000 + 0.5) / 10000 AS avg_quality,
       |  floor(sum(CASE WHEN nt.toks < $CardShortTokens THEN 1 ELSE 0 END)::DOUBLE
       |        / count(*) * 10000 + 0.5) / 10000 AS pct_short
       |FROM s JOIN nt USING (doc_id)
       |GROUP BY nt.source ORDER BY nt.source""".stripMargin
  }

  /** Mirror of CorpusStats.tokenizerFertility: the tokenCount counters
    * summed per language, exact-integer sums, one double divide per
    * ratio, 4dp floor rounding, 0 on zero denominators.
    */
  val tokenizerFertility: String =
    """WITH t AS (SELECT lang,
      |  len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS ws,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS re,
      |  length(text)::BIGINT AS ch FROM documents)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(ws)::BIGINT AS ws_tokens, sum(re)::BIGINT AS re_tokens,
      |  sum(ch)::BIGINT AS n_chars,
      |  CASE WHEN sum(ws) > 0
      |       THEN floor(sum(re)::DOUBLE / sum(ws) * 10000 + 0.5) / 10000
      |       ELSE 0 END AS fertility,
      |  CASE WHEN sum(re) > 0
      |       THEN floor(sum(ch)::DOUBLE / sum(re) * 10000 + 0.5) / 10000
      |       ELSE 0 END AS chars_per_token
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** Mirror of CorpusStats.sourceDivergence: same 10-bin grid over the
    * shared quality CTEs, double-product log ratios, 6dp × DECIMAL.
    */
  val sourceDivergence: String =
    s"""$qualityScoreCtes,
       |sb AS (SELECT d.source,
       |  least(floor(s.score * 10), 9)::INT AS bin, count(*)::BIGINT AS c
       |  FROM s JOIN documents d USING (doc_id)
       |  GROUP BY 1, 2),
       |st AS (SELECT source, sum(c)::BIGINT AS ns FROM sb GROUP BY 1),
       |cb AS (SELECT bin, sum(c)::BIGINT AS cc FROM sb GROUP BY 1),
       |nc AS (SELECT sum(c)::BIGINT AS n_corpus FROM sb),
       |tm AS (SELECT sb.source, st.ns,
       |  sb.c * CAST(floor((ln(sb.c::DOUBLE * nc.n_corpus::DOUBLE)
       |                     - ln(st.ns::DOUBLE * cb.cc::DOUBLE))
       |              * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t
       |  FROM sb JOIN cb USING (bin) JOIN st USING (source), nc)
       |SELECT source, ns AS n_docs,
       |  floor(sum(t)::DOUBLE / ns * 1000000 + 0.5) / 1000000
       |    AS kl_vs_corpus
       |FROM tm GROUP BY source, ns ORDER BY source""".stripMargin

  val qualityThresholds: String =
    s"""$qualityScoreCtes,
       |x AS (SELECT lang, score,
       |  row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS n
       |  FROM s)
       |SELECT lang, max(n)::INT AS n_docs,
       |  max(CASE WHEN rn = (n-1)//10 + 1 THEN score END) AS p10,
       |  max(CASE WHEN rn = (n-1)//2 + 1 THEN score END) AS p50,
       |  max(CASE WHEN rn = ((n-1)*9)//10 + 1 THEN score END) AS p90
       |FROM x GROUP BY lang ORDER BY lang""".stripMargin

  /** Mirror of CorpusStats.histQuantiles, via the rank formulation (the
    * engine side is the histogram cumulative — the two agreeing is the
    * point: same positions picked from bins vs from the full sort).
    */
  val histQuantiles: String =
    s"""$qualityScoreCtes,
       |x AS (SELECT lang, score,
       |  row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS n
       |  FROM s)
       |SELECT lang, max(n)::INT AS n_docs,
       |  max(CASE WHEN rn = (n-1)//4 + 1 THEN score END) AS p25,
       |  max(CASE WHEN rn = (n-1)//2 + 1 THEN score END) AS p50,
       |  max(CASE WHEN rn = ((n-1)*3)//4 + 1 THEN score END) AS p75,
       |  max(CASE WHEN rn = ((n-1)*9)//10 + 1 THEN score END) AS p90,
       |  max(CASE WHEN rn = ((n-1)*99)//100 + 1 THEN score END) AS p99
       |FROM x GROUP BY lang ORDER BY lang""".stripMargin

  /** Mirror of CorpusStats.perplexityScore: per-doc bigram multiplicities
    * once (db), LM counts derived by sums (c2 → c1 → V), per-bigram
    * 6dp-rounded ln((c1+V)/(c2+1)) × multiplicity accumulated in DECIMAL,
    * 6dp per-token average, 4dp exp. Identical arithmetic order to the
    * Spark plan; the two parallel unnests zip position-wise (same-length
    * lists), matching lead(w, 1).
    */
  val perplexityScore: String =
    s"WITH ${perplexityScoreCtes("px")} SELECT * FROM px"

  /** The in-domain perplexity pipeline as CTEs ending in
    * `<out>(doc_id, lang, n_bigrams, avg_nll, ppl)` — shared by
    * perplexityScore and ccnetBuckets. (normCte already opens WITH.)
    */
  private def perplexityScoreCtes(out: String): String =
    s"""${normCte.stripPrefix("WITH ")},
       |bo AS (SELECT doc_id, lang,
       |  unnest(list_transform(range(1, len(ws)), j -> ws[j])) AS w1,
       |  unnest(list_transform(range(1, len(ws)), j -> ws[j+1])) AS w2
       |  FROM n),
       |db AS (SELECT doc_id, lang, w1, w2, count(*) AS n FROM bo
       |       GROUP BY doc_id, lang, w1, w2),
       |c2 AS (SELECT lang, w1, w2, sum(n)::BIGINT AS c2 FROM db
       |       GROUP BY lang, w1, w2),
       |c1 AS (SELECT lang, w1, sum(c2)::BIGINT AS c1 FROM c2
       |       GROUP BY lang, w1),
       |vv AS (SELECT lang, count(*) AS v FROM c1 GROUP BY lang),
       |sc AS (SELECT d.doc_id, d.lang, d.n,
       |  d.n * CAST(floor(ln((c1.c1 + vv.v)::DOUBLE / (c2.c2 + 1))
       |                   * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM db d
       |  JOIN c2 ON c2.lang = d.lang AND c2.w1 = d.w1 AND c2.w2 = d.w2
       |  JOIN c1 ON c1.lang = d.lang AND c1.w1 = d.w1
       |  JOIN vv ON vv.lang = d.lang),
       |ag AS (SELECT doc_id, lang, sum(n)::BIGINT AS n_bigrams,
       |              sum(part) AS nll_sum
       |       FROM sc GROUP BY doc_id, lang),
       |$out AS (SELECT doc_id, lang, n_bigrams,
       |  floor(nll_sum::DOUBLE / n_bigrams * 1000000 + 0.5) / 1000000 AS avg_nll,
       |  floor(exp(floor(nll_sum::DOUBLE / n_bigrams * 1000000 + 0.5) / 1000000)
       |        * 10000 + 0.5) / 10000 AS ppl
       |FROM ag)""".stripMargin

  /** Mirror of CorpusStats.ccnetBuckets: the same perplexity CTEs, the
    * hist_quantiles integer-position tercile rule over the discrete 4dp
    * ppl histogram, head ≤ t1 < middle ≤ t2 < tail.
    */
  /** Per-language tercile thresholds `th(lang, t1, t2)` over a
    * perplexity CTE `px` — shared by ccnetBuckets and
    * classifierExamples.
    */
  private val ccnetThresholdCtes: String =
    s"""h AS (SELECT lang, ppl, count(*)::BIGINT AS c FROM px
       |      GROUP BY lang, ppl),
       |cm AS (SELECT lang, ppl,
       |         sum(c) OVER (PARTITION BY lang ORDER BY ppl) AS cum,
       |         sum(c) OVER (PARTITION BY lang) AS n
       |       FROM h),
       |th AS (SELECT lang,
       |         min(CASE WHEN cum >= (n - 1) * 1 // 3 + 1 THEN ppl END) AS t1,
       |         min(CASE WHEN cum >= (n - 1) * 2 // 3 + 1 THEN ppl END) AS t2
       |       FROM cm GROUP BY lang)""".stripMargin

  val ccnetBuckets: String =
    s"""WITH ${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes
       |SELECT px.doc_id, px.lang, px.ppl,
       |  CASE WHEN px.ppl <= th.t1 THEN 'head'
       |       WHEN px.ppl <= th.t2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM px JOIN th ON th.lang = px.lang
       |ORDER BY px.doc_id""".stripMargin

  /** Classifier feature CTEs over ALL documents (prefix cf — unique, so
    * the chain composes with the qualityKeep/perplexity chains inside
    * one statement): cfs = (doc_id, lang, n_words, avg_word_len,
    * stopword_ratio, punct_ratio) — the quality_score sub-signals.
    * Shared by classifierExamples, classifierTrain/Apply and gateEval.
    */
  private lazy val clfFeatureCtes: String =
    s"""cfw AS (SELECT doc_id, lang, text,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |cfm AS (SELECT doc_id, lang, len(t) AS n_words,
       |  list_sum(list_transform(t, x -> length(x))) AS char_sum,
       |  len(list_filter(t, x -> list_contains(${listLit(RefVocab.enStopwords)}, lower(x)))) AS stop_hits,
       |  length(text) AS n_chars,
       |  length(text) - length(regexp_replace(text, '[.,?!'':"-]', '', 'g')) AS punct
       |  FROM cfw),
       |cfs AS (SELECT doc_id, lang, n_words::INT AS n_words,
       |  floor(char_sum::DOUBLE / n_words * 10000 + 0.5) / 10000 AS avg_word_len,
       |  floor(stop_hits::DOUBLE / n_words * 10000 + 0.5) / 10000 AS stopword_ratio,
       |  floor(punct::DOUBLE / n_chars * 10000 + 0.5) / 10000 AS punct_ratio
       |  FROM cfm)""".stripMargin

  /** Mirror of Curation.classifierExamples: the quality sub-signal
    * features labeled by the CCNet head/tail split; middle tercile
    * excluded.
    */
  lazy val classifierExamples: String =
    s"""WITH $clfFeatureCtes,
       |${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes
       |SELECT q.doc_id, q.lang, q.n_words, q.avg_word_len,
       |  q.stopword_ratio, q.punct_ratio,
       |  CASE WHEN px.ppl <= th.t1 THEN 1 ELSE 0 END AS label
       |FROM cfs q
       |JOIN px ON px.doc_id = q.doc_id
       |JOIN th ON th.lang = px.lang
       |WHERE px.ppl <= th.t1 OR px.ppl > th.t2
       |ORDER BY q.doc_id""".stripMargin

  /** Exact 1e-6-unit feature columns (mirror of Curation.clfUnits) over
    * a relation aliased `$q` carrying the cfs columns.
    */
  private def clfUnitCols(q: String): String =
    s"""1000000::BIGINT AS xu0,
       |  CASE WHEN $q.n_words > 0
       |       THEN least($q.n_words, 1000)::BIGINT * 1000 ELSE 0 END AS xu1,
       |  CASE WHEN $q.n_words > 0
       |       THEN floor(least($q.avg_word_len, 10.0) / 10.0 * 1000000 + 0.5)::BIGINT
       |       ELSE 0 END AS xu2,
       |  CASE WHEN $q.n_words > 0
       |       THEN floor($q.stopword_ratio * 1000000 + 0.5)::BIGINT
       |       ELSE 0 END AS xu3,
       |  CASE WHEN $q.n_words > 0
       |       THEN floor($q.punct_ratio * 1000000 + 0.5)::BIGINT
       |       ELSE 0 END AS xu4""".stripMargin

  /** The unrolled training chain (mirror of Curation.buildClfWeights):
    * cex = the train-split examples in exact units; w0..wT = the weight
    * vector after each gradient round (the pagerank unrolled-CTE
    * posture). Requires cfs + px + th CTEs in scope.
    */
  private lazy val clfTrainCtes: String = {
    import graft.operators.Curation.{ClfLr, ClfRounds, SplitSeed, SplitTrain}
    val z = (0 to 4).map(i => s"w.wu$i * e.xu$i").mkString(" + ")
    val head =
      s"""cex AS MATERIALIZED (SELECT
         |  ${clfUnitCols("q")},
         |  (q.lbl * 1000000)::BIGINT AS yu
         |  FROM (SELECT cfs.*,
         |          CASE WHEN px.ppl <= th.t1 THEN 1 ELSE 0 END AS lbl
         |        FROM cfs
         |        JOIN px ON px.doc_id = cfs.doc_id
         |        JOIN th ON th.lang = px.lang
         |        WHERE (px.ppl <= th.t1 OR px.ppl > th.t2)
         |          AND ('0x' || substr(md5(cfs.doc_id::VARCHAR || ':${sq(SplitSeed)}'), 1, 8))::BIGINT
         |              / 4294967296.0 < $SplitTrain) q),
         |w0 AS (SELECT ${(0 to 4).map(i => s"0::BIGINT AS wu$i").mkString(", ")})""".stripMargin
    // w$t is referenced twice (next round's scorer + next round's step)
    // and the chain is 6 deep: left plain, DuckDB's per-reference CTE
    // inlining re-evaluates the whole prefix exponentially (the k_core
    // lesson) — each round materializes its 1-row weight vector.
    val rounds = (1 to ClfRounds).map { t =>
      s"""s$t AS (SELECT e.*,
         |  floor(1000000.0 / (1.0 + exp(-(($z)::DOUBLE / 1000000000000))) + 0.5)::BIGINT AS pu
         |  FROM cex e, w${t - 1} w),
         |g$t AS (SELECT count(*)::BIGINT AS n,
         |  ${(0 to 4).map(i => s"sum(xu$i * (yu - pu)) AS g$i").mkString(", ")}
         |  FROM s$t),
         |w$t AS MATERIALIZED (SELECT
         |  ${(0 to 4).map(i =>
             s"w.wu$i + floor($ClfLr * g.g$i::DOUBLE / g.n / 1000000 + 0.5)::BIGINT AS wu$i")
             .mkString(",\n  ")}
         |  FROM w${t - 1} w, g$t g)""".stripMargin
    }
    head + ",\n" + rounds.mkString(",\n")
  }

  /** Mirror of Curation.classifierTrain: the full unrolled training, one
    * row per round × feature.
    */
  lazy val classifierTrain: String = {
    import graft.operators.Curation.{ClfFeatureNames, ClfRounds}
    val rows = (1 to ClfRounds).flatMap { t =>
      ClfFeatureNames.zipWithIndex.map { case (f, i) =>
        s"SELECT $t AS round, '${sq(f)}' AS feature, wu$i::DOUBLE / 1000000 AS weight FROM w$t"
      }
    }
    s"""WITH $clfFeatureCtes,
       |${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes,
       |$clfTrainCtes
       |SELECT round, feature, weight FROM (
       |${rows.mkString("\n  UNION ALL ")})
       |ORDER BY round, feature""".stripMargin
  }

  /** Mirror of Curation.classifierApply: the same unrolled training to
    * the final weights, then the map-only corpus-wide scorer.
    */
  lazy val classifierApply: String = {
    import graft.operators.Curation.ClfRounds
    val z = (0 to 4).map(i => s"w.wu$i * f.xu$i").mkString(" + ")
    s"""WITH $clfFeatureCtes,
       |${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes,
       |$clfTrainCtes,
       |fu AS (SELECT doc_id, ${clfUnitCols("cfs")} FROM cfs),
       |sx AS (SELECT f.doc_id,
       |  floor(1000000.0 / (1.0 + exp(-(($z)::DOUBLE / 1000000000000))) + 0.5)::BIGINT AS su
       |  FROM fu f, w$ClfRounds w)
       |SELECT doc_id, su::DOUBLE / 1000000 AS score, su >= 500000 AS pred
       |FROM sx""".stripMargin
  }

  /** Mirror of Curation.gateOverlap: the heuristic keep chain + the
    * trained-classifier chain (gateEval's composition) + dsirSelect
    * embedded as a subquery; three 1-row agreement arms.
    */
  lazy val gateOverlap: String = {
    import graft.operators.Curation.ClfRounds
    val z = (0 to 4).map(i => s"w.wu$i * f.xu$i").mkString(" + ")
    def arm(name: String, a: String, b: String) =
      s"""SELECT '$name' AS pair,
         |  sum(CASE WHEN $a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         |  sum(CASE WHEN $b THEN 1 ELSE 0 END)::BIGINT AS n_b,
         |  sum(CASE WHEN $a AND $b THEN 1 ELSE 0 END)::BIGINT AS n_both,
         |  floor(sum(CASE WHEN $a AND $b THEN 1 ELSE 0 END)::DOUBLE
         |        / nullif(sum(CASE WHEN $a THEN 1 ELSE 0 END)
         |                 + sum(CASE WHEN $b THEN 1 ELSE 0 END)
         |                 - sum(CASE WHEN $a AND $b THEN 1 ELSE 0 END), 0)
         |        * 10000 + 0.5) / 10000 AS jaccard,
         |  floor(sum(CASE WHEN $a = $b THEN 1 ELSE 0 END)::DOUBLE
         |        / count(*) * 10000 + 0.5) / 10000 AS agree_rate
         |FROM uni""".stripMargin
    s"""WITH $qualityKeepCtes,
       |${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes,
       |$clfFeatureCtes,
       |$clfTrainCtes,
       |fu AS (SELECT doc_id, ${clfUnitCols("cfs")} FROM cfs),
       |ck AS (SELECT f.doc_id,
       |  floor(1000000.0 / (1.0 + exp(-(($z)::DOUBLE / 1000000000000))) + 0.5)::BIGINT
       |    >= 500000 AS keep
       |  FROM fu f, w$ClfRounds w),
       |dsel AS (SELECT doc_id FROM ($dsirSelect)),
       |uni AS MATERIALIZED (SELECT qf.doc_id, qf.keep AS kh,
       |    ck.keep AS kc, (dsel.doc_id IS NOT NULL) AS kd
       |  FROM qf JOIN ck ON ck.doc_id = qf.doc_id
       |  LEFT JOIN dsel ON dsel.doc_id = qf.doc_id)
       |${arm("classifier~dsir", "kc", "kd")}
       |UNION ALL
       |${arm("heuristic~classifier", "kh", "kc")}
       |UNION ALL
       |${arm("heuristic~dsir", "kh", "kd")}
       |ORDER BY pair""".stripMargin
  }

  /** Mirror of Curation.clfCalibration: the unrolled training chain to
    * the frozen weights, the corpus scorer, held-out + labeled join,
    * equal-width bins on the identical double score, exact BIGINT su
    * sums, the same two divisions and 4dp gap.
    */
  lazy val clfCalibration: String = {
    import graft.operators.Curation.{ClfCalibBins, ClfRounds, SplitSeed,
      SplitTrain}
    val z = (0 to 4).map(i => s"w.wu$i * f.xu$i").mkString(" + ")
    s"""WITH $clfFeatureCtes,
       |${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes,
       |$clfTrainCtes,
       |lbl AS (SELECT px.doc_id,
       |          CASE WHEN px.ppl <= th.t1 THEN 1 ELSE 0 END AS pos
       |        FROM px JOIN th ON th.lang = px.lang
       |        WHERE px.ppl <= th.t1 OR px.ppl > th.t2),
       |ho AS (SELECT doc_id FROM documents
       |       WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(SplitSeed)}'), 1, 8))::BIGINT
       |             / 4294967296.0 >= $SplitTrain),
       |fu AS (SELECT doc_id, ${clfUnitCols("cfs")} FROM cfs),
       |sx AS (SELECT f.doc_id,
       |  floor(1000000.0 / (1.0 + exp(-(($z)::DOUBLE / 1000000000000))) + 0.5)::BIGINT AS su
       |  FROM fu f, w$ClfRounds w),
       |b AS (SELECT
       |    least(floor(sx.su::DOUBLE / 1000000 * $ClfCalibBins),
       |          ${ClfCalibBins - 1})::INT AS bin,
       |    sx.su, l.pos
       |  FROM sx JOIN lbl l ON l.doc_id = sx.doc_id
       |       JOIN ho ON ho.doc_id = sx.doc_id),
       |g AS (SELECT bin, count(*)::BIGINT AS n, sum(su)::BIGINT AS susum,
       |        sum(pos)::BIGINT AS npos
       |      FROM b GROUP BY bin)
       |SELECT bin, n,
       |  floor(susum::DOUBLE / n + 0.5) / 1000000 AS mean_score,
       |  floor(npos::DOUBLE / n * 10000 + 0.5) / 10000 AS pos_rate,
       |  floor(abs(floor(susum::DOUBLE / n + 0.5) / 1000000
       |        - floor(npos::DOUBLE / n * 10000 + 0.5) / 10000)
       |        * 10000 + 0.5) / 10000 AS gap
       |FROM g ORDER BY bin""".stripMargin
  }

  /** Mirror of CorpusStats.signalCorr: the quality-score CTEs joined
    * with the perplexity CTEs on doc_id (no CTE-name collision: w/m/s
    * vs n/bo/db/c2/c1/vv/sc/ag/px), 4dp integer units on both signals,
    * HUGEINT moments, one double num/sqrt(dx·dy) in mirrored order.
    */
  val signalCorr: String =
    s"""$qualityScoreCtes,
       |${perplexityScoreCtes("px")},
       |jm AS (SELECT s.lang,
       |  CAST(floor(s.score * 10000 + 0.5) AS BIGINT) AS xu,
       |  CAST(floor(px.avg_nll * 10000 + 0.5) AS BIGINT) AS yu
       |  FROM s JOIN px ON px.doc_id = s.doc_id),
       |mo AS (SELECT lang, count(*) AS n,
       |  sum(xu)::HUGEINT AS sx, sum(yu)::HUGEINT AS sy,
       |  sum(xu*yu)::HUGEINT AS sxy, sum(xu*xu)::HUGEINT AS sxx,
       |  sum(yu*yu)::HUGEINT AS syy FROM jm GROUP BY lang)
       |SELECT lang, n::BIGINT AS n_docs,
       |  CASE WHEN n > 1 AND (n*sxx - sx*sx)::DOUBLE <> 0.0
       |            AND (n*syy - sy*sy)::DOUBLE <> 0.0 THEN
       |    floor((n*sxy - sx*sy)::DOUBLE
       |          / sqrt((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE)
       |          * 10000 + 0.5) / 10000 END AS corr
       |FROM mo ORDER BY lang""".stripMargin

  /** Mirror of Curation.gateEval: the quality-keep CTEs joined with
    * the frozen-LM head/tail label (no CTE-name overlap: qw/qm/qsig/qf
    * vs the perplexity/threshold chains), one confusion-matrix agg,
    * nullif-guarded 4dp ratios in mirrored order.
    */
  /** Mirror of Curation.gateEval: the two-arm gate leaderboard —
    * heuristic keep (qf chain) and the trained classifier (the full
    * unrolled training chain + scorer), both graded on held-out labeled
    * docs.
    */
  lazy val gateEval: String = {
    import graft.operators.Curation.{ClfRounds, SplitSeed, SplitTrain}
    val z = (0 to 4).map(i => s"w.wu$i * f.xu$i").mkString(" + ")
    s"""WITH $qualityKeepCtes,
       |${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes,
       |$clfFeatureCtes,
       |$clfTrainCtes,
       |lbl AS (SELECT px.doc_id,
       |          CASE WHEN px.ppl <= th.t1 THEN 1 ELSE 0 END AS pos
       |        FROM px JOIN th ON th.lang = px.lang
       |        WHERE px.ppl <= th.t1 OR px.ppl > th.t2),
       |ho AS (SELECT doc_id FROM documents
       |       WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(SplitSeed)}'), 1, 8))::BIGINT
       |             / 4294967296.0 >= $SplitTrain),
       |fu AS (SELECT doc_id, ${clfUnitCols("cfs")} FROM cfs),
       |ck AS (SELECT f.doc_id,
       |  floor(1000000.0 / (1.0 + exp(-(($z)::DOUBLE / 1000000000000))) + 0.5)::BIGINT
       |    >= 500000 AS keep
       |  FROM fu f, w$ClfRounds w),
       |arms AS (SELECT 'heuristic' AS gate, doc_id, keep FROM qf
       |         UNION ALL SELECT 'classifier', doc_id, keep FROM ck),
       |cx AS (SELECT a.gate,
       |    sum(CASE WHEN a.keep AND l.pos = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
       |    sum(CASE WHEN a.keep AND l.pos = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
       |    sum(CASE WHEN NOT a.keep AND l.pos = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
       |    sum(CASE WHEN NOT a.keep AND l.pos = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
       |  FROM arms a
       |  JOIN ho ON ho.doc_id = a.doc_id
       |  JOIN lbl l ON l.doc_id = a.doc_id
       |  GROUP BY a.gate)
       |SELECT gate, tp, fp, fn, tn,
       |  floor(tp::DOUBLE / nullif(tp + fp, 0) * 10000 + 0.5) / 10000 AS prec,
       |  floor(tp::DOUBLE / nullif(tp + fn, 0) * 10000 + 0.5) / 10000 AS rec,
       |  floor(2.0 * tp::DOUBLE / nullif(2 * tp + fp + fn, 0) * 10000 + 0.5) / 10000 AS f1
       |FROM cx ORDER BY gate""".stripMargin
  }

  /** Shared held-out labeled score chain of brierScore/prCurve —
    * ends with `hs(doc_id, su, pos)`: the trained gate's 1e-6-unit
    * score for every non-train decisive-label doc (the gateEval
    * frames, with the raw score kept instead of the 0.5 cut).
    */
  private lazy val heldScoredCtes: String = {
    import graft.operators.Curation.{ClfRounds, SplitSeed, SplitTrain}
    val z = (0 to 4).map(i => s"w.wu$i * f.xu$i").mkString(" + ")
    s"""$qualityKeepCtes,
       |${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes,
       |$clfFeatureCtes,
       |$clfTrainCtes,
       |lbl AS (SELECT px.doc_id,
       |          CASE WHEN px.ppl <= th.t1 THEN 1 ELSE 0 END AS pos
       |        FROM px JOIN th ON th.lang = px.lang
       |        WHERE px.ppl <= th.t1 OR px.ppl > th.t2),
       |ho AS (SELECT doc_id FROM documents
       |       WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(SplitSeed)}'), 1, 8))::BIGINT
       |             / 4294967296.0 >= $SplitTrain),
       |fu AS (SELECT doc_id, ${clfUnitCols("cfs")} FROM cfs),
       |sc2 AS (SELECT f.doc_id,
       |  floor(1000000.0 / (1.0 + exp(-(($z)::DOUBLE / 1000000000000))) + 0.5)::BIGINT
       |    AS su
       |  FROM fu f, w$ClfRounds w),
       |hs AS (SELECT s.doc_id, s.su, l.pos FROM sc2 s
       |       JOIN ho ON ho.doc_id = s.doc_id
       |       JOIN lbl l ON l.doc_id = s.doc_id)""".stripMargin
  }

  /** Mirror of Curation.brierScore: exact 1e-12-unit squared-error
    * sum over the held labeled scores, one mirrored division chain.
    */
  lazy val brierScore: String =
    s"""WITH $heldScoredCtes
       |SELECT count(*)::BIGINT AS n_docs,
       |  floor(sum(((su - pos * 1000000) * (su - pos * 1000000))
       |            ::DECIMAL(38,0))::DOUBLE
       |        / 1000000000000 / count(*) * 1000000 + 0.5) / 1000000
       |    AS brier
       |FROM hs""".stripMargin

  /** Mirror of Curation.clfKs: score-unit value grid, cumulative
    * counts, exact DECIMAL cross-product gap, smallest-score tie pick.
    */
  lazy val clfKs: String =
    s"""WITH $heldScoredCtes,
       |kg AS (SELECT su,
       |    sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END)::BIGINT AS cp,
       |    sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END)::BIGINT AS cn
       |  FROM hs GROUP BY su),
       |kt AS (SELECT sum(cp)::BIGINT AS np, sum(cn)::BIGINT AS nn
       |       FROM kg),
       |kc AS (SELECT su,
       |    sum(cp) OVER wo AS ccp, sum(cn) OVER wo AS ccn
       |  FROM kg WINDOW wo AS (ORDER BY su ROWS UNBOUNDED PRECEDING)),
       |kd AS (SELECT kc.su, kt.np, kt.nn,
       |    abs(kc.ccp::DECIMAL(38,0) * kt.nn::DECIMAL(38,0)
       |        - kc.ccn::DECIMAL(38,0) * kt.np::DECIMAL(38,0)) AS gap
       |  FROM kc, kt)
       |SELECT su::DOUBLE / 1000000 AS threshold, np AS n_pos,
       |  nn AS n_neg,
       |  floor(gap::DOUBLE / (np::DOUBLE * nn) * 1000000 + 0.5) / 1000000
       |    AS ks
       |FROM (SELECT *, row_number() OVER (ORDER BY gap DESC, su) AS rk
       |      FROM kd) WHERE rk = 1""".stripMargin

  /** Mirror of Curation.prCurve: integer-unit threshold grid over the
    * held labeled scores, nullif-guarded 4dp metrics (the gateEval
    * convention).
    */
  lazy val prCurve: String = {
    val ts = graft.operators.Curation.PrThresholds.mkString(", ")
    s"""WITH $heldScoredCtes,
       |gr AS (SELECT unnest([$ts]) AS tu),
       |cx AS (SELECT gr.tu,
       |    sum(CASE WHEN hs.su >= gr.tu AND hs.pos = 1
       |        THEN 1 ELSE 0 END)::BIGINT AS tp,
       |    sum(CASE WHEN hs.su >= gr.tu AND hs.pos = 0
       |        THEN 1 ELSE 0 END)::BIGINT AS fp,
       |    sum(CASE WHEN hs.su < gr.tu AND hs.pos = 1
       |        THEN 1 ELSE 0 END)::BIGINT AS fn
       |  FROM hs, gr GROUP BY gr.tu)
       |SELECT tu::DOUBLE / 1000000 AS threshold, tp, fp, fn,
       |  floor(tp::DOUBLE / nullif(tp + fp, 0) * 10000 + 0.5) / 10000
       |    AS prec,
       |  floor(tp::DOUBLE / nullif(tp + fn, 0) * 10000 + 0.5) / 10000
       |    AS rec,
       |  floor(2.0 * tp::DOUBLE / nullif(2 * tp + fp + fn, 0) * 10000
       |        + 0.5) / 10000 AS f1
       |FROM cx ORDER BY threshold""".stripMargin
  }

  /** Mirror of Curation.thresholdPick: the prCurve mirror as the swept
    * table, the nprobe_pick rank idiom (met-first, then threshold,
    * fallback 2−prec), target interpolated ::DOUBLE.
    */
  lazy val thresholdPick: String = {
    import graft.operators.Curation.GatePrecTarget
    s"""WITH c AS (SELECT * FROM ($prCurve)),
       |r AS (SELECT *,
       |    CASE WHEN prec IS NOT NULL AND prec >= $GatePrecTarget::DOUBLE
       |         THEN 0 ELSE 1 END AS miss,
       |    CASE WHEN prec IS NOT NULL AND prec >= $GatePrecTarget::DOUBLE
       |         THEN threshold
       |         ELSE 2.0::DOUBLE - coalesce(prec, -1.0::DOUBLE)
       |         END AS k2
       |  FROM c),
       |p AS (SELECT *, row_number() OVER (ORDER BY miss, k2, threshold)
       |        AS rk FROM r)
       |SELECT threshold, (miss = 0) AS met_target,
       |  $GatePrecTarget::DOUBLE AS target, prec, rec, f1, tp, fp, fn
       |FROM p WHERE rk = 1""".stripMargin
  }

  /** Mirror of Curation.dataSplit: the same first-8-md5-hex/2^32
    * uniform, thresholds interpolated from the SAME Scala doubles
    * (incl. the computed train+valid sum — literal 0.95 would be a
    * different IEEE value).
    */
  val dataSplit: String = {
    import graft.operators.Curation.{SplitSeed, SplitTrain, SplitValid}
    s"""WITH u AS (SELECT doc_id, lang,
       |  ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(SplitSeed)}'), 1, 8))::BIGINT
       |    / 4294967296.0 AS u
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CASE WHEN u < $SplitTrain THEN 'train'
       |       WHEN u < ${SplitTrain + SplitValid} THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM u ORDER BY doc_id""".stripMargin
  }

  /** Mirror of Curation.sftExport: the three standalone statements
    * composed as nested subqueries (each already its own gated mirror),
    * joined on doc_id. Declared after the vals it embeds (object val
    * init order).
    */
  val sftExport: String =
    s"""SELECT t.doc_id, ds.split, sa.shard, sa.pos,
       |  t.instruction, t.input, t.output
       |FROM ($trainingExamples) t
       |JOIN ($dataSplit) ds USING (doc_id)
       |JOIN ($shuffleAssign) sa USING (doc_id)
       |ORDER BY sa.shard, sa.pos""".stripMargin

  /** Mirror of Curation.bloomDecontaminate: identical md5 bit hashes,
    * distinct-bit filter, 3-hit positives, exact truth arm, 6dp rates.
    */
  val bloomDecontaminate: String = {
    import graft.operators.Curation.{BloomBits, BloomHashes, ContamMod, ContamSlot}
    val slot = s"((doc_id % $ContamMod) + $ContamMod) % $ContamMod"
    s"""$shCte,
       |cex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |bg AS (SELECT DISTINCT g FROM cex WHERE $slot = $ContamSlot),
       |tg AS (SELECT DISTINCT g FROM cex WHERE $slot <> $ContamSlot),
       |bits AS (SELECT DISTINCT
       |  ('0x' || substr(md5(i::VARCHAR || ':' || g), 1, 15))::BIGINT
       |    % $BloomBits AS bit
       |  FROM bg, range(0, $BloomHashes) t(i)),
       |pr AS (SELECT g,
       |  ('0x' || substr(md5(i::VARCHAR || ':' || g), 1, 15))::BIGINT
       |    % $BloomBits AS bit
       |  FROM tg, range(0, $BloomHashes) t(i)),
       |pos AS (SELECT g FROM (
       |  SELECT pr.g, count(*) AS hits
       |  FROM pr JOIN bits USING (bit) GROUP BY pr.g)
       |  WHERE hits = $BloomHashes),
       |tr AS (SELECT g FROM tg WHERE EXISTS
       |        (SELECT 1 FROM bg WHERE bg.g = tg.g)),
       |c AS (SELECT
       |  (SELECT count(*) FROM tg)::BIGINT AS n_train_shingles,
       |  (SELECT count(*) FROM bg)::BIGINT AS n_bench_shingles,
       |  (SELECT count(*) FROM bits)::BIGINT AS bits_set,
       |  (SELECT count(*) FROM pos)::BIGINT AS n_bloom_pos,
       |  (SELECT count(*) FROM tr)::BIGINT AS n_true)
       |SELECT n_train_shingles, n_bench_shingles, bits_set,
       |  floor(bits_set::DOUBLE / $BloomBits * 1000000 + 0.5) / 1000000
       |    AS load_factor,
       |  n_bloom_pos, n_true,
       |  (n_bloom_pos - n_true)::BIGINT AS n_false_pos,
       |  CASE WHEN n_train_shingles > n_true
       |       THEN floor((n_bloom_pos - n_true)::DOUBLE
       |            / (n_train_shingles - n_true) * 1000000 + 0.5) / 1000000
       |       ELSE 0.0::DOUBLE END AS fp_rate
       |FROM c""".stripMargin
  }

  /** Mirror of Curation.splitLeakage: the verified minhash pair set
    * symmetrized, both ends mapped through the data_split statement
    * (nested subquery — its own gated mirror), ≤9-row directed grid.
    * Declared after the dataSplit val it embeds (object init order).
    */
  val splitLeakage: String =
    s"""$shCte,
       |$minhashJCtes,
       |p AS (SELECT id_a, id_b FROM j WHERE jaccard >= $jacThresh),
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |sp AS (SELECT doc_id, split FROM ($dataSplit))
       |SELECT su.split AS split, sv.split AS other_split,
       |  count(DISTINCT e.u)::BIGINT AS n_docs,
       |  count(*)::BIGINT AS n_links
       |FROM e JOIN sp su ON su.doc_id = e.u
       |       JOIN sp sv ON sv.doc_id = e.v
       |GROUP BY 1, 2 ORDER BY split, other_split""".stripMargin

  /** Mirror of CorpusStats.perplexityOod: LM counts from the training
    * source only, scored docs from every other source. LEFT joins give
    * the smoothed unseen floors (coalesce counts to 0, exactly the
    * engine's left-join coalesce); the inner vv join drops languages the
    * training source never saw. Same arithmetic order as perplexityScore.
    */
  val perplexityOod: String = {
    import graft.operators.CorpusStats.OodTrainSource
    val src = sq(OodTrainSource)
    s"""WITH n AS (SELECT doc_id, lang, source,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |bo AS (SELECT doc_id, lang, source,
       |  unnest(list_transform(range(1, len(ws)), j -> ws[j])) AS w1,
       |  unnest(list_transform(range(1, len(ws)), j -> ws[j+1])) AS w2
       |  FROM n),
       |db AS (SELECT doc_id, lang, w1, w2, count(*) AS n FROM bo
       |       WHERE source <> '$src' GROUP BY doc_id, lang, w1, w2),
       |c2 AS (SELECT lang, w1, w2, count(*)::BIGINT AS c2 FROM bo
       |       WHERE source = '$src' GROUP BY lang, w1, w2),
       |c1 AS (SELECT lang, w1, sum(c2)::BIGINT AS c1 FROM c2
       |       GROUP BY lang, w1),
       |vv AS (SELECT lang, count(*) AS v FROM c1 GROUP BY lang),
       |sc AS (SELECT d.doc_id, d.lang, d.n,
       |  d.n * CAST(floor(ln((coalesce(c1.c1, 0) + vv.v)::DOUBLE
       |                      / (coalesce(c2.c2, 0) + 1))
       |                   * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM db d
       |  LEFT JOIN c2 ON c2.lang = d.lang AND c2.w1 = d.w1 AND c2.w2 = d.w2
       |  LEFT JOIN c1 ON c1.lang = d.lang AND c1.w1 = d.w1
       |  JOIN vv ON vv.lang = d.lang),
       |ag AS (SELECT doc_id, lang, sum(n)::BIGINT AS n_bigrams,
       |              sum(part) AS nll_sum
       |       FROM sc GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_bigrams,
       |  floor(nll_sum::DOUBLE / n_bigrams * 1000000 + 0.5) / 1000000 AS avg_nll,
       |  floor(exp(floor(nll_sum::DOUBLE / n_bigrams * 1000000 + 0.5) / 1000000)
       |        * 10000 + 0.5) / 10000 AS ppl
       |FROM ag""".stripMargin
  }

  /** Mirror of CorpusStats.perplexityBackoff: trigram/bigram counts from
    * the training source, scored docs from the complement, the stupid-
    * backoff CASE with the same join-null branch conditions and literal
    * α / α² (interpolated from the shared constants — a runtime 0.4·0.4
    * would differ from the parsed 0.16 in the last bit).
    */
  val perplexityBackoff: String = {
    import graft.operators.CorpusStats.{OodTrainSource, BackoffAlpha,
      BackoffAlpha2}
    val src = sq(OodTrainSource)
    s"""WITH n AS (SELECT doc_id, lang, source,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |t AS (SELECT doc_id, lang, source,
       |  unnest(list_transform(range(1, len(ws) - 1), j -> ws[j])) AS w1,
       |  unnest(list_transform(range(1, len(ws) - 1), j -> ws[j+1])) AS w2,
       |  unnest(list_transform(range(1, len(ws) - 1), j -> ws[j+2])) AS w3
       |  FROM n),
       |bo AS (SELECT lang,
       |  unnest(list_transform(range(1, len(ws)), j -> ws[j])) AS w1,
       |  unnest(list_transform(range(1, len(ws)), j -> ws[j+1])) AS w2
       |  FROM n WHERE source = '$src'),
       |db AS (SELECT doc_id, lang, w1, w2, w3, count(*) AS n FROM t
       |       WHERE source <> '$src' GROUP BY doc_id, lang, w1, w2, w3),
       |c3 AS (SELECT lang, w1, w2, w3, count(*)::BIGINT AS c3 FROM t
       |       WHERE source = '$src' GROUP BY lang, w1, w2, w3),
       |c2 AS (SELECT lang, w1, w2, count(*)::BIGINT AS c2 FROM bo
       |       GROUP BY lang, w1, w2),
       |c1 AS (SELECT lang, w1, sum(c2)::BIGINT AS c1 FROM c2
       |       GROUP BY lang, w1),
       |nv AS (SELECT lang, sum(c1)::BIGINT AS nn, count(*)::BIGINT AS v
       |       FROM c1 GROUP BY lang),
       |sc AS (SELECT d.doc_id, d.lang, d.n,
       |  d.n * CAST(floor(CASE
       |    WHEN c3.c3 IS NOT NULL AND ctx.c2 IS NOT NULL
       |      THEN ln(ctx.c2::DOUBLE / c3.c3)
       |    WHEN bg.c2 IS NOT NULL AND a1.c1 IS NOT NULL
       |      THEN ln(a1.c1::DOUBLE / ($BackoffAlpha * bg.c2))
       |    ELSE ln((nv.nn + nv.v)::DOUBLE
       |            / ($BackoffAlpha2 * (coalesce(a3.c1, 0) + 1)))
       |    END * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |  FROM db d
       |  LEFT JOIN c3 ON c3.lang = d.lang AND c3.w1 = d.w1
       |              AND c3.w2 = d.w2 AND c3.w3 = d.w3
       |  LEFT JOIN c2 ctx ON ctx.lang = d.lang AND ctx.w1 = d.w1
       |                  AND ctx.w2 = d.w2
       |  LEFT JOIN c2 bg ON bg.lang = d.lang AND bg.w1 = d.w2
       |                 AND bg.w2 = d.w3
       |  LEFT JOIN c1 a1 ON a1.lang = d.lang AND a1.w1 = d.w2
       |  LEFT JOIN c1 a3 ON a3.lang = d.lang AND a3.w1 = d.w3
       |  JOIN nv ON nv.lang = d.lang),
       |ag AS (SELECT doc_id, lang, sum(n)::BIGINT AS n_trigrams,
       |              sum(part) AS nll_sum
       |       FROM sc GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_trigrams,
       |  floor(nll_sum::DOUBLE / n_trigrams * 1000000 + 0.5) / 1000000 AS avg_nll,
       |  floor(exp(floor(nll_sum::DOUBLE / n_trigrams * 1000000 + 0.5) / 1000000)
       |        * 10000 + 0.5) / 10000 AS ppl
       |FROM ag""".stripMargin
  }

  /** Mirror of CorpusStats.dsirWeights: the same hashed unigram+bigram
    * features (60-bit md5 key mod DsirBuckets — key >= 0 so plain %
    * equals Spark's pmod), target/raw bucket counts, and the
    * difference-of-logs ratio in the identical arithmetic order.
    */
  val dsirWeights: String =
    s"WITH ${dsirWeightCtes("dw")} SELECT * FROM dw"

  /** The DSIR weight pipeline as CTEs ending in
    * `<out>(doc_id, n_feats, log_weight)` — shared by dsirWeights and
    * dsirSelect.
    */
  private def dsirWeightCtes(out: String): String = {
    import graft.operators.CorpusStats.{DsirBuckets, OodTrainSource}
    val src = sq(OodTrainSource)
    s"""n AS (SELECT doc_id, source,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |gr AS (
       |  SELECT doc_id, source, unnest(ws) AS gram FROM n
       |  UNION ALL
       |  SELECT doc_id, source,
       |    unnest(list_transform(range(1, len(ws)), j -> ws[j] || ' ' || ws[j+1])) AS gram
       |  FROM n),
       |ft AS (SELECT doc_id, source,
       |         (('0x' || substr(md5(gram), 1, 15))::BIGINT % $DsirBuckets)::INT AS b
       |       FROM gr),
       |df AS (SELECT doc_id, source, b, count(*)::BIGINT AS n
       |       FROM ft GROUP BY doc_id, source, b),
       |bkt AS (SELECT b,
       |          sum(CASE WHEN source = '$src' THEN n ELSE 0 END)::BIGINT AS tc,
       |          sum(CASE WHEN source <> '$src' THEN n ELSE 0 END)::BIGINT AS rc
       |        FROM df GROUP BY b),
       |tot AS (SELECT sum(tc)::BIGINT AS tt, sum(rc)::BIGINT AS rt FROM bkt),
       |sc AS (SELECT d.doc_id, d.n,
       |         d.n * CAST(floor((ln((bkt.tc + 1)::DOUBLE / (tot.tt + $DsirBuckets))
       |                         - ln((bkt.rc + 1)::DOUBLE / (tot.rt + $DsirBuckets)))
       |                    * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS part
       |       FROM df d JOIN bkt USING (b), tot
       |       WHERE d.source <> '$src'),
       |$out AS (SELECT doc_id, sum(n)::BIGINT AS n_feats,
       |  floor(sum(part)::DOUBLE * 1000000 + 0.5) / 1000000 AS log_weight
       |FROM sc GROUP BY doc_id)""".stripMargin
  }

  /** Mirror of CorpusStats.dsirSelect: the same weight CTEs, the
    * shuffle_assign 60-bit hash → uniform in (0,1) → 6dp-rounded
    * Gumbel noise, rank on the unrounded double key.
    */
  val dsirSelect: String = {
    import graft.operators.CorpusStats.{DsirSelectK, DsirSelectSeed}
    s"""WITH ${dsirWeightCtes("w")},
       |gh AS (SELECT doc_id, log_weight,
       |  ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(DsirSelectSeed)}'), 1, 15))::BIGINT AS h
       |  FROM w),
       |gk AS (SELECT doc_id, log_weight,
       |  log_weight + floor(-ln(-ln((h + 0.5) / 1152921504606846976.0))
       |                     * 1000000 + 0.5) / 1000000 AS key
       |  FROM gh),
       |sel AS (SELECT doc_id, log_weight, key FROM gk
       |        ORDER BY key DESC, doc_id LIMIT $DsirSelectK)
       |SELECT doc_id, log_weight,
       |  floor(key * 1000000 + 0.5) / 1000000 AS gkey,
       |  row_number() OVER (ORDER BY key DESC, doc_id)::INT AS rank
       |FROM sel""".stripMargin
  }

  /** Mirror of CorpusStats.bpePairs: vocabulary from the shared
    * normalized tokens, char pairs via substr over 1..len-1 (DuckDB
    * range() excludes the stop — same index set as Spark's
    * sequence(1, len-1) under the len>=2 filter), two-level distinct-
    * type counting.
    */
  val bpePairs: String = {
    import graft.operators.CorpusStats.BpeTopK
    s"""$tokCte,
       |vocab AS (SELECT term AS tok, count(*)::BIGINT AS freq
       |          FROM tok GROUP BY term),
       |pr AS (SELECT tok, freq, substr(tok, i::INT, 2) AS pair
       |       FROM (SELECT tok, freq, unnest(range(1, length(tok))) AS i
       |             FROM vocab WHERE length(tok) >= 2)),
       |pt AS (SELECT pair, tok, max(freq) AS freq, count(*)::BIGINT AS k
       |       FROM pr GROUP BY pair, tok),
       |ag AS (SELECT pair, sum(k * freq)::BIGINT AS pair_count,
       |              count(*)::BIGINT AS n_types
       |       FROM pt GROUP BY pair)
       |SELECT pair, pair_count, n_types, rank::INT AS rank
       |FROM (SELECT pair, pair_count, n_types,
       |        row_number() OVER (ORDER BY pair_count DESC, pair) AS rank
       |      FROM ag) WHERE rank <= $BpeTopK""".stripMargin
  }

  /** Mirror of CorpusStats.bpeVocab: the same wrapped-symbol string
    * representation (chr(1) sym chr(2) per symbol — non-shared
    * delimiters so replace() is exactly the greedy leftmost merge), the
    * same overlapping adjacent-pair counts, [[BpeMerges]] rounds
    * unrolled as materialized CTEs (the pagerank posture; v$t and b$t
    * are both multiply-referenced).
    */
  /** The unrolled BPE merge-learning chain (v0 vocab + per-round y/p/b/v
    * CTEs) — shared by bpeVocab (reads the b$t rows) and bpeEncode
    * (re-applies them). Starts with the tokCte WITH head.
    */
  private lazy val bpeChainCtes: String = {
    import graft.operators.CorpusStats.BpeMerges
    val head =
      s"""$tokCte,
         |v0 AS MATERIALIZED (
         |  SELECT regexp_replace(tok, '(.)', chr(1) || '\\1' || chr(2), 'g') AS seq,
         |         freq
         |  FROM (SELECT term AS tok, count(*)::BIGINT AS freq FROM tok
         |        WHERE strpos(term, chr(1)) = 0 AND strpos(term, chr(2)) = 0
         |        GROUP BY term))""".stripMargin
    val rounds = (1 to BpeMerges).map { t =>
      s"""y$t AS (SELECT freq,
         |    string_split(trim(seq, chr(1) || chr(2)), chr(2) || chr(1)) AS s
         |  FROM v${t - 1} WHERE length(seq) > 0),
         |p$t AS (SELECT s[i::INT] AS l, s[i::INT + 1] AS r, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT freq, s, unnest(range(1, len(s))) AS i FROM y$t
         |        WHERE len(s) >= 2)
         |  GROUP BY 1, 2),
         |b$t AS MATERIALIZED (SELECT l, r, cnt FROM p$t
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |v$t AS MATERIALIZED (SELECT
         |    replace(v.seq, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
         |            chr(1) || b.l || b.r || chr(2)) AS seq,
         |    v.freq
         |  FROM v${t - 1} v, b$t b)""".stripMargin
    }
    head + ",\n" + rounds.mkString(",\n")
  }

  lazy val bpeVocab: String = {
    import graft.operators.CorpusStats.BpeMerges
    val out = (1 to BpeMerges).map { t =>
      s"SELECT $t AS merge, l AS left_sym, r AS right_sym, cnt AS pair_count FROM b$t"
    }
    s"""$bpeChainCtes
       |SELECT merge, left_sym AS "left", right_sym AS "right", pair_count
       |FROM (${out.mkString("\n  UNION ALL ")})
       |ORDER BY merge""".stripMargin
  }

  /** Mirror of CorpusStats.bpeEncode: the learned chain's b$t merges
    * re-applied (left-join-on-true so an empty round is a no-op stage,
    * matching the Spark null-guard) over the distinct word vocabulary,
    * doc multiplicities joined back, per-language fertility rollup.
    */
  lazy val bpeEncode: String = {
    import graft.operators.CorpusStats.BpeMerges
    val applies = (1 to BpeMerges).map { t =>
      s"""x$t AS (SELECT x.tok,
         |    CASE WHEN b.l IS NULL THEN x.seq
         |         ELSE replace(x.seq,
         |                chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
         |                chr(1) || b.l || b.r || chr(2)) END AS seq
         |  FROM x${t - 1} x LEFT JOIN b$t b ON true)""".stripMargin
    }
    s"""$bpeChainCtes,
       |dtok AS (SELECT doc_id, term AS tok FROM tok
       |         WHERE strpos(term, chr(1)) = 0 AND strpos(term, chr(2)) = 0),
       |dt AS MATERIALIZED (SELECT d.doc_id, dd.lang, d.tok,
       |    count(*)::BIGINT AS cnt
       |  FROM dtok d JOIN documents dd ON dd.doc_id = d.doc_id
       |  GROUP BY 1, 2, 3),
       |x0 AS (SELECT DISTINCT tok,
       |    regexp_replace(tok, '(.)', chr(1) || '\\1' || chr(2), 'g') AS seq
       |  FROM dt),
       |${applies.mkString(",\n")},
       |enc AS (SELECT tok,
       |    len(string_split(trim(seq, chr(1) || chr(2)),
       |        chr(2) || chr(1)))::BIGINT AS n_sub
       |  FROM x$BpeMerges)
       |SELECT dt.lang, count(DISTINCT dt.doc_id)::BIGINT AS n_docs,
       |  sum(dt.cnt)::BIGINT AS n_words,
       |  sum(dt.cnt * enc.n_sub)::BIGINT AS n_subwords,
       |  floor(sum(dt.cnt * enc.n_sub)::DOUBLE / sum(dt.cnt) * 10000 + 0.5)
       |    / 10000 AS fertility
       |FROM dt JOIN enc ON enc.tok = dt.tok
       |GROUP BY dt.lang ORDER BY dt.lang""".stripMargin
  }

  /** Mirror of Graph.pagerank: same capped basket edges as the
    * copurchase oracle, the fixed PrIters rounds UNROLLED as sequential
    * CTEs (the iteration count is a constant, so unrolling is exact —
    * a recursive CTE cannot aggregate in its recursive term), identical
    * 6dp contribution rounding and DECIMAL accumulation per round.
    */
  /** Shared CTE chain for the support-pruned co-purchase graph:
    * `e0(pa, pb)` canonical pairs — consumed by pagerank and graphStats.
    */
  private val graphE0Cte: String = {
    import graft.operators.{Analytics, Graph}
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |c AS (SELECT l_orderkey, l_partkey FROM (
       |        SELECT l_orderkey, l_partkey,
       |          row_number() OVER (PARTITION BY l_orderkey
       |                             ORDER BY l_partkey) AS rn
       |        FROM li) WHERE rn <= ${Analytics.BasketCap}),
       |e0 AS (SELECT pa, pb FROM (
       |         SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       |                count(*) AS s
       |         FROM c a JOIN c b ON a.l_orderkey = b.l_orderkey
       |                          AND a.l_partkey < b.l_partkey
       |         GROUP BY 1, 2)
       |       WHERE s >= ${Graph.PrMinSupport})""".stripMargin
  }

  val pagerank: String = {
    import graft.operators.Graph
    val head =
      s"""$graphE0Cte,
         |e AS (SELECT pa AS src, pb AS dst FROM e0
         |      UNION ALL SELECT pb, pa FROM e0),
         |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |nn AS (SELECT count(*)::BIGINT AS n FROM deg),
         |p0 AS (SELECT src AS node,
         |         floor(1.0::DOUBLE / n * 1000000 + 0.5) / 1000000 AS pr
         |       FROM deg, nn)""".stripMargin
    val iters = (1 to Graph.PrIters).map { k =>
      s"""p$k AS (SELECT e.dst AS node,
         |  floor((${Graph.PrTeleport}::DOUBLE / nn.n
         |         + ${Graph.PrDamping}::DOUBLE * sum(
         |      CAST(floor(p.pr / d.deg * 1000000 + 0.5) / 1000000
         |           AS DECIMAL(18,6)))::DOUBLE) * 1000000 + 0.5) / 1000000 AS pr
         |FROM e JOIN p${k - 1} p ON p.node = e.src
         |       JOIN deg d ON d.src = e.src, nn
         |GROUP BY e.dst, nn.n)""".stripMargin
    }
    s"""$head,
       |${iters.mkString(",\n")}
       |SELECT node AS part, pr, rank::INT AS rank
       |FROM (SELECT node, pr,
       |        row_number() OVER (ORDER BY pr DESC, node) AS rank
       |      FROM p${Graph.PrIters})
       |WHERE rank <= ${Graph.PrTopK}""".stripMargin
  }

  /** Mirror of Graph.copurchaseClusters: the same pruned edge set,
    * transitive closure via a recursive CTE, min-reachable label, part
    * universe joined back (singletons label themselves).
    */
  val copurchaseClusters: String =
    s"""${graphE0Cte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |ce AS (SELECT pa AS u, pb AS v FROM e0
       |       UNION ALL SELECT pb, pa FROM e0),
       |reach(u, v) AS (
       |  SELECT u, v FROM ce
       |  UNION
       |  SELECT r.u, ce.v FROM reach r JOIN ce ON r.v = ce.u),
       |lbl AS (SELECT u AS pk, least(u, min(v)) AS cluster
       |        FROM reach GROUP BY u)
       |SELECT p.p_partkey, coalesce(l.cluster, p.p_partkey) AS cluster
       |FROM part p LEFT JOIN lbl l ON l.pk = p.p_partkey
       |ORDER BY p.p_partkey""".stripMargin

  /** Mirror of Graph.graphStats: same pruned pair set, canonical-pair
    * 2-path triangle closure, integer degree moments (wedges2 =
    * Σ deg·(deg−1), the halving folded into 6·tri/wedges2).
    */
  val graphStats: String =
    s"""$graphE0Cte,
       |deg AS (SELECT v, count(*)::BIGINT AS deg FROM (
       |          SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0)
       |        GROUP BY v),
       |ds AS (SELECT count(*)::BIGINT AS n_nodes,
       |         max(deg)::BIGINT AS max_degree,
       |         sum(deg)::BIGINT AS degsum,
       |         sum(deg * (deg - 1))::BIGINT AS wedges2 FROM deg),
       |tri AS (SELECT count(*)::BIGINT AS n_triangles FROM (
       |          SELECT ab.a, ab.b, bc.c
       |          FROM (SELECT pa AS a, pb AS b FROM e0) ab
       |          JOIN (SELECT pa AS b, pb AS c FROM e0) bc USING (b)
       |          WHERE EXISTS (SELECT 1 FROM e0
       |                        WHERE pa = ab.a AND pb = bc.c))),
       |ne AS (SELECT count(*)::BIGINT AS n_edges FROM e0)
       |SELECT n_nodes, n_edges, max_degree,
       |  floor(degsum::DOUBLE / nullif(n_nodes, 0) * 10000 + 0.5) / 10000
       |    AS avg_degree,
       |  n_triangles,
       |  floor(6 * n_triangles::DOUBLE / nullif(wedges2, 0) * 10000 + 0.5)
       |    / 10000 AS transitivity
       |FROM ne, ds, tri""".stripMargin

  /** Mirror of Graph.assortativity: same symmetric directed edge list,
    * exact DECIMAL(38,0) degree moments, one 6dp double division.
    */
  val assortativity: String =
    s"""$graphE0Cte,
       |e AS (SELECT pa AS src, pb AS dst FROM e0
       |      UNION ALL SELECT pb, pa FROM e0),
       |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
       |j AS (SELECT a.deg AS dj, b.deg AS dk FROM e
       |      JOIN deg a ON a.src = e.src
       |      JOIN deg b ON b.src = e.dst),
       |m AS (SELECT count(*)::BIGINT AS m,
       |        sum((dj * dk)::DECIMAL(38,0)) AS sjk,
       |        sum(dj::DECIMAL(38,0)) AS sj,
       |        sum((dj * dj)::DECIMAL(38,0)) AS sjj FROM j)
       |SELECT m // 2 AS n_edges,
       |  CASE WHEN (m::DECIMAL(38,0) * sjj - sj * sj)::DOUBLE <> 0.0 THEN
       |    floor((m::DECIMAL(38,0) * sjk - sj * sj)::DOUBLE
       |          / (m::DECIMAL(38,0) * sjj - sj * sj)::DOUBLE
       |          * 1000000 + 0.5) / 1000000
       |  END AS assortativity
       |FROM m""".stripMargin

  /** Mirror of Dedup.dedupRecall: the exact global Jaccard pair set from
    * the same shingle lists (inverted-index join under the doc-frequency
    * cap, 4dp Jaccard on true set sizes) against the verified minhash
    * pairs `j` — counts, recall, precision.
    */
  val dedupRecall: String = {
    import graft.operators.Dedup
    s"""$shCte,
       |$minhashJCtes,
       |lsh AS (SELECT id_a, id_b FROM j
       |        WHERE jaccard >= ${Dedup.JaccardThreshold}),
       |g0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
       |hot AS (SELECT g FROM (SELECT g, count(*) AS df FROM g0 GROUP BY g)
       |        WHERE df > ${Dedup.DedupDocFreqCap}),
       |sc AS (SELECT doc_id, g FROM g0 ANTI JOIN hot USING (g)),
       |ei AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         count(*)::BIGINT AS inter
       |       FROM sc a JOIN sc b ON a.g = b.g AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |exj AS (SELECT id_a, id_b FROM ei
       |        JOIN sz sa ON sa.doc_id = ei.id_a
       |        JOIN sz sb ON sb.doc_id = ei.id_b
       |        WHERE floor(inter::DOUBLE / (sa.n + sb.n - inter)
       |                    * 10000 + 0.5) / 10000
       |              >= ${Dedup.JaccardThreshold}),
       |hit AS (SELECT id_a, id_b FROM lsh
       |        WHERE EXISTS (SELECT 1 FROM exj e
       |                      WHERE e.id_a = lsh.id_a AND e.id_b = lsh.id_b)),
       |cs AS (SELECT (SELECT count(*) FROM exj)::BIGINT AS n_exact,
       |              (SELECT count(*) FROM lsh)::BIGINT AS n_lsh,
       |              (SELECT count(*) FROM hit)::BIGINT AS n_hit)
       |SELECT n_exact, n_lsh, n_hit,
       |  floor(n_hit::DOUBLE / nullif(n_exact, 0) * 10000 + 0.5) / 10000 AS recall,
       |  floor(n_hit::DOUBLE / nullif(n_lsh, 0) * 10000 + 0.5) / 10000 AS prec
       |FROM cs""".stripMargin
  }

  /** Mirror of Dedup.captureRecapture: the two gated dedup mirrors as
    * the capture samples, pair-key intersection, Chapman + coverage
    * double tails with fixed operand order.
    */
  lazy val captureRecapture: String =
    s"""WITH mh AS (SELECT id_a, id_b FROM ($dedupMinhash)),
       |sh2 AS (SELECT id_a, id_b FROM ($dedupSimhash)),
       |ov AS (SELECT id_a, id_b FROM mh
       |       WHERE EXISTS (SELECT 1 FROM sh2
       |                     WHERE sh2.id_a = mh.id_a
       |                       AND sh2.id_b = mh.id_b)),
       |g AS (SELECT (SELECT count(*) FROM mh)::BIGINT AS n_minhash,
       |             (SELECT count(*) FROM sh2)::BIGINT AS n_simhash,
       |             (SELECT count(*) FROM ov)::BIGINT AS n_both)
       |SELECT n_minhash, n_simhash, n_both,
       |  (n_minhash + n_simhash - n_both)::BIGINT AS n_union,
       |  floor(((n_minhash + 1)::DOUBLE * (n_simhash + 1) / (n_both + 1)
       |         - 1) * 100 + 0.5) / 100 AS chapman_n,
       |  floor(((n_minhash + 1)::DOUBLE * (n_simhash + 1) / (n_both + 1)
       |         - 1 - (n_minhash + n_simhash - n_both)) * 100 + 0.5)
       |    / 100 AS est_missed,
       |  CASE WHEN (n_minhash + 1)::DOUBLE * (n_simhash + 1)
       |            / (n_both + 1) - 1 > 0
       |       THEN floor(n_minhash::DOUBLE
       |                  / ((n_minhash + 1)::DOUBLE * (n_simhash + 1)
       |                     / (n_both + 1) - 1) * 10000 + 0.5) / 10000
       |       END AS coverage_minhash,
       |  CASE WHEN (n_minhash + 1)::DOUBLE * (n_simhash + 1)
       |            / (n_both + 1) - 1 > 0
       |       THEN floor(n_simhash::DOUBLE
       |                  / ((n_minhash + 1)::DOUBLE * (n_simhash + 1)
       |                     / (n_both + 1) - 1) * 10000 + 0.5) / 10000
       |       END AS coverage_simhash
       |FROM g""".stripMargin

  /** Mirror of Dedup.lshCurve: same capped exact pair set WITH jaccard
    * values, band-candidate left join, integer bin indexes, the
    * closed-form 1−(1−s^r)^b at the exact (bin+0.5)/10 midpoint.
    */
  val lshCurve: String = {
    import graft.operators.Dedup
    s"""$shCte,
       |$minhashJCtes,
       |cnd AS (SELECT DISTINCT id_a, id_b FROM j),
       |g0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
       |hot AS (SELECT g FROM (SELECT g, count(*) AS df FROM g0 GROUP BY g)
       |        WHERE df > ${Dedup.DedupDocFreqCap}),
       |sc AS (SELECT doc_id, g FROM g0 ANTI JOIN hot USING (g)),
       |ei AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         count(*)::BIGINT AS inter
       |       FROM sc a JOIN sc b ON a.g = b.g AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |exj AS (SELECT id_a, id_b,
       |          floor(inter::DOUBLE / (sa.n + sb.n - inter)
       |                * 10000 + 0.5) / 10000 AS jaccard
       |        FROM ei
       |        JOIN sz sa ON sa.doc_id = ei.id_a
       |        JOIN sz sb ON sb.doc_id = ei.id_b),
       |bx AS (SELECT least(floor(e.jaccard * 10)::INT, 9) AS bin,
       |         CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS hit
       |       FROM exj e LEFT JOIN cnd c
       |         ON c.id_a = e.id_a AND c.id_b = e.id_b
       |       WHERE e.jaccard >= ${Dedup.LshCurveFloor}),
       |ag AS (SELECT bin, count(*)::BIGINT AS n_pairs,
       |              sum(hit)::BIGINT AS n_caught
       |       FROM bx GROUP BY bin)
       |SELECT bin, n_pairs, n_caught,
       |  floor(n_caught::DOUBLE / n_pairs * 10000 + 0.5) / 10000
       |    AS measured,
       |  floor((1.0 - pow(1.0 - pow((bin + 0.5) / 10.0,
       |                             ${Dedup.LshCurveRows}),
       |                   ${Dedup.LshCurveBands}))
       |        * 10000 + 0.5) / 10000 AS theoretical
       |FROM ag ORDER BY bin""".stripMargin
  }

  /** Mirror of Retrieval.clusterTerms: cells from the same 2-iteration
    * k-means chain as annIvfKmeans/semDedup, pooled per-cell term counts
    * (stopwords excluded via the shared RefVocab list), tfidf_vectors'
    * smoothed idf over CELLS.
    */
  /** Mirror of Similarity.cellPurity: the unrolled k-means chain's
    * assignments joined to the labels, per-cell argmax + the
    * token_entropy exact-integer entropy form.
    */
  val cellPurity: String =
    s"""WITH u0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("u0", "ua1")},
       |${kmRecomputeCte("ua1", "uc1")},
       |${kmAssignCte("uc1", "ua2")},
       |${kmRecomputeCte("ua2", "uc2")},
       |${kmAssignCte("uc2", "uidx")},
       |cl AS (SELECT i.cid AS ccell, e.label, count(*)::BIGINT AS c
       |       FROM uidx i JOIN embeddings e ON e.vec_id = i.vec_id
       |       GROUP BY 1, 2),
       |top AS (SELECT ccell, label AS top_label, c AS top_c FROM (
       |  SELECT ccell, label, c,
       |    row_number() OVER (PARTITION BY ccell
       |                       ORDER BY c DESC, label) AS rn
       |  FROM cl) WHERE rn = 1),
       |a AS (SELECT ccell, sum(c)::BIGINT AS n_vecs,
       |        count(*)::BIGINT AS n_labels,
       |        sum(c * CAST(floor(ln(c::DOUBLE) * 1000000 + 0.5) / 1000000
       |                     AS DECIMAL(18,6))) AS clogc
       |      FROM cl GROUP BY 1)
       |SELECT a.ccell, a.n_vecs, a.n_labels, t.top_label,
       |  floor(t.top_c::DOUBLE / a.n_vecs * 10000 + 0.5) / 10000
       |    AS top_share,
       |  floor((ln(a.n_vecs::DOUBLE) - clogc::DOUBLE / a.n_vecs)
       |        * 1000000 + 0.5) / 1000000 AS entropy
       |FROM a JOIN top t USING (ccell) ORDER BY a.ccell""".stripMargin

  /** Filtered-IVF-probe chain (mirror of Similarity.annFiltered):
    * unrolled k-means, nprobe=2 routing, metadata semi-join (inner on
    * the unique-id keep set), ranked top-FilteredK — ends in
    * `${p}cand(q_id, vec_id, s, rank)` (rank already cut to k).
    */
  private def annFilteredCtes(p: String): String = {
    import graft.operators.Similarity.{FilteredK, FilteredLang}
    s"""${p}c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte(s"${p}c0", s"${p}a1")},
       |${kmRecomputeCte(s"${p}a1", s"${p}c1")},
       |${kmAssignCte(s"${p}c1", s"${p}a2")},
       |${kmRecomputeCte(s"${p}a2", s"${p}c2")},
       |${kmAssignCte(s"${p}c2", s"${p}idx")},
       |${p}probes AS (SELECT q_id, pcid FROM (
       |  SELECT q.vec_id AS q_id, c.cid AS pcid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS pr
       |  FROM embeddings q, ${p}c2 c WHERE q.vec_id % 100 = 0)
       |  WHERE pr <= 2),
       |${p}keep AS (SELECT doc_id FROM documents
       |             WHERE lang = '${sq(FilteredLang)}'),
       |${p}sc AS (SELECT p.q_id, x.vec_id,
       |    list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
       |  FROM ${p}probes p JOIN ${p}idx x ON x.cid = p.pcid
       |    JOIN ${p}keep k ON k.doc_id = x.vec_id
       |    JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE x.vec_id <> p.q_id),
       |${p}cand AS (SELECT q_id, vec_id, s, rank FROM (
       |  SELECT q_id, vec_id, s,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY s DESC, vec_id) AS rank
       |  FROM ${p}sc) WHERE rank <= $FilteredK)""".stripMargin
  }

  /** Mirror of Similarity.annFiltered: the filtered probe chain's cut
    * candidate set, 6dp sims.
    */
  val annFiltered: String =
    s"""WITH ${annFilteredCtes("af")}
       |SELECT q_id, vec_id AS neighbor_id, round(s, 6) AS sim,
       |  rank::INT AS rank
       |FROM afcand ORDER BY q_id, rank""".stripMargin

  /** Mirror of Similarity.filteredRecall: exact filtered brute-force
    * top-k (the authority, left-joined) vs the filtered probe.
    */
  val filteredRecall: String = {
    import graft.operators.Similarity.{FilteredK, FilteredLang}
    s"""WITH ${annFilteredCtes("fr")},
       |frex AS (SELECT q_id, vec_id FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |               e.vec_id) AS rank
       |  FROM embeddings e
       |  JOIN documents d ON d.doc_id = e.vec_id
       |    AND d.lang = '${sq(FilteredLang)}',
       |  embeddings q
       |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= $FilteredK)
       |SELECT ex.q_id, count(a.vec_id)::BIGINT AS n_matched,
       |  count(*)::BIGINT AS n_exact,
       |  floor(count(a.vec_id)::DOUBLE / count(*) * 10000 + 0.5) / 10000
       |    AS recall
       |FROM frex ex LEFT JOIN frcand a
       |  ON a.q_id = ex.q_id AND a.vec_id = ex.vec_id
       |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin
  }

  /** Mirror of Retrieval.topicCoverage: the same unrolled k-means chain
    * as clusterTerms, grid aggregate + bounded total re-aggs, 4dp
    * floor-rounded shares, lift as integer products divided once.
    */
  val topicCoverage: String =
    s"""WITH v0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("v0", "va1")},
       |${kmRecomputeCte("va1", "vc1")},
       |${kmAssignCte("vc1", "va2")},
       |${kmRecomputeCte("va2", "vc2")},
       |${kmAssignCte("vc2", "vidx")},
       |g AS (SELECT i.cid AS ccell, d.source, count(*)::BIGINT AS n_docs
       |      FROM documents d JOIN vidx i ON d.doc_id = i.vec_id
       |      GROUP BY 1, 2),
       |ct AS (SELECT ccell, sum(n_docs)::BIGINT AS cell_n FROM g GROUP BY 1),
       |st AS (SELECT source, sum(n_docs)::BIGINT AS src_n FROM g GROUP BY 1),
       |tt AS (SELECT sum(n_docs)::BIGINT AS tot FROM g)
       |SELECT g.ccell, g.source, g.n_docs,
       |  floor(g.n_docs::DOUBLE / ct.cell_n * 10000 + 0.5) / 10000
       |    AS cell_share,
       |  floor((g.n_docs::DOUBLE * tt.tot) / (ct.cell_n::DOUBLE * st.src_n)
       |        * 10000 + 0.5) / 10000 AS lift
       |FROM g JOIN ct USING (ccell) JOIN st USING (source), tt
       |ORDER BY g.ccell, g.source""".stripMargin

  val clusterTerms: String = {
    import graft.operators.{RefVocab, Retrieval}
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2")},
       |${kmAssignCte("c2", "idx")},
       |nt AS (SELECT doc_id,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS term FROM nt),
       |tf AS (SELECT i.cid AS ccell, t.term, count(*)::BIGINT AS tf
       |       FROM tok t JOIN idx i ON t.doc_id = i.vec_id
       |       WHERE NOT list_contains(${listLit(RefVocab.enStopwords)}, t.term)
       |       GROUP BY i.cid, t.term),
       |nc AS (SELECT count(DISTINCT ccell) AS n_cells FROM tf),
       |idf AS (SELECT term,
       |  floor((ln((nc.n_cells::DOUBLE + 1.0) / (df::DOUBLE + 1.0)) + 1.0)
       |        * 1000000 + 0.5) / 1000000 AS idf
       |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), nc),
       |x AS (SELECT tf.ccell, tf.term, tf.tf,
       |        floor(tf.tf::DOUBLE * i.idf * 10000 + 0.5) / 10000 AS score
       |      FROM tf JOIN idf i ON i.term = tf.term)
       |SELECT ccell::INT AS ccell, term, tf, score, rank::INT AS rank
       |FROM (SELECT ccell, term, tf, score,
       |        row_number() OVER (PARTITION BY ccell
       |                           ORDER BY score DESC, term) AS rank
       |      FROM x) WHERE rank <= ${Retrieval.ClusterTopTerms}""".stripMargin
  }

  /** Mirror of Similarity.ivfCellStats: cells from the same 2-iteration
    * k-means chain, per-cell counts, key_skew's share/skew math in a
    * verbatim operation order.
    */
  val ivfCellStats: String = {
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2")},
       |${kmAssignCte("c2", "idx")},
       |cnt AS (SELECT cid, count(*)::BIGINT AS n_vectors
       |        FROM idx GROUP BY cid),
       |t AS (SELECT sum(n_vectors)::BIGINT AS total,
       |             count(*) AS n_cells FROM cnt)
       |SELECT cid::INT AS ccell, n_vectors,
       |  floor(n_vectors::DOUBLE / total * 1000000 + 0.5) / 1000000
       |    AS share,
       |  floor(n_vectors::DOUBLE * n_cells / total * 10000 + 0.5) / 10000
       |    AS skew,
       |  row_number() OVER (ORDER BY n_vectors DESC, cid)::INT AS rank
       |FROM cnt, t""".stripMargin
  }

  /** Shared rebalance CTE chain (mirror of Similarity.buildIvfRebalIndex
    * over the in-query trained chain): flag the top-N loaded cells,
    * split each by one bisecting step (seeds = two smallest member
    * vec_ids, one cosine assignment, ties to sub 0), cell ids 2·cid(+1).
    * Ends with `flag(fcell)`, `asg(vec_id, embedding, ccell)` (split
    * members), `rl(vec_id, embedding, ccell)` (all rebalanced lists).
    */
  private val rebalCtes: String = {
    val n = graft.operators.Similarity.RebalanceSplitN
    s"""c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2x")},
       |c2 AS MATERIALIZED (SELECT * FROM c2x),
       |${kmAssignCte("c2", "idx0")},
       |idx AS MATERIALIZED (SELECT * FROM idx0),
       |flag AS MATERIALIZED (SELECT fcell FROM (
       |  SELECT cid AS fcell,
       |    row_number() OVER (ORDER BY count(*) DESC, cid) AS rk
       |  FROM idx GROUP BY cid) WHERE rk <= $n),
       |mem AS (SELECT i.vec_id, i.embedding, i.cid FROM idx i
       |        JOIN flag f ON i.cid = f.fcell),
       |ini AS (SELECT cid AS icell, (rn - 1)::INT AS sub, embedding AS svec
       |        FROM (SELECT cid, vec_id, embedding,
       |                row_number() OVER (PARTITION BY cid
       |                                   ORDER BY vec_id) AS rn
       |              FROM mem) WHERE rn <= 2),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, embedding, (cid * 2 + sub)::INT AS ccell FROM (
       |    SELECT m.vec_id, m.embedding, m.cid, s.sub,
       |      row_number() OVER (PARTITION BY m.vec_id
       |        ORDER BY list_cosine_similarity(m.embedding::DOUBLE[], s.svec::DOUBLE[]) DESC,
       |                 s.sub) AS rn
       |    FROM mem m JOIN ini s ON s.icell = m.cid) WHERE rn = 1),
       |rl AS MATERIALIZED (
       |  SELECT i.vec_id, i.embedding, (i.cid * 2)::INT AS ccell
       |  FROM idx i LEFT JOIN flag f ON i.cid = f.fcell
       |  WHERE f.fcell IS NULL
       |  UNION ALL SELECT vec_id, embedding, ccell FROM asg)""".stripMargin
  }

  /** Mirror of Similarity.ivfRebalance: the rebalanced chain's per-cell
    * balance table (ivfCellStats' share/skew arithmetic verbatim).
    */
  lazy val ivfRebalance: String =
    s"""WITH $rebalCtes,
       |fin AS (SELECT ccell, count(*)::BIGINT AS n_vectors
       |        FROM rl GROUP BY ccell),
       |tot AS (SELECT sum(n_vectors)::BIGINT AS total,
       |               count(*)::BIGINT AS n_cells FROM fin)
       |SELECT fin.ccell::INT AS cell, (fin.ccell // 2)::INT AS parent,
       |  fin.n_vectors,
       |  floor(fin.n_vectors::DOUBLE / tot.total * 1000000 + 0.5)
       |    / 1000000 AS share,
       |  floor(fin.n_vectors::DOUBLE * tot.n_cells / tot.total * 10000
       |        + 0.5) / 10000 AS skew,
       |  (f.fcell IS NOT NULL) AS was_split,
       |  row_number() OVER (ORDER BY fin.n_vectors DESC, fin.ccell)::INT
       |    AS rank
       |FROM fin CROSS JOIN tot
       |LEFT JOIN flag f ON (fin.ccell // 2) = f.fcell
       |ORDER BY rank""".stripMargin

  /** Rebalanced centroid set over [[rebalCtes]]: mean6f subcell means
    * (kmRecomputeCte's arithmetic keyed by ccell) unioned with the
    * doubled-id kept centroids — ends in `rc(cid, cvec)`.
    */
  private val rebalRcCtes: String =
    s"""subc AS (SELECT ccell AS cid, list(cv ORDER BY i) AS cvec FROM (
       |  SELECT ccell, i,
       |    CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE) / (count(*) * 10) + 0.5) / 1000000 AS FLOAT) AS cv
       |  FROM asg, range(1, 65) t(i) GROUP BY ccell, i) GROUP BY ccell),
       |keepc AS (SELECT (c.cid * 2)::INT AS cid, c.cvec FROM c2 c
       |          LEFT JOIN flag f ON c.cid = f.fcell
       |          WHERE f.fcell IS NULL),
       |rc AS MATERIALIZED (SELECT * FROM keepc
       |                    UNION ALL SELECT * FROM subc)""".stripMargin

  /** Mirror of Similarity.rebalanceRecall: both arms' nprobe=2 probe +
    * rank over their own centroid/list pair, recall vs the brute-force
    * top-3, nprobeCurve's mean_scanned cost side.
    */
  lazy val rebalanceRecall: String = {
    def probeCte(name: String, cents: String) =
      s"""pb_$name AS MATERIALIZED (SELECT q_id, pcid FROM (
         |    SELECT q.vec_id AS q_id, c.cid AS pcid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
         |                 c.cid) AS pr
         |    FROM embeddings q, $cents c WHERE q.vec_id % 100 = 0)
         |  WHERE pr <= 2)""".stripMargin
    def armSql(name: String, lists: String, cellCol: String) =
      s"""SELECT '$name' AS arm, (count(*) / 3)::BIGINT AS n_queries,
         |  floor(count(ap.neighbor_id)::DOUBLE / count(*) * 10000 + 0.5)
         |    / 10000 AS recall,
         |  (SELECT floor(sum(z.sc)::DOUBLE / count(*) * 100 + 0.5) / 100
         |   FROM (SELECT p.q_id, sum(cs.csz) AS sc FROM pb_$name p
         |         JOIN csz_$name cs ON cs.cid = p.pcid
         |         GROUP BY p.q_id) z) AS mean_scanned
         |FROM ex LEFT JOIN (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY s DESC, neighbor_id) AS rank
         |    FROM (SELECT p.q_id, x.vec_id AS neighbor_id,
         |        list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
         |      FROM pb_$name p
         |      JOIN $lists x ON x.$cellCol = p.pcid
         |      JOIN embeddings qe ON qe.vec_id = p.q_id
         |      WHERE x.vec_id <> p.q_id)) WHERE rank <= 3) ap
         |  ON ap.q_id = ex.q_id AND ap.neighbor_id = ex.neighbor_id""".stripMargin
    s"""WITH $rebalCtes,
       |$rebalRcCtes,
       |csz_base AS (SELECT cid, count(*)::BIGINT AS csz
       |             FROM idx GROUP BY cid),
       |csz_rebalanced AS (SELECT ccell AS cid, count(*)::BIGINT AS csz
       |                   FROM rl GROUP BY ccell),
       |${probeCte("base", "c2")},
       |${probeCte("rebalanced", "rc")},
       |ex AS MATERIALIZED (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |SELECT arm, n_queries, recall, mean_scanned FROM (
       |${armSql("base", "idx", "cid")}
       |UNION ALL
       |${armSql("rebalanced", "rl", "ccell")})
       |ORDER BY arm""".stripMargin
  }

  /** Mirror of Similarity.probeCostQuantiles: the trained chain's probe
    * sets per nprobe, per-query integer scan sums, integer-position
    * rank-pick quantiles (qualityThresholds' rule), one 2dp mean.
    */
  lazy val probeCostQuantiles: String = {
    import graft.operators.Similarity.NprobeSweep
    val probeCtes = NprobeSweep.map { np =>
      s"""pb$np AS MATERIALIZED (SELECT q_id, pcid FROM (
         |    SELECT q.vec_id AS q_id, c.cid AS pcid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
         |                 c.cid) AS pr
         |    FROM embeddings q, c2 c WHERE q.vec_id % 100 = 0)
         |  WHERE pr <= $np)""".stripMargin
    }
    def arm(np: Int) =
      s"""SELECT $np AS nprobe, max(n)::BIGINT AS n_queries,
         |  max(CASE WHEN rn = (n - 1) * 1 // 2 + 1 THEN scanned END)
         |    AS p50_scanned,
         |  max(CASE WHEN rn = (n - 1) * 19 // 20 + 1 THEN scanned END)
         |    AS p95_scanned,
         |  max(scanned) AS max_scanned,
         |  floor(sum(scanned)::DOUBLE / max(n) * 100 + 0.5) / 100
         |    AS mean_scanned
         |FROM (SELECT scanned,
         |        row_number() OVER (ORDER BY scanned, q_id) AS rn,
         |        count(*) OVER () AS n
         |      FROM (SELECT p.q_id, sum(cs.csz)::BIGINT AS scanned
         |            FROM pb$np p JOIN csz cs ON cs.cid = p.pcid
         |            GROUP BY p.q_id))""".stripMargin
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2x")},
       |c2 AS MATERIALIZED (SELECT * FROM c2x),
       |${kmAssignCte("c2", "idx0")},
       |idx AS MATERIALIZED (SELECT * FROM idx0),
       |csz AS MATERIALIZED (SELECT cid, count(*)::BIGINT AS csz
       |  FROM idx GROUP BY cid),
       |${probeCtes.mkString(",\n")}
       |SELECT nprobe, n_queries, p50_scanned, p95_scanned, max_scanned,
       |       mean_scanned FROM (
       |${NprobeSweep.map(arm).mkString("\nUNION ALL\n")})
       |ORDER BY nprobe""".stripMargin
  }

  /** Mirror of Similarity.annMissAudit: exact top-3 edges LEFT-joined
    * with the probe's top-3 (hit) and the nprobe=2 probe set against
    * the neighbor's cell (routing), one global rollup.
    */
  lazy val annMissAudit: String =
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2x")},
       |c2 AS MATERIALIZED (SELECT * FROM c2x),
       |${kmAssignCte("c2", "idx0")},
       |idx AS MATERIALIZED (SELECT * FROM idx0),
       |probes AS MATERIALIZED (SELECT q_id, pcid FROM (
       |    SELECT q.vec_id AS q_id, c.cid AS pcid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |                 c.cid) AS pr
       |    FROM embeddings q, c2 c WHERE q.vec_id % 100 = 0)
       |  WHERE pr <= 2),
       |ap AS (SELECT q_id, neighbor_id FROM (
       |  SELECT p.q_id, x.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY p.q_id ORDER BY
       |      list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) DESC,
       |      x.vec_id) AS rank
       |  FROM probes p JOIN idx x ON x.cid = p.pcid
       |       JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE x.vec_id <> p.q_id) WHERE rank <= 3),
       |ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |j AS (SELECT ex.q_id,
       |        (ap.neighbor_id IS NOT NULL) AS hit,
       |        (p.pcid IS NOT NULL) AS cell_probed
       |      FROM ex JOIN idx nc ON nc.vec_id = ex.neighbor_id
       |      LEFT JOIN ap ON ap.q_id = ex.q_id
       |                  AND ap.neighbor_id = ex.neighbor_id
       |      LEFT JOIN probes p ON p.q_id = ex.q_id AND p.pcid = nc.cid)
       |SELECT (count(*) / 3)::BIGINT AS n_queries,
       |  count(*)::BIGINT AS n_edges,
       |  sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       |  sum(CASE WHEN NOT hit AND NOT cell_probed THEN 1 ELSE 0 END)::BIGINT
       |    AS n_routing_miss,
       |  sum(CASE WHEN NOT hit AND cell_probed THEN 1 ELSE 0 END)::BIGINT
       |    AS n_ranking_miss,
       |  floor(sum(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE / count(*)
       |        * 10000 + 0.5) / 10000 AS hit_rate,
       |  floor(sum(CASE WHEN NOT hit AND NOT cell_probed THEN 1 ELSE 0 END)::DOUBLE
       |        / count(*) * 10000 + 0.5) / 10000 AS routing_miss_rate
       |FROM j""".stripMargin

  /** Mirror of Similarity.nprobePick: nprobeCurve's arms extended with
    * the p95 rank pick, then the three-key deterministic pick (meets
    * target, then nprobe among meeting / 1000−recall among missing,
    * then nprobe).
    */
  lazy val nprobePick: String = {
    import graft.operators.Similarity.{NprobeSweep, NprobeRecallTarget}
    val tgt = s"CAST($NprobeRecallTarget AS DOUBLE)"
    val probeCtes = NprobeSweep.map { np =>
      s"""pb$np AS MATERIALIZED (SELECT q_id, pcid FROM (
         |    SELECT q.vec_id AS q_id, c.cid AS pcid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
         |                 c.cid) AS pr
         |    FROM embeddings q, c2 c WHERE q.vec_id % 100 = 0)
         |  WHERE pr <= $np)""".stripMargin
    }
    def arm(np: Int) =
      s"""SELECT $np AS nprobe,
         |  floor(count(ap.neighbor_id)::DOUBLE / count(*) * 10000 + 0.5)
         |    / 10000 AS recall,
         |  (SELECT floor(sum(z.sc)::DOUBLE / count(*) * 100 + 0.5) / 100
         |   FROM (SELECT p.q_id, sum(cs.csz) AS sc FROM pb$np p
         |         JOIN csz cs ON cs.cid = p.pcid GROUP BY p.q_id) z)
         |    AS mean_scanned,
         |  (SELECT max(CASE WHEN rn = (n - 1) * 19 // 20 + 1
         |                   THEN scanned END)
         |   FROM (SELECT scanned,
         |           row_number() OVER (ORDER BY scanned, q_id) AS rn,
         |           count(*) OVER () AS n
         |         FROM (SELECT p.q_id, sum(cs.csz)::BIGINT AS scanned
         |               FROM pb$np p JOIN csz cs ON cs.cid = p.pcid
         |               GROUP BY p.q_id))) AS p95_scanned
         |FROM ex LEFT JOIN (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY s DESC, neighbor_id) AS rank
         |    FROM (SELECT p.q_id, x.vec_id AS neighbor_id,
         |        list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
         |      FROM pb$np p
         |      JOIN idx x ON x.cid = p.pcid
         |      JOIN embeddings qe ON qe.vec_id = p.q_id
         |      WHERE x.vec_id <> p.q_id)) WHERE rank <= 3) ap
         |  ON ap.q_id = ex.q_id AND ap.neighbor_id = ex.neighbor_id""".stripMargin
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2x")},
       |c2 AS MATERIALIZED (SELECT * FROM c2x),
       |${kmAssignCte("c2", "idx0")},
       |idx AS MATERIALIZED (SELECT * FROM idx0),
       |csz AS MATERIALIZED (SELECT cid, count(*)::BIGINT AS csz
       |  FROM idx GROUP BY cid),
       |${probeCtes.mkString(",\n")},
       |ex AS MATERIALIZED (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |SELECT nprobe, (recall >= $tgt) AS met_target, $tgt AS target,
       |       recall, mean_scanned, p95_scanned
       |FROM (SELECT *, row_number() OVER (ORDER BY
       |        CASE WHEN recall >= $tgt THEN 0 ELSE 1 END,
       |        CASE WHEN recall >= $tgt THEN nprobe::DOUBLE
       |             ELSE CAST(1000.0 AS DOUBLE) - recall END,
       |        nprobe) AS rk
       |      FROM (
       |${NprobeSweep.map(arm).mkString("\nUNION ALL\n")}))
       |WHERE rk = 1""".stripMargin
  }

  /** Mirror of Similarity.rebalanceChurn: both arms' top-3 over the
    * rebalance chain, per-query exact intersection counts, 4dp-unit
    * Jaccard sum, one rollup row.
    */
  lazy val rebalanceChurn: String = {
    def top3(name: String, probes: String, lists: String,
        cellCol: String) =
      s"""$name AS (SELECT q_id, neighbor_id FROM (
         |  SELECT q_id, neighbor_id,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY s DESC, neighbor_id) AS rank
         |  FROM (SELECT p.q_id, x.vec_id AS neighbor_id,
         |      list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
         |    FROM $probes p
         |    JOIN $lists x ON x.$cellCol = p.pcid
         |    JOIN embeddings qe ON qe.vec_id = p.q_id
         |    WHERE x.vec_id <> p.q_id)) WHERE rank <= 3)""".stripMargin
    def probeCte(name: String, cents: String) =
      s"""$name AS MATERIALIZED (SELECT q_id, pcid FROM (
         |    SELECT q.vec_id AS q_id, c.cid AS pcid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
         |                 c.cid) AS pr
         |    FROM embeddings q, $cents c WHERE q.vec_id % 100 = 0)
         |  WHERE pr <= 2)""".stripMargin
    s"""WITH $rebalCtes,
       |$rebalRcCtes,
       |${probeCte("pb_b", "c2")},
       |${probeCte("pb_r", "rc")},
       |${top3("tb", "pb_b", "idx", "cid")},
       |${top3("tr", "pb_r", "rl", "ccell")},
       |nna AS (SELECT q_id, count(*)::BIGINT AS na FROM tb GROUP BY q_id),
       |nnb AS (SELECT q_id, count(*)::BIGINT AS nb FROM tr GROUP BY q_id),
       |iv AS (SELECT tb.q_id, count(*)::BIGINT AS ni FROM tb
       |       JOIN tr ON tr.q_id = tb.q_id
       |              AND tr.neighbor_id = tb.neighbor_id
       |       GROUP BY tb.q_id),
       |pq AS (SELECT nna.q_id, coalesce(iv.ni, 0) AS ni, nna.na, nnb.nb
       |       FROM nna JOIN nnb ON nnb.q_id = nna.q_id
       |       LEFT JOIN iv ON iv.q_id = nna.q_id),
       |t AS (SELECT q_id, NOT (ni = na AND na = nb) AS changed,
       |        floor(ni::DOUBLE / (na + nb - ni) * 10000 + 0.5)::BIGINT
       |          AS ju
       |      FROM pq)
       |SELECT count(*)::BIGINT AS n_queries,
       |  sum(CASE WHEN changed THEN 1 ELSE 0 END)::BIGINT AS n_changed,
       |  floor(sum(CASE WHEN changed THEN 1 ELSE 0 END)::DOUBLE
       |        / count(*) * 10000 + 0.5) / 10000 AS change_rate,
       |  floor(sum(ju)::DOUBLE / count(*) + 0.5) / 10000 AS mean_jaccard
       |FROM t""".stripMargin
  }

  /** Mirror of Similarity.cellOutliers: per-cell 1e-6-unit similarity
    * to own centroid, exact-unit floor'd mean, bottom-k window.
    */
  lazy val cellOutliers: String = {
    val k = graft.operators.Similarity.CellOutlierK
    s"""WITH c0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmRecomputeCte("a1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmRecomputeCte("a2", "c2x")},
       |c2 AS MATERIALIZED (SELECT * FROM c2x),
       |${kmAssignCte("c2", "idx")},
       |s AS (SELECT i.cid AS ccell, i.vec_id,
       |        floor(list_cosine_similarity(i.embedding::DOUBLE[], c.cvec::DOUBLE[])
       |              * 1000000 + 0.5)::BIGINT AS su
       |      FROM idx i JOIN c2 c ON c.cid = i.cid),
       |m AS (SELECT ccell, floor(sum(su)::DOUBLE / count(*))::BIGINT AS mu
       |      FROM s GROUP BY ccell)
       |SELECT ccell, vec_id, su::DOUBLE / 1000000 AS sim,
       |  mu::DOUBLE / 1000000 AS cell_mean,
       |  (mu - su)::DOUBLE / 1000000 AS gap, rank::INT AS rank
       |FROM (SELECT s.*, m.mu,
       |        row_number() OVER (PARTITION BY s.ccell
       |                           ORDER BY s.su, s.vec_id) AS rank
       |      FROM s JOIN m ON m.ccell = s.ccell)
       |WHERE rank <= $k ORDER BY ccell, rank""".stripMargin
  }

  /** Exact brute-force MMR pool as CTEs ending in
    * `cand(q_id, doc_id, simq)` — mirror of Similarity.mmrPoolExact.
    */
  private def mmrExactPoolCtes(cand: String): String = {
    import graft.operators.Similarity.MmrPool
    s"""q AS (SELECT vec_id AS q_id, embedding AS qe
       |      FROM embeddings WHERE vec_id % 100 = 0),
       |sc AS (SELECT q.q_id, e.vec_id,
       |         list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]) AS s
       |       FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       |$cand AS (SELECT q_id, vec_id AS doc_id, round(s, 6) AS simq
       |  FROM (SELECT q_id, vec_id, s,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY s DESC, vec_id) AS rank
       |        FROM sc) WHERE rank <= $MmrPool)""".stripMargin
  }

  /** IVF-probed MMR pool as CTEs ending in `cand(q_id, doc_id, simq)` —
    * mirror of Similarity.mmrPoolIvf: the same unrolled k-means chain as
    * annIvfKmeans, nprobe=2 routing, top-MmrPool true cosine within the
    * probed cells.
    */
  private def mmrIvfPoolCtes(cand: String): String = {
    import graft.operators.Similarity.MmrPool
    s"""mc0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |        FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("mc0", "ma1")},
       |${kmRecomputeCte("ma1", "mc1")},
       |${kmAssignCte("mc1", "ma2")},
       |${kmRecomputeCte("ma2", "mc2")},
       |${kmAssignCte("mc2", "midx")},
       |mprobes AS (SELECT q_id, pcid FROM (
       |  SELECT q.vec_id AS q_id, c.cid AS pcid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS pr
       |  FROM embeddings q, mc2 c WHERE q.vec_id % 100 = 0) WHERE pr <= 2),
       |msc AS (SELECT p.q_id, x.vec_id,
       |    list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
       |  FROM mprobes p JOIN midx x ON x.cid = p.pcid
       |       JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE x.vec_id <> p.q_id),
       |$cand AS (SELECT q_id, vec_id AS doc_id, round(s, 6) AS simq
       |  FROM (SELECT q_id, vec_id, s,
       |          row_number() OVER (PARTITION BY q_id
       |                             ORDER BY s DESC, vec_id) AS rank
       |        FROM msc) WHERE rank <= $MmrPool)""".stripMargin
  }

  /** Mirror of Similarity.mmrPoolRecall: exact pool left-joined with the
    * IVF pool, per-query match count over the MmrPool denominator.
    */
  val mmrPoolRecall: String = {
    import graft.operators.Similarity.MmrPool
    s"""WITH ${mmrExactPoolCtes("cand_ex")},
       |${mmrIvfPoolCtes("cand_ivf")}
       |SELECT ex.q_id, count(iv.doc_id) AS n_matched,
       |  floor(count(iv.doc_id)::DOUBLE / $MmrPool * 10000 + 0.5) / 10000 AS recall
       |FROM cand_ex ex LEFT JOIN cand_ivf iv
       |  ON iv.q_id = ex.q_id AND iv.doc_id = ex.doc_id
       |GROUP BY ex.q_id""".stripMargin
  }

  /** Mirror of Similarity.hardNegatives: the same unrolled k-means
    * probe chain as the MMR IVF pool, ranked by unrounded cosine with
    * vec_id tie-break, band (HnSkip, HnSkip+HnK].
    */
  val hardNegatives: String = {
    import graft.operators.Similarity.{HnK, HnSkip}
    s"""WITH hc0 AS (SELECT vec_id::INT AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmAssignCte("hc0", "ha1")},
       |${kmRecomputeCte("ha1", "hc1")},
       |${kmAssignCte("hc1", "ha2")},
       |${kmRecomputeCte("ha2", "hc2")},
       |${kmAssignCte("hc2", "hidx")},
       |hprobes AS (SELECT q_id, pcid FROM (
       |  SELECT q.vec_id AS q_id, c.cid AS pcid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
       |               c.cid) AS pr
       |  FROM embeddings q, hc2 c WHERE q.vec_id % 100 = 0) WHERE pr <= 2),
       |hsc AS (SELECT p.q_id, x.vec_id,
       |    list_cosine_similarity(x.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS s
       |  FROM hprobes p JOIN hidx x ON x.cid = p.pcid
       |       JOIN embeddings qe ON qe.vec_id = p.q_id
       |  WHERE x.vec_id <> p.q_id)
       |SELECT q_id, vec_id AS neg_id, round(s, 6) AS sim,
       |  (rank - $HnSkip)::INT AS neg_rank
       |FROM (SELECT q_id, vec_id, s,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY s DESC, vec_id) AS rank
       |      FROM hsc)
       |WHERE rank > $HnSkip AND rank <= ${HnSkip + HnK}
       |ORDER BY q_id, neg_rank""".stripMargin
  }

  /** Mirror of Similarity.mmrRerank: the IVF-probed pool (r8 — the
    * index-serving shape, exact pool audited by mmr_pool_recall), 6dp
    * sim frames, the greedy rounds UNROLLED as CTE pairs (pick_k over
    * sel_{k-1}, sel_k = union) — identical score arithmetic and doc_id
    * tie-breaks.
    */
  val mmrRerank: String = {
    import graft.operators.Similarity.MmrK
    s"${mmrRerankCtes()} SELECT q_id, doc_id, simq, pick::INT AS pick " +
      s"FROM sel$MmrK"
  }

  /** The full unrolled MMR pipeline as CTEs ending in
    * `sel<MmrK>(q_id, doc_id, simq, pick)` — shared by mmrRerank and
    * ragContext. Returns the complete `WITH ...` prefix.
    */
  private def mmrRerankCtes(): String = {
    import graft.operators.Similarity.{MmrGamma, MmrK, MmrLambda}
    val head =
      s"""WITH ${mmrIvfPoolCtes("cand")},
         |cc AS (SELECT a.q_id AS cq, a.doc_id AS d1, b.doc_id AS d2,
         |         round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cs
         |       FROM cand a JOIN cand b ON a.q_id = b.q_id
         |                              AND a.doc_id <> b.doc_id
         |       JOIN embeddings ea ON ea.vec_id = a.doc_id
         |       JOIN embeddings eb ON eb.vec_id = b.doc_id),
         |sel1 AS (SELECT q_id, doc_id, simq, 1 AS pick FROM (
         |  SELECT q_id, doc_id, simq,
         |    row_number() OVER (PARTITION BY q_id ORDER BY
         |      floor($MmrLambda::DOUBLE * simq * 1000000 + 0.5) / 1000000
         |        DESC, doc_id) AS rn
         |  FROM cand) WHERE rn = 1)""".stripMargin
    val rounds = (2 to MmrK).map { k =>
      s"""pick$k AS (SELECT q_id, doc_id, simq, $k AS pick FROM (
         |  SELECT p.q_id, p.doc_id, p.simq,
         |    row_number() OVER (PARTITION BY p.q_id ORDER BY
         |      floor(($MmrLambda::DOUBLE * p.simq - $MmrGamma::DOUBLE * p.pen)
         |            * 1000000 + 0.5) / 1000000 DESC, p.doc_id) AS rn
         |  FROM (SELECT c.q_id, c.doc_id, c.simq, max(cc.cs) AS pen
         |        FROM cand c
         |        JOIN cc ON cc.cq = c.q_id AND cc.d1 = c.doc_id
         |        JOIN sel${k - 1} s ON s.q_id = cc.cq AND s.doc_id = cc.d2
         |        WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
         |                          WHERE x.q_id = c.q_id
         |                            AND x.doc_id = c.doc_id)
         |        GROUP BY c.q_id, c.doc_id, c.simq) p) WHERE rn = 1),
         |sel$k AS (SELECT q_id, doc_id, simq, pick FROM sel${k - 1}
         |          UNION ALL
         |          SELECT q_id, doc_id, simq, pick FROM pick$k)""".stripMargin
    }
    s"""$head,
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Mirror of Similarity.ragContext: the MMR picks joined back to
    * their document text, assembled in pick order (string_agg with
    * chr(10) — a literal '\n' would be backslash-n in DuckDB).
    */
  val ragContext: String = {
    import graft.operators.Similarity.MmrK
    s"""${mmrRerankCtes()},
       |fin AS (SELECT q_id, doc_id, pick FROM sel$MmrK)
       |SELECT f.q_id, count(*)::BIGINT AS n_ctx,
       |  string_agg(d.text, chr(10) ORDER BY f.pick) AS context
       |FROM fin f JOIN documents d ON d.doc_id = f.doc_id
       |GROUP BY f.q_id ORDER BY f.q_id""".stripMargin
  }

  /** Mirror of Analytics.cheapestSupplier: the argmin join-back — min
    * price per (part, supplier), group minimum joined back on exact
    * double equality, witness ties collapsed by min supplier.
    */
  val cheapestSupplier: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |              min(l_extendedprice) AS price
      |            FROM lineitem GROUP BY l_partkey, l_suppkey),
      |best AS (SELECT l_partkey, min(price) AS min_price,
      |           count(*)::BIGINT AS n_suppliers
      |         FROM ps GROUP BY l_partkey)
      |SELECT ps.l_partkey, min(ps.l_suppkey) AS s_suppkey,
      |  b.min_price, b.n_suppliers
      |FROM ps JOIN best b ON b.l_partkey = ps.l_partkey
      |                   AND ps.price = b.min_price
      |GROUP BY ps.l_partkey, b.min_price, b.n_suppliers""".stripMargin

  /** Mirror of TextAnalysis.readability: same raw-text space tokens as
    * qualityScore, same clamped sentence/syllable heuristics, and the
    * FK grade as one fixed-order double expression.
    */
  val readability: String =
    """WITH t AS (SELECT doc_id, text,
      |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |ag AS (SELECT doc_id,
      |  count(*)::INT AS n_words,
      |  max(greatest(1, len(regexp_extract_all(text, '[.!?]+'))))::INT AS n_sentences,
      |  sum(greatest(1, len(regexp_extract_all(lower(tok), '[aeiouy]+'))))::BIGINT AS n_syllables
      |  FROM t GROUP BY doc_id)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  floor((0.39::DOUBLE * (n_words::DOUBLE / n_sentences)
      |       + 11.8::DOUBLE * (n_syllables::DOUBLE / n_words)
      |       - 15.59::DOUBLE) * 10000 + 0.5) / 10000 AS fk_grade
      |FROM ag""".stripMargin

  /** Mirror of Curation.curateCorpus: the five stage fragments composed
    * into ONE statement — cluster labels (shCte + minhash + recursive
    * closure), mix copies over the same `n`, contamination flags over
    * the same `sh`, exact-dup canonicals over the same `n`, and the
    * self-contained quality gate — with the identical fixed stage
    * precedence and kept-condition arithmetic.
    */
  /** The manifest CTE chain shared by curateCorpus and curationFunnel:
    * ends with `cm(doc_id, stage, n_copies)`.
    */
  private val curateManifestCtes: String =
    s"""$clusterLabelCtes,
       |$mixFromNCtes,
       |$contamCtes,
       |$exactDupCtes,
       |$qualityKeepCtes,
       |cm AS (SELECT n.doc_id,
       |  CASE WHEN NOT qf.keep THEN 'quality'
       |       WHEN dxc.doc_id <> dxc.canonical THEN 'exact_dup'
       |       WHEN l.cluster <> l.doc_id THEN 'near_dup'
       |       WHEN f.doc_id IS NOT NULL THEN 'contaminated'
       |       WHEN nc.n_copies = 0 THEN 'sampled_out'
       |       ELSE 'kept' END AS stage,
       |  CASE WHEN qf.keep AND dxc.doc_id = dxc.canonical
       |        AND l.cluster = l.doc_id AND f.doc_id IS NULL
       |        AND nc.n_copies >= 1
       |       THEN nc.n_copies ELSE 0 END AS n_copies
       |FROM n
       |JOIN qf ON qf.doc_id = n.doc_id
       |JOIN dxc ON dxc.doc_id = n.doc_id
       |JOIN labels l ON l.doc_id = n.doc_id
       |LEFT JOIN flagged f ON f.doc_id = n.doc_id
       |JOIN nc ON nc.doc_id = n.doc_id)""".stripMargin

  val curateCorpus: String =
    s"""$curateManifestCtes
       |SELECT doc_id, stage, n_copies FROM cm ORDER BY doc_id""".stripMargin

  /** Mirror of Curation.curationFunnel: the manifest chain, one token
    * scan, the zero-completed 6-row stage grid, bounded cumulative
    * drop windows.
    */
  val curationFunnel: String = {
    val grid = graft.operators.Curation.FunnelStages
      .map { case (o, s) => s"($o, '$s')" }.mkString(", ")
    s"""$curateManifestCtes,
       |ctok AS (SELECT doc_id,
       |    len(list_filter(string_split(text, ' '),
       |                    x -> x <> ''))::BIGINT AS t
       |  FROM documents),
       |cag AS (SELECT cm.stage, count(*)::BIGINT AS n_docs,
       |          sum(ctok.t)::BIGINT AS n_tokens
       |        FROM cm JOIN ctok ON ctok.doc_id = cm.doc_id
       |        GROUP BY 1),
       |cgr AS (SELECT v.ord, v.stage,
       |          coalesce(cag.n_docs, 0::BIGINT) AS n_docs,
       |          coalesce(cag.n_tokens, 0::BIGINT) AS n_tokens
       |        FROM (VALUES $grid) v(ord, stage)
       |        LEFT JOIN cag ON cag.stage = v.stage),
       |ctt AS (SELECT sum(n_docs)::BIGINT AS td,
       |          sum(n_tokens)::BIGINT AS tt FROM cgr),
       |ccu AS (SELECT *,
       |          sum(CASE WHEN stage <> 'kept' THEN n_docs ELSE 0 END)
       |            OVER wo AS cd,
       |          sum(CASE WHEN stage <> 'kept' THEN n_tokens ELSE 0 END)
       |            OVER wo AS ct
       |        FROM cgr
       |        WINDOW wo AS (ORDER BY ord ROWS UNBOUNDED PRECEDING))
       |SELECT ord::INT AS ord, stage, n_docs, n_tokens,
       |  (td - cd)::BIGINT AS docs_remaining,
       |  (tt - ct)::BIGINT AS tokens_remaining,
       |  CASE WHEN td > 0
       |    THEN floor((td - cd)::DOUBLE / td * 10000 + 0.5) / 10000
       |  END AS share_remaining
       |FROM ccu, ctt ORDER BY ord""".stripMargin
  }

  /** Mirror of Sessions.temporalDecay: same whole-day age against the
    * corpus max day, exact power-of-two half-life weights via integer
    * shift, DECIMAL(38,0) accumulation, one final double division in
    * the identical order.
    */
  val temporalDecay: String = {
    val hl = graft.operators.Sessions.DecayHalfLifeDays
    val mh = graft.operators.Sessions.DecayMaxHalves
    s"""WITH e AS (SELECT user_id,
       |    floor(epoch(ts))::BIGINT // 86400 AS day,
       |    floor(value * 100 + 0.5)::BIGINT AS cents FROM events),
       |r AS (SELECT max(day) AS ref_day FROM e),
       |w AS (SELECT user_id, day,
       |    cents::DECIMAL(38,0) * (1::BIGINT <<
       |      ($mh - least($mh, (ref_day - day) // $hl))::INT) AS wu
       |  FROM e, r),
       |s AS (SELECT user_id, count(*)::BIGINT AS n_events,
       |    max(day) AS last_day, sum(wu) AS su FROM w GROUP BY user_id)
       |SELECT user_id, n_events, last_day,
       |  floor(su::DOUBLE / ${1L << mh} / 100 * 10000 + 0.5) / 10000
       |    AS decayed_value
       |FROM s ORDER BY user_id""".stripMargin
  }

  /** Mirror of Analytics.shipLatency: same l⋈o day delays, the
    * value-histogram quantile rule ((n-1)·p div 100 + 1 cumulative
    * position), exact integer mean.
    */
  val shipLatency: String =
    """WITH d AS (SELECT o.o_orderpriority AS priority,
      |    date_diff('day', o.o_orderdate, l.l_shipdate)::BIGINT
      |      AS delay_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |h AS (SELECT priority, delay_days, count(*)::BIGINT AS c
      |      FROM d GROUP BY 1, 2),
      |x AS (SELECT *,
      |    sum(c) OVER (PARTITION BY priority ORDER BY delay_days
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY priority) AS n,
      |    sum(c * delay_days) OVER (PARTITION BY priority) AS sd
      |  FROM h)
      |SELECT priority, max(n)::BIGINT AS n_lines,
      |  min(CASE WHEN cum >= (n - 1) * 50 // 100 + 1 THEN delay_days END)
      |    AS p50,
      |  min(CASE WHEN cum >= (n - 1) * 90 // 100 + 1 THEN delay_days END)
      |    AS p90,
      |  min(CASE WHEN cum >= (n - 1) * 99 // 100 + 1 THEN delay_days END)
      |    AS p99,
      |  floor(max(sd)::DOUBLE / max(n) * 10000 + 0.5) / 10000 AS avg_days
      |FROM x GROUP BY priority ORDER BY priority""".stripMargin

  /** Mirror of CorpusStats.ngramDiversity: same normToks token stream,
    * two-level (source, gram) distinct counting, 4dp TTRs, zero-token
    * sources NULL their ratios.
    */
  val ngramDiversity: String =
    """WITH n AS (SELECT doc_id, source,
      |  list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |              x -> x <> '') AS ws FROM documents),
      |u AS (SELECT source, unnest(ws) AS g FROM n),
      |us AS (SELECT source, count(*)::BIGINT AS uni_total,
      |         count(DISTINCT g)::BIGINT AS uni_distinct
      |       FROM u GROUP BY source),
      |b AS (SELECT source, unnest(list_transform(range(1, len(ws)),
      |         j -> ws[j] || ' ' || ws[j+1])) AS g FROM n),
      |bs AS (SELECT source, count(*)::BIGINT AS bi_total,
      |         count(DISTINCT g)::BIGINT AS bi_distinct
      |       FROM b GROUP BY source),
      |d AS (SELECT source, count(*)::BIGINT AS n_docs
      |      FROM documents GROUP BY source)
      |SELECT d.source, d.n_docs,
      |  coalesce(us.uni_total, 0) AS n_tokens,
      |  coalesce(us.uni_distinct, 0) AS n_unigrams,
      |  CASE WHEN us.uni_total > 0 THEN
      |    floor(us.uni_distinct::DOUBLE / us.uni_total * 10000 + 0.5)
      |      / 10000 END AS uni_ttr,
      |  coalesce(bs.bi_total, 0) AS n_bigram_occ,
      |  coalesce(bs.bi_distinct, 0) AS n_bigrams,
      |  CASE WHEN bs.bi_total > 0 THEN
      |    floor(bs.bi_distinct::DOUBLE / bs.bi_total * 10000 + 0.5)
      |      / 10000 END AS bi_ttr
      |FROM d LEFT JOIN us ON us.source = d.source
      |       LEFT JOIN bs ON bs.source = d.source
      |ORDER BY d.source""".stripMargin

  /** Mirror of CorpusStats.corpusCube: GROUP BY CUBE with the same
    * grouping-bit convention (first key = MSB) and mean arithmetic.
    */
  val corpusCube: String =
    """SELECT lang, source, count(*)::BIGINT AS n_docs,
      |  sum(n_chars)::BIGINT AS chars,
      |  floor(sum(n_chars)::DOUBLE / count(*) * 10000 + 0.5) / 10000
      |    AS avg_chars,
      |  GROUPING(lang, source)::INT AS lvl
      |FROM documents GROUP BY CUBE (lang, source)
      |ORDER BY lvl, lang, source""".stripMargin

  /** Mirror of CorpusStats.signalAuc: same quality-keep and frozen-LM
    * CTEs, the identical 4dp nll histogram, tied-rank 2·avg-rank
    * integers, one final double division in mirrored order.
    */
  val signalAuc: String =
    s"""WITH $qualityKeepCtes,
       |${perplexityScoreCtes("px")},
       |ja AS (SELECT px.lang,
       |    CAST(floor(px.avg_nll * 10000 + 0.5) AS BIGINT) AS yu, qf.keep
       |  FROM px JOIN qf ON qf.doc_id = px.doc_id),
       |ha AS (SELECT lang, yu,
       |    sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS pv,
       |    sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS nv
       |  FROM ja GROUP BY lang, yu),
       |xa AS (SELECT *, sum(pv + nv) OVER (PARTITION BY lang
       |    ORDER BY yu DESC ROWS UNBOUNDED PRECEDING) AS cum FROM ha),
       |ga AS (SELECT lang, sum(pv)::HUGEINT AS np, sum(nv)::HUGEINT AS nn,
       |    sum(pv::HUGEINT * (2 * (cum - pv - nv) + pv + nv + 1)) AS r2
       |  FROM xa GROUP BY lang)
       |SELECT lang, np::BIGINT AS n_pos, nn::BIGINT AS n_neg,
       |  CASE WHEN np > 0 AND nn > 0 THEN
       |    floor((r2 - np * (np + 1))::DOUBLE / 2 / np::DOUBLE / nn::DOUBLE
       |          * 1000000 + 0.5) / 1000000 END AS auc
       |FROM ga ORDER BY lang""".stripMargin

  /** Shared builders for the exact-integer hash-feature sums
    * (Embedder.hashSumRows): 64 ±1-bit sums from an md5-hex column
    * `h`, the squared-norm term, and the pairwise integer dot.
    */
  private def liSumCols: String = (0 until 64).map { i =>
    val pos = i / 4 + 1
    val shift = 3 - i % 4
    s"sum((((strpos('0123456789abcdef', h[$pos]) - 1) >> $shift) & 1)" +
      s" * 2 - 1)::BIGINT AS s$i"
  }.mkString(", ")
  private def liN2: String =
    (0 until 64).map(i => s"s$i*s$i").mkString(" + ")
  private def liDot(a: String, b: String): String =
    (0 until 64).map(i => s"$a.s$i*$b.s$i").mkString(" + ")

  /** Mirror of Retrieval.lateInteraction: whole-doc integer-cosine
    * pool, chunk-level MaxSim rerank, identical operand orders and the
    * 1e-6-unit mean. MATERIALIZED on the multiply-referenced frames
    * (DuckDB inlines plain CTEs per reference).
    */
  val lateInteraction: String = {
    import graft.operators.Retrieval.{ChunkStride, ChunkTokens, LiK, LiPoolC, QueryMod}
    val (w, s) = (ChunkTokens, ChunkStride)
    s"""$normCte,
       |ldx AS (SELECT doc_id, md5(unnest(ws)) AS h FROM n),
       |lds AS (SELECT doc_id, $liSumCols FROM ldx GROUP BY doc_id),
       |dv AS MATERIALIZED (SELECT *, ($liN2)::BIGINT AS n2 FROM lds),
       |pool0 AS (SELECT q.doc_id AS q_id, d.doc_id AS d_id,
       |    (${liDot("q", "d")})::DOUBLE / sqrt(q.n2::DOUBLE)
       |      / sqrt(d.n2::DOUBLE) AS pool_sim
       |  FROM dv q JOIN dv d ON q.doc_id <> d.doc_id
       |  WHERE ((q.doc_id % $QueryMod) + $QueryMod) % $QueryMod = 0
       |    AND ((d.doc_id % $QueryMod) + $QueryMod) % $QueryMod <> 0
       |    AND q.n2 > 0 AND d.n2 > 0),
       |pool AS MATERIALIZED (SELECT q_id, d_id, pool_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY pool_sim DESC, d_id) AS pr FROM pool0)
       |  WHERE pr <= $LiPoolC),
       |lm AS (SELECT doc_id, ws, len(ws) AS nt FROM n WHERE len(ws) > 0),
       |lck AS (SELECT doc_id, ws, nt,
       |    unnest(range(0, greatest(0, (nt - $w + $s - 1) // $s) + 1)) AS k
       |  FROM lm),
       |lcw AS (SELECT doc_id, k::INT AS chunk_id,
       |    unnest(list_slice(ws, k * $s + 1, least(k * $s + $w, nt))) AS wt
       |  FROM lck),
       |lch AS (SELECT doc_id, chunk_id, md5(wt) AS h FROM lcw),
       |lcs AS (SELECT doc_id, chunk_id, $liSumCols FROM lch
       |        GROUP BY doc_id, chunk_id),
       |cv AS MATERIALIZED (SELECT *, ($liN2)::BIGINT AS n2 FROM lcs),
       |ps AS (SELECT p.q_id, p.d_id, qc.chunk_id AS qck,
       |    max((${liDot("qc", "dc")})::DOUBLE / sqrt(qc.n2::DOUBLE)
       |        / sqrt(dc.n2::DOUBLE)) AS mx
       |  FROM pool p
       |  JOIN cv qc ON qc.doc_id = p.q_id AND qc.n2 > 0
       |  JOIN cv dc ON dc.doc_id = p.d_id AND dc.n2 > 0
       |  GROUP BY 1, 2, 3),
       |lag AS (SELECT q_id, d_id,
       |    sum(floor(mx * 1000000 + 0.5)::BIGINT) AS smu,
       |    count(*)::BIGINT AS nq
       |  FROM ps GROUP BY 1, 2),
       |lsc AS (SELECT q_id, d_id,
       |    floor(smu::DOUBLE / nq / 1000000 * 1000000 + 0.5) / 1000000
       |      AS li_score
       |  FROM lag)
       |SELECT q_id, d_id, rank::INT AS rank, li_score,
       |  floor(pool_sim * 1000000 + 0.5) / 1000000 AS pool_sim
       |FROM (SELECT lsc.q_id, lsc.d_id, lsc.li_score, p.pool_sim,
       |        row_number() OVER (PARTITION BY lsc.q_id
       |          ORDER BY lsc.li_score DESC, lsc.d_id) AS rank
       |      FROM lsc JOIN pool p ON p.q_id = lsc.q_id
       |                          AND p.d_id = lsc.d_id)
       |WHERE rank <= $LiK ORDER BY q_id, rank""".stripMargin
  }

  /** Mirror of Retrieval.lateInteractionAnn: the IVF-probed pool CTEs
    * (mmrPoolIvf's chain) feeding the identical chunk-MaxSim rerank.
    * Lazy: mmrIvfPoolCtes' k-means builders initialize later in this
    * object (the labelQueue init-order rule).
    */
  lazy val lateInteractionAnn: String = {
    import graft.operators.Retrieval.{ChunkStride, ChunkTokens, LiK, LiPoolC}
    val (w, s) = (ChunkTokens, ChunkStride)
    s"""WITH ${mmrIvfPoolCtes("cand_ivf")},
       |pool AS MATERIALIZED (SELECT q_id, d_id, pool_sim FROM (
       |    SELECT q_id, doc_id AS d_id, simq AS pool_sim,
       |      row_number() OVER (PARTITION BY q_id
       |                         ORDER BY simq DESC, doc_id) AS pr
       |    FROM cand_ivf) WHERE pr <= $LiPoolC),
       |n AS (SELECT doc_id,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |lm AS (SELECT doc_id, ws, len(ws) AS nt FROM n WHERE len(ws) > 0),
       |lck AS (SELECT doc_id, ws, nt,
       |    unnest(range(0, greatest(0, (nt - $w + $s - 1) // $s) + 1)) AS k
       |  FROM lm),
       |lcw AS (SELECT doc_id, k::INT AS chunk_id,
       |    unnest(list_slice(ws, k * $s + 1, least(k * $s + $w, nt))) AS wt
       |  FROM lck),
       |lch AS (SELECT doc_id, chunk_id, md5(wt) AS h FROM lcw),
       |lcs AS (SELECT doc_id, chunk_id, $liSumCols FROM lch
       |        GROUP BY doc_id, chunk_id),
       |cv AS MATERIALIZED (SELECT *, ($liN2)::BIGINT AS n2 FROM lcs),
       |ps AS (SELECT p.q_id, p.d_id, qc.chunk_id AS qck,
       |    max((${liDot("qc", "dc")})::DOUBLE / sqrt(qc.n2::DOUBLE)
       |        / sqrt(dc.n2::DOUBLE)) AS mx
       |  FROM pool p
       |  JOIN cv qc ON qc.doc_id = p.q_id AND qc.n2 > 0
       |  JOIN cv dc ON dc.doc_id = p.d_id AND dc.n2 > 0
       |  GROUP BY 1, 2, 3),
       |lag AS (SELECT q_id, d_id,
       |    sum(floor(mx * 1000000 + 0.5)::BIGINT) AS smu,
       |    count(*)::BIGINT AS nq
       |  FROM ps GROUP BY 1, 2),
       |lsc AS (SELECT q_id, d_id,
       |    floor(smu::DOUBLE / nq / 1000000 * 1000000 + 0.5) / 1000000
       |      AS li_score
       |  FROM lag)
       |SELECT q_id, d_id, rank::INT AS rank, li_score, pool_sim
       |FROM (SELECT lsc.q_id, lsc.d_id, lsc.li_score, p.pool_sim,
       |        row_number() OVER (PARTITION BY lsc.q_id
       |          ORDER BY lsc.li_score DESC, lsc.d_id) AS rank
       |      FROM lsc JOIN pool p ON p.q_id = lsc.q_id
       |                          AND p.d_id = lsc.d_id)
       |WHERE rank <= $LiK ORDER BY q_id, rank""".stripMargin
  }

  /** Mirror of Retrieval.liPoolRecall: the brute stage-1 pool vs the
    * IVF-probed pool, per-query hit counts. Lazy (the mmrIvfPoolCtes
    * builders initialize later in this object).
    */
  lazy val liPoolRecall: String = {
    import graft.operators.Retrieval.{LiPoolC, QueryMod}
    s"""$normCte,
       |ldx AS (SELECT doc_id, md5(unnest(ws)) AS h FROM n),
       |lds AS (SELECT doc_id, $liSumCols FROM ldx GROUP BY doc_id),
       |dv AS MATERIALIZED (SELECT *, ($liN2)::BIGINT AS n2 FROM lds),
       |pool0 AS (SELECT q.doc_id AS q_id, d.doc_id AS d_id,
       |    (${liDot("q", "d")})::DOUBLE / sqrt(q.n2::DOUBLE)
       |      / sqrt(d.n2::DOUBLE) AS pool_sim
       |  FROM dv q JOIN dv d ON q.doc_id <> d.doc_id
       |  WHERE ((q.doc_id % $QueryMod) + $QueryMod) % $QueryMod = 0
       |    AND ((d.doc_id % $QueryMod) + $QueryMod) % $QueryMod <> 0
       |    AND q.n2 > 0 AND d.n2 > 0),
       |pool_b AS MATERIALIZED (SELECT q_id, d_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY pool_sim DESC, d_id) AS pr FROM pool0)
       |  WHERE pr <= $LiPoolC),
       |${mmrIvfPoolCtes("cand_ivf")},
       |pool_a AS MATERIALIZED (SELECT q_id, d_id FROM (
       |    SELECT q_id, doc_id AS d_id,
       |      row_number() OVER (PARTITION BY q_id
       |                         ORDER BY simq DESC, doc_id) AS pr
       |    FROM cand_ivf) WHERE pr <= $LiPoolC),
       |hit AS (SELECT b.q_id, count(*)::BIGINT AS n_hit
       |  FROM pool_b b SEMI JOIN pool_a a
       |    ON a.q_id = b.q_id AND a.d_id = b.d_id
       |  GROUP BY b.q_id),
       |exc AS (SELECT q_id, count(*)::BIGINT AS n_exact FROM pool_b
       |        GROUP BY 1)
       |SELECT exc.q_id, exc.n_exact,
       |  coalesce(hit.n_hit, 0)::BIGINT AS n_hit,
       |  floor(coalesce(hit.n_hit, 0)::DOUBLE / exc.n_exact
       |        * 10000 + 0.5) / 10000 AS recall
       |FROM exc LEFT JOIN hit ON hit.q_id = exc.q_id
       |ORDER BY exc.q_id""".stripMargin
  }

  /** Mirror of Graph.kCore: the same support-pruned undirected edge
    * set, [[graft.operators.Graph.CorePeelRounds]] peel rounds unrolled
    * (degree count → keep ≥ K → two endpoint semi-joins per round).
    */
  val kCore: String = {
    import graft.operators.Graph
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    // reference, and each round references its predecessor 3x (degree
    // count + two semi-joins) — un-materialized, the base scan inlines
    // 3^rounds times and the oracle dies on open file handles.
    val rounds = (1 to Graph.CorePeelRounds).map { k =>
      s"""kp$k AS MATERIALIZED (SELECT src
         |  FROM (SELECT src, count(*)::BIGINT AS d
         |        FROM ke${k - 1} GROUP BY src) WHERE d >= ${Graph.CoreK}),
         |ke$k AS MATERIALIZED (SELECT e.src, e.dst FROM ke${k - 1} e
         |         SEMI JOIN kp$k a ON e.src = a.src
         |         SEMI JOIN kp$k b ON e.dst = b.src)""".stripMargin
    }
    s"""$graphE0Cte,
       |ke0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0
       |        UNION ALL SELECT pb, pa FROM e0),
       |${rounds.mkString(",\n")}
       |SELECT src AS part, count(*)::BIGINT AS core_deg
       |FROM ke${Graph.CorePeelRounds} GROUP BY src ORDER BY part""".stripMargin
  }

  /** Mirror of Graph.labelProp: [[graft.operators.Graph.LpRounds]]
    * synchronous rounds unrolled (neighbor-label frequency argmax, ties
    * to the smallest label), singleton parts self-labeled.
    */
  val labelProp: String = {
    import graft.operators.Graph
    val rounds = (1 to Graph.LpRounds).map { k =>
      s"""lp$k AS MATERIALIZED (SELECT node, lbl FROM (
         |  SELECT e.dst AS node, l.lbl, count(*) AS c,
         |    row_number() OVER (PARTITION BY e.dst
         |      ORDER BY count(*) DESC, l.lbl) AS rn
         |  FROM le e JOIN lp${k - 1} l ON l.node = e.src
         |  GROUP BY e.dst, l.lbl) WHERE rn = 1)""".stripMargin
    }
    s"""$graphE0Cte,
       |le AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0
       |       UNION ALL SELECT pb, pa FROM e0),
       |lp0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl
       |       FROM le),
       |${rounds.mkString(",\n")}
       |SELECT p.p_partkey, coalesce(l.lbl, p.p_partkey) AS community
       |FROM part p LEFT JOIN lp${Graph.LpRounds} l ON l.node = p.p_partkey
       |ORDER BY p.p_partkey""".stripMargin
  }

  /** Mirror of Sessions.seasonalStrength: the zero-filled
    * type × [min day, max day] grid via range(), exact long moments,
    * 6dp-integer between-group terms summed exactly, fixed-order
    * SSB/SST tail; every sum ::BIGINT.
    */
  val seasonalStrength: String =
    """WITH ev AS (SELECT event_type,
      |    (floor(epoch(ts))::BIGINT // 86400) AS day FROM events),
      |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      |days AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM sp),
      |ty AS (SELECT DISTINCT event_type FROM ev),
      |cnt AS (SELECT event_type, day, count(*)::BIGINT AS c
      |        FROM ev GROUP BY 1, 2),
      |grid AS (SELECT ty.event_type, ((days.day + 3) % 7) AS dow,
      |    coalesce(cnt.c, 0)::BIGINT AS n
      |  FROM ty CROSS JOIN days
      |  LEFT JOIN cnt ON cnt.event_type = ty.event_type
      |              AND cnt.day = days.day),
      |sw AS (SELECT event_type,
      |    sum(floor(sg::DOUBLE * sg / cg * 1000000 + 0.5)::BIGINT)::BIGINT
      |      AS swu
      |  FROM (SELECT event_type, dow, sum(n)::BIGINT AS sg,
      |          count(*)::BIGINT AS cg
      |        FROM grid GROUP BY 1, 2) pd
      |  GROUP BY event_type),
      |tt AS (SELECT event_type, sum(n)::BIGINT AS s,
      |    count(*)::BIGINT AS nd, sum(n * n)::BIGINT AS a
      |  FROM grid GROUP BY event_type)
      |SELECT t.event_type, t.nd AS n_days, t.s AS n_events,
      |  floor(t.s::DOUBLE / t.nd * 10000 + 0.5) / 10000 AS mean_daily,
      |  CASE WHEN (t.a::DOUBLE - t.s::DOUBLE * t.s / t.nd) > 0
      |       THEN floor((sw.swu::DOUBLE / 1000000
      |                   - t.s::DOUBLE * t.s / t.nd)
      |                  / (t.a::DOUBLE - t.s::DOUBLE * t.s / t.nd)
      |                  * 10000 + 0.5) / 10000
      |       END AS dow_strength
      |FROM tt t JOIN sw ON sw.event_type = t.event_type
      |ORDER BY t.event_type""".stripMargin

  /** Mirror of Sessions.weeklyProfile: integer epoch-day dow
    * ((day+3) mod 7, 0 = Monday), the ≤|types|×7 grid, tie-to-earliest
    * peak.
    */
  val weeklyProfile: String =
    """WITH e AS (SELECT event_type,
      |    ((floor(epoch(ts))::BIGINT // 86400 + 3) % 7) AS dow
      |  FROM events),
      |g AS (SELECT event_type, dow, count(*)::BIGINT AS n
      |      FROM e GROUP BY 1, 2),
      |x AS (SELECT *,
      |    sum(n) OVER (PARTITION BY event_type) AS tot,
      |    max(n) OVER (PARTITION BY event_type) AS mx
      |  FROM g),
      |y AS (SELECT *,
      |    min(CASE WHEN n = mx THEN dow END)
      |      OVER (PARTITION BY event_type) AS peak_dow
      |  FROM x)
      |SELECT event_type, dow::INT AS dow, n,
      |  floor(n::DOUBLE / tot * 10000 + 0.5) / 10000 AS share,
      |  (dow = peak_dow) AS is_peak
      |FROM y ORDER BY event_type, dow""".stripMargin

  /** Mirror of Dedup.fuzzyMatch: distinct name vocabulary with entry
    * counts, final-token block, exact Levenshtein verify.
    */
  val fuzzyMatch: String = {
    val d = graft.operators.Dedup.FuzzyMaxDist
    s"""WITH nm AS (SELECT p_name, count(*)::BIGINT AS n_parts
       |           FROM part GROUP BY p_name),
       |v AS (SELECT p_name, n_parts,
       |        string_split(p_name, ' ')[-1] AS blk FROM nm)
       |SELECT a.p_name AS name_a, b.p_name AS name_b,
       |  levenshtein(a.p_name, b.p_name)::INT AS dist,
       |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
       |FROM v a JOIN v b ON a.blk = b.blk AND a.p_name < b.p_name
       |WHERE levenshtein(a.p_name, b.p_name) <= $d
       |ORDER BY name_a, name_b""".stripMargin
  }

  /** Mirror of Dedup.fuzzyClusters: the fuzzyMatch vocabulary + pair
    * CTEs, recursive transitive closure over name pairs (the
    * clusterLabelCtes posture on string keys), windowed entity rollup.
    */
  val fuzzyClusters: String = {
    val d = graft.operators.Dedup.FuzzyMaxDist
    s"""WITH RECURSIVE nm AS (SELECT p_name, count(*)::BIGINT AS n_parts
       |           FROM part GROUP BY p_name),
       |v AS (SELECT p_name, n_parts,
       |        string_split(p_name, ' ')[-1] AS blk FROM nm),
       |p AS (SELECT a.p_name AS id_a, b.p_name AS id_b
       |      FROM v a JOIN v b ON a.blk = b.blk AND a.p_name < b.p_name
       |      WHERE levenshtein(a.p_name, b.p_name) <= $d),
       |e AS (SELECT id_a AS u, id_b AS v FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |lbl AS (SELECT u AS nm2, least(u, min(v)) AS canonical
       |        FROM reach GROUP BY u),
       |mp AS (SELECT nm.p_name, nm.n_parts,
       |         coalesce(l.canonical, nm.p_name) AS canonical
       |       FROM nm LEFT JOIN lbl l ON l.nm2 = nm.p_name)
       |SELECT p_name, canonical, n_parts,
       |  count(*) OVER (PARTITION BY canonical)::BIGINT AS n_names,
       |  sum(n_parts) OVER (PARTITION BY canonical)::BIGINT
       |    AS n_parts_total
       |FROM mp ORDER BY p_name""".stripMargin
  }

  /** Mirror of Sessions.dowAnomalies: the (type, day, dow) grid, exact
    * per-(type, dow) S1/S2 moments in the flagDaily operand order.
    */
  val dowAnomalies: String =
    """WITH dg AS (SELECT event_type,
      |    floor(epoch(ts))::BIGINT // 86400 AS day, count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |dd AS (SELECT *, ((day + 3) % 7)::INT AS dow FROM dg),
      |st AS (SELECT event_type, dow, count(*)::BIGINT AS d,
      |    sum(n)::BIGINT AS s1, sum(n * n)::BIGINT AS s2
      |  FROM dd GROUP BY 1, 2),
      |sm AS (SELECT event_type, dow,
      |    s1::DOUBLE / d AS mean,
      |    sqrt(greatest(s2::DOUBLE / d - (s1::DOUBLE / d) * (s1::DOUBLE / d),
      |                  0.0)) AS sigma
      |  FROM st)
      |SELECT dd.event_type, dd.day, dd.dow, dd.n,
      |  floor(sm.mean * 1000000 + 0.5) / 1000000 AS mean_n,
      |  CASE WHEN sm.sigma > 0
      |       THEN floor((dd.n - sm.mean) / sm.sigma * 10000 + 0.5) / 10000
      |       ELSE 0.0::DOUBLE END AS z,
      |  (dd.n > sm.mean + 3 * sm.sigma) AS is_anomaly
      |FROM dd JOIN sm ON sm.event_type = dd.event_type AND sm.dow = dd.dow
      |ORDER BY dd.event_type, dd.day""".stripMargin

  /** Mirror of TextAnalysis.langidF1: confusion rollups, harmonic-form
    * F1, the exact-unit macro averages (null precisions excluded by
    * count(precision)).
    */
  val langidF1: String = {
    import graft.operators.RefVocab
    val scores = RefVocab.langStopwords.zipWithIndex.map {
      case ((_, stop), i) =>
        s"len(list_filter(dt, x -> list_contains(${listLit(stop)}, x))) * 100 + ${99 - i}"
    }
    val names = listLit(RefVocab.langStopwords.map(_._1))
    s"""WITH w AS (SELECT doc_id, lang,
       |  list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS dt
       |  FROM documents),
       |b AS (SELECT doc_id, lang,
       |        greatest(${scores.mkString(", ")}) AS best FROM w),
       |pr AS (SELECT lang,
       |  CASE WHEN best < 100 THEN '${RefVocab.unknownLang}'
       |       ELSE list_extract($names, 100 - best % 100) END AS lang_pred
       |  FROM b),
       |cf AS (SELECT lang, lang_pred, count(*)::BIGINT AS n
       |       FROM pr GROUP BY 1, 2),
       |tn AS (SELECT lang, sum(n)::BIGINT AS true_n FROM cf GROUP BY 1),
       |pn AS (SELECT lang_pred AS lang, sum(n)::BIGINT AS pred_n
       |       FROM cf GROUP BY 1),
       |tp AS (SELECT lang, n AS tp FROM cf WHERE lang = lang_pred),
       |per AS (SELECT tn.lang, coalesce(tp.tp, 0)::BIGINT AS tp,
       |    tn.true_n, coalesce(pn.pred_n, 0)::BIGINT AS pred_n,
       |    CASE WHEN coalesce(pn.pred_n, 0) > 0 THEN
       |      floor(coalesce(tp.tp, 0)::DOUBLE / pn.pred_n * 10000 + 0.5)
       |        / 10000 END AS precision,
       |    floor(coalesce(tp.tp, 0)::DOUBLE / tn.true_n * 10000 + 0.5)
       |      / 10000 AS recall,
       |    floor(2 * coalesce(tp.tp, 0)::DOUBLE
       |          / (coalesce(pn.pred_n, 0) + tn.true_n) * 10000 + 0.5)
       |      / 10000 AS f1
       |  FROM tn LEFT JOIN pn ON pn.lang = tn.lang
       |          LEFT JOIN tp ON tp.lang = tn.lang),
       |mac AS (SELECT '__macro__' AS lang, sum(tp)::BIGINT AS tp,
       |    sum(true_n)::BIGINT AS true_n, sum(pred_n)::BIGINT AS pred_n,
       |    floor(sum(precision * 10000) / count(precision) + 0.5) / 10000
       |      AS precision,
       |    floor(sum(recall * 10000) / count(recall) + 0.5) / 10000
       |      AS recall,
       |    floor(sum(f1 * 10000) / count(f1) + 0.5) / 10000 AS f1
       |  FROM per)
       |SELECT * FROM per UNION ALL SELECT * FROM mac
       |ORDER BY lang""".stripMargin
  }

  /** Mirror of Multimodal.mediaDedup: raw-byte md5 + length key,
    * min-doc canonical per group.
    */
  /** Mirror of Multimodal.mediaShard: the same 60-bit seeded hash key,
    * pmod shard, within-shard byte running sum and offset-addressed
    * volume index.
    */
  val mediaShard: String = {
    import graft.operators.Multimodal.{MediaShardSeed, MediaShards, MediaVolBytes}
    s"""WITH b AS (SELECT doc_id,
       |    octet_length(encode(text))::BIGINT AS byte_len,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(MediaShardSeed)}'), 1, 15))::BIGINT AS hkey
       |  FROM documents),
       |s AS (SELECT *,
       |    (((hkey % $MediaShards) + $MediaShards) % $MediaShards)::INT AS shard
       |  FROM b),
       |o AS (SELECT doc_id, byte_len, shard,
       |    (sum(byte_len) OVER (PARTITION BY shard ORDER BY hkey, doc_id)
       |      - byte_len)::BIGINT AS byte_offset
       |  FROM s)
       |SELECT doc_id, byte_len, shard,
       |  (byte_offset // $MediaVolBytes)::INT AS volume, byte_offset
       |FROM o""".stripMargin
  }

  /** Mirror of Dedup.bandingCurve: one signature CTE, the dedupRecall
    * exact-pair chain, one bucket-capped candidate CTE + aggregated row
    * per swept (bands, rows) geometry.
    */
  lazy val bandingCurve: String =
    s"$bandingArmsSql\nORDER BY n_bands"

  /** Mirror of Dedup.bandingPick: the arms body under the same
    * meets-then-cost rank window (coalesced recall on both engines so a
    * degenerate zero-truth corpus ranks identically).
    */
  lazy val bandingPick: String = {
    val t = graft.operators.Dedup.BandingRecallTarget
    s"""SELECT n_bands, band_rows, met_target, $t::DOUBLE AS target,
       |  recall, band_precision, n_cand
       |FROM (
       |  SELECT *, coalesce(recall, 0) >= $t AS met_target,
       |    row_number() OVER (ORDER BY
       |      CASE WHEN coalesce(recall, 0) >= $t THEN 0 ELSE 1 END,
       |      CASE WHEN coalesce(recall, 0) >= $t THEN n_cand::DOUBLE
       |           ELSE -coalesce(recall, 0) END,
       |      n_cand, n_bands) AS rk
       |  FROM ($bandingArmsSql))
       |WHERE rk = 1""".stripMargin
  }

  /** The shared (bands, rows)-arm query body — bandingCurve orders it,
    * bandingPick ranks it.
    */
  private lazy val bandingArmsSql: String = {
    import graft.operators.Dedup
    val mins = (0 until 12)
      .map(j => s"min((v1 + $j*v2) % 2147483647) AS m$j").mkString(", ")
    val arms = Dedup.BandingSweep.map { case (b, r) =>
      val bandStrs = (0 until b).map { i =>
        (0 until r).map(j => s"m${r * i + j}::VARCHAR")
          .mkString(" || '_' || ")
      }.mkString("[", ", ", "]")
      val cte =
        s"""bnd$b AS (SELECT doc_id, b,
           |  substr(md5(list_extract($bandStrs, b + 1)), 1, 16) AS key
           |  FROM mh, range(0, $b) t(b)
           |  QUALIFY count(*) OVER (PARTITION BY b, key) <= 1000),
           |cnd$b AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a,
           |    b2.doc_id AS id_b
           |  FROM bnd$b a JOIN bnd$b b2
           |    ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id),
           |hit$b AS (SELECT id_a, id_b FROM cnd$b
           |  WHERE EXISTS (SELECT 1 FROM exj e
           |                WHERE e.id_a = cnd$b.id_a AND e.id_b = cnd$b.id_b))""".stripMargin
      val row =
        s"""SELECT $b AS n_bands, $r AS band_rows,
           |  (SELECT count(*) FROM cnd$b)::BIGINT AS n_cand,
           |  (SELECT count(*) FROM exj)::BIGINT AS n_exact,
           |  (SELECT count(*) FROM hit$b)::BIGINT AS n_caught,
           |  floor((SELECT count(*) FROM hit$b)::DOUBLE
           |        / nullif((SELECT count(*) FROM exj), 0) * 10000 + 0.5)
           |    / 10000 AS recall,
           |  floor((SELECT count(*) FROM hit$b)::DOUBLE
           |        / nullif((SELECT count(*) FROM cnd$b), 0) * 10000 + 0.5)
           |    / 10000 AS band_precision""".stripMargin
      (cte, row)
    }
    s"""$shCte,
       |mex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |mhv AS (SELECT doc_id,
       |  ('0x' || substr(md5(g), 1, 8))::BIGINT AS v1,
       |  ('0x' || substr(md5(g), 9, 8))::BIGINT AS v2 FROM mex),
       |mh AS MATERIALIZED (SELECT doc_id, $mins FROM mhv GROUP BY doc_id),
       |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh),
       |hot AS (SELECT g FROM (SELECT g, count(*) AS df FROM mex GROUP BY g)
       |        WHERE df > ${Dedup.DedupDocFreqCap}),
       |scx AS (SELECT doc_id, g FROM mex ANTI JOIN hot USING (g)),
       |ei AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         count(*)::BIGINT AS inter
       |       FROM scx a JOIN scx b ON a.g = b.g AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |exj AS MATERIALIZED (SELECT id_a, id_b FROM ei
       |        JOIN sz sa ON sa.doc_id = ei.id_a
       |        JOIN sz sb ON sb.doc_id = ei.id_b
       |        WHERE floor(inter::DOUBLE / (sa.n + sb.n - inter)
       |                    * 10000 + 0.5) / 10000
       |              >= ${Dedup.JaccardThreshold}),
       |${arms.map(_._1).mkString(",\n")}
       |SELECT n_bands, band_rows, n_cand, n_exact, n_caught, recall,
       |       band_precision
       |FROM (${arms.map(_._2).mkString("\nUNION ALL\n")})""".stripMargin
  }

  /** The Dedup.isDelta split expression over a doc-id SQL expression —
    * first-8-md5-hex/2^32 under [[graft.operators.Dedup.DeltaSeed]],
    * the stratified_sample primitive (exact binary rational).
    */
  private def isDeltaSql(idExpr: String): String = {
    import graft.operators.Dedup
    s"(('0x' || substr(md5($idExpr::VARCHAR || ':${Dedup.DeltaSeed}')," +
      s" 1, 8))::BIGINT / 4294967296.0 < ${Dedup.DeltaRate})"
  }

  /** Mirror of Dedup.dedupDelta: the batch minhash pair chain restricted
    * to pairs with at least one delta member — equal to the engine's
    * incremental store-join formulation because the combined-count
    * bucket cap it applies at arrival time IS the batch cap (the
    * identity the engine's Scaladoc and DedupSpec pin).
    */
  lazy val dedupDelta: String =
    s"""$shCte,
       |$minhashJCtes
       |SELECT id_a, id_b, jaccard,
       |  CASE WHEN ${isDeltaSql("id_a")} AND ${isDeltaSql("id_b")}
       |       THEN 'delta_delta' ELSE 'delta_base' END AS pair_kind
       |FROM j
       |WHERE jaccard >= $jacThresh
       |  AND (${isDeltaSql("id_a")} OR ${isDeltaSql("id_b")})
       |ORDER BY id_a, id_b""".stripMargin

  /** Mirror of Curation.arrivalReport: the four stage signals from the
    * existing single-sourced chains (dedupExact's hashes, dedupDelta's
    * verified pairs, qualityFilter, decontaminate), reduced under the
    * arrival precedence. The exact-dup rule is arrival-time (store
    * wins regardless of id; then smaller shard id), NOT the batch
    * global-min canonical.
    */
  lazy val arrivalReport: String =
    s"""WITH dxh AS (SELECT doc_id, text_hash FROM ($dedupExact)),
       |sharddx AS (SELECT doc_id, text_hash FROM dxh
       |            WHERE ${isDeltaSql("doc_id")}),
       |exd AS (SELECT s.doc_id,
       |    (EXISTS (SELECT 1 FROM dxh b
       |             WHERE b.text_hash = s.text_hash
       |               AND NOT ${isDeltaSql("b.doc_id")})
       |     OR EXISTS (SELECT 1 FROM sharddx s2
       |             WHERE s2.text_hash = s.text_hash
       |               AND s2.doc_id < s.doc_id)) AS exact_dup
       |  FROM sharddx s),
       |dd AS (SELECT * FROM ($dedupDelta)),
       |drops AS (SELECT DISTINCT CASE
       |    WHEN pair_kind = 'delta_base' THEN
       |      CASE WHEN ${isDeltaSql("id_a")} THEN id_a ELSE id_b END
       |    ELSE id_b END AS doc_id
       |  FROM dd),
       |qf AS (SELECT doc_id, keep FROM ($qualityFilter)
       |       WHERE ${isDeltaSql("doc_id")}),
       |cont AS (SELECT doc_id FROM ($decontaminate))
       |SELECT q.doc_id,
       |  CASE WHEN NOT q.keep THEN 'quality'
       |       WHEN e.exact_dup THEN 'exact_dup'
       |       WHEN drops.doc_id IS NOT NULL THEN 'near_dup'
       |       WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
       |       ELSE 'kept' END AS stage
       |FROM qf q JOIN exd e USING (doc_id)
       |LEFT JOIN drops USING (doc_id)
       |LEFT JOIN cont USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Mirror of Curation.storeCoverage: the CONTRACT side — each
    * artifact's expected key population with zero drift. The engine
    * measures the artifacts; hash equality against this contract IS
    * the reconciliation (a stale or partial store fails the gate).
    */
  lazy val storeCoverage: String =
    s"""$shCte,
       |bs AS (SELECT count(*)::BIGINT AS n FROM sh
       |       WHERE NOT ${isDeltaSql("doc_id")}),
       |hs AS (SELECT count(DISTINCT md5(array_to_string(ws, ' ')))::BIGINT
       |         AS n
       |       FROM n WHERE NOT ${isDeltaSql("doc_id")}),
       |em AS (SELECT count(*)::BIGINT AS n FROM embeddings)
       |SELECT * FROM (
       |  SELECT 'band_store' AS artifact, n AS n_present, n AS n_expected,
       |    0::BIGINT AS n_missing, 0::BIGINT AS n_extra FROM bs
       |  UNION ALL SELECT 'bq_codes', n, n, 0, 0 FROM em
       |  UNION ALL SELECT 'hash_store', n, n, 0, 0 FROM hs
       |  UNION ALL SELECT 'ivf_lists', n, n, 0, 0 FROM em)
       |ORDER BY artifact""".stripMargin

  /** Mirror of Curation.arrivalFunnel: the arrivalReport manifest as a
    * derived table, token mass from the same whitespace expression as
    * curationFunnel, zero-filled stage grid, grid-sized cumulative.
    */
  lazy val arrivalFunnel: String = {
    val grid = graft.operators.Curation.ArrivalStages
      .map { case (o, s) => s"($o, '$s')" }.mkString(", ")
    s"""WITH am AS (SELECT * FROM ($arrivalReport)),
       |atok AS (SELECT doc_id,
       |    len(list_filter(string_split(text, ' '),
       |                    x -> x <> ''))::BIGINT AS t
       |  FROM documents),
       |aag AS (SELECT am.stage, count(*)::BIGINT AS n_docs,
       |          sum(atok.t)::BIGINT AS n_tokens
       |        FROM am JOIN atok ON atok.doc_id = am.doc_id
       |        GROUP BY 1),
       |agr AS (SELECT v.ord, v.stage,
       |          coalesce(aag.n_docs, 0::BIGINT) AS n_docs,
       |          coalesce(aag.n_tokens, 0::BIGINT) AS n_tokens
       |        FROM (VALUES $grid) v(ord, stage)
       |        LEFT JOIN aag ON aag.stage = v.stage),
       |att AS (SELECT sum(n_docs)::BIGINT AS td,
       |          sum(n_tokens)::BIGINT AS tt FROM agr),
       |acu AS (SELECT *,
       |          sum(CASE WHEN stage <> 'kept' THEN n_docs ELSE 0 END)
       |            OVER wo AS cd,
       |          sum(CASE WHEN stage <> 'kept' THEN n_tokens ELSE 0 END)
       |            OVER wo AS ct
       |        FROM agr
       |        WINDOW wo AS (ORDER BY ord ROWS UNBOUNDED PRECEDING))
       |SELECT ord::INT AS ord, stage, n_docs, n_tokens,
       |  (td - cd)::BIGINT AS docs_remaining,
       |  (tt - ct)::BIGINT AS tokens_remaining,
       |  CASE WHEN td > 0
       |    THEN floor((td - cd)::DOUBLE / td * 10000 + 0.5) / 10000
       |  END AS share_remaining
       |FROM acu, att ORDER BY ord""".stripMargin
  }

  /** Mirror of Dedup.bandStoreStats: band rows over the base (non-delta)
    * corpus — the persisted store's contents re-derived inline — bucket
    * sizes, then per-band capacity aggregates.
    */
  lazy val bandStoreStats: String = {
    import graft.operators.Dedup
    val mins = (0 until 12)
      .map(j => s"min((v1 + $j*v2) % 2147483647) AS m$j").mkString(", ")
    val bandStrs = (0 until 4).map { b =>
      s"m${3 * b}::VARCHAR || '_' || m${3 * b + 1}::VARCHAR || '_' || m${3 * b + 2}::VARCHAR"
    }.mkString("[", ", ", "]")
    s"""$shCte,
       |exd AS (SELECT doc_id, unnest(s) AS g FROM sh
       |        WHERE NOT ${isDeltaSql("doc_id")}),
       |hvd AS (SELECT doc_id,
       |  ('0x' || substr(md5(g), 1, 8))::BIGINT AS v1,
       |  ('0x' || substr(md5(g), 9, 8))::BIGINT AS v2 FROM exd),
       |mhd AS (SELECT doc_id, $mins FROM hvd GROUP BY doc_id),
       |bnd AS (SELECT doc_id, b,
       |  substr(md5(list_extract($bandStrs, b + 1)), 1, 16) AS key
       |  FROM mhd, range(0, 4) t(b)),
       |bk AS (SELECT b::INT AS band, key, count(*)::BIGINT AS n
       |       FROM bnd GROUP BY 1, 2)
       |SELECT band, count(*)::BIGINT AS n_buckets,
       |  sum(n)::BIGINT AS n_rows, max(n)::BIGINT AS max_bucket,
       |  floor(sum(n)::DOUBLE / count(*) * 10000 + 0.5) / 10000
       |    AS mean_bucket,
       |  sum(CASE WHEN n > ${Dedup.BUCKET_CAP} THEN 1 ELSE 0 END)::BIGINT
       |    AS n_over_cap,
       |  floor(sum(CASE WHEN n > ${Dedup.BUCKET_CAP} THEN n ELSE 0 END)::DOUBLE
       |        / sum(n) * 10000 + 0.5) / 10000 AS over_cap_row_share
       |FROM bk GROUP BY band ORDER BY band""".stripMargin
  }

  val mediaDedup: String =
    """WITH b AS (SELECT doc_id, md5(text) AS content_md5,
      |             octet_length(encode(text))::BIGINT AS byte_len
      |           FROM documents),
      |g AS (SELECT *, min(doc_id) OVER w AS canonical,
      |        count(*) OVER w AS n_copies
      |      FROM b WINDOW w AS (PARTITION BY content_md5, byte_len))
      |SELECT doc_id, content_md5, byte_len, canonical, n_copies,
      |  (doc_id <> canonical) AS is_dup
      |FROM g ORDER BY doc_id""".stripMargin

  /** Mirror of Multimodal.frameDedup: fixed-width chunk windows over
    * the payload. The corpus text is ASCII (a standing testdata
    * invariant the mediaDedup mirror also leans on), so VARCHAR
    * substring is byte-exact against Spark's binary substring.
    */
  val frameDedup: String = {
    import graft.operators.Multimodal.FrameChunkBytes
    val w = FrameChunkBytes
    s"""WITH ch AS (SELECT doc_id,
       |    md5(substring(text, k * $w + 1, $w)) AS chunk_md5
       |  FROM (SELECT doc_id, text,
       |          unnest(range(0, (length(text) + ${w - 1}) // $w)) AS k
       |        FROM documents)),
       |pd AS (SELECT chunk_md5, doc_id, count(*)::BIGINT AS c
       |       FROM ch GROUP BY 1, 2),
       |g AS (SELECT chunk_md5, count(*)::BIGINT AS n_assets,
       |        sum(c)::BIGINT AS n_copies, min(doc_id) AS canonical
       |      FROM pd GROUP BY 1)
       |SELECT chunk_md5, n_assets, n_copies, canonical
       |FROM g WHERE n_assets >= 2 ORDER BY chunk_md5""".stripMargin
  }

  /** Mirror of Multimodal.cdcDedupOf: content-defined chunk boundaries
    * (first 8 md5 hex digits of each trailing window, mod CdcModulus),
    * lag-window chunk spans, frameDedup's rollup. ASCII invariant as
    * frameDedup.
    */
  val cdcDedup: String = {
    import graft.operators.Multimodal.{CdcWindowBytes, CdcModulus}
    val w = CdcWindowBytes
    s"""WITH base AS (SELECT doc_id, text, length(text)::INT AS n
       |  FROM documents WHERE length(text) >= 1),
       |cand AS (SELECT doc_id, i::INT AS e FROM (
       |    SELECT doc_id, text, unnest(range($w, n + 1)) AS i
       |    FROM base WHERE n >= $w)
       |  WHERE ('0x' || substr(md5(substring(text, i - ${w - 1}, $w)),
       |                        1, 8))::BIGINT % $CdcModulus = 0),
       |ends AS (SELECT DISTINCT doc_id, e FROM (
       |    SELECT doc_id, e FROM cand
       |    UNION ALL SELECT doc_id, n AS e FROM base)),
       |sp AS (SELECT doc_id,
       |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0)
       |      AS pe, e
       |  FROM ends),
       |ck AS (SELECT sp.doc_id,
       |    md5(substring(b.text, sp.pe + 1, sp.e - sp.pe)) AS chunk_md5
       |  FROM sp JOIN base b ON sp.doc_id = b.doc_id),
       |pd AS (SELECT chunk_md5, doc_id, count(*)::BIGINT AS c
       |       FROM ck GROUP BY 1, 2),
       |g AS (SELECT chunk_md5, count(*)::BIGINT AS n_assets,
       |        sum(c)::BIGINT AS n_copies, min(doc_id) AS canonical
       |      FROM pd GROUP BY 1)
       |SELECT chunk_md5, n_assets, n_copies, canonical
       |FROM g WHERE n_assets >= 2 ORDER BY chunk_md5""".stripMargin
  }

  /** Mirror of Multimodal.phashDedup: 64 sampled-byte cells, exact
    * integer mean threshold (p·64 > Σp), two 32-bit halves, 4×16-bit
    * band join under the shared bucket cap, exact popcount verify.
    */
  val phashDedup: String = {
    import graft.operators.Dedup.BUCKET_CAP
    import graft.operators.Multimodal.PhashMaxHamming
    s"""WITH pb AS (SELECT doc_id, text, length(text)::BIGINT AS n
       |  FROM documents WHERE length(text) >= 1),
       |ph AS (SELECT doc_id, k,
       |    ascii(substring(text, ((k * n) // 64 + 1)::INT, 1))::BIGINT
       |      AS p
       |  FROM pb, range(0, 64) t(k)),
       |pps AS (SELECT doc_id, sum(p)::BIGINT AS s FROM ph
       |        GROUP BY doc_id),
       |psg AS (SELECT ph.doc_id,
       |    sum(CASE WHEN ph.p * 64 > pps.s AND ph.k < 32
       |        THEN (1::BIGINT << (31 - ph.k)::INT) ELSE 0 END)::BIGINT
       |      AS h1,
       |    sum(CASE WHEN ph.p * 64 > pps.s AND ph.k >= 32
       |        THEN (1::BIGINT << (63 - ph.k)::INT) ELSE 0 END)::BIGINT
       |      AS h2
       |  FROM ph JOIN pps USING (doc_id) GROUP BY ph.doc_id),
       |pbd AS (SELECT doc_id, band,
       |    CASE band WHEN 0 THEN h1 // 65536 WHEN 1 THEN h1 % 65536
       |              WHEN 2 THEN h2 // 65536 ELSE h2 % 65536 END AS key
       |  FROM psg, (VALUES (0), (1), (2), (3)) b(band)),
       |pbc AS (SELECT pbd.doc_id, pbd.band, pbd.key FROM pbd
       |  JOIN (SELECT band, key, count(*) AS c FROM pbd GROUP BY 1, 2) z
       |    ON z.band = pbd.band AND z.key = pbd.key
       |  WHERE z.c <= $BUCKET_CAP),
       |pcp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM pbc a JOIN pbc b
       |    ON a.band = b.band AND a.key = b.key
       |      AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  (bit_count(xor(sa.h1, sb.h1))
       |   + bit_count(xor(sa.h2, sb.h2)))::INT AS hamming
       |FROM pcp
       |JOIN psg sa ON sa.doc_id = pcp.id_a
       |JOIN psg sb ON sb.doc_id = pcp.id_b
       |WHERE (bit_count(xor(sa.h1, sb.h1))
       |       + bit_count(xor(sa.h2, sb.h2))) <= $PhashMaxHamming""".stripMargin
  }

  /** Mirror of Sessions.userOverlap: distinct (type, user) audience
    * sets, bounded self-join, exact counts, 4dp jaccard/lift in the
    * identical operand order.
    */
  val userOverlap: String =
    """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
      |sz AS (SELECT event_type, count(*)::BIGINT AS n FROM ut GROUP BY 1),
      |tu AS (SELECT count(DISTINCT user_id)::BIGINT AS tu FROM ut),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |        count(*)::BIGINT AS n_both
      |      FROM ut a JOIN ut b ON a.user_id = b.user_id
      |        AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
      |  floor(n_both::DOUBLE / (sa.n + sb.n - n_both) * 10000 + 0.5)
      |    / 10000 AS jaccard,
      |  floor(n_both::DOUBLE * tu / sa.n / sb.n * 10000 + 0.5)
      |    / 10000 AS lift
      |FROM p JOIN sz sa ON sa.event_type = type_a
      |       JOIN sz sb ON sb.event_type = type_b, tu
      |ORDER BY type_a, type_b""".stripMargin

  /** Mirror of Analytics.revenueConcentration: exact integer cents per
    * customer, the session_gaps power-of-two binning, bin-grid shares
    * and the top-down cumulative, all divisions in mirrored order.
    */
  val revenueConcentration: String =
    """WITH pc AS (SELECT o_custkey,
      |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::HUGEINT AS rc
      |  FROM orders GROUP BY o_custkey),
      |pb AS (SELECT (1::BIGINT << (length(bin(rc::BIGINT)) - 1)) AS bin_lo,
      |         rc FROM pc),
      |b AS (SELECT bin_lo, count(*)::BIGINT AS n_customers,
      |        sum(rc) AS bc FROM pb GROUP BY bin_lo),
      |t AS (SELECT sum(n_customers)::BIGINT AS tn, sum(bc) AS tc FROM b),
      |x AS (SELECT *, sum(bc) OVER (ORDER BY bin_lo DESC
      |        ROWS UNBOUNDED PRECEDING) AS cum_bc FROM b)
      |SELECT bin_lo, n_customers,
      |  floor(bc::DOUBLE + 0.5) / 100 AS revenue,
      |  floor(n_customers::DOUBLE / tn * 10000 + 0.5) / 10000
      |    AS cust_share,
      |  floor(bc::DOUBLE / tc::DOUBLE * 10000 + 0.5) / 10000
      |    AS rev_share,
      |  floor(cum_bc::DOUBLE / tc::DOUBLE * 10000 + 0.5) / 10000
      |    AS cum_rev_share_top
      |FROM x, t ORDER BY bin_lo DESC""".stripMargin

  /** Mirror of Curation.curriculumOrder: the ccnetBuckets chain gated
    * by the quality keep, head/middle/tail phases, the
    * stratified_sample (doc_id, seed) hash as the within-phase order.
    */
  val curriculumOrder: String = {
    import graft.operators.Curation.SampleSeed
    s"""WITH $qualityKeepCtes,
       |${perplexityScoreCtes("px")},
       |$ccnetThresholdCtes,
       |kb AS (SELECT px.doc_id, px.lang,
       |    CASE WHEN px.ppl <= th.t1 THEN 'head'
       |         WHEN px.ppl <= th.t2 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM px JOIN th ON th.lang = px.lang
       |  JOIN qf ON qf.doc_id = px.doc_id WHERE qf.keep),
       |o AS (SELECT doc_id, lang, bucket,
       |    CASE bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1
       |      ELSE 2 END AS phase,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':${sq(SampleSeed)}'),
       |      1, 8))::BIGINT AS h
       |  FROM kb)
       |SELECT doc_id, lang, bucket, phase::INT AS phase,
       |  row_number() OVER (PARTITION BY phase ORDER BY h, doc_id)::BIGINT
       |    AS pos
       |FROM o ORDER BY phase, pos""".stripMargin
  }

  /** Mirror of Dedup.minhashError: the minhashJCtes signature (mh) and
    * verified pair (j) chains, exact match counts and 1e-4-unit error
    * numerators, one mirrored final division set.
    */
  val minhashError: String = {
    import graft.operators.Dedup.MINHASHES
    val matches = (0 until MINHASHES)
      .map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")::BIGINT")
    s"""$shCte,
       |$minhashJCtes,
       |pe AS (SELECT $matches AS m,
       |         floor(j.jaccard * 10000 + 0.5)::BIGINT AS ju
       |       FROM j JOIN mh a ON a.doc_id = j.id_a
       |              JOIN mh b ON b.doc_id = j.id_b
       |       WHERE j.jaccard >= ${graft.operators.Dedup.JaccardThreshold}),
       |ag AS (SELECT count(*)::BIGINT AS n_pairs, sum(m)::BIGINT AS sm,
       |         sum(ju)::BIGINT AS sj,
       |         sum(abs(m * 10000 - $MINHASHES * ju))::BIGINT AS sae
       |       FROM pe)
       |SELECT n_pairs,
       |  floor(sm::DOUBLE / $MINHASHES / n_pairs * 10000 + 0.5) / 10000
       |    AS mean_est,
       |  floor(sj::DOUBLE / 10000 / n_pairs * 10000 + 0.5) / 10000
       |    AS mean_jaccard,
       |  floor(sae::DOUBLE / $MINHASHES / 10000 / n_pairs * 10000 + 0.5)
       |    / 10000 AS mean_abs_err,
       |  floor((sm * 10000 - $MINHASHES * sj)::DOUBLE / $MINHASHES / 10000
       |        / n_pairs * 10000 + 0.5) / 10000 AS bias
       |FROM ag""".stripMargin
  }

  /** Mirror of Dedup.containmentDup: the dedup_recall inverted-index
    * formulation — df-capped shingle join, TRUE set sizes from the
    * uncapped shingle lists, smaller-side containment, the same
    * ≥0.8 / <0.5 band.
    */
  val containmentDup: String = {
    val cap = graft.operators.Dedup.DedupDocFreqCap
    val ct = graft.operators.Dedup.ContainmentThreshold
    val jt = graft.operators.Dedup.JaccardThreshold
    s"""$shCte,
       |cdx AS (SELECT doc_id, md5(array_to_string(ws, ' ')) AS text_hash
       |        FROM n),
       |cn AS (SELECT min(doc_id) AS doc_id FROM cdx GROUP BY text_hash),
       |shc AS (SELECT sh.* FROM sh SEMI JOIN cn USING (doc_id)),
       |ex AS (SELECT doc_id, unnest(s) AS g FROM shc),
       |hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) > $cap),
       |sc AS (SELECT ex.doc_id, ex.g FROM ex
       |       ANTI JOIN hot ON ex.g = hot.g),
       |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM shc),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |        count(*)::BIGINT AS inter
       |      FROM sc a JOIN sc b ON a.g = b.g AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |j AS (SELECT id_a, id_b, inter, sa.n AS na, sb.n AS nb
       |      FROM p JOIN sz sa ON sa.doc_id = id_a
       |             JOIN sz sb ON sb.doc_id = id_b),
       |c AS (SELECT
       |    CASE WHEN na <= nb THEN id_a ELSE id_b END AS contained_id,
       |    CASE WHEN na <= nb THEN id_b ELSE id_a END AS container_id,
       |    least(na, nb) AS n_contained, inter,
       |    floor(inter::DOUBLE / least(na, nb) * 10000 + 0.5) / 10000
       |      AS containment,
       |    floor(inter::DOUBLE / (na + nb - inter) * 10000 + 0.5) / 10000
       |      AS jaccard
       |  FROM j)
       |SELECT * FROM c
       |WHERE containment >= $ct AND jaccard < $jt
       |ORDER BY contained_id, container_id""".stripMargin
  }

  /** Mirror of Graph.localClustering: same pruned pair set, the
    * canonical-pair 2-path triangle closure of graphStats, each
    * triangle fanned to its three members, integer counts, one 4dp
    * lcc division, top-K by (triangles desc, node).
    */
  val localClustering: String = {
    import graft.operators.Graph
    s"""$graphE0Cte,
       |deg AS (SELECT v, count(*)::BIGINT AS degree FROM (
       |          SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0)
       |        GROUP BY v),
       |tri AS (SELECT ab.a, ab.b, bc.c
       |        FROM (SELECT pa AS a, pb AS b FROM e0) ab
       |        JOIN (SELECT pa AS b, pb AS c FROM e0) bc USING (b)
       |        WHERE EXISTS (SELECT 1 FROM e0
       |                      WHERE pa = ab.a AND pb = bc.c)),
       |tn AS (SELECT v, count(*)::BIGINT AS n_triangles FROM (
       |         SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
       |         UNION ALL SELECT c FROM tri) GROUP BY v)
       |SELECT part, n_triangles, degree, lcc FROM (
       |  SELECT tn.v AS part, tn.n_triangles, deg.degree,
       |    floor(2 * tn.n_triangles::DOUBLE
       |          / (deg.degree * (deg.degree - 1)) * 10000 + 0.5) / 10000
       |      AS lcc,
       |    row_number() OVER (ORDER BY tn.n_triangles DESC, tn.v) AS rn
       |  FROM tn JOIN deg ON deg.v = tn.v)
       |WHERE rn <= ${Graph.LccTopK}
       |ORDER BY n_triangles DESC, part""".stripMargin
  }

  /** Mirror of Analytics.paretoFront: integer-cent prices, the two
    * dominance window maxima (strictly-cheaper running max via a RANGE
    * frame, equal-price partition max) in their single-pass form — the
    * two-stage bucket pre-filter is plan shape, not semantics.
    */
  val paretoFront: String =
    """WITH b AS (SELECT p_partkey,
      |    floor(p_retailprice * 100 + 0.5)::BIGINT AS pu,
      |    p_size::BIGINT AS size FROM part),
      |w AS (SELECT p_partkey, pu, size,
      |    max(size) OVER (ORDER BY pu
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lpm,
      |    max(size) OVER (PARTITION BY pu) AS spm
      |  FROM b)
      |SELECT p_partkey, pu::DOUBLE / 100 AS price, size::INT AS p_size
      |FROM w WHERE (lpm IS NULL OR lpm < size) AND spm = size
      |ORDER BY pu, p_partkey""".stripMargin

  /** Mirror of Sessions.ksDrift: epoch-second midpoint split, the
    * (type, value) grid, exact-integer |cumₐ·n_b − cum_b·nₐ| maxima,
    * 6dp D, and the identical sqrt/exp p-value expression.
    */
  val ksDrift: String =
    """WITH ev AS (SELECT event_type, floor(epoch(ts))::BIGINT AS sec,
      |    floor(value * 1000000 + 0.5)::BIGINT AS vu FROM events),
      |m AS (SELECT (min(sec) + max(sec)) // 2 AS mid FROM ev),
      |grid AS (SELECT event_type, vu,
      |    sum(CASE WHEN sec < mid THEN 1 ELSE 0 END)::BIGINT AS ca,
      |    sum(CASE WHEN sec < mid THEN 0 ELSE 1 END)::BIGINT AS cb
      |  FROM ev, m GROUP BY event_type, vu),
      |c AS (SELECT event_type, vu, ca, cb,
      |    sum(ca) OVER (PARTITION BY event_type) AS na,
      |    sum(cb) OVER (PARTITION BY event_type) AS nb,
      |    sum(ca) OVER (PARTITION BY event_type ORDER BY vu
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
      |    sum(cb) OVER (PARTITION BY event_type ORDER BY vu
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb
      |  FROM grid),
      |p AS (SELECT event_type, na::BIGINT AS na, nb::BIGINT AS nb,
      |    max(abs(cca * nb - ccb * na))::BIGINT AS dint
      |  FROM c GROUP BY 1, 2, 3),
      |q AS (SELECT event_type, na, nb,
      |    CASE WHEN na > 0 AND nb > 0 THEN
      |      floor(dint::DOUBLE / na / nb * 1000000 + 0.5) / 1000000
      |    END AS ks_d FROM p),
      |l AS (SELECT event_type, na, nb, ks_d,
      |    ks_d * sqrt(na::DOUBLE * nb / (na + nb)) AS lam FROM q)
      |SELECT event_type, na AS n_early, nb AS n_late, ks_d,
      |  CASE WHEN ks_d IS NOT NULL THEN
      |    floor(least(1.0, 2.0 * exp(-2.0 * lam * lam)) * 1000000 + 0.5)
      |      / 1000000 END AS p_value
      |FROM l ORDER BY event_type""".stripMargin

  /** Mirror of Sessions.driftGate: the four audit mirrors reduced to
    * the common (monitor, key, stat, threshold, rule, triggered) shape
    * and unioned — single-sourced thresholds.
    */
  lazy val driftGate: String = {
    import graft.operators.Sessions
    s"""SELECT * FROM (
       |SELECT 'ks_value' AS monitor, event_type AS key, p_value AS stat,
       |  ${Sessions.DriftKsAlpha}::DOUBLE AS threshold, 'lt' AS rule,
       |  coalesce(p_value < ${Sessions.DriftKsAlpha}, false) AS triggered
       |FROM ($ksDrift)
       |UNION ALL
       |SELECT 'cusum_count', event_type,
       |  max(greatest(cusum_up, cusum_down)),
       |  ${Sessions.CusumThreshU / 10000.0}::DOUBLE, 'gt',
       |  max(CASE WHEN is_shift THEN 1 ELSE 0 END) = 1
       |FROM ($cusumShift) GROUP BY event_type
       |UNION ALL
       |SELECT 'psi_quality', source, psi,
       |  ${Sessions.DriftPsiBound}::DOUBLE, 'gt',
       |  psi > ${Sessions.DriftPsiBound}
       |FROM ($qualityPsi)
       |UNION ALL
       |SELECT 'embedding_centroid', source, drift_cos,
       |  ${Sessions.DriftCentroidFloor}::DOUBLE, 'lt',
       |  drift_cos < ${Sessions.DriftCentroidFloor}
       |FROM ($embeddingDrift))
       |ORDER BY monitor, key""".stripMargin
  }

  /** Shared CTE chain for the 1e-6-unit centered embedding values:
    * `xc(vec_id, d, xu)` rounded components, `muc(d, mu)` per-dim
    * means, `cc(vec_id, d, cu)` centered integers — the centering of
    * Similarity.dimMeansU6, consumed by pcaPower and the bq family.
    * Every sum casts ::BIGINT before any ::DOUBLE use (a DuckDB
    * HUGEINT→DOUBLE cast is not a single rounding).
    */
  private val centeredCtes: String =
    """xc AS (SELECT vec_id, u.d AS d,
      |    floor(u.x::DOUBLE * 1000000 + 0.5)::BIGINT AS xu
      |  FROM (SELECT vec_id,
      |          unnest(list_transform(range(1, len(embedding) + 1),
      |            j -> {'d': j - 1, 'x': embedding[j]})) AS u
      |        FROM embeddings)),
      |muc AS (SELECT d,
      |    floor(sum(xu)::BIGINT::DOUBLE / count(*) + 0.5)::BIGINT AS mu
      |  FROM xc GROUP BY d),
      |cc AS (SELECT xc.vec_id, xc.d, xc.xu - muc.mu AS cu
      |       FROM xc JOIN muc USING (d))""".stripMargin

  /** Mirror of Similarity.pcaPower: centered scatter (full d×e join —
    * exact sums make the mirrored upper triangle identical), one 1e-6
    * rescale to BIGINT-safe units, PcaSquarings unrolled max-normalized
    * matrix squarings + PcaPowerRounds power rounds, the final Rayleigh
    * quotient on the original scatter. Every sum casts ::BIGINT before
    * any ::DOUBLE use.
    */
  /** The full unrolled PCA chain (centering → scatter → squarings →
    * power rounds → Rayleigh), ending at CTEs vK/qd/rm/l2/tr/nn —
    * shared by the pcaPower and pcaProject mirrors.
    */
  private lazy val pcaChain: String = {
    import graft.operators.Similarity
    val head =
      s"""WITH $centeredCtes,
         |cov AS MATERIALIZED (SELECT a.d AS d, b.d AS e,
         |    floor(sum(a.cu * b.cu)::BIGINT::DOUBLE / 1000000 + 0.5)::BIGINT
         |      AS c6
         |  FROM cc a JOIN cc b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |tr AS (SELECT sum(c6)::BIGINT AS tr FROM cov WHERE d = e),
         |nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
         |mc AS (SELECT max(abs(c6))::BIGINT AS mx FROM cov),
         |s0 AS MATERIALIZED (SELECT d, e,
         |    floor(c6::DOUBLE / mx::DOUBLE * 1000000 + 0.5)::BIGINT AS v
         |  FROM cov, mc)""".stripMargin
    val sqs = (1 to Similarity.PcaSquarings).map { t =>
      s"""p$t AS MATERIALIZED (SELECT a.d AS d, b.e AS e,
         |    sum(a.v * b.v)::BIGINT AS pv
         |  FROM s${t - 1} a JOIN s${t - 1} b ON a.e = b.d GROUP BY 1, 2),
         |mp$t AS (SELECT max(abs(pv))::BIGINT AS mx FROM p$t),
         |s$t AS MATERIALIZED (SELECT d, e,
         |    floor(pv::DOUBLE / mx::DOUBLE * 1000000 + 0.5)::BIGINT AS v
         |  FROM p$t, mp$t)""".stripMargin
    }
    val S = Similarity.PcaSquarings
    val pows = (1 to Similarity.PcaPowerRounds).map { k =>
      s"""w$k AS MATERIALIZED (SELECT s.d, sum(s.v * v.vu)::BIGINT AS w
         |  FROM s$S s JOIN v${k - 1} v ON v.e = s.e GROUP BY s.d),
         |m$k AS (SELECT max(abs(w))::BIGINT AS m FROM w$k),
         |v$k AS MATERIALIZED (SELECT d::INT AS e,
         |    floor(w::DOUBLE / m::DOUBLE * 1000000 + 0.5)::BIGINT AS vu
         |  FROM w$k, m$k)""".stripMargin
    }
    val K = Similarity.PcaPowerRounds
    s"""$head,
       |${sqs.mkString(",\n")},
       |v0 AS (SELECT range::INT AS e, 125000::BIGINT AS vu
       |       FROM range(0, 64)),
       |${pows.mkString(",\n")},
       |rw AS (SELECT cov.d, sum(cov.c6 * v.vu)::BIGINT AS w
       |  FROM cov JOIN v$K v ON v.e = cov.e GROUP BY cov.d),
       |rm AS (SELECT max(abs(w))::BIGINT AS m FROM rw),
       |w6 AS (SELECT d,
       |    floor(w::DOUBLE / m::DOUBLE * 1000000 + 0.5)::BIGINT AS w6
       |  FROM rw, rm),
       |qd AS (SELECT sum(v.vu * w6.w6)::BIGINT AS quad6
       |       FROM v$K v JOIN w6 ON w6.d = v.e),
       |l2 AS (SELECT sum(vu * vu)::BIGINT AS l2 FROM v$K)""".stripMargin
  }

  private def pcaVK: String =
    s"v${graft.operators.Similarity.PcaPowerRounds}"

  lazy val pcaPower: String =
    s"""$pcaChain
       |SELECT e AS dim,
       |  floor(vu::DOUBLE / sqrt(l2::DOUBLE) * 1000000 + 0.5) / 1000000
       |    AS loading,
       |  floor(quad6::DOUBLE / l2 * m / 1000000 / 1000000 / n
       |        * 1000000 + 0.5) / 1000000 AS eigenvalue,
       |  floor(quad6::DOUBLE / l2 * m / 1000000 / tr
       |        * 1000000 + 0.5) / 1000000 AS var_share
       |FROM $pcaVK, qd, rm, l2, tr, nn ORDER BY dim""".stripMargin

  /** Mirror of Similarity.pcaProject: exact-integer projections of the
    * centered vectors onto the stored eigenvector, one fixed-order
    * normalization, identical bin floors.
    */
  lazy val pcaProject: String = {
    import graft.operators.Similarity
    s"""$pcaChain,
       |proj AS (SELECT cc.vec_id, sum(cc.cu * v.vu)::BIGINT AS pu
       |  FROM cc JOIN $pcaVK v ON v.e = cc.d GROUP BY cc.vec_id),
       |bins AS (SELECT floor(pu::DOUBLE / sqrt(l2::DOUBLE) / 1000000
       |    / CAST(${Similarity.PcaBinWidth} AS DOUBLE))::BIGINT AS bin
       |  FROM proj, l2)
       |SELECT bin, bin * CAST(${Similarity.PcaBinWidth} AS DOUBLE)
       |    AS bin_lo,
       |  count(*)::BIGINT AS n_vectors
       |FROM bins GROUP BY bin ORDER BY bin""".stripMargin
  }

  /** Binary-quantization code CTE over [[centeredCtes]]: sign bits
    * packed into two 32-bit halves (bit 63 would overflow a BIGINT
    * shift — the split Similarity.buildBqCodes documents).
    */
  private val bqCodesCte: String =
    """bqc AS (SELECT vec_id,
      |    sum(CASE WHEN d < 32 AND cu > 0
      |        THEN (1::BIGINT << d) ELSE 0 END)::BIGINT AS lo,
      |    sum(CASE WHEN d >= 32 AND cu > 0
      |        THEN (1::BIGINT << (d - 32)) ELSE 0 END)::BIGINT AS hi
      |  FROM cc GROUP BY vec_id)""".stripMargin

  /** Mirror of Similarity.bqTopk: the packed sign-bit codes, XOR +
    * bit_count Hamming over both halves, top-k per query with id
    * tie-break.
    */
  lazy val bqTopk: String = {
    import graft.operators.Similarity
    s"""WITH $centeredCtes,
       |$bqCodesCte,
       |q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM bqc
       |      WHERE vec_id % 100 = 0),
       |h AS (SELECT q.q_id, b.vec_id AS neighbor_id,
       |    (bit_count(xor(b.lo, q.qlo))
       |     + bit_count(xor(b.hi, q.qhi)))::INT AS hamming
       |  FROM bqc b, q WHERE b.vec_id <> q.q_id)
       |SELECT q_id, neighbor_id, hamming, rank::INT AS rank FROM (
       |  SELECT q_id, neighbor_id, hamming,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY hamming, neighbor_id) AS rank
       |  FROM h) WHERE rank <= ${Similarity.BqK}
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Mirror of Similarity.bqRecall: the annRecall exact-truth shape
    * against the Hamming arm's top-3.
    */
  lazy val bqRecall: String =
    s"""WITH ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3),
       |ap AS (SELECT q_id, neighbor_id FROM ($bqTopk))
       |SELECT ex.q_id, count(ap.neighbor_id) AS n_matched,
       |  floor(count(ap.neighbor_id)::DOUBLE / 3 * 10000 + 0.5) / 10000
       |    AS recall
       |FROM ex LEFT JOIN ap ON ap.q_id = ex.q_id
       |                    AND ap.neighbor_id = ex.neighbor_id
       |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin

  /** Shared BQ re-threshold CTE chain over [[centeredCtes]] — balance
    * flags (integer-exact bound rule), per-dim lower median on the 1e-6
    * grid, ending in thr(d, mu, new_thr, flagged).
    */
  private lazy val bqThrCtes: String = {
    import graft.operators.Similarity
    s"""bal AS (SELECT d, count(*)::BIGINT AS n,
       |    sum(CASE WHEN cu > 0 THEN 1 ELSE 0 END)::BIGINT AS n_ones
       |  FROM cc GROUP BY d),
       |flg AS (SELECT d,
       |    abs(10000 * n_ones - 5000 * n)
       |      > ${Similarity.BqBalanceBound10k} * n AS flagged
       |  FROM bal),
       |mdr AS (SELECT d, xu,
       |    row_number() OVER (PARTITION BY d ORDER BY xu, vec_id) AS r,
       |    count(*) OVER (PARTITION BY d) AS n FROM xc),
       |med AS (SELECT d, xu AS med FROM mdr WHERE r = (n + 1) // 2),
       |thr AS (SELECT muc.d, muc.mu,
       |    CASE WHEN flg.flagged THEN med.med ELSE muc.mu END AS new_thr,
       |    flg.flagged
       |  FROM muc JOIN flg USING (d) JOIN med USING (d))""".stripMargin
  }

  /** Mirror of Similarity.bqBitBalance: ones count per dim over the
    * sign-bit rule (cu > 0 ⇔ xu > mu), integer-exact flag bound.
    */
  lazy val bqBitBalance: String = {
    import graft.operators.Similarity
    s"""WITH $centeredCtes,
       |bal AS (SELECT d, count(*)::BIGINT AS n,
       |    sum(CASE WHEN cu > 0 THEN 1 ELSE 0 END)::BIGINT AS n_ones
       |  FROM cc GROUP BY d)
       |SELECT d::INT AS d, n AS n_vecs, n_ones,
       |  floor(n_ones::DOUBLE / n * 10000 + 0.5) / 10000 AS ones_share,
       |  abs(10000 * n_ones - 5000 * n)
       |    > ${Similarity.BqBalanceBound10k} * n AS flagged
       |FROM bal ORDER BY d""".stripMargin
  }

  /** Mirror of Similarity.bqRethreshold: the threshold table joined
    * back onto the component grid, before/after ones and integer flip
    * counts per dim.
    */
  lazy val bqRethreshold: String =
    s"""WITH $centeredCtes,
       |$bqThrCtes,
       |agg AS (SELECT xc.d, thr.mu, thr.new_thr, thr.flagged,
       |    count(*)::BIGINT AS n_vecs,
       |    sum(CASE WHEN xu > thr.mu THEN 1 ELSE 0 END)::BIGINT
       |      AS ones_before,
       |    sum(CASE WHEN xu > thr.new_thr THEN 1 ELSE 0 END)::BIGINT
       |      AS ones_after,
       |    sum(CASE WHEN (xu > thr.mu) <> (xu > thr.new_thr)
       |        THEN 1 ELSE 0 END)::BIGINT AS n_flips
       |  FROM xc JOIN thr USING (d) GROUP BY 1, 2, 3, 4)
       |SELECT d::INT AS d, flagged, mu AS old_thr, new_thr, n_vecs,
       |  ones_before, ones_after,
       |  floor(ones_before::DOUBLE / n_vecs * 10000 + 0.5) / 10000
       |    AS share_before,
       |  floor(ones_after::DOUBLE / n_vecs * 10000 + 0.5) / 10000
       |    AS share_after,
       |  n_flips
       |FROM agg ORDER BY d""".stripMargin

  /** Mirror of Similarity.bqRethresholdRecall: both arms' packed codes
    * from one component pass, per-arm Hamming top-3, dense-truth micro
    * recall rows.
    */
  lazy val bqRethresholdRecall: String = {
    import graft.operators.Similarity
    s"""WITH $centeredCtes,
       |$bqThrCtes,
       |pc AS (SELECT xc.vec_id,
       |    sum(CASE WHEN d < 32 AND xu > thr.mu
       |        THEN (1::BIGINT << d) ELSE 0 END)::BIGINT AS blo,
       |    sum(CASE WHEN d >= 32 AND xu > thr.mu
       |        THEN (1::BIGINT << (d - 32)) ELSE 0 END)::BIGINT AS bhi,
       |    sum(CASE WHEN d < 32 AND xu > thr.new_thr
       |        THEN (1::BIGINT << d) ELSE 0 END)::BIGINT AS rlo,
       |    sum(CASE WHEN d >= 32 AND xu > thr.new_thr
       |        THEN (1::BIGINT << (d - 32)) ELSE 0 END)::BIGINT AS rhi
       |  FROM xc JOIN thr USING (d) GROUP BY xc.vec_id),
       |ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= ${Similarity.BqK}),
       |harm(arm) AS (SELECT * FROM (VALUES ('base'), ('refit'))),
       |hm AS (SELECT harm.arm, q.vec_id AS q_id, b.vec_id AS neighbor_id,
       |    (bit_count(xor(CASE WHEN harm.arm = 'base' THEN b.blo
       |                        ELSE b.rlo END,
       |                   CASE WHEN harm.arm = 'base' THEN q.blo
       |                        ELSE q.rlo END))
       |     + bit_count(xor(CASE WHEN harm.arm = 'base' THEN b.bhi
       |                          ELSE b.rhi END,
       |                     CASE WHEN harm.arm = 'base' THEN q.bhi
       |                          ELSE q.rhi END)))::INT AS hamming
       |  FROM pc b, pc q, harm
       |  WHERE q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id),
       |tk AS (SELECT arm, q_id, neighbor_id FROM (
       |    SELECT arm, q_id, neighbor_id, row_number() OVER (
       |      PARTITION BY arm, q_id ORDER BY hamming, neighbor_id) AS rk
       |    FROM hm) WHERE rk <= ${Similarity.BqK}),
       |mt AS (SELECT tk.arm, count(*)::BIGINT AS n_matched
       |       FROM tk JOIN ex ON tk.q_id = ex.q_id
       |                      AND tk.neighbor_id = ex.neighbor_id
       |       GROUP BY tk.arm),
       |nq AS (SELECT count(DISTINCT q_id)::BIGINT AS n_queries FROM ex)
       |SELECT harm.arm, nq.n_queries,
       |  coalesce(mt.n_matched, 0)::BIGINT AS n_matched,
       |  floor(coalesce(mt.n_matched, 0)::DOUBLE
       |        / (nq.n_queries * ${Similarity.BqK}) * 10000 + 0.5)
       |    / 10000 AS recall
       |FROM harm CROSS JOIN nq LEFT JOIN mt ON mt.arm = harm.arm
       |ORDER BY harm.arm""".stripMargin
  }

  /** Mirror of Similarity.matryoshkaRecall: three prefix-cosine brute
    * rankings (list_slice), the full-dimension exact truth, per-d micro
    * recall@3.
    */
  lazy val matryoshkaRecall: String = {
    import graft.operators.Similarity.{BqK, MrlDims}
    val ds = MrlDims.mkString(", ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
       |           WHERE vec_id % 100 = 0),
       |dd AS (SELECT unnest([$ds]) AS d),
       |arm AS (SELECT d, q_id, neighbor_id FROM (
       |    SELECT dd.d, q.q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY dd.d, q.q_id
       |        ORDER BY list_cosine_similarity(
       |            list_slice(e.embedding, 1, dd.d)::DOUBLE[],
       |            list_slice(q.embedding, 1, dd.d)::DOUBLE[]) DESC,
       |          e.vec_id) AS rnk
       |    FROM embeddings e, q, dd WHERE e.vec_id <> q.q_id)
       |  WHERE rnk <= $BqK),
       |tr AS (SELECT q_id, neighbor_id FROM (
       |    SELECT q.q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
       |                                        q.embedding::DOUBLE[]) DESC,
       |          e.vec_id) AS rnk
       |    FROM embeddings e, q WHERE e.vec_id <> q.q_id)
       |  WHERE rnk <= $BqK),
       |tm AS (SELECT dd.d, tr.q_id, tr.neighbor_id FROM tr, dd),
       |mj AS (SELECT tm.d, tm.q_id, count(a.q_id)::BIGINT AS nm
       |       FROM tm LEFT JOIN arm a ON a.d = tm.d AND a.q_id = tm.q_id
       |         AND a.neighbor_id = tm.neighbor_id
       |       GROUP BY 1, 2)
       |SELECT d::INT AS d, count(*)::BIGINT AS n_queries,
       |  sum(nm)::BIGINT AS n_matched,
       |  floor(sum(nm)::DOUBLE / (count(*) * $BqK) * 10000 + 0.5) / 10000
       |    AS recall
       |FROM mj GROUP BY d ORDER BY d""".stripMargin
  }

  /** Mirror of Analytics.theilSen: the discountElasticity grid, all
    * pairwise 6dp slopes, medians by cumulative position (even count →
    * 6dp mean of the two central values), residual median intercept.
    */
  val theilSen: String =
    """WITH lv AS (SELECT
      |    floor(l_discount * 100 + 0.5)::BIGINT AS xu,
      |    floor(l_quantity * 100 + 0.5)::BIGINT AS qu
      |  FROM lineitem),
      |g AS (SELECT xu, count(*)::BIGINT AS nl, sum(qu)::BIGINT AS sq
      |      FROM lv GROUP BY xu),
      |p AS (SELECT xu,
      |        floor(sq::DOUBLE / nl / 100 * 1000000 + 0.5)::BIGINT AS yu
      |      FROM g),
      |sl AS (SELECT floor((b.yu - a.yu)::DOUBLE / (b.xu - a.xu) / 10000
      |         * 1000000 + 0.5) / 1000000 AS s
      |       FROM p a JOIN p b ON a.xu < b.xu),
      |sm AS (SELECT s, row_number() OVER (ORDER BY s) AS rn,
      |         count(*) OVER () AS cnt FROM sl),
      |m1 AS (SELECT coalesce(
      |    max(CASE WHEN cnt % 2 = 1 AND rn = (cnt + 1) // 2 THEN s END),
      |    floor((max(CASE WHEN cnt % 2 = 0 AND rn = cnt // 2 THEN s END)
      |         + max(CASE WHEN cnt % 2 = 0 AND rn = cnt // 2 + 1
      |               THEN s END)) / 2 * 1000000 + 0.5) / 1000000)
      |      AS slope, max(cnt)::BIGINT AS n_pairs FROM sm),
      |rs AS (SELECT floor((yu::DOUBLE / 1000000
      |         - slope * (xu::DOUBLE / 100)) * 1000000 + 0.5) / 1000000
      |         AS r
      |       FROM p, m1),
      |rm AS (SELECT r, row_number() OVER (ORDER BY r) AS rn,
      |         count(*) OVER () AS cnt FROM rs),
      |m2 AS (SELECT coalesce(
      |    max(CASE WHEN cnt % 2 = 1 AND rn = (cnt + 1) // 2 THEN r END),
      |    floor((max(CASE WHEN cnt % 2 = 0 AND rn = cnt // 2 THEN r END)
      |         + max(CASE WHEN cnt % 2 = 0 AND rn = cnt // 2 + 1
      |               THEN r END)) / 2 * 1000000 + 0.5) / 1000000)
      |      AS intercept FROM rm)
      |SELECT n_pairs, slope, intercept FROM m1, m2""".stripMargin

  /** Mirror of CorpusStats.burstiness: same token list, (term, doc)
    * partial counts, zero-inclusive VMR as s2/s1 − s1/N in one 4dp
    * fixed-order expression, df floor, top-k.
    */
  val burstiness: String = {
    import graft.operators.CorpusStats.{BurstMinDf, BurstTopK}
    s"""$normCte,
       |t AS (SELECT doc_id, unnest(ws) AS term FROM n),
       |nd AS (SELECT count(*)::BIGINT AS nd FROM documents),
       |tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM t
       |       GROUP BY term, doc_id),
       |a AS (SELECT term, sum(tf)::BIGINT AS n_occurrences,
       |        count(*)::BIGINT AS n_docs,
       |        sum(tf * tf)::BIGINT AS s2
       |      FROM tf GROUP BY term)
       |SELECT term, n_occurrences, n_docs, vmr FROM (
       |  SELECT term, n_occurrences, n_docs,
       |    floor((s2::DOUBLE / n_occurrences
       |           - n_occurrences::DOUBLE / nd) * 10000 + 0.5) / 10000
       |      AS vmr,
       |    row_number() OVER (ORDER BY
       |      floor((s2::DOUBLE / n_occurrences
       |             - n_occurrences::DOUBLE / nd) * 10000 + 0.5) / 10000
       |      DESC, term) AS rk
       |  FROM a, nd WHERE n_docs >= $BurstMinDf)
       |WHERE rk <= $BurstTopK ORDER BY vmr DESC, term""".stripMargin
  }

  /** Mirror of Graph.jaccardLinks: same pruned pairs, 2-path wedge
    * count of common neighbors, anti-join against existing edges,
    * exact-integer union size, 4dp Jaccard, top-k.
    */
  val jaccardLinks: String = {
    import graft.operators.Graph
    s"""$graphE0Cte,
       |e AS (SELECT pa AS src, pb AS dst FROM e0
       |      UNION ALL SELECT pb, pa FROM e0),
       |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
       |em AS (SELECT e.src, e.dst FROM e
       |       JOIN deg dm ON dm.src = e.src
       |                  AND dm.deg <= ${Graph.LinkMidDegCap}),
       |cm AS (SELECT x.dst AS a, y.dst AS c, count(*)::BIGINT AS common
       |       FROM em x JOIN em y ON x.src = y.src
       |       WHERE x.dst < y.dst
       |         AND NOT EXISTS (SELECT 1 FROM e0
       |                         WHERE pa = x.dst AND pb = y.dst)
       |       GROUP BY 1, 2)
       |SELECT a, c, common, deg_a, deg_c, jaccard FROM (
       |  SELECT cm.a, cm.c, cm.common, da.deg AS deg_a, dc.deg AS deg_c,
       |    floor(cm.common::DOUBLE / (da.deg + dc.deg - cm.common)
       |          * 10000 + 0.5) / 10000 AS jaccard,
       |    row_number() OVER (ORDER BY
       |      floor(cm.common::DOUBLE / (da.deg + dc.deg - cm.common)
       |            * 10000 + 0.5) / 10000 DESC, cm.a, cm.c) AS rk
       |  FROM cm JOIN deg da ON da.src = cm.a
       |          JOIN deg dc ON dc.src = cm.c)
       |WHERE rk <= ${Graph.LinkTopK} ORDER BY jaccard DESC, a, c""".stripMargin
  }

  /** Mirror of Sessions.attribution: strict (sec, event_id) touch
    * order, 7-day lookback, first/last by window rank, linear split as
    * exact integer division of cents·10⁴ per touch.
    */
  val attribution: String = {
    import graft.operators.Sessions.AttrLookbackSec
    s"""WITH ev AS (SELECT event_id, user_id, event_type,
       |    floor(epoch(ts))::BIGINT AS sec, value FROM events),
       |cv AS (SELECT user_id, sec AS csec, event_id AS cid,
       |         floor(value * 100 + 0.5)::BIGINT AS cents
       |       FROM ev WHERE event_type = 'purchase'),
       |tc AS (SELECT user_id, sec AS tsec, event_id AS tid,
       |         event_type AS ttype
       |       FROM ev WHERE event_type <> 'purchase'),
       |pr AS (SELECT cv.cid, cv.cents, tc.ttype,
       |         row_number() OVER (PARTITION BY cv.cid
       |           ORDER BY tc.tsec, tc.tid) AS rnf,
       |         row_number() OVER (PARTITION BY cv.cid
       |           ORDER BY tc.tsec DESC, tc.tid DESC) AS rnl,
       |         count(*) OVER (PARTITION BY cv.cid) AS cnt
       |       FROM cv JOIN tc ON tc.user_id = cv.user_id
       |       WHERE (tc.tsec < cv.csec
       |              OR (tc.tsec = cv.csec AND tc.tid < cv.cid))
       |         AND cv.csec - tc.tsec <= $AttrLookbackSec)
       |SELECT ttype AS event_type,
       |  sum(CASE WHEN rnf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_first,
       |  sum(CASE WHEN rnf = 1 THEN cents ELSE 0 END)::BIGINT::DOUBLE
       |    / 100 AS first_value,
       |  sum(CASE WHEN rnl = 1 THEN cents ELSE 0 END)::BIGINT::DOUBLE
       |    / 100 AS last_value,
       |  floor(sum((cents * 10000) // cnt)::BIGINT::DOUBLE / 100 + 0.5)
       |    / 10000 AS linear_value
       |FROM pr GROUP BY ttype ORDER BY event_type""".stripMargin
  }

  /** Mirror of Sessions.ewmaChart: the injected exact-rational weight
    * literals, the ≤[[Sessions.EwmaLags]]-deep offset join on the
    * per-type observed-day index, integer head+tail accumulation, the
    * event_anomalies moment path for μ/σ, steady-state 3σ√(λ/(2−λ))
    * limits.
    */
  lazy val ewmaChart: String = {
    import graft.operators.Sessions
    val wRows = Sessions.EwmaWeights
      .map { case (i, u, t) => s"($i, ${u}::BIGINT, ${t}::BIGINT)" }
      .mkString(", ")
    s"""WITH e AS (SELECT event_type,
       |    (floor(epoch(ts))::BIGINT // 86400) AS day FROM events),
       |g AS (SELECT event_type, day, count(*)::BIGINT AS n FROM e
       |      GROUP BY event_type, day),
       |d AS (SELECT event_type, day, n,
       |        row_number() OVER (PARTITION BY event_type ORDER BY day)
       |          AS rn FROM g),
       |s AS (SELECT event_type, count(*)::BIGINT AS cd,
       |        sum(n)::BIGINT AS s1, sum(n * n)::BIGINT AS s2
       |      FROM g GROUP BY event_type),
       |m AS (SELECT event_type, s1::DOUBLE / cd AS mean,
       |        sqrt(greatest(
       |          s2::DOUBLE / cd - (s1::DOUBLE / cd) * (s1::DOUBLE / cd),
       |          0.0)) AS sigma
       |      FROM s),
       |w(i, ui, ti) AS (VALUES $wRows),
       |h AS (SELECT t.event_type, t.rn, t.day,
       |        sum(w.ui * x.n)::BIGINT AS headu,
       |        least(t.rn, ${Sessions.EwmaLags}) AS k
       |      FROM d t JOIN w ON w.i < least(t.rn, ${Sessions.EwmaLags})
       |             JOIN d x ON x.event_type = t.event_type
       |                     AND x.rn = t.rn - w.i
       |      GROUP BY 1, 2, 3),
       |z AS (SELECT h.event_type, h.day,
       |        floor((h.headu + (w.ti * mu.mu) // 1000000)::DOUBLE
       |              / 1000000 * 10000 + 0.5) / 10000 AS z,
       |        mu.mean, mu.sigma
       |      FROM h JOIN w ON w.i = h.k
       |        JOIN (SELECT event_type, mean, sigma,
       |                floor(mean * 1000000 + 0.5)::BIGINT AS mu FROM m)
       |          mu ON mu.event_type = h.event_type),
       |f AS (SELECT event_type, day, z, mean, sigma,
       |        3 * sigma * sqrt(0.2 / 1.8) AS lim FROM z)
       |SELECT event_type, count(*)::BIGINT AS n_days,
       |  sum(CASE WHEN abs(z - mean) > lim THEN 1 ELSE 0 END)::BIGINT
       |    AS n_flagged,
       |  max(CASE WHEN lim > 0 THEN
       |    floor(abs(z - mean) / lim * 10000 + 0.5) / 10000 END)
       |    AS max_ratio
       |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Mirror of Sessions.bradleyTerry: exact-cents per-(user,type)
    * sums, tie-abstaining pairwise wins, BtIters unrolled MM rounds
    * with 1e-6-unit term rounding and mean-1 renormalization.
    */
  lazy val bradleyTerry: String = {
    import graft.operators.Sessions
    val head =
      """WITH ut AS (SELECT user_id, event_type,
        |    sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS su
        |  FROM events GROUP BY user_id, event_type),
        |cmp AS MATERIALIZED (SELECT a.event_type AS ta, b.event_type AS tb,
        |    count(*)::BIGINT AS n,
        |    sum(CASE WHEN a.su > b.su THEN 1 ELSE 0 END)::BIGINT AS wa
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type AND a.su <> b.su
        |  GROUP BY 1, 2),
        |sym AS MATERIALIZED (SELECT ta AS t, tb AS o, n, wa AS w FROM cmp
        |        UNION ALL SELECT tb, ta, n, n - wa FROM cmp),
        |wins AS MATERIALIZED (SELECT t, sum(w)::BIGINT AS wins,
        |           sum(n)::BIGINT AS comparisons
        |         FROM sym GROUP BY t),
        |kk AS (SELECT count(*)::BIGINT AS k FROM wins),
        |p0 AS (SELECT t, 1000000::BIGINT AS pu FROM wins)""".stripMargin
    val iters = (1 to Sessions.BtIters).map { k =>
      s"""tm$k AS (SELECT sym.t,
         |    floor(sym.n::DOUBLE / ((pt.pu + po.pu)::DOUBLE / 1000000)
         |          * 1000000 + 0.5)::BIGINT AS termu
         |  FROM sym JOIN p${k - 1} pt ON pt.t = sym.t
         |           JOIN p${k - 1} po ON po.t = sym.o),
         |s$k AS (SELECT t, sum(termu)::BIGINT AS s FROM tm$k GROUP BY t),
         |r$k AS (SELECT s$k.t,
         |    floor(wins.wins::DOUBLE / (s$k.s::DOUBLE / 1000000)
         |          * 1000000 + 0.5)::BIGINT AS pr
         |  FROM s$k JOIN wins ON wins.t = s$k.t),
         |n$k AS (SELECT sum(pr)::BIGINT AS sp FROM r$k),
         |p$k AS MATERIALIZED (SELECT t,
         |    floor(pr::DOUBLE * k / sp * 1000000 + 0.5)::BIGINT AS pu
         |  FROM r$k, n$k, kk)""".stripMargin
    }
    val K = Sessions.BtIters
    s"""$head,
       |${iters.mkString(",\n")}
       |SELECT wins.t AS event_type, wins.comparisons, wins.wins,
       |  pu::DOUBLE / 1000000 AS strength
       |FROM wins JOIN p$K p ON p.t = wins.t
       |ORDER BY strength DESC, event_type""".stripMargin
  }

  /** Mirror of Sessions.srmCheck: same md5 arm split over distinct
    * users, exact counts, one 4dp chi-square.
    */
  val srmCheck: String = {
    import graft.operators.Sessions.SrmChi2Crit
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |a AS (SELECT
       |    (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2)
       |      ::INT AS arm
       |  FROM u),
       |g AS (SELECT
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
       |  FROM a),
       |c AS (SELECT n_a, n_b,
       |    floor((n_a - n_b) * (n_a - n_b)::DOUBLE / (n_a + n_b)
       |          * 10000 + 0.5) / 10000 AS chi2
       |  FROM g)
       |SELECT n_a, n_b, chi2, chi2 > $SrmChi2Crit AS srm_flag
       |FROM c""".stripMargin
  }

  /** Mirror of CorpusStats.chi2Terms: distinct term presence, exact
    * integer margins, the a·N > dft·ns positive-association gate, one
    * fixed-order 4dp chi-square, per-source top-k.
    */
  val chi2Terms: String = {
    import graft.operators.CorpusStats.{Chi2MinDf, Chi2TopK}
    s"""$normCte,
       |pres AS (SELECT DISTINCT doc_id, source, unnest(ws) AS term
       |         FROM (SELECT n.doc_id, d.source, n.ws FROM n
       |               JOIN documents d ON d.doc_id = n.doc_id)),
       |bs AS (SELECT source, term, count(*)::BIGINT AS a FROM pres
       |       GROUP BY source, term),
       |dt AS (SELECT term, sum(a)::BIGINT AS dft FROM bs GROUP BY term
       |       HAVING sum(a) >= $Chi2MinDf),
       |ns AS (SELECT source, count(*)::BIGINT AS ns FROM documents
       |       GROUP BY source),
       |nt AS (SELECT count(*)::BIGINT AS nt FROM documents),
       |sc AS (SELECT bs.source, bs.term, bs.a AS df_in,
       |    dt.dft - bs.a AS df_out,
       |    floor(nt.nt::DOUBLE
       |      * ((bs.a * (nt.nt - ns.ns - dt.dft + bs.a)
       |          - (dt.dft - bs.a) * (ns.ns - bs.a))::DOUBLE)
       |      * ((bs.a * (nt.nt - ns.ns - dt.dft + bs.a)
       |          - (dt.dft - bs.a) * (ns.ns - bs.a))::DOUBLE)
       |      / dt.dft / (nt.nt - dt.dft) / ns.ns / (nt.nt - ns.ns)
       |      * 10000 + 0.5) / 10000 AS chi2
       |  FROM bs JOIN dt ON dt.term = bs.term
       |          JOIN ns ON ns.source = bs.source, nt
       |  WHERE bs.a * nt.nt > dt.dft * ns.ns)
       |SELECT source, term, df_in, df_out, chi2, rank::INT AS rank
       |FROM (SELECT source, term, df_in, df_out, chi2,
       |        row_number() OVER (PARTITION BY source
       |                           ORDER BY chi2 DESC, term) AS rank
       |      FROM sc)
       |WHERE rank <= $Chi2TopK ORDER BY source, rank""".stripMargin
  }

  /** Shared bottom-k sample bound CTE: the k-th smallest
    * (md5(doc_id), doc_id) key — consumed by bottomkSample and
    * sampleAudit.
    */
  private val sampleBoundCte: String = {
    import graft.operators.Curation.SampleK
    s"""bk AS (SELECT md5(doc_id::VARCHAR) AS h, doc_id FROM documents
       |       ORDER BY h, doc_id LIMIT $SampleK),
       |sb AS (SELECT kh, kid, n_sample FROM (
       |  SELECT h AS kh, doc_id AS kid,
       |    count(*) OVER ()::BIGINT AS n_sample,
       |    row_number() OVER (ORDER BY h DESC, doc_id DESC) AS rn
       |  FROM bk) WHERE rn = 1)""".stripMargin
  }

  /** Mirror of Curation.bottomkSample: membership by comparison
    * against the persisted-equivalent bound.
    */
  val bottomkSample: String =
    s"""WITH $sampleBoundCte
       |SELECT doc_id, source, lang, n_chars FROM (
       |  SELECT md5(doc_id::VARCHAR) AS h, doc_id, source, lang, n_chars
       |  FROM documents), sb
       |WHERE h < kh OR (h = kh AND doc_id <= kid)
       |ORDER BY doc_id""".stripMargin

  /** Mirror of Curation.sampleAudit: the ksDrift exact-integer D over
    * the n_chars grid, sample vs rest, identical p expression.
    */
  val sampleAudit: String =
    s"""WITH $sampleBoundCte,
       |x AS (SELECT n_chars,
       |    (h < kh OR (h = kh AND doc_id <= kid)) AS in_sample
       |  FROM (SELECT md5(doc_id::VARCHAR) AS h, doc_id, n_chars
       |        FROM documents), sb),
       |grid AS (SELECT n_chars,
       |    sum(CASE WHEN in_sample THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN in_sample THEN 0 ELSE 1 END)::BIGINT AS cb
       |  FROM x GROUP BY n_chars),
       |c AS (SELECT n_chars, ca, cb,
       |    sum(ca) OVER (ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
       |    sum(cb) OVER (ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb
       |  FROM grid),
       |t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
       |      FROM grid),
       |p AS (SELECT max(abs(cca * nb - ccb * na))::BIGINT AS dint,
       |        max(na)::BIGINT AS na, max(nb)::BIGINT AS nb
       |      FROM c, t),
       |q AS (SELECT na, nb,
       |    CASE WHEN na > 0 AND nb > 0 THEN
       |      floor(dint::DOUBLE / na / nb * 1000000 + 0.5) / 1000000
       |    END AS ks_d FROM p),
       |l AS (SELECT na, nb, ks_d,
       |    ks_d * sqrt(na::DOUBLE * nb / (na + nb)) AS lam FROM q)
       |SELECT na AS n_sample, nb AS n_rest, ks_d,
       |  CASE WHEN ks_d IS NOT NULL THEN
       |    floor(least(1.0, 2.0 * exp(-2.0 * lam * lam)) * 1000000 + 0.5)
       |      / 1000000 END AS p_value
       |FROM l""".stripMargin

  /** Mirror of Similarity.bqRerank: the bqTopk Hamming candidates to
    * depth max(R), exact-cosine rerank per swept depth, recall vs the
    * brute truth (annRecall's exact side).
    */
  lazy val bqRerank: String = {
    import graft.operators.Similarity
    val maxR = Similarity.BqRerankDepths.max
    val arms = Similarity.BqRerankDepths.map { r =>
      s"""SELECT $r AS rerank_depth,
         |  (count(*) / 3)::BIGINT AS n_queries,
         |  floor(count(a.an)::DOUBLE / count(*) * 10000 + 0.5) / 10000
         |    AS recall
         |FROM ex LEFT JOIN (
         |  SELECT q_id AS aq, neighbor_id AS an FROM (
         |    SELECT q_id, neighbor_id,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY s DESC, neighbor_id) AS rk
         |    FROM sc WHERE hrank <= $r)
         |  WHERE rk <= ${Similarity.BqK}) a
         |  ON a.aq = ex.q_id AND a.an = ex.neighbor_id""".stripMargin
    }
    s"""WITH $centeredCtes,
       |$bqCodesCte,
       |q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM bqc
       |      WHERE vec_id % 100 = 0),
       |h AS MATERIALIZED (SELECT q_id, neighbor_id, hrank FROM (
       |  SELECT q.q_id, b.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY bit_count(xor(b.lo, q.qlo))
       |               + bit_count(xor(b.hi, q.qhi)), b.vec_id) AS hrank
       |  FROM bqc b, q WHERE b.vec_id <> q.q_id)
       |  WHERE hrank <= $maxR),
       |sc AS MATERIALIZED (SELECT h.q_id, h.neighbor_id, h.hrank,
       |    list_cosine_similarity(ne.embedding::DOUBLE[],
       |                           qe.embedding::DOUBLE[]) AS s
       |  FROM h JOIN embeddings ne ON ne.vec_id = h.neighbor_id
       |         JOIN embeddings qe ON qe.vec_id = h.q_id),
       |ex AS MATERIALIZED (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY rerank_depth""".stripMargin
  }

  /** Mirror of Similarity.mrlRerank: the bqRerank arm structure with
    * the prefix-[[graft.operators.Similarity.MrlServeDim]] cosine pool
    * in place of the Hamming pool.
    */
  lazy val mrlRerank: String = {
    import graft.operators.Similarity
    val maxR = Similarity.MrlPoolDepth
    val sd = Similarity.MrlServeDim
    val arms = Similarity.BqRerankDepths.map { r =>
      s"""SELECT $r AS rerank_depth,
         |  (count(*) / 3)::BIGINT AS n_queries,
         |  floor(count(a.an)::DOUBLE / count(*) * 10000 + 0.5) / 10000
         |    AS recall
         |FROM ex LEFT JOIN (
         |  SELECT q_id AS aq, neighbor_id AS an FROM (
         |    SELECT q_id, neighbor_id,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY s DESC, neighbor_id) AS rk
         |    FROM sc WHERE prank <= $r)
         |  WHERE rk <= ${Similarity.BqK}) a
         |  ON a.aq = ex.q_id AND a.an = ex.neighbor_id""".stripMargin
    }
    s"""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
       |           WHERE vec_id % 100 = 0),
       |h AS MATERIALIZED (SELECT q_id, neighbor_id, prank FROM (
       |  SELECT q.q_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY list_cosine_similarity(
       |          list_slice(e.embedding, 1, $sd)::DOUBLE[],
       |          list_slice(q.embedding, 1, $sd)::DOUBLE[]) DESC,
       |        e.vec_id) AS prank
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id)
       |  WHERE prank <= $maxR),
       |sc AS MATERIALIZED (SELECT h.q_id, h.neighbor_id, h.prank,
       |    list_cosine_similarity(ne.embedding::DOUBLE[],
       |                           qe.embedding::DOUBLE[]) AS s
       |  FROM h JOIN embeddings ne ON ne.vec_id = h.neighbor_id
       |         JOIN embeddings qe ON qe.vec_id = h.q_id),
       |ex AS MATERIALIZED (SELECT q_id, neighbor_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |                 e.vec_id) AS rank
       |    FROM embeddings e, embeddings q
       |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY rerank_depth""".stripMargin
  }

  /** Mirror of Sessions.mannWhitney: the ksDrift grid, ×2 average
    * rank-sums (ca·(2k+c+1)), exact tie moments, one fixed-order
    * tie-corrected z.
    */
  val mannWhitney: String = {
    import graft.operators.Sessions.MwZCrit
    s"""WITH ev AS (SELECT event_type, floor(epoch(ts))::BIGINT AS sec,
       |    floor(value * 1000000 + 0.5)::BIGINT AS vu FROM events),
       |md AS (SELECT (min(sec) + max(sec)) // 2 AS mid FROM ev),
       |grid AS (SELECT event_type, vu,
       |    sum(CASE WHEN sec < mid THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN sec < mid THEN 0 ELSE 1 END)::BIGINT AS cb
       |  FROM ev, md GROUP BY event_type, vu),
       |g2 AS (SELECT event_type, vu, ca, cb, ca + cb AS c,
       |    coalesce(sum(ca + cb) OVER (PARTITION BY event_type
       |      ORDER BY vu ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0)::BIGINT AS k
       |  FROM grid),
       |m AS (SELECT event_type, sum(ca)::BIGINT AS na,
       |    sum(cb)::BIGINT AS nb,
       |    sum(ca::DECIMAL(38,0)
       |        * (2 * k::DECIMAL(38,0) + c::DECIMAL(38,0) + 1)) AS rs2,
       |    sum(c::DECIMAL(38,0) * c::DECIMAL(38,0) * c::DECIMAL(38,0)
       |        - c::DECIMAL(38,0)) AS ties
       |  FROM g2 GROUP BY event_type),
       |x AS (SELECT event_type, na, nb,
       |    (rs2 - na::DECIMAL(38,0) * (na::DECIMAL(38,0) + 1))::DOUBLE
       |      AS u2,
       |    sqrt(na::DOUBLE * nb / 12 *
       |      ((na + nb + 1)::DOUBLE
       |       - ties::DOUBLE / ((na + nb)::DOUBLE * (na + nb - 1))))
       |      AS sigma
       |  FROM m)
       |SELECT event_type, na AS n_early, nb AS n_late,
       |  u2 / 2 AS u,
       |  CASE WHEN na > 0 AND nb > 0 AND sigma > 0 THEN
       |    floor((u2 - na::DOUBLE * nb) / (2 * sigma) * 10000 + 0.5)
       |      / 10000 END AS z,
       |  CASE WHEN na > 0 AND nb > 0 AND sigma > 0 THEN
       |    abs(floor((u2 - na::DOUBLE * nb) / (2 * sigma) * 10000 + 0.5)
       |        / 10000) > $MwZCrit END AS significant
       |FROM x ORDER BY event_type""".stripMargin
  }

  /** Mirror of Analytics.giniRevenue: exact-cents per-customer sums,
    * value-grid rank-sums (c·k + c(c+1)/2 per equal-value group,
    * carried ×2), DECIMAL accumulation, one 6dp division.
    */
  val giniRevenue: String =
    """WITH pc AS (SELECT o_custkey,
      |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rc
      |  FROM orders GROUP BY o_custkey),
      |g AS (SELECT rc, count(*)::BIGINT AS c FROM pc GROUP BY rc),
      |w AS (SELECT rc, c,
      |    coalesce(sum(c) OVER (ORDER BY rc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS k
      |  FROM g),
      |m AS (SELECT sum(c)::BIGINT AS n,
      |    sum(rc::DECIMAL(38,0) * c::DECIMAL(38,0)) AS s,
      |    sum(rc::DECIMAL(38,0) * (2 * c::DECIMAL(38,0) * k::DECIMAL(38,0)
      |        + c::DECIMAL(38,0) * (c::DECIMAL(38,0) + 1))) AS t2
      |  FROM w)
      |SELECT n AS n_customers, s::DOUBLE / 100 AS total_revenue,
      |  floor((t2 - (n::DECIMAL(38,0) + 1) * s)::DOUBLE
      |        / ((n::DECIMAL(38,0)) * s)::DOUBLE * 1000000 + 0.5)
      |    / 1000000 AS gini
      |FROM m""".stripMargin

  /** Mirror of Analytics.acfRevenue: integer-dollar daily totals,
    * rounded-mean centering, exact product sums per calendar-day lag.
    */
  val acfRevenue: String = {
    import graft.operators.Analytics.AcfMaxLag
    s"""WITH d AS (SELECT
       |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
       |      AS day,
       |    floor(o_totalprice * 100 + 0.5)::BIGINT AS cu FROM orders),
       |g AS (SELECT day,
       |    floor(sum(cu)::BIGINT::DOUBLE / 100 + 0.5)::BIGINT AS xu
       |  FROM d GROUP BY day),
       |mm AS (SELECT floor(sum(xu)::BIGINT::DOUBLE / count(*) + 0.5)
       |         ::BIGINT AS mu FROM g),
       |c AS (SELECT day, xu - mu AS c FROM g, mm),
       |dn AS (SELECT sum(c * c)::BIGINT AS den FROM c),
       |l AS (SELECT range::INT AS lag FROM range(1, ${AcfMaxLag + 1})),
       |p AS (SELECT l.lag, count(*)::BIGINT AS n_pairs,
       |        sum(a.c * b.c)::BIGINT AS num
       |      FROM l JOIN c a ON true JOIN c b ON b.day = a.day - l.lag
       |      GROUP BY l.lag)
       |SELECT lag, n_pairs,
       |  CASE WHEN den > 0
       |       THEN floor(num::DOUBLE / den * 1000000 + 0.5) / 1000000
       |  END AS acf
       |FROM p, dn ORDER BY lag""".stripMargin
  }

  /** Mirror of Analytics.benfordCheck: string first digit of integer
    * dollars, ln-ratio expected shares, 1e-6-unit exact χ² term sums.
    */
  val benfordCheck: String =
    """WITH dg AS (SELECT
      |    substr(du::VARCHAR, 1, 1)::INT AS digit
      |  FROM (SELECT floor(o_totalprice * 100 + 0.5)::BIGINT // 100 AS du
      |        FROM orders) WHERE du >= 1),
      |g0 AS (SELECT digit, count(*)::BIGINT AS n_obs FROM dg
      |       GROUP BY digit),
      |g AS (SELECT gr.digit, coalesce(g0.n_obs, 0::BIGINT) AS n_obs
      |      FROM (SELECT digit::INT AS digit
      |            FROM range(1, 10) t(digit)) gr
      |      LEFT JOIN g0 USING (digit)),
      |t AS (SELECT sum(n_obs)::BIGINT AS n FROM g),
      |sc AS (SELECT digit, n_obs,
      |    floor(n_obs::DOUBLE / n * 1000000 + 0.5) / 1000000 AS obs_share,
      |    floor(ln(1.0::DOUBLE + 1.0::DOUBLE / digit) / ln(10.0::DOUBLE)
      |          * 1000000 + 0.5) / 1000000 AS exp_share,
      |    n
      |  FROM g, t),
      |x AS (SELECT sum(floor((n_obs - exp_share * n)
      |        * (n_obs - exp_share * n) / (exp_share * n) * 1000000
      |        + 0.5)::BIGINT)::BIGINT AS t6 FROM sc),
      |c2 AS (SELECT floor(t6::DOUBLE / 1000000 * 10000 + 0.5) / 10000
      |         AS chi2 FROM x)
      |SELECT digit, n_obs, obs_share, exp_share, chi2
      |FROM sc, c2 ORDER BY digit""".stripMargin

  /** Mirror of Sessions.markovStationary: the event_transitions row
    * normalization in 1e-6 units, MkIters unrolled exact matvec +
    * renormalize rounds, empirical shares.
    */
  lazy val markovStationary: String = {
    import graft.operators.Sessions
    val head =
      """WITH b AS (SELECT user_id, event_id, event_type,
        |    floor(epoch(ts))::BIGINT AS sec FROM events),
        |tr AS MATERIALIZED (SELECT from_type, to_type,
        |    floor(n::DOUBLE / sum(n) OVER (PARTITION BY from_type)
        |          * 1000000 + 0.5)::BIGINT AS pu
        |  FROM (SELECT from_type, to_type, count(*)::BIGINT AS n FROM (
        |      SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY sec, event_id) AS to_type
        |      FROM b) WHERE to_type IS NOT NULL GROUP BY 1, 2)),
        |emp AS MATERIALIZED (SELECT event_type, count(*)::BIGINT AS ne
        |  FROM b GROUP BY event_type),
        |kk AS (SELECT count(*)::BIGINT AS k, sum(ne)::BIGINT AS tot
        |       FROM emp),
        |p0 AS (SELECT event_type AS t,
        |    floor(1000000.0::DOUBLE / k + 0.5)::BIGINT AS vu
        |  FROM emp, kk)""".stripMargin
    val iters = (1 to Sessions.MkIters).map { i =>
      s"""r$i AS (SELECT tr.to_type, sum(tr.pu * p.vu)::BIGINT AS raw
         |  FROM tr JOIN p${i - 1} p ON p.t = tr.from_type
         |  GROUP BY tr.to_type),
         |s$i AS (SELECT sum(raw)::BIGINT AS s FROM r$i),
         |p$i AS MATERIALIZED (SELECT to_type AS t,
         |    floor(raw::DOUBLE / s * 1000000 + 0.5)::BIGINT AS vu
         |  FROM r$i, s$i)""".stripMargin
    }
    val K = Sessions.MkIters
    s"""$head,
       |${iters.mkString(",\n")}
       |SELECT emp.event_type,
       |  coalesce(p.vu, 0)::DOUBLE / 1000000 AS stationary,
       |  floor(ne::DOUBLE / tot * 1000000 + 0.5) / 1000000
       |    AS empirical_share
       |FROM emp LEFT JOIN p$K p ON p.t = emp.event_type, kk
       |ORDER BY event_type""".stripMargin
  }

  /** Mirror of TextAnalysis.charEntropy: char split, the
    * sessionEntropy 6dp-term entropy per doc, identical bin floors.
    */
  val charEntropy: String = {
    import graft.operators.TextAnalysis.CharEntBin
    s"""WITH ch AS (SELECT doc_id, source,
       |    unnest(string_split(text, '')) AS ch FROM documents),
       |pc AS (SELECT doc_id, source, ch, count(*)::BIGINT AS c
       |       FROM ch WHERE ch <> '' GROUP BY 1, 2, 3),
       |pd AS (SELECT doc_id, source, sum(c)::BIGINT AS n,
       |    sum(floor(c::DOUBLE * ln(c::DOUBLE) * 1000000 + 0.5)::BIGINT)
       |      ::BIGINT AS stl
       |  FROM pc GROUP BY 1, 2),
       |bins AS (SELECT source,
       |    floor(floor((ln(n::DOUBLE) - (stl::DOUBLE / 1000000) / n)
       |            * 1000000 + 0.5) / 1000000
       |          / CAST($CharEntBin AS DOUBLE))::BIGINT AS bin
       |  FROM pd)
       |SELECT source, bin, bin * CAST($CharEntBin AS DOUBLE) AS bin_lo,
       |  count(*)::BIGINT AS n_docs
       |FROM bins GROUP BY 1, 2 ORDER BY source, bin""".stripMargin
  }

  /** Mirror of Analytics.lorenzCurve: the gini value grid, exact
    * integer decile boundaries, partial-tied-group revenue.
    */
  val lorenzCurve: String =
    """WITH pc AS (SELECT o_custkey,
      |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rc
      |  FROM orders GROUP BY o_custkey),
      |g AS (SELECT rc, count(*)::BIGINT AS c FROM pc GROUP BY rc),
      |cum AS (SELECT rc, c,
      |    coalesce(sum(c) OVER w, 0)::BIGINT AS cb,
      |    coalesce(sum(rc::DECIMAL(38,0) * c::DECIMAL(38,0)) OVER w,
      |             0)::DECIMAL(38,0) AS rb
      |  FROM g
      |  WINDOW w AS (ORDER BY rc
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |t AS (SELECT sum(c)::BIGINT AS n,
      |        sum(rc::DECIMAL(38,0) * c::DECIMAL(38,0)) AS s FROM g),
      |d AS (SELECT range::INT AS decile FROM range(1, 11))
      |SELECT decile, m AS n_customers_cum,
      |  floor((rb + (m - cb)::DECIMAL(38,0) * rc::DECIMAL(38,0))::DOUBLE
      |        / s::DOUBLE * 1000000 + 0.5) / 1000000 AS cum_share
      |FROM (SELECT cum.*, t.s, d.decile,
      |        (d.decile * t.n) // 10 AS m
      |      FROM cum, t, d)
      |WHERE cb < m AND m <= cb + c
      |ORDER BY decile""".stripMargin

  /** Mirror of Sessions.abPower: same md5 arms, pooled rate, one
    * fixed-order sqrt MDE expression with the (z_{α/2}+z_β) literal.
    */
  val abPower: String = {
    import graft.operators.Sessions
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
       |  FROM events GROUP BY user_id),
       |a AS (SELECT
       |    (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2)
       |      ::INT AS arm, cv
       |  FROM u),
       |g AS (SELECT
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
       |    sum(cv)::BIGINT AS conv
       |  FROM a),
       |x AS (SELECT n_a, n_b,
       |    conv::DOUBLE / (n_a + n_b) AS p FROM g),
       |y AS (SELECT n_a, n_b, p,
       |    ${Sessions.ZAlpha + Sessions.ZBeta} *
       |      sqrt(p * (1.0::DOUBLE - p)
       |           * (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b)) AS mde
       |  FROM x)
       |SELECT n_a, n_b,
       |  floor(p * 1000000 + 0.5) / 1000000 AS pooled_p,
       |  floor(mde * 1000000 + 0.5) / 1000000 AS mde_abs,
       |  CASE WHEN p > 0
       |       THEN floor(mde / p * 1000000 + 0.5) / 1000000 END AS mde_rel
       |FROM y""".stripMargin
  }

  /** Mirror of Tenancy.lDiversity: the kAnonymity class grid with the
    * segment as payload, distinct-sensitive counts, the l sweep.
    */
  val lDiversity: String = {
    import graft.operators.Tenancy
    val ls = Tenancy.LDivLs.mkString(", ")
    s"""WITH ps AS (SELECT c_nationkey,
       |    floor(c_acctbal / ${Tenancy.KAnonBalBucket}) AS bal_bucket,
       |    c_mktsegment, count(*)::BIGINT AS cnt
       |  FROM customer GROUP BY 1, 2, 3),
       |cl AS (SELECT c_nationkey, bal_bucket, count(*)::BIGINT AS l,
       |         sum(cnt)::BIGINT AS cnt
       |       FROM ps GROUP BY 1, 2),
       |sw AS (SELECT unnest([$ls])::INT AS l_req)
       |SELECT l_req, count(*)::BIGINT AS n_classes,
       |  sum(CASE WHEN l < l_req THEN 1 ELSE 0 END)::BIGINT
       |    AS n_classes_below,
       |  sum(CASE WHEN l < l_req THEN cnt ELSE 0 END)::BIGINT
       |    AS rows_at_risk,
       |  floor((1.0::DOUBLE
       |         - sum(CASE WHEN l < l_req THEN cnt ELSE 0 END)::BIGINT
       |           ::DOUBLE / sum(cnt)::BIGINT) * 10000 + 0.5) / 10000
       |    AS diverse_share
       |FROM cl, sw GROUP BY l_req ORDER BY l_req""".stripMargin
  }

  /** Mirror of Tenancy.tCloseness: class × segment grid completion,
    * exact DECIMAL(38,0) cross-product total-variation test
    * (10·Σ|cnt·N − g·n_c| > 2·t10·n_c·N), one 4dp share.
    */
  val tCloseness: String = {
    import graft.operators.Tenancy
    val ts = Tenancy.TCloseT10s.mkString(", ")
    s"""WITH ps AS (SELECT c_nationkey,
       |    floor(c_acctbal / ${Tenancy.KAnonBalBucket}) AS bal_bucket,
       |    c_mktsegment, count(*)::BIGINT AS cnt
       |  FROM customer GROUP BY 1, 2, 3),
       |cl AS (SELECT c_nationkey, bal_bucket, sum(cnt)::BIGINT AS n_c
       |       FROM ps GROUP BY 1, 2),
       |gm AS (SELECT c_mktsegment, sum(cnt)::BIGINT AS g
       |       FROM ps GROUP BY 1),
       |tt AS (SELECT sum(g)::BIGINT AS n FROM gm),
       |pc AS (SELECT cl.c_nationkey, cl.bal_bucket,
       |         max(cl.n_c) AS n_c, max(tt.n) AS n,
       |         sum(abs(coalesce(ps.cnt, 0)::DECIMAL(38,0)
       |               * tt.n::DECIMAL(38,0)
       |             - gm.g::DECIMAL(38,0) * cl.n_c::DECIMAL(38,0)))
       |           AS dnum
       |       FROM cl CROSS JOIN gm
       |       LEFT JOIN ps ON ps.c_nationkey = cl.c_nationkey
       |         AND ps.bal_bucket = cl.bal_bucket
       |         AND ps.c_mktsegment = gm.c_mktsegment, tt
       |       GROUP BY 1, 2),
       |sw AS (SELECT unnest([$ts])::INT AS t10),
       |v AS (SELECT pc.*, sw.t10,
       |        (dnum::DECIMAL(38,0) * 10 >
       |         n_c::DECIMAL(38,0) * n::DECIMAL(38,0) * 2 * t10) AS viol
       |      FROM pc, sw)
       |SELECT t10::DOUBLE / 10.0 AS t, count(*)::BIGINT AS n_classes,
       |  sum(CASE WHEN viol THEN 1 ELSE 0 END)::BIGINT AS n_violating,
       |  sum(CASE WHEN viol THEN n_c ELSE 0 END)::BIGINT AS rows_at_risk,
       |  floor((1.0::DOUBLE
       |         - sum(CASE WHEN viol THEN n_c ELSE 0 END)::BIGINT::DOUBLE
       |           / sum(n_c)::BIGINT) * 10000 + 0.5) / 10000
       |    AS compliant_share
       |FROM v GROUP BY t10 ORDER BY t""".stripMargin
  }

  /** Mirror of CorpusStats.hapaxRatio: same token list, per-source
    * term frequencies, exact hapax/vocab/token counts.
    */
  val hapaxRatio: String =
    s"""$normCte,
       |tf AS (SELECT d.source, t.term, count(*)::BIGINT AS tf
       |       FROM (SELECT doc_id, unnest(ws) AS term FROM n) t
       |       JOIN documents d ON d.doc_id = t.doc_id
       |       GROUP BY 1, 2)
       |SELECT source, count(*)::BIGINT AS vocab,
       |  sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
       |  sum(tf)::BIGINT AS tokens,
       |  floor(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
       |        / count(*) * 10000 + 0.5) / 10000 AS hapax_share,
       |  floor(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
       |        / sum(tf)::BIGINT * 10000 + 0.5) / 10000
       |    AS hapax_token_share
       |FROM tf GROUP BY source ORDER BY source""".stripMargin

  /** Mirror of CorpusStats.goodTuring: same token list, per-doc lead
    * bigrams, exact frequency-of-frequencies, adjacent classes by r+1
    * self-join (missing class → 0), fixed-order 6dp tails; every sum
    * ::BIGINT.
    */
  val goodTuring: String = {
    import graft.operators.CorpusStats.GoodTuringMaxR
    s"""$normCte,
       |t AS (SELECT doc_id, unnest(ws) AS w,
       |        generate_subscripts(ws, 1) AS pos FROM n),
       |b AS (SELECT w || ' ' || lead(w) OVER (PARTITION BY doc_id
       |        ORDER BY pos) AS g FROM t),
       |tf AS (SELECT g, count(*)::BIGINT AS tf
       |       FROM b WHERE g IS NOT NULL GROUP BY g),
       |fof AS (SELECT tf AS r, count(*)::BIGINT AS n_r
       |        FROM tf GROUP BY tf),
       |tots AS (SELECT sum(r * n_r)::BIGINT AS n_tokens,
       |    sum(CASE WHEN r = 1 THEN n_r ELSE 0 END)::BIGINT AS n1
       |  FROM fof)
       |SELECT f.r, f.n_r, coalesce(x.n_r, 0)::BIGINT AS n_next,
       |  floor((f.r + 1)::DOUBLE * coalesce(x.n_r, 0) / f.n_r * 1000000
       |        + 0.5) / 1000000 AS r_star,
       |  floor((f.r + 1)::DOUBLE * coalesce(x.n_r, 0) / t.n_tokens
       |        * 1000000 + 0.5) / 1000000 AS class_mass,
       |  floor(t.n1::DOUBLE / t.n_tokens * 1000000 + 0.5) / 1000000
       |    AS p_unseen
       |FROM fof f LEFT JOIN fof x ON x.r = f.r + 1 CROSS JOIN tots t
       |WHERE f.r <= $GoodTuringMaxR
       |ORDER BY f.r""".stripMargin
  }

  /** Mirror of CorpusStats.vocabCoverage: bounded max(K) ranked head
    * on the (freq desc, token) order, per-cut conditional rollups vs
    * exact corpus totals, 6dp coverage shares.
    */
  val vocabCoverage: String = {
    import graft.operators.CorpusStats.CoverageKs
    s"""$normCte,
       |c AS (SELECT tok, count(*)::BIGINT AS cnt
       |      FROM (SELECT unnest(ws) AS tok FROM n) GROUP BY tok),
       |tt AS (SELECT sum(cnt)::BIGINT AS nn, count(*)::BIGINT AS v
       |       FROM c),
       |hd AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok)
       |         AS r
       |       FROM (SELECT tok, cnt FROM c
       |             ORDER BY cnt DESC, tok LIMIT ${CoverageKs.max})),
       |ks AS (SELECT unnest([${CoverageKs.mkString(", ")}]) AS k),
       |g AS (SELECT k,
       |        sum(CASE WHEN r <= k THEN cnt ELSE 0 END)::BIGINT AS mass,
       |        sum(CASE WHEN r <= k THEN 1 ELSE 0 END)::BIGINT
       |          AS vocab_used
       |      FROM hd CROSS JOIN ks GROUP BY k)
       |SELECT k::INT AS k, vocab_used,
       |  floor(mass::DOUBLE / nn * 1000000 + 0.5) / 1000000
       |    AS mass_coverage,
       |  floor(vocab_used::DOUBLE / v * 1000000 + 0.5) / 1000000
       |    AS type_coverage
       |FROM g CROSS JOIN tt ORDER BY k""".stripMargin
  }

  /** Mirror of Sessions.markovOrder: the eventTransitions ordering
    * window with two leads, one trigram partial agg feeding all three
    * margins, 6dp-integer G² cell terms in verbatim ratio order.
    */
  val markovOrder: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |  floor(epoch(ts))::BIGINT AS sec FROM events),
      |t0 AS (SELECT event_type AS a,
      |  lead(event_type, 1) OVER w AS b,
      |  lead(event_type, 2) OVER w AS c
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |tri AS (SELECT a, b, c, count(*)::BIGINT AS n3 FROM t0
      |        WHERE b IS NOT NULL AND c IS NOT NULL GROUP BY 1, 2, 3),
      |nab AS (SELECT a, b, sum(n3)::BIGINT AS n2f FROM tri GROUP BY 1, 2),
      |nbc AS (SELECT b, c, sum(n3)::BIGINT AS n2s FROM tri GROUP BY 1, 2),
      |nb AS (SELECT b, sum(n3)::BIGINT AS n1 FROM tri GROUP BY 1),
      |kk AS (SELECT count(DISTINCT b)::BIGINT AS k FROM tri),
      |tm AS (SELECT tri.n3,
      |    floor(tri.n3::DOUBLE
      |          * ln(tri.n3::DOUBLE * nb.n1
      |               / (nab.n2f::DOUBLE * nbc.n2s))
      |          * 1000000 + 0.5)::BIGINT AS t6
      |  FROM tri JOIN nab ON nab.a = tri.a AND nab.b = tri.b
      |           JOIN nbc ON nbc.b = tri.b AND nbc.c = tri.c
      |           JOIN nb ON nb.b = tri.b),
      |ag AS (SELECT sum(n3)::BIGINT AS n_trigrams,
      |         count(*)::BIGINT AS n_cells, sum(t6)::BIGINT AS st6
      |       FROM tm)
      |SELECT n_trigrams, n_cells, k AS k_types,
      |  (k * (k - 1) * (k - 1))::BIGINT AS df_nominal,
      |  floor(2.0 * st6::DOUBLE / 1000000 * 10000 + 0.5) / 10000 AS g2,
      |  CASE WHEN k > 1 THEN
      |    floor(2.0 * st6::DOUBLE / 1000000 / (k * (k - 1) * (k - 1))
      |          * 10000 + 0.5) / 10000 END AS g2_per_df
      |FROM ag CROSS JOIN kk""".stripMargin

  /** Mirror of Dedup.jaccardHist: the UNTHRESHOLDED minhashJCtes
    * verified candidates, 0.1 bins capped at 9, zero-filled grid,
    * survival cumsum from the top bin, 4dp shares.
    */
  val jaccardHist: String =
    s"""$shCte,
       |$minhashJCtes,
       |bn AS (SELECT least(floor(jaccard * 10)::INT, 9) AS b,
       |         count(*)::BIGINT AS n FROM j GROUP BY 1),
       |tt AS (SELECT coalesce(sum(n), 0)::BIGINT AS t FROM bn),
       |g AS (SELECT gr.b, coalesce(bn.n, 0)::BIGINT AS n_pairs
       |      FROM (SELECT unnest(range(0, 10))::INT AS b) gr
       |      LEFT JOIN bn ON bn.b = gr.b),
       |cg AS (SELECT b, n_pairs,
       |         (sum(n_pairs) OVER (ORDER BY b DESC ROWS BETWEEN
       |            UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS ge
       |       FROM g)
       |SELECT b::DOUBLE / 10 AS bin_lo, n_pairs,
       |  CASE WHEN t > 0 THEN
       |    floor(n_pairs::DOUBLE / t * 10000 + 0.5) / 10000 END AS share,
       |  CASE WHEN t > 0 THEN
       |    floor(ge::DOUBLE / t * 10000 + 0.5) / 10000 END AS cum_ge
       |FROM cg CROSS JOIN tt ORDER BY bin_lo""".stripMargin

  /** Mirror of CorpusStats.tokenGini: the giniRevenue grouped-rank
    * identity on the token frequency-of-frequencies grid, exact
    * DECIMAL(38) blocks, one verbatim double tail.
    */
  val tokenGini: String =
    s"""$normCte,
       |tc AS (SELECT tok, count(*)::BIGINT AS cnt
       |       FROM (SELECT unnest(ws) AS tok FROM n) GROUP BY tok),
       |g AS (SELECT cnt, count(*)::BIGINT AS c FROM tc GROUP BY cnt),
       |w AS (SELECT cnt, c,
       |    coalesce(sum(c) OVER (ORDER BY cnt
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS k
       |  FROM g),
       |m AS (SELECT sum(c)::BIGINT AS n,
       |    sum(cnt::DECIMAL(38,0) * c::DECIMAL(38,0)) AS s,
       |    sum(cnt::DECIMAL(38,0) * (2 * c::DECIMAL(38,0) * k::DECIMAL(38,0)
       |        + c::DECIMAL(38,0) * (c::DECIMAL(38,0) + 1))) AS t2
       |  FROM w)
       |SELECT n AS n_types, s::BIGINT AS n_tokens,
       |  CASE WHEN n > 0 AND s > 0 THEN
       |    floor((t2 - (n::DECIMAL(38,0) + 1) * s)::DOUBLE
       |          / ((n::DECIMAL(38,0)) * s)::DOUBLE * 1000000 + 0.5)
       |      / 1000000 END AS gini
       |FROM m""".stripMargin

  /** Mirror of Sessions.sessionLengthHist: the sessionize mirror as a
    * derived table, exact power-of-two binning, grid-bounded share.
    */
  val sessionLengthHist: String =
    s"""WITH sz AS (SELECT * FROM ($sessionize)),
       |b AS (SELECT n_events::BIGINT AS ne,
       |        (1::BIGINT << (length(bin(n_events::BIGINT)) - 1))
       |          AS bin_lo
       |      FROM sz),
       |g AS (SELECT bin_lo, count(*)::BIGINT AS n_sessions,
       |        sum(ne)::BIGINT AS n_events FROM b GROUP BY bin_lo),
       |tt AS (SELECT sum(n_sessions)::BIGINT AS t FROM g)
       |SELECT bin_lo, n_sessions, n_events,
       |  floor(n_sessions::DOUBLE / t * 10000 + 0.5) / 10000
       |    AS session_share
       |FROM g CROSS JOIN tt ORDER BY bin_lo""".stripMargin

  /** Mirror of Dedup.clusterSizeHist: the dedupClusters labels as a
    * derived table, cluster-size partial agg, exact power-of-two
    * binning, grid-bounded share.
    */
  val clusterSizeHist: String =
    s"""WITH cl AS (SELECT * FROM ($dedupClusters)),
       |cs2 AS (SELECT cluster, count(*)::BIGINT AS sz
       |        FROM cl GROUP BY cluster),
       |b AS (SELECT sz,
       |        (1::BIGINT << (length(bin(sz)) - 1)) AS bin_lo FROM cs2),
       |g AS (SELECT bin_lo, count(*)::BIGINT AS n_clusters,
       |        sum(sz)::BIGINT AS n_docs FROM b GROUP BY bin_lo),
       |tt AS (SELECT sum(n_clusters)::BIGINT AS t FROM g)
       |SELECT bin_lo, n_clusters, n_docs,
       |  floor(n_clusters::DOUBLE / t * 10000 + 0.5) / 10000
       |    AS cluster_share
       |FROM g CROSS JOIN tt ORDER BY bin_lo""".stripMargin

  /** Mirror of Sessions.overdispersion: exact long count moments, one
    * verbatim-order double tail per stat.
    */
  val overdispersion: String =
    """WITH pu AS (SELECT user_id, count(*)::BIGINT AS x
      |            FROM events GROUP BY user_id),
      |m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
      |        sum(x * x)::BIGINT AS sxx FROM pu)
      |SELECT n AS n_users,
      |  CASE WHEN n > 0 THEN
      |    floor(sx::DOUBLE / n * 1000000 + 0.5) / 1000000
      |  END AS mean_events,
      |  CASE WHEN n > 1 THEN
      |    floor((sxx::DOUBLE - sx::DOUBLE * sx / n) / (n - 1)
      |          * 1000000 + 0.5) / 1000000 END AS var_events,
      |  CASE WHEN n > 1 AND sx::DOUBLE / n > 0 THEN
      |    floor((sxx::DOUBLE - sx::DOUBLE * sx / n) / (n - 1)
      |          / (sx::DOUBLE / n) * 1000000 + 0.5) / 1000000
      |  END AS dispersion,
      |  CASE WHEN n > 1 AND (sxx::DOUBLE - sx::DOUBLE * sx / n) / (n - 1)
      |         > sx::DOUBLE / n THEN
      |    floor(sx::DOUBLE / n * (sx::DOUBLE / n)
      |          / ((sxx::DOUBLE - sx::DOUBLE * sx / n) / (n - 1)
      |             - sx::DOUBLE / n) * 1000000 + 0.5) / 1000000
      |  END AS nb_size
      |FROM m""".stripMargin

  /** Mirror of CorpusStats.coveragePick: the vocabCoverage mirror as a
    * derived table, same met-first / smallest-k / best-fallback sort.
    */
  val coveragePick: String = {
    import graft.operators.CorpusStats.CoverageTarget
    s"""WITH vc AS (SELECT * FROM ($vocabCoverage)),
       |a AS (SELECT *, mass_coverage >= $CoverageTarget AS met FROM vc)
       |SELECT k AS k_pick, vocab_used, mass_coverage, type_coverage, met
       |FROM a ORDER BY met DESC,
       |  CASE WHEN met THEN k ELSE -k END LIMIT 1""".stripMargin
  }

  /** Mirror of CorpusStats.sourceLangAssoc: zero-filled margin-cross
    * grid, 6dp-integer χ² cell terms, verbatim-order Cramér's V tail.
    */
  val sourceLangAssoc: String =
    """WITH obs AS (SELECT source, lang, count(*)::BIGINT AS o
      |             FROM documents GROUP BY 1, 2),
      |rs AS (SELECT source, sum(o)::BIGINT AS ns FROM obs GROUP BY 1),
      |cs AS (SELECT lang, sum(o)::BIGINT AS nl FROM obs GROUP BY 1),
      |tt AS (SELECT sum(o)::BIGINT AS nn,
      |         count(DISTINCT source)::BIGINT AS r,
      |         count(DISTINCT lang)::BIGINT AS c FROM obs),
      |g AS (SELECT coalesce(obs.o, 0)::BIGINT AS o,
      |        rs.ns::DOUBLE * cs.nl / tt.nn AS e, tt.nn, tt.r, tt.c
      |      FROM rs CROSS JOIN cs
      |      LEFT JOIN obs ON obs.source = rs.source
      |                   AND obs.lang = cs.lang
      |      CROSS JOIN tt),
      |ag AS (SELECT nn, r, c,
      |         sum(floor((o - e) * (o - e) / e * 1000000 + 0.5)::BIGINT)
      |           ::BIGINT AS st6
      |       FROM g GROUP BY 1, 2, 3)
      |SELECT nn AS n_docs, r AS n_sources, c AS n_langs,
      |  floor(st6::DOUBLE / 1000000 * 10000 + 0.5) / 10000 AS chi2,
      |  CASE WHEN least(r, c) - 1 > 0 THEN
      |    floor(sqrt(st6::DOUBLE / 1000000 / (nn * (least(r, c) - 1)))
      |          * 10000 + 0.5) / 10000 END AS cramers_v
      |FROM ag""".stripMargin

  /** Mirror of CorpusStats.oovRate: normToks with source, global
    * top-K vocabulary on the deterministic (freq desc, token) order,
    * LEFT-JOIN membership, per-source exact rollups, 6dp rates.
    */
  val oovRate: String = {
    import graft.operators.CorpusStats.OovVocabK
    s"""WITH n AS (SELECT source,
       |  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |              x -> x <> '') AS ws FROM documents),
       |sc AS (SELECT source, tok, count(*)::BIGINT AS c
       |       FROM (SELECT source, unnest(ws) AS tok FROM n)
       |       GROUP BY source, tok),
       |v AS (SELECT tok FROM (SELECT tok, sum(c)::BIGINT AS cnt
       |                       FROM sc GROUP BY tok)
       |      ORDER BY cnt DESC, tok LIMIT $OovVocabK),
       |g AS (SELECT sc.source, sum(sc.c)::BIGINT AS n_tokens,
       |        sum(CASE WHEN v.tok IS NULL THEN sc.c ELSE 0 END)::BIGINT
       |          AS n_oov,
       |        count(*)::BIGINT AS n_types,
       |        sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT
       |          AS n_oov_types
       |      FROM sc LEFT JOIN v ON v.tok = sc.tok
       |      GROUP BY sc.source)
       |SELECT source, n_tokens, n_oov,
       |  floor(n_oov::DOUBLE / n_tokens * 1000000 + 0.5) / 1000000
       |    AS oov_rate,
       |  n_types, n_oov_types,
       |  floor(n_oov_types::DOUBLE / n_types * 1000000 + 0.5) / 1000000
       |    AS type_oov_rate
       |FROM g ORDER BY source""".stripMargin
  }

  /** Mirror of CorpusStats.hillTail: bounded top-(k+1) head on the
    * (freq desc, token) order, 6dp-integer ln ratios vs the head min,
    * verbatim-order α and se tails; every sum ::BIGINT.
    */
  val hillTail: String = {
    import graft.operators.CorpusStats.HillK
    s"""$normCte,
       |c AS (SELECT tok, count(*)::BIGINT AS cnt
       |      FROM (SELECT unnest(ws) AS tok FROM n) GROUP BY tok),
       |top AS (SELECT tok, cnt FROM c
       |        ORDER BY cnt DESC, tok LIMIT ${HillK + 1}),
       |r1 AS (SELECT tok, cnt,
       |         row_number() OVER (ORDER BY cnt DESC, tok) AS r FROM top),
       |r2 AS (SELECT *, max(r) OVER ()::BIGINT AS nt,
       |         min(cnt) OVER ()::BIGINT AS xmin FROM r1),
       |m AS (SELECT nt, xmin, count(*)::BIGINT AS k,
       |        sum(floor(ln(cnt::DOUBLE / xmin) * 1000000 + 0.5)::BIGINT)
       |          ::BIGINT AS st6
       |      FROM r2 WHERE r < nt GROUP BY nt, xmin)
       |SELECT k AS k_used, xmin,
       |  CASE WHEN st6 > 0 THEN
       |    floor(k::DOUBLE / (st6::DOUBLE / 1000000) * 1000000 + 0.5)
       |      / 1000000 END AS alpha,
       |  CASE WHEN st6 > 0 THEN
       |    floor(k::DOUBLE / (st6::DOUBLE / 1000000) / sqrt(k::DOUBLE)
       |          * 1000000 + 0.5) / 1000000 END AS alpha_se
       |FROM m""".stripMargin
  }

  /** Mirror of Sessions.sesBacktest: the zero-filled type×day grid,
    * the [[graft.operators.Sessions.SesWeights]] literals as a VALUES
    * table (toString round-trip — never re-derived, and cast ::DOUBLE:
    * DuckDB types bare VALUES literals DECIMAL(18,17), which would
    * compute w·yl·1e6 in exact decimal while Spark computes it in IEEE
    * doubles), 6dp-integer per-term products, exact long error sums,
    * 4dp fixed-order tails.
    */
  val sesBacktest: String = {
    import graft.operators.Sessions.{SesWeights, SesWindow}
    val vals = SesWeights.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    s"""WITH ev AS (SELECT event_type,
       |    (floor(epoch(ts))::BIGINT // 86400) AS day FROM events),
       |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
       |days AS (SELECT unnest(range(d0, d1 + 1)) AS day, d0 FROM sp),
       |ty AS (SELECT DISTINCT event_type FROM ev),
       |cnt AS (SELECT event_type, day, count(*)::BIGINT AS c
       |        FROM ev GROUP BY 1, 2),
       |grid AS (SELECT ty.event_type, days.day, days.d0,
       |    coalesce(cnt.c, 0)::BIGINT AS n
       |  FROM ty CROSS JOIN days
       |  LEFT JOIN cnt ON cnt.event_type = ty.event_type
       |              AND cnt.day = days.day),
       |lw AS (SELECT lag, w::DOUBLE AS w FROM (VALUES $vals) t(lag, w)),
       |pr AS (SELECT g.event_type, g.day, g.n AS yt, l.lag, l.w,
       |         g2.n AS yl
       |       FROM grid g CROSS JOIN lw l
       |       JOIN grid g2 ON g2.event_type = g.event_type
       |                   AND g2.day = g.day - l.lag
       |       WHERE g.day >= g.d0 + $SesWindow),
       |pd AS (SELECT event_type, day, yt,
       |        sum(floor(w * yl * 1000000 + 0.5)::BIGINT)::BIGINT
       |          AS yhat6,
       |        sum(CASE WHEN lag = 7 THEN yl END)::BIGINT AS y7
       |       FROM pr GROUP BY 1, 2, 3),
       |g2 AS (SELECT event_type, count(*)::BIGINT AS ns,
       |         sum(abs(yhat6 - yt * 1000000))::BIGINT AS ses6,
       |         sum(abs(y7 - yt) * 1000000)::BIGINT AS nv6
       |       FROM pd GROUP BY event_type)
       |SELECT event_type, ns AS n_scored,
       |  floor(ses6::DOUBLE / 1000000 / ns * 10000 + 0.5) / 10000
       |    AS mae_ses,
       |  floor(nv6::DOUBLE / 1000000 / ns * 10000 + 0.5) / 10000
       |    AS mae_naive7,
       |  CASE WHEN nv6 > 0 THEN
       |    floor((1.0 - ses6::DOUBLE / nv6) * 10000 + 0.5) / 10000
       |  END AS skill
       |FROM g2 ORDER BY event_type""".stripMargin
  }

  /** Mirror of Sessions.bootstrapCi: the same md5-uniform Poisson(1)
    * draws (thresholds single-sourced from [[graft.operators.Sessions
    * .PoisCdf]] via toString — bit-identical literals), 6dp-integer
    * replica means, integer ceil ranks, verbatim-order se tail. The
    * replica moments accumulate in DECIMAL(38,0) (Σ mu6² passes 2^63
    * at mean events/user ≈ 214 — Spark long would wrap silently while
    * this cast errors); both engines hold the exact integer so the
    * one ::DOUBLE conversion at the output is bit-identical.
    */
  val bootstrapCi: String = {
    import graft.operators.Sessions.{BootB, BootSeed, PoisCdf}
    val w = PoisCdf.map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH pu AS (SELECT user_id, count(*)::BIGINT AS x
       |            FROM events GROUP BY user_id),
       |est AS (SELECT count(*)::BIGINT AS n_users, sum(x)::BIGINT AS sx
       |        FROM pu),
       |reps AS (SELECT unnest(range(0, $BootB))::INT AS b),
       |d0 AS (SELECT b, x,
       |    ('0x' || substr(md5(user_id::VARCHAR || ':' || b::VARCHAR
       |                        || ':${sq(BootSeed)}'), 1, 8))::BIGINT
       |      / 4294967296.0 AS u
       |  FROM pu CROSS JOIN reps),
       |d AS (SELECT b, x, ($w)::BIGINT AS w FROM d0),
       |pr AS (SELECT b, sum(w)::BIGINT AS sw,
       |         sum(w * x)::BIGINT AS swx FROM d GROUP BY b),
       |mu AS (SELECT floor(swx::DOUBLE / sw * 1000000 + 0.5)::BIGINT
       |         AS mu6 FROM pr WHERE sw > 0),
       |rk AS (SELECT mu6, row_number() OVER (ORDER BY mu6) AS r FROM mu),
       |rk2 AS (SELECT *, max(r) OVER ()::BIGINT AS beff FROM rk),
       |rk3 AS (SELECT *, (beff * 25 + 999) // 1000 AS rlo,
       |          (beff * 975 + 999) // 1000 AS rhi FROM rk2),
       |g AS (SELECT beff, sum(mu6::DECIMAL(38,0)) AS smu,
       |        sum((mu6::HUGEINT * mu6)::DECIMAL(38,0)) AS smu2,
       |        min(CASE WHEN r = rlo THEN mu6 END)::BIGINT AS lo6,
       |        min(CASE WHEN r = rhi THEN mu6 END)::BIGINT AS hi6
       |      FROM rk3 GROUP BY beff)
       |SELECT est.n_users, g.beff AS b_eff,
       |  floor(est.sx::DOUBLE / est.n_users * 1000000 + 0.5) / 1000000
       |    AS mean_events,
       |  g.lo6::DOUBLE / 1000000 AS ci_lo,
       |  g.hi6::DOUBLE / 1000000 AS ci_hi,
       |  CASE WHEN g.beff > 1 THEN
       |    floor(sqrt((g.smu2::DOUBLE - g.smu::DOUBLE * g.smu / g.beff)
       |               / (g.beff - 1)) / 1000000 * 1000000 + 0.5)
       |      / 1000000 END AS boot_se
       |FROM g CROSS JOIN est""".stripMargin
  }

  /** Mirror of Analytics.changepoint: the acfRevenue whole-dollar daily
    * grid, ordered-cumsum prefix sums, 1e-6-dollar² integer gain terms
    * (verbatim term order), max-gain/earliest-day pick, 4dp tails.
    */
  val changepoint: String =
    """WITH d AS (SELECT
      |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
      |      AS day,
      |    floor(o_totalprice * 100 + 0.5)::BIGINT AS cu FROM orders),
      |g AS (SELECT day,
      |    floor(sum(cu)::BIGINT::DOUBLE / 100 + 0.5)::BIGINT AS xu
      |  FROM d GROUP BY day),
      |cum AS (SELECT day, xu,
      |    floor(xu::DOUBLE * xu / 1000000 + 0.5)::BIGINT AS au,
      |    row_number() OVER (ORDER BY day) AS t,
      |    (sum(xu) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |                   AND CURRENT ROW))::BIGINT AS s
      |  FROM g),
      |tot AS (SELECT max(t)::BIGINT AS n, max(s)::BIGINT AS sn,
      |          sum(au)::BIGINT AS a FROM cum),
      |cand AS (SELECT cum.day, cum.t, cum.s, tot.n, tot.sn, tot.a,
      |    floor(tot.sn::DOUBLE * tot.sn / tot.n / 1000000 + 0.5)::BIGINT
      |      AS termn,
      |    (floor(cum.s::DOUBLE * cum.s / cum.t / 1000000 + 0.5)::BIGINT
      |     + floor((tot.sn - cum.s)::DOUBLE * (tot.sn - cum.s)
      |             / (tot.n - cum.t) / 1000000 + 0.5)::BIGINT
      |     - floor(tot.sn::DOUBLE * tot.sn / tot.n / 1000000 + 0.5)
      |       ::BIGINT) AS gain
      |  FROM cum CROSS JOIN tot WHERE cum.t < tot.n)
      |SELECT (DATE '1970-01-01' + day::INT) AS split_day,
      |  t::BIGINT AS n_before, (n - t)::BIGINT AS n_after,
      |  floor(s::DOUBLE / t * 10000 + 0.5) / 10000 AS mean_before,
      |  floor((sn - s)::DOUBLE / (n - t) * 10000 + 0.5) / 10000
      |    AS mean_after,
      |  CASE WHEN a - termn > 0 THEN
      |    floor(gain::DOUBLE / (a - termn) * 10000 + 0.5) / 10000
      |  END AS gain_share
      |FROM cand ORDER BY gain DESC, day LIMIT 1""".stripMargin

  /** Mirror of CorpusStats.heapsLaw: the vocabGrowth curve as a
    * derived table, zipfFit's 6dp-ln-unit OLS verbatim on the nonzero
    * points, exp(intercept) at 4dp (the ppl posture).
    */
  val heapsLaw: String =
    s"""WITH vg AS (SELECT * FROM ($vocabGrowth)),
       |u AS (SELECT
       |  CAST(floor(ln(n_tokens::DOUBLE) * 1000000 + 0.5) AS BIGINT)
       |    AS xu,
       |  CAST(floor(ln(vocab::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS yu
       |  FROM vg WHERE n_tokens > 0 AND vocab > 0),
       |m AS (SELECT count(*) AS n,
       |  sum(xu)::HUGEINT AS sx, sum(yu)::HUGEINT AS sy,
       |  sum(xu*yu)::HUGEINT AS sxy, sum(xu*xu)::HUGEINT AS sxx,
       |  sum(yu*yu)::HUGEINT AS syy FROM u)
       |SELECT n::BIGINT AS n_points,
       |  CASE WHEN n > 1 THEN
       |    floor((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE
       |          * 1000000 + 0.5) / 1000000 END AS beta,
       |  CASE WHEN n > 1 THEN
       |    floor((sy*sxx - sx*sxy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE
       |          / 1000000 * 1000000 + 0.5) / 1000000 END AS ln_k,
       |  CASE WHEN n > 1 THEN
       |    floor(exp((sy*sxx - sx*sxy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE
       |              / 1000000) * 10000 + 0.5) / 10000 END AS k,
       |  CASE WHEN n > 1 AND (n*syy - sy*sy)::DOUBLE <> 0.0 THEN
       |    floor((n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE
       |          / ((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE)
       |          * 1000000 + 0.5) / 1000000 END AS r2
       |FROM m""".stripMargin
}
