package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{CleanStep, CleanText}
import graft.operators.{RefVocab, TextOps}

/** Differential tests for the text kernels: CleanText against the
  * `replace`/`regexp_replace`/`translate` fold over TextOps.cleanSteps
  * (the plan the oracle SQL mirrors), and KeywordRules against one
  * `contains` per keyword, byte for byte, on the sf0.01 corpus plus
  * crafted edge cases.
  */
class TextKernelSpec extends SparkSpecBase {
  import spark.implicits._
  import CleanStep._

  // ---- references: the column folds the kernels replaced ------------

  private def refClean(c: Column): Column =
    trim(TextOps.cleanSteps.foldLeft(c) {
      case (acc, Re(pat, rep)) => regexp_replace(acc, pat, rep)
      case (acc, Lit(from, to)) => replace(acc, lit(from), lit(to))
      case (acc, Tr(from, to)) => translate(acc, from, to)
    })

  private def anyKeyword(lc: Column, kws: Seq[String]): Column =
    kws.map(lc.contains(_)).reduce(_ || _)

  private def refTemplate(lc: Column): Column =
    RefVocab.templateRules.foldRight(lit(RefVocab.defaultTemplate)) {
      case ((name, kws), fallback) =>
        when(anyKeyword(lc, kws), lit(name)).otherwise(fallback)
    }

  private def refTopicEncoded(lc: Column): Column =
    greatest(RefVocab.taxonomy.zipWithIndex.map { case ((_, kws), i) =>
      kws.map(kw => when(lc.contains(kw), 1).otherwise(0)).reduce(_ + _) *
        100 + (99 - i)
    }: _*)

  private def refCategoryMask(lc: Column): Column =
    RefVocab.categoryRules.zipWithIndex.map { case ((_, kws, _), j) =>
      when(anyKeyword(lc, kws), lit(1 << j)).otherwise(lit(0))
    }.reduce(_ bitwiseOR _)

  private def kernelCategoryMask(lc: Column): Column =
    graft.functions.TextFunctions.keywordRules(lc,
      RefVocab.categoryRules.map(_._2),
      graft.functions.KeywordRules.Bitmask)

  // ---- inputs ------------------------------------------------------

  private val crafted: Seq[String] = Seq(
    "", " ", "   padded   ",
    // entities, sequential replaces
    "Hello &amp; <b>world</b>", "&amp;lt;b&amp;gt; stays", "&lt;b&gt;bold",
    "&nbsp;x&nbsp;&nbsp;y", "say &quot;hi&quot; &#39;a&#39; &#x27;b&#x27;",
    "&amp;amp; &&amp; &;", "&AMP; &Lt; unchanged case",
    // tags: nested, unterminated, stray >
    "<a <b>>c</a>", "a < b", "x<y", "x>y<z>w", "<<a>>", "<", ">", "<>",
    "before <unterminated tag and more text", "a<b\nc>d", "<p>one</p><p>two",
    // URLs in any case, after non-word chars
    "see https://x.com/page now", "go www.example.com today",
    "HTTP://UPPER.COM/X and WWW.UPPER.ORG too", "HtTpS://MiXeD.case/p?q=1",
    "éhttp://x.y after accent", "_http://x.y after underscore",
    "9www.x.y after digit", "ahttp://x.y glued", "xwww.y glued",
    "http:/not-a-url http// https:", "www. alone", "(https://paren.io)",
    "<a href=\"http://x.com\">link</a> text", "url\thttp://tab.com\tend",
    // whitespace classes
    "a\tb\u000Bc\fd\re\nf", "a \t\n\u000B\f\r b", "\r\n lead and trail \t",
    "non-ascii spaces\u00A0here\u2003and\u3000there",
    // emoji, curly quotes, ellipsis, accents
    "emoji 😀 here 👍🏽!", "’—“”…", "it’s “quoted” — fine…",
    "héllo @#$%^ wörld", "ｆｕｌｌｗｉｄｔｈ", "ζ, λ, and Ж",
    "keep .,?!'\":- these", "a…b……c",
    // keywords: multi-word, listed under two groups, at edges
    "i can't eat or sleep", "racing thoughts and on edge",
    "self-esteem body image", "i worry about stress", "sad",
    "SAD And ANXIOUS", "my depression is back", "just breathe deeply",
    "emotional dysregulation and letting go", "self-harm, cutting, despair",
    "mindfulness meditation self-care joy",
    "obsession compulsion ritual reassurance-seeking hoarding",
    "kill myself end my life", "how why what explain reason",
    "relationship partner breakup divorce marriage death died")

  /** One entry per RefVocab keyword, in a sentence. */
  private val everyKeyword: Seq[String] =
    (RefVocab.templateRules.flatMap(_._2) ++ RefVocab.taxonomy.flatMap(_._2) ++
      RefVocab.categoryRules.flatMap(_._2)).distinct
      .map(k => s"Well, $k. Then more.")

  /** Seeded mixes of keywords and noise. */
  private val mixes: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val pool = (RefVocab.taxonomy.flatMap(_._2) ++
      RefVocab.templateRules.flatMap(_._2) ++
      Seq("the", "a", "&amp;", "<i>", "</i>", "http://u.rl/x", "…", "’",
        "\t", "é", "😀", "WWW.X.Y", "Sad", "x")).toIndexedSeq
    Seq.fill(300)(Seq.fill(1 + rnd.nextInt(12))(pool(rnd.nextInt(pool.size)))
      .mkString(if (rnd.nextBoolean()) " " else ""))
  }

  private val corpus: Seq[String] =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("text")).as[String].collect().toSeq

  /** Invalid UTF-8, as raw bytes cast to string. */
  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0x61, 0xC3, 0x62), Array(0xC3, 0x26, 0x61, 0x6D, 0x70, 0x3B),
    Array(0xE2, 0x80, 0x3C, 0x62, 0x3E, 0xA9), Array(0xFF, 0xFE, 0x20, 0x78),
    Array(0xED, 0xA0, 0x80, 0x73, 0x61, 0x64), Array(0x80, 0x68, 0x74, 0x74,
      0x70, 0x3A, 0x2F, 0x2F, 0x78), Array(0xF0, 0x9F, 0x98), Array(0xC0, 0xAF),
    Array(0x73, 0x61, 0x64, 0xF4, 0x90, 0x80, 0x80, 0x61, 0x6E, 0x78, 0x69))
    .map(_.map(_.toByte))

  /** Every input as (id, text), including a null and the invalid bytes. */
  private lazy val inputs: DataFrame = {
    val strs = (crafted ++ everyKeyword ++ mixes ++ corpus).map(Option(_)) :+
      None
    val valid = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val raw = invalidUtf8.zipWithIndex
      .map { case (b, i) => ((strs.size + i).toLong, b) }.toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("text"))
    valid.unionByName(raw)
  }

  private def assertSame(df: DataFrame, what: String): Unit = {
    val bad = df.filter(!(col("ref") <=> col("got")))
    val n = bad.count()
    assert(n === 0, s"$what: $n rows differ, e.g.\n" +
      bad.limit(5).collect().mkString("\n"))
  }

  test("the differential inputs cover the corpus and every keyword") {
    assert(corpus.size === 500)
    assert(inputs.count() === crafted.size + everyKeyword.size +
      mixes.size + corpus.size + 1 + invalidUtf8.size)
  }

  test("CleanText is byte-identical to the cleanSteps fold") {
    assertSame(inputs.select(col("id"), col("text"),
      refClean(col("text")).cast("binary").as("ref"),
      TextOps.cleanText(col("text")).cast("binary").as("got")), "clean_text")
  }

  test("CleanText keeps null, empty and the documented edge cases") {
    def clean(s: String): String =
      Seq(s).toDF("t").select(TextOps.cleanText(col("t"))).head().getString(0)
    assert(Seq[String](null).toDF("t").select(TextOps.cleanText(col("t")))
      .head().isNullAt(0))
    assert(clean("") === "")
    assert(clean("&amp;lt;b&amp;gt;") === "ltbgt") // &lt; not re-read as <
    assert(clean("a <b> c <unterminated") === "a c unterminated")
    assert(clean("<a <b>>c") === "c")
    assert(clean("HTTP://X.COM WWW.Y.ORG end") === "end")
    assert(clean("a\tb\u000Bc\fd\re") === "a b c d e")
    assert(clean("x\u00A0y") === "xy") // NBSP is not \s: dropped, no space
    assert(clean("it’s…") === "it's...")
  }

  test("CleanText declares exactly TextOps.cleanSteps") {
    assert(CleanText.steps === TextOps.cleanSteps)
  }

  test("KeywordRules matches the contains chains on raw and cleaned text") {
    val lcs = inputs.select(col("id"),
      lower(col("text")).as("raw"),
      lower(refClean(col("text"))).as("cln"))
    Seq("raw", "cln").foreach { c =>
      val lc = col(c)
      assertSame(lcs.select(col("id"), lc,
        refTemplate(lc).as("ref"), TextOps.templateCol(lc).as("got")),
        s"template on $c")
      assertSame(lcs.select(col("id"), lc,
        refTopicEncoded(lc).as("ref"), TextOps.topicEncoded(lc).as("got")),
        s"topic on $c")
      assertSame(lcs.select(col("id"), lc,
        refCategoryMask(lc).as("ref"), kernelCategoryMask(lc).as("got")),
        s"category mask on $c")
    }
  }

  test("KeywordRules on null text: no keyword matched") {
    val r = Seq[String](null).toDF("t").select(
      TextOps.templateCol(col("t")),
      TextOps.topicFromEncoded(TextOps.topicEncoded(col("t"))),
      TextOps.topicScoreFromEncoded(TextOps.topicEncoded(col("t"))),
      kernelCategoryMask(col("t"))).head()
    assert(r.toSeq === Seq(RefVocab.defaultTemplate, RefVocab.defaultTopic,
      0, 0))
  }

  test("KeywordRules scores each listing: a shared keyword counts twice") {
    // 'worry' is listed under Anxiety (1) and Cognition (8); 'stress'
    // under Anxiety and Adjustment (5): Anxiety scores 2 and wins
    val best = Seq("worry and stress").toDF("t")
      .select(TextOps.topicEncoded(col("t"))).head().getInt(0)
    assert(best === 2 * 100 + 99 - 1)
  }
}
