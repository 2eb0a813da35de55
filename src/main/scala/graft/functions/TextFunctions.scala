package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One step of the clean-text pipeline, typed by the cheapest primitive
  * that expresses it in the DuckDB oracle: `Lit` a plain substring
  * replace, `Tr` a char-for-char translate, `Re` a regex (RE2 ∩ Java
  * dialect). `TextOps.cleanSteps` lists them; the oracle SQL is generated
  * from that list and [[CleanText]] declares the same list for the loops
  * it runs.
  */
sealed trait CleanStep
object CleanStep {
  final case class Re(pat: String, rep: String) extends CleanStep
  final case class Lit(from: String, to: String) extends CleanStep
  final case class Tr(from: String, to: String) extends CleanStep
}

/** The reference clean-text pipeline (text_utils.py:26-44) as one pass
  * over one decoded `String`, byte-identical to the 13-step
  * `replace`/`regexp_replace`/`translate` fold of [[CleanText.steps]]
  * followed by Spark `trim`:
  *
  *  1. the seven entity replaces, in order, only when the text has a `&`
  *     (sequential: `&amp;lt;` becomes `&lt;`, not `<`);
  *  1. tag strip: each `<` through the next `>` is removed; a `<` with
  *     no `>` after it survives;
  *  1. URL removal, still `java.util.regex` (the JDK 17 `\b` is
  *     Unicode-aware), run only when the text has "http" or "www." in
  *     some ASCII case — the `(?i)` pattern cannot match otherwise;
  *  1. translate, ellipsis, charset filter and whitespace collapse fused
  *     into one loop: the filter drops each char outside
  *     `[a-zA-Z0-9\s.,?!'":-]` (so a surrogate pair, or the U+FFFD that
  *     decoding puts for invalid UTF-8, goes whole), `\s` is exactly the
  *     six ASCII whitespace chars, and each run of them becomes one space;
  *  1. Spark `trim`, which strips only `' '`.
  *
  * Null in, null out.
  */
case class CleanText(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def prettyName: String = "clean_text"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(CleanText.clean(s.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CleanText {
  import CleanStep._

  private val Entities: Seq[Lit] = Seq(
    Lit("&nbsp;", " "),
    Lit("&lt;", "<"),
    Lit("&gt;", ">"),
    Lit("&quot;", "\""),
    Lit("&#39;", "'"),
    Lit("&#x27;", "'"),
    Lit("&amp;", "&"))
  private val Url = Re("(?i)\\b(https?://\\S+|www\\.\\S+)", "")
  private val Fold = Tr("’—“”", "'-\"\"")
  private val Ellipsis = Lit("…", "...")

  /** The steps the loops below implement, in order. `TextOps` requires
    * this to equal its `cleanSteps` (the oracle's list), so an edit to one
    * without the other fails at first use.
    */
  val steps: Seq[CleanStep] = Entities ++ Seq(
    Re("<[^>]*>", ""),
    Url,
    Fold,
    Ellipsis,
    Re("[^a-zA-Z0-9\\s.,?!'\":-]", ""),
    Re("\\s+", " "))

  private val UrlPattern = Pattern.compile(Url.pat)
  private val Whitespace = " \t\n\u000B\f\r"
  private val Keep: Array[Boolean] = {
    val k = new Array[Boolean](128)
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ Whitespace ++ ".,?!'\":-")
      .foreach(c => k(c) = true)
    k
  }
  private val IsSpace: Array[Boolean] = {
    val k = new Array[Boolean](128)
    Whitespace.foreach(c => k(c) = true)
    k
  }
  /** Non-ASCII chars the filter would drop but the translate/ellipsis
    * steps rewrite first.
    */
  private val FoldFrom: Array[Char] = (Fold.from + Ellipsis.from).toCharArray
  private val FoldTo: Array[String] =
    Fold.to.map(_.toString).toArray :+ Ellipsis.to
  require(Fold.from.length == Fold.to.length && Ellipsis.from.length == 1)

  def clean(text: String): String = {
    var s = text
    if (s.indexOf('&') >= 0) Entities.foreach(l => s = s.replace(l.from, l.to))
    s = stripTags(s)
    if (containsAsciiCI(s, "http") || containsAsciiCI(s, "www."))
      s = UrlPattern.matcher(s).replaceAll(Url.rep)
    foldFilterCollapse(s)
  }

  private def stripTags(s: String): String = {
    var lt = s.indexOf('<')
    if (lt < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var from = 0
    while (lt >= 0) {
      val gt = s.indexOf('>', lt + 1)
      if (gt < 0) lt = -1
      else {
        sb.append(s, from, lt)
        from = gt + 1
        lt = s.indexOf('<', from)
      }
    }
    sb.append(s, from, s.length).toString
  }

  /** Whether `s` contains `lowerNeedle` (ASCII letters and punctuation)
    * in any ASCII case.
    */
  private def containsAsciiCI(s: String, lowerNeedle: String): Boolean = {
    val m = lowerNeedle.length
    var i = 0
    val last = s.length - m
    while (i <= last) {
      var j = 0
      while (j < m && lowerCase(s.charAt(i + j)) == lowerNeedle.charAt(j)) j += 1
      if (j == m) return true
      i += 1
    }
    false
  }

  private def lowerCase(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Translate + ellipsis + charset filter + `\s+` collapse + trim of the
    * spaces at both ends, in one pass.
    */
  private def foldFilterCollapse(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var space = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      var out: String = null
      if (c < 128) {
        if (IsSpace(c)) space = true
        else if (Keep(c)) {
          if (space && sb.length > 0) sb.append(' ')
          space = false
          sb.append(c)
        }
      } else {
        var k = 0
        while (k < FoldFrom.length && FoldFrom(k) != c) k += 1
        if (k < FoldFrom.length) out = FoldTo(k)
      }
      if (out != null) {
        if (space && sb.length > 0) sb.append(' ')
        space = false
        sb.append(out)
      }
      i += 1
    }
    sb.toString
  }
}

/** Keyword-group matching (prompt_selector.py:36-60,215-330) as one
  * Aho–Corasick pass (Aho & Corasick, CACM 1975) over the bytes of a
  * string, in place of one `contains` per keyword. A keyword matches
  * where `UTF8String.contains` would: as a byte substring. `groups` are
  * keyword lists in priority order; `mode` picks the answer:
  *
  *  - [[KeywordRules.FirstMatch]]: index of the first group with any
  *    keyword present, else `groups.size`;
  *  - [[KeywordRules.EncodedArgmax]]: `max_i(score_i * 100 + 99 - i)`,
  *    where score_i counts the LISTED keywords of group i present (a
  *    keyword listed under two groups scores in both);
  *  - [[KeywordRules.Bitmask]]: bit i set iff group i has a keyword
  *    present.
  *
  * A null string matches no keyword (groups.size / 99 / 0), so the
  * result is never null.
  */
case class KeywordRules(child: Expression, groups: Seq[Seq[String]],
    mode: KeywordRules.Mode) extends UnaryExpression with CodegenFallback {
  import KeywordRules._

  require(groups.nonEmpty && groups.forall(_.nonEmpty) &&
    groups.flatten.forall(_.nonEmpty), "keyword groups must be non-empty")
  require(mode != Bitmask || groups.size < 32, "Bitmask takes < 32 groups")
  require(mode != EncodedArgmax || groups.size <= 100,
    "EncodedArgmax takes <= 100 groups")

  override def prettyName: String = "keyword_rules"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.catalogString}")

  /** Plans print the group shape, not 259 keywords. */
  override def toString: String =
    s"$prettyName($child, $mode, ${groups.map(_.size).mkString("/")})"

  /** Distinct keywords; `occurs(k)` lists the group of each listing. */
  @transient private lazy val keywords: Array[String] =
    groups.flatten.distinct.toArray
  @transient private lazy val occurs: Array[Array[Int]] = {
    val byKw = groups.zipWithIndex
      .flatMap { case (kws, g) => kws.map(_ -> g) }.groupBy(_._1)
    keywords.map(k => byKw(k).map(_._2).toArray)
  }
  @transient private lazy val automaton =
    new AhoCorasick(keywords.map(_.getBytes("UTF-8")))
  /** Per automaton state: the lowest group / the group bits of the
    * keywords ending there.
    */
  @transient private lazy val stateFirst: Array[Int] =
    automaton.out.map(ks => (ks.flatMap(occurs(_)) :+ groups.size).min)
  @transient private lazy val stateMask: Array[Int] =
    automaton.out.map(ks => ks.flatMap(occurs(_)).foldLeft(0)((m, g) => m | (1 << g)))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) mode match {
      case FirstMatch => groups.size
      case EncodedArgmax => 99
      case Bitmask => 0
    } else {
      val s = v.asInstanceOf[UTF8String]
      mode match {
        case FirstMatch => firstMatch(s)
        case EncodedArgmax => encodedArgmax(s)
        case Bitmask => bitmask(s)
      }
    }
  }

  private def firstMatch(s: UTF8String): Int = {
    val a = automaton; val sf = stateFirst
    val base = s.getBaseObject; val off = s.getBaseOffset
    var first = groups.size; var state = 0; var i = 0
    while (i < s.numBytes && first > 0) {
      state = a.step(state, Platform.getByte(base, off + i))
      if (sf(state) < first) first = sf(state)
      i += 1
    }
    first
  }

  private def bitmask(s: UTF8String): Int = {
    val a = automaton; val sm = stateMask
    val base = s.getBaseObject; val off = s.getBaseOffset
    var mask = 0; var state = 0; var i = 0
    while (i < s.numBytes) {
      state = a.step(state, Platform.getByte(base, off + i))
      mask |= sm(state)
      i += 1
    }
    mask
  }

  private def encodedArgmax(s: UTF8String): Int = {
    val a = automaton; val oc = occurs
    val base = s.getBaseObject; val off = s.getBaseOffset
    val seen = new Array[Boolean](oc.length)
    val score = new Array[Int](groups.size)
    var state = 0; var i = 0
    while (i < s.numBytes) {
      state = a.step(state, Platform.getByte(base, off + i))
      val ks = a.out(state)
      var j = 0
      while (j < ks.length) {
        val k = ks(j)
        if (!seen(k)) {
          seen(k) = true
          oc(k).foreach(g => score(g) += 1)
        }
        j += 1
      }
      i += 1
    }
    var best = Int.MinValue; var g = 0
    while (g < score.length) {
      best = math.max(best, score(g) * 100 + 99 - g)
      g += 1
    }
    best
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object KeywordRules {
  sealed trait Mode
  case object FirstMatch extends Mode
  case object EncodedArgmax extends Mode
  case object Bitmask extends Mode
}

/** Byte-level Aho–Corasick automaton as a dense DFA: failure links are
  * folded into the transition table, so each input byte costs one
  * lookup. The alphabet is compressed to the bytes that occur in some
  * keyword; every other byte is class 0 and sends the automaton back to
  * the root. `out(state)` lists the keyword ids that end at `state`,
  * suffix matches included.
  */
final class AhoCorasick(keywords: Array[Array[Byte]]) {
  private val byteClass = new Array[Int](256)
  private val width: Int = {
    var n = 1
    keywords.foreach(_.foreach { b =>
      if (byteClass(b & 0xff) == 0) { byteClass(b & 0xff) = n; n += 1 }
    })
    n
  }

  private val (table, outs) = {
    val next = scala.collection.mutable.ArrayBuffer.fill(width)(-1)
    val outs = scala.collection.mutable.ArrayBuffer(Array.empty[Int])
    keywords.zipWithIndex.foreach { case (kw, id) =>
      var s = 0
      kw.foreach { b =>
        val c = byteClass(b & 0xff)
        if (next(s * width + c) < 0) {
          next(s * width + c) = outs.size
          outs += Array.empty[Int]
          next ++= Iterator.fill(width)(-1)
        }
        s = next(s * width + c)
      }
      outs(s) = outs(s) :+ id
    }
    // Breadth-first: a state's failure target is shallower, so its
    // transitions and outputs are final when the state is reached.
    val fail = new Array[Int](outs.size)
    val queue = scala.collection.mutable.Queue[Int]()
    (0 until width).foreach { c =>
      val t = next(c)
      if (t < 0) next(c) = 0 else { fail(t) = 0; queue += t }
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      (0 until width).foreach { c =>
        val t = next(s * width + c)
        if (t < 0) next(s * width + c) = next(fail(s) * width + c)
        else {
          fail(t) = next(fail(s) * width + c)
          outs(t) = outs(t) ++ outs(fail(t))
          queue += t
        }
      }
    }
    (next.toArray, outs.toArray)
  }

  /** Keyword ids ending at each state. */
  val out: Array[Array[Int]] = outs

  def step(state: Int, b: Byte): Int = table(state * width + byteClass(b & 0xff))
}

object TextFunctions {
  private def toExpr(c: Column): Expression = ColumnBridge.expression(c)
  private def toCol(e: Expression): Column = ColumnBridge.column(e)

  /** The clean-text pipeline of [[CleanText.steps]] as one expression. */
  def cleanText(c: Column): Column = toCol(CleanText(toExpr(c)))

  /** One Aho–Corasick pass answering `mode` over keyword `groups`. */
  def keywordRules(c: Column, groups: Seq[Seq[String]],
      mode: KeywordRules.Mode): Column =
    toCol(KeywordRules(toExpr(c), groups, mode))

  /** `get_json_object(c, '$.<key>')` through [[JsonField]]'s fast path. */
  def jsonField(c: Column, key: String): Column =
    toCol(JsonField(toExpr(c), key))
}
