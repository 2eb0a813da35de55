package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GenericInternalRow, GetJsonObject, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `get_json_object(child, '$.<key>')`, the same string for every input,
  * with one byte scan where Spark runs a Jackson parse.
  *
  * The fast path walks the top-level object once: keys without escapes,
  * values other than the key's checked against the JSON grammar and
  * skipped (nested objects and arrays by bracket matching), and the
  * key's own value taken as is when it is a plain integer literal or an
  * escape-free ASCII string. That is the text Spark's generator writes
  * for those values. A valid object without the key gives null.
  *
  * Every other input takes Spark's own `GetJsonObject`: no object at
  * the top, single quotes, escapes, control characters in a string,
  * `-0`, leading zeros, fractions and exponents, integers longer than
  * 18 digits, `null` or a structure as the key's value (Spark keeps
  * searching after `"k": null`), deep nesting, long names or numbers,
  * and anything malformed before the closing brace. Spark stops reading
  * at that brace, so trailing bytes are not looked at by either path.
  *
  * `CodegenFallback`: an operator holding it leaves whole-stage codegen,
  * so a plan should evaluate it once per row (give it its own column).
  */
case class JsonField(child: Expression, key: String) extends UnaryExpression
    with CodegenFallback {
  require(key.matches("[A-Za-z_][A-Za-z0-9_]*"),
    s"json_field takes a plain name, got '$key'")

  override def prettyName: String = "json_field"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, " +
        s"got ${child.dataType.catalogString}")

  @transient private lazy val keyBytes: Array[Byte] =
    key.getBytes(StandardCharsets.UTF_8)
  @transient private lazy val exact: GetJsonObject = GetJsonObject(
    BoundReference(0, StringType, nullable = true), Literal("$." + key))

  override def nullSafeEval(s: Any): Any = {
    val json = s.asInstanceOf[UTF8String]
    val scan = new JsonField.Scan(json, keyBytes)
    scan.run() match {
      case JsonField.Found => scan.value
      case JsonField.Absent => null
      case _ => exact.eval(new GenericInternalRow(Array[Any](json)))
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object JsonField {
  private val Found = 1
  private val Absent = 0
  private val Undecided = -1

  private val MaxDepth = 64
  private val MaxToken = 1000

  /** Whether the fast path decides `json` for `key` (tests report the
    * share of a corpus it covers).
    */
  def decides(json: UTF8String, key: String): Boolean =
    new Scan(json, key.getBytes(StandardCharsets.UTF_8)).run() != Undecided

  /** One pass over one input. `i` is the read position; a method that
    * returns false leaves the input undecided.
    */
  private final class Scan(json: UTF8String, key: Array[Byte]) {
    private val base = json.getBaseObject
    private val off = json.getBaseOffset
    private val n = json.numBytes
    private var i = 0
    private var from = -1
    private var to = -1

    private def peek: Int =
      if (i < n) Platform.getByte(base, off + i) & 0xff else -1
    private def ws(): Unit = {
      var c = peek
      while (c == ' ' || c == '\t' || c == '\n' || c == '\r') {
        i += 1; c = peek
      }
    }
    private def digits(): Int = {
      val d0 = i
      while (peek >= '0' && peek <= '9') i += 1
      i - d0
    }

    /** The key's value, copied out of the row. */
    def value: UTF8String = {
      val bytes = new Array[Byte](to - from)
      Platform.copyMemory(base, off + from, bytes, Platform.BYTE_ARRAY_OFFSET,
        to - from)
      UTF8String.fromBytes(bytes)
    }

    def run(): Int = {
      ws()
      if (peek != '{') return Undecided
      i += 1; ws()
      if (peek == '}') return Absent
      var more = true
      while (more) {
        val k0 = i + 1
        if (!string()) return Undecided
        val isKey = from < 0 && i - 1 - k0 == key.length && sameAsKey(k0)
        ws()
        if (peek != ':') return Undecided
        i += 1; ws()
        if (!(if (isKey) keyValue() else value(0))) return Undecided
        ws()
        if (peek == ',') { i += 1; ws() }
        else if (peek == '}') more = false
        else return Undecided
      }
      if (from >= 0) Found else Absent
    }

    private def sameAsKey(k0: Int): Boolean = {
      var j = 0
      while (j < key.length && Platform.getByte(base, off + k0 + j) == key(j))
        j += 1
      j == key.length
    }

    /** A string without escapes or control characters; `i` ends past
      * its closing quote.
      */
    private def string(): Boolean = {
      if (peek != '"') return false
      val s0 = i
      i += 1
      var c = peek
      while (c != '"') {
        if (c < 0x20 || c == '\\' || i - s0 > MaxToken) return false
        i += 1; c = peek
      }
      i += 1
      true
    }

    /** The key's value: a plain integer literal or an ASCII string. */
    private def keyValue(): Boolean =
      if (peek == '"') {
        val s0 = i + 1
        string() && {
          var j = s0
          while (j < i - 1 && Platform.getByte(base, off + j) >= 0) j += 1
          from = s0; to = i - 1
          j == i - 1
        }
      } else {
        val s0 = i
        if (peek == '-') i += 1
        val d0 = i
        val nd = digits()
        val c = peek
        from = s0; to = i
        nd > 0 && nd <= 18 && c != '.' && c != 'e' && c != 'E' &&
          (Platform.getByte(base, off + d0) != '0' || (nd == 1 && s0 == d0))
      }

    /** Any JSON value, checked against the grammar and skipped. */
    private def value(depth: Int): Boolean = {
      val c = peek
      if (c == '"') string()
      else if (c == '{') members(depth + 1, '}', () =>
        string() && { ws(); peek == ':' } && { i += 1; ws(); value(depth + 1) })
      else if (c == '[') members(depth + 1, ']', () => value(depth + 1))
      else if (c == '-' || (c >= '0' && c <= '9')) number()
      else if (c == 't') literal("true")
      else if (c == 'f') literal("false")
      else if (c == 'n') literal("null")
      else false
    }

    /** `open (member (, member)*)? close`, `i` at `open`. */
    private def members(depth: Int, close: Int, member: () => Boolean)
        : Boolean = {
      if (depth > MaxDepth) return false
      i += 1; ws()
      if (peek == close) { i += 1; return true }
      while (true) {
        if (!member()) return false
        ws()
        if (peek == close) { i += 1; return true }
        if (peek != ',') return false
        i += 1; ws()
      }
      false
    }

    /** `-? (0 | [1-9][0-9]*) (. [0-9]+)? ([eE] [+-]? [0-9]+)?` */
    private def number(): Boolean = {
      val s0 = i
      if (peek == '-') i += 1
      val d0 = i
      val nd = digits()
      if (nd == 0 || (nd > 1 && Platform.getByte(base, off + d0) == '0'))
        return false
      if (peek == '.') { i += 1; if (digits() == 0) return false }
      if (peek == 'e' || peek == 'E') {
        i += 1
        if (peek == '+' || peek == '-') i += 1
        if (digits() == 0) return false
      }
      i - s0 <= MaxToken
    }

    private def literal(word: String): Boolean = {
      var j = 0
      while (j < word.length && peek == word.charAt(j)) { i += 1; j += 1 }
      j == word.length
    }
  }
}
