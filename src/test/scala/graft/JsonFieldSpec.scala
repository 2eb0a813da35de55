package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Random, Try}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{JsonField, TextFunctions}

/** Differential test of the `props` kernel: `JsonField(c, key)` against
  * Spark's `get_json_object(c, '$.<key>')`, alone and under
  * `.cast("int")` with ANSI on and off, over every sf0.01
  * `events.props`, crafted fast-path and fallback inputs, invalid UTF-8,
  * seeded random objects, `""` and null.
  */
class JsonFieldSpec extends SparkSpecBase {
  import spark.implicits._

  private val crafted: Seq[String] = Seq(
    // the fast path: plain ints and escape-free ASCII strings
    """{"k": 5}""", """{"k":5}""", """  {  "k"  :  5  }  """,
    "{\n\t\"k\":\r\n 42\n}", """{"k": -7}""", """{"k": 0}""",
    """{"k": 123456789012345678}""", """{"k": -123456789012345678}""",
    """{"k": "abc"}""", """{"k": "12"}""", """{"k": ""}""", """{"k": " 7 "}""",
    """{"k": "-0"}""", """{"k": "1.5"}""",
    """{"a": 1, "k": 2}""", """{"k": 2, "a": 1}""", """{"k": 1, "k": 2}""",
    """{"a": {"k": 9}, "k": 3}""", """{"a": [1, {"k": 9}, [2, 3]], "k": 4}""",
    """{"k": 4, "a": {"b": [true, false, null, 1.5e3, -0.25, "x", {}]}}""",
    """{"a": [], "b": {}, "k": 5, "c": [[]]}""",
    """{"a": "é ü 中文 😀", "k": 6}""", """{"k": 7, "note": "naïve café"}""",
    """{"k": 8, "a": -0, "b": 0.5, "c": 1E+2, "d": -1e-2}""",
    "{}", """{"a": 1}""", """{"K": 1}""", """{"k ": 1}""", """{"kk": 1}""",
    """{"a": null}""", """{"k": 5} trailing""", """{"k": 5}}""",
    """{"k": 5}{"k": 6}""", """{"k": 5} [""",
    // the exact path: numbers Spark's generator rewrites, or rejects
    """{"k": -0}""", """{"k": 007}""", """{"k": 01}""", """{"k": -01}""",
    """{"k": 1.0}""", """{"k": 1.5}""", """{"k": 1e2}""", """{"k": 1E2}""",
    """{"k": -1.5e-3}""", """{"k": 1.}""", """{"k": -}""", """{"k": +1}""",
    """{"k": .5}""", """{"k": NaN}""", """{"k": 5x}""", """{"k": 5 6}""",
    """{"k": 1234567890123456789}""", """{"k": 12345678901234567890123}""",
    """{"k": -9223372036854775808}""", """{"k": 9223372036854775807}""",
    // escapes, non-ASCII and control characters in the value or the key
    """{"k": "a\"b"}""", """{"k": "a\\b"}""", """{"k": "a\nb"}""",
    """{"k": "é"}""", "{\"k\": \"\\u00e9\"}", "{\"\\u006b\": 5}",
    """{"a": "x\"y", "k": 5}""", """{"a\\": 1, "k": 5}""",
    "{\"k\": \"a\u0001b\"}", "{\"a\": \"x\u0007\", \"k\": 3}",
    "{\"k\":\u000b5}", "\u00a0{\"k\": 5}", "\ufeff{\"k\": 5}",
    // null and structures as the key's value
    """{"k": null}""", """{"k": null, "k": 8}""", """{"k": null, "a": 1}""",
    """{"k": true}""", """{"k": false}""", """{"k": {"a": 1}}""",
    """{"k": [1, 2]}""", """{"k": []}""", """{"k": {}}""",
    // malformed before or after the key, comments, other quoting
    """{'k': 5}""", """{"k": 'x'}""", """{k: 5}""", """{"k": 5,}""",
    """{"k": 5""", """{"k" 5}""", """{"k": 5 "a": 1}""", """{,"k": 5}""",
    """{"a": [1,,2], "k": 5}""", """{"a": [1, 2,], "k": 5}""",
    """{"k": 5, "a": tru}""", """{"k": 5, "a": nul}""", """{"k": 5, "a": truex}""",
    """{"k": 5, "a": 01}""", """{"k": 5, "a": +1}""", """{"k": 5, "a": .5}""",
    """{"k": 5, "a": NaN}""", """{"k": 5, "a": 1.}""", """{"k": 5, "a": {"b"}}""",
    """{"k": 5, "a": {"b": 1,}}""", """{"k": 5, "a": [1}""", """{"k": 5, "a": {]}""",
    """{"k": 5 /* c */}""", """{/*c*/"k": 5}""", """{"k": 5} // c""",
    "{\"a\": 1 # c\n, \"k\": 2}", """{"k": 5, "a": "unterminated}""",
    // not an object
    "[1, 2]", """[{"k": 1}]""", "5", "\"k\"", "null", "", " ", "{", "}",
    // nesting, long names, numbers and strings
    "{\"a\": " + "[" * 70 + "]" * 70 + ", \"k\": 1}",
    "{\"a\": " + "[" * 10 + "{\"k\": 9}" + "]" * 10 + ", \"k\": 1}",
    "{\"" + "a" * 1500 + "\": 1, \"k\": 2}",
    "{\"a\": " + "9" * 1200 + ", \"k\": 2}",
    "{\"a\": " + "9" * 1001 + ", \"k\": 2}",
    "{\"k\": \"" + "x" * 1200 + "\"}")

  /** Byte strings that are not valid UTF-8, around and inside the key. */
  private val invalidUtf8: Seq[Array[Byte]] = {
    def bytes(parts: Any*): Array[Byte] = parts.toArray.flatMap {
      case s: String => s.getBytes(UTF_8)
      case b: Int => Array(b.toByte)
    }
    Seq(
      bytes("{\"a\":\"", 0xc3, "\",\"k\":5}"),
      bytes("{\"k\":\"x", 0xff, "\"}"),
      bytes("{\"k", 0xe2, "\":1,\"k\":2}"),
      bytes("{\"k\":3}", 0xff),
      bytes(0xef, 0xbb, "{\"k\":4}"),
      bytes("{\"a\":\"", 0xed, 0xa0, 0x80, "\",\"k\":6}"))
  }

  /** Seeded objects built from the pieces the crafted list probes. */
  private val generated: Seq[String] = {
    val rnd = new Random(20261019)
    val keys = Seq("k", "a", "kk", "K", "note", "k")
    val values = Seq("0", "7", "-3", "42", "-0", "01", "1.5", "2e3", "null",
      "true", "false", "\"x\"", "\"\"", "\"a b\"", "\"é\"", "\"q\\\"\"",
      "{}", "[]", "{\"k\": 1}", "[1, [2, {\"k\": 3}]]", "123456789012345678",
      "1234567890123456789", "tru", "[1,,2]")
    val spaces = Seq("", " ", "  ", "\n", "\t", "\r\n")
    def sp = spaces(rnd.nextInt(spaces.size))
    Seq.fill(600) {
      val members = Seq.fill(rnd.nextInt(5)) {
        s"$sp\"${keys(rnd.nextInt(keys.size))}\"$sp:$sp" +
          values(rnd.nextInt(values.size)) + sp
      }
      s"$sp{${members.mkString(",")}}$sp"
    }
  }

  private lazy val sfProps: Seq[String] =
    spark.read.parquet(s"${SparkSpecBase.Sf001}/events.parquet")
      .select("props").as[String].collect().toSeq

  /** (id, j): every input as a string column, null included. */
  private lazy val inputs: DataFrame = {
    val strings = (crafted ++ generated ++ sfProps).map(s => Option(s.getBytes(UTF_8)))
    (strings ++ invalidUtf8.map(Option(_)) :+ None).zipWithIndex
      .map { case (b, i) => (i, b.orNull) }.toDF("id", "bin")
      .select(col("id"), col("bin").cast("string").as("j"))
      .repartition(4)
      .localCheckpoint()
  }

  private def kernel(key: String): Column = TextFunctions.jsonField(col("j"), key)
  private def reference(key: String): Column =
    get_json_object(col("j"), "$." + key)

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try f finally spark.conf.set("spark.sql.ansi.enabled", old)
  }

  private def assertSame(key: String, cast: Boolean, rows: DataFrame): Unit = {
    def as(c: Column) = if (cast) c.cast("int") else c
    val got = rows.select(col("id"), col("j"), as(kernel(key)).as("f"),
      as(reference(key)).as("g")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.get(2) == r.get(3),
        s"key $key cast=$cast on ${Option(r.getString(1)).map(_.take(80))}: " +
          s"kernel ${r.get(2)}, get_json_object ${r.get(3)}")
    }
  }

  test("the kernel returns get_json_object's string for every input and " +
      "key") {
    Seq("k", "a", "kk", "K", "note").foreach(k => assertSame(k, cast = false, inputs))
  }

  test("under cast(int) with ANSI off the kernel matches get_json_object") {
    withAnsi(on = false)(assertSame("k", cast = true, inputs))
  }

  test("under cast(int) with ANSI on the kernel matches, and fails where " +
      "get_json_object fails") {
    withAnsi(on = true) {
      val bad = inputs.filter(reference("k").isNotNull &&
        reference("k").try_cast("int").isNull)
      assertSame("k", cast = true, inputs.join(bad, Seq("id"), "left_anti"))
      val badJson = bad.select("j").as[String].collect()
      assert(badJson.length >= 10)
      // one local row each: the cast fails while the optimizer folds
      // it, without a failed task per input
      badJson.foreach { j =>
        def fails(c: Column) =
          Try(Seq(j).toDF("j").select(c.cast("int")).collect()).isFailure
        assert(fails(kernel("k")) && fails(reference("k")), j)
      }
    }
  }

  test("the fast path decides the real props and the fallback inputs " +
      "take the exact path") {
    def share(ps: Seq[String]) =
      ps.count(p => JsonField.decides(UTF8String.fromString(p), "k"))
    val sf = share(sfProps)
    // the perfbench corpus writes props as {"k": n}, n in 0..99
    val bench = share((0 until 100).map(n => s"""{"k": $n}"""))
    info(s"fast path: $sf of ${sfProps.size} sf0.01 props, $bench of 100 " +
      "perfbench props values")
    assert(sf === sfProps.size)
    assert(bench === 100)
    Seq("""{"k": -0}""", """{"k": 01}""", """{"k": 1.0}""", """{"k": 1e2}""",
      """{"k": 1234567890123456789}""", """{"k": "a\"b"}""", """{"k": null}""",
      """{"k": 5,}""", """{"a": [1,,2], "k": 5}""", """{'k': 5}""", "", "[1]")
      .foreach(p => assert(!JsonField.decides(UTF8String.fromString(p), "k"), p))
  }
}
