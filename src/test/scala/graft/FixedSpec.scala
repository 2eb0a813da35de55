package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Fixed

/** The fixed-point convention where it departs from Spark's built-ins,
  * and a guard that keeps it stated once: `src/main` may not define its
  * own rounding helper or inline the `floor(x * 10^k + 0.5)` form.
  */
class FixedSpec extends SparkSpecBase {
  import spark.implicits._
  import FixedSpec._

  test("r4 departs from round and bround on the k/20000 sweep") {
    val rows = spark.range(-200, 201)
      .select(col("id").as("k"), (col("id") / 20000).as("x"))
      .select(col("k"), Fixed.r4(col("x")).as("r4"),
        round(col("x"), 4).as("round"), bround(col("x"), 4).as("bround"))
      .as[(Long, Double, Double, Double)].collect()
      .map { case (k, r4, rd, br) => k -> (r4, rd, br) }.toMap
    assert(rows.size == 401)
    // (r4, round, bround): -0.00005 is a tie r4 takes up, round away
    // from zero; 0.00005 a tie bround takes to the even 0; 0.00015 is
    // 1.4999999999999998 once scaled in doubles, which only r4 sees
    assert(rows(-1L) == ((0.0, -0.0001, -0.0)))
    assert(rows(1L) == ((0.0001, 0.0001, 0.0)))
    assert(rows(3L) == ((0.0001, 0.0002, 0.0002)))
    assert(rows(29L) == ((0.0014, 0.0015, 0.0014)))
    assert(rows.values.count { case (r4, rd, _) => r4 != rd } > 0)
    assert(rows.values.count { case (r4, _, br) => r4 != br } > 0)
  }

  test("r2/r4/r6 keep null, and a DECIMAL input rounds exactly") {
    val r = spark.range(1).select(
      Fixed.r2(lit(null).cast("double")).as("n2"),
      Fixed.r4(lit(null).cast("double")).as("n4"),
      Fixed.r6(lit(null).cast("double")).as("n6"),
      Fixed.units(lit(null).cast("double"), 10000).as("nu"),
      Fixed.r4(lit(BigDecimal("0.00015")).cast("decimal(10,5)")).as("d4"),
      Fixed.r4(lit(0.00015)).as("f4"),
      Fixed.r2(lit(2.675)).as("f2"),
      Fixed.r6(lit(1.0) / 3).as("f6")).head()
    assert((0 to 3).forall(r.isNullAt))
    // a DECIMAL scales exactly, so its tie lands on .5 and rounds up;
    // the double 0.00015 scales to just under it
    assert(r.getDouble(4) == 0.0002)
    assert(r.getDouble(5) == 0.0001)
    assert(r.getDouble(6) == 2.68)
    assert(r.getDouble(7) == 0.333333)
  }

  test("units at every scale in use is a BIGINT floor(x * scale + 0.5)") {
    val cases = Seq(
      (0.125, 100, 13L), (-0.125, 100, -12L), (19.994999, 100, 1999L),
      (0.00005, 10000, 1L), (-0.00005, 10000, 0L), (0.00015, 10000, 1L),
      (0.0000015, 1000000, 2L), (-2.5e-6, 1000000, -2L),
      (0.12345675, 10000000, 1234568L), (-1.0, 10000000, -10000000L))
    val df = spark.range(1).select(cases.zipWithIndex.map {
      case ((x, scale, _), i) => Fixed.units(lit(x), scale).as(s"u$i")
    }: _*)
    assert(df.schema.fields.forall(_.dataType == LongType))
    assert(df.head().toSeq == cases.map(_._3))
  }

  test("money surfaces 1e-4 units as a 2dp double") {
    val r = Seq(1234550L, 1234549L, -1234550L, 0L).toDF("u")
      .select(Fixed.money(col("u"))).as[Double].collect().toSeq
    assert(r == Seq(123.46, 123.45, -123.45, 0.0))
  }

  test("leastSquares gives the hand-computed slope, intercept and r2") {
    // y = 2x + 1 exactly, and (0,1),(1,3),(2,2): n=3, Sx=3, Sy=6,
    // Sxy=7, Sxx=5, Syy=14 -> num=3, dx=6, dy=6, icNum=9
    def fit(pts: Seq[(Long, Long)]): (Long, Double, Double, Double) = {
      val Fixed.LeastSquares(m, num, dx, dy, icNum) =
        Fixed.leastSquares(pts.toDF("xu", "yu"))
      m.select(col("n"), num / dx, icNum / dx, num * num / (dx * dy))
        .as[(Long, Double, Double, Double)].head()
    }
    assert(fit(Seq((1L, 3L), (2L, 5L), (3L, 7L))) == ((3L, 2.0, 1.0, 1.0)))
    assert(fit(Seq((0L, 1L), (1L, 3L), (2L, 2L))) == ((3L, 0.5, 1.5, 0.25)))
  }

  test("the guard finds definitions and inline forms, not comments") {
    val src =
      """object X {
        |  def r4(c: Column) = floor(c * 10000 + 0.5) / 10000
        |  // def r6(c: Column) = floor(c * 1000000 + 0.5) / 1000000
        |  val a = floor(col("x") * 100 + lit(0.5)).cast("long")
        |  val b = floor(col("x") * lit(1000000.0) + 0.5)
        |  val c = math.floor(x * 10000 + 0.5)
        |  val d = expr("floor(x * 10000 + 0.5)")
        |  val e = floor(col("a") * (col("b") * 100 + 0.5))
        |  /* floor(y * 100 + 0.5) */
        |}""".stripMargin
    assert(restatements(src) == Seq(2 -> "def r4", 2 -> "floor(",
      4 -> "floor("))
  }

  test("src/main states the rounding only through Fixed") {
    val root = new File("src/main/scala")
    val files = scalaFiles(root).filterNot(f =>
      Seq("DuckSql.scala", "Fixed.scala").contains(f.getName))
    assert(files.size > 20, s"no sources under ${root.getAbsolutePath}")
    val found = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8)
      restatements(src).map { case (line, what) =>
        s"${f.getPath}:$line $what" }
    }
    assert(found.isEmpty,
      found.mkString("use graft.functions.Fixed:\n", "\n", ""))
  }
}

object FixedSpec {

  private val LocalDef = """\bdef\s+(r2|r4|r6|rnd4|rnd6|r6f|r6u)\b""".r
  private val ColumnFloor = """(?<![\w.])floor\s*\(""".r
  private val ScaledHalf = """\*\s*10+\s*\+\s*0\.5\s*$""".r

  def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** `src` with comments and string and char literals blanked, line
    * breaks kept.
    */
  def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def skipTo(end: Int): Unit = {
      src.substring(i, end).foreach(c => out += (if (c == '\n') c else ' '))
      i = end
    }
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        skipTo(if (e < 0) src.length else e)
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var j = i
        do {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        } while (depth > 0 && j < src.length)
        skipTo(j min src.length)
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        var j = if (e < 0) src.length else e + 3
        while (j < src.length && src(j) == '"') j += 1
        skipTo(j)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        skipTo((j + 1) min src.length)
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        skipTo(src.indexOf('\'', i + 2) + 1)
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  /** The `floor(` argument's top level: `lit(v)` read as `v`, every
    * nested group collapsed to `_`.
    */
  private def topLevel(arg: String): String = {
    var s = """lit\(\s*([^()]*?)\s*\)""".r.replaceAllIn(arg, "$1")
    var prev = ""
    while (s != prev) { prev = s; s = """\([^()]*\)""".r.replaceAllIn(s, "_") }
    s
  }

  /** (line, what) of each local rounding def and each inline Column
    * `floor(… * 10^k + 0.5)` in Scala source `src`.
    */
  def restatements(src: String): Seq[(Int, String)] = {
    val c = code(src)
    def line(at: Int) = c.substring(0, at).count(_ == '\n') + 1
    val defs = LocalDef.findAllMatchIn(c)
      .map(m => line(m.start) -> s"def ${m.group(1)}")
    val floors = ColumnFloor.findAllMatchIn(c).flatMap { m =>
      var depth = 0
      val close = (m.end - 1 until c.length).find { j =>
        if (c(j) == '(') depth += 1 else if (c(j) == ')') depth -= 1
        depth == 0
      }
      close.filter(e => ScaledHalf.findFirstIn(
        topLevel(c.substring(m.end, e))).isDefined)
        .map(_ => line(m.start) -> "floor(")
    }
    (defs ++ floors).toSeq.sorted
  }
}
