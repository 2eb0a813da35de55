package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, floor, lit, sum}

/** The fixed-point rounding every operator shares with the DuckDB oracle.
  *
  * A ratio surfaces at k decimals as `floor(x · 10^k + ½) / 10^k`
  * ([[r2]], [[r4]], [[r6]]); a value that is summed or compared exactly
  * goes to integer units as `floor(x · 10^k + ½)` cast to BIGINT
  * ([[units]]). Both engines compute these in identical IEEE doubles,
  * so they agree bit for bit. Spark's `round` (HALF_UP over the decimal
  * expansion) and `bround` (HALF_EVEN) do not: they disagree with the
  * oracle at ties, and a rational result (a jaccard, a mean of exact
  * integers) lands on a tie often enough to break a hash.
  *
  * Scales are `Int`, so each helper builds the same expression tree as
  * the inline form it states once (`c * 10000 + 0.5`, an integer
  * literal). The oracle side (`oracle.DuckSql` and the SQL strings in
  * `SparkEntry`) keeps its own statement of the rule on purpose: a bug
  * generated into both sides would pass both.
  */
object Fixed {

  private def round(c: Column, scale: Int): Column =
    floor(c * scale + 0.5) / scale

  /** `c` rounded to 2 decimals, ties up: `floor(c · 100 + ½) / 100`. */
  def r2(c: Column): Column = round(c, 100)

  /** `c` rounded to 4 decimals, ties up: `floor(c · 10⁴ + ½) / 10⁴`. */
  def r4(c: Column): Column = round(c, 10000)

  /** `c` rounded to 6 decimals, ties up: `floor(c · 10⁶ + ½) / 10⁶`. */
  def r6(c: Column): Column = round(c, 1000000)

  /** `c` in integer `1/scale` units: `floor(c · scale + ½)` as BIGINT.
    * Sums of units are exact and order-independent where a double sum
    * depends on the partitioning.
    */
  def units(c: Column, scale: Int): Column =
    floor(c * scale + 0.5).cast("long")

  /** A money total kept in 1e-4 [[units]], surfaced as a 2dp double:
    * `floor(u / 100 + ½) / 100`.
    */
  def money(u: Column): Column = floor(u.cast("double") / 100 + 0.5) / 100

  /** The closed-form least-squares fit of [[leastSquares]]. `moments`
    * is its one-row aggregate (`n`, `sx`, `sy`, `sxy`, `sxx`, `syy`);
    * the other fields are expressions over it:
    *  - `num` = n·Sxy − Sx·Sy, `dx` = n·Sxx − Sx², `dy` = n·Syy − Sy²;
    *  - `icNum` = Sy·Sxx − Sx·Sxy.
    *
    * So slope = num / dx (y units per x unit), intercept = icNum / dx
    * (y units) and r² = num² / (dx · dy).
    */
  final case class LeastSquares(moments: DataFrame, num: Column,
      dx: Column, dy: Column, icNum: Column)

  /** One aggregate of count and the five moment sums of `xy`'s BIGINT
    * unit columns `xu` and `yu` (callers bound the units so the sums
    * fit), and the cross products over it. A cross product can exceed
    * BIGINT, so each is taken in DECIMAL(38,0) (HUGEINT on the oracle
    * side) and cast to double once; the oracle mirrors the operation
    * order, so every IEEE step matches.
    */
  def leastSquares(xy: DataFrame): LeastSquares = {
    val m = xy.agg(count(lit(1)).as("n"),
      sum(col("xu")).as("sx"), sum(col("yu")).as("sy"),
      sum(col("xu") * col("yu")).as("sxy"),
      sum(col("xu") * col("xu")).as("sxx"),
      sum(col("yu") * col("yu")).as("syy"))
    def cross(a: String, b: String, c: String, d: String): Column =
      (col(a).cast("decimal(38,0)") * col(b) -
        col(c).cast("decimal(38,0)") * col(d)).cast("double")
    LeastSquares(m, cross("n", "sxy", "sx", "sy"),
      cross("n", "sxx", "sx", "sx"), cross("n", "syy", "sy", "sy"),
      cross("sy", "sxx", "sx", "sxy"))
  }
}
