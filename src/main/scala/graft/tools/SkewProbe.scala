package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Measured skew story for the shingle verify join: a deliberately
  * hot-keyed candidate set (one document in `hotPairs` pairs — the
  * boilerplate-page shape at crawl scale) verified by the plain
  * [[Dedup.verifyJaccard]] and by the salted
  * [[Dedup.verifyJaccardSalted]]; prints min-of-2 wall times per arm
  * and asserts the results identical. The plain arm's hot doc lands
  * pairs × shingles rows in ONE shuffle partition; the salted arm
  * spreads them `salts` ways.
  *
  * Usage: runMain graft.tools.SkewProbe [hotPairs] [coldDocs] [salts]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val hotPairs = if (args.length > 0) args(0).toInt else 200000
    val coldDocs = if (args.length > 1) args(1).toInt else 50000
    val salts = if (args.length > 2) args(2).toInt else 16
    val spark = graft.Session.local()
    // AQE's own skew splitting would mask the effect being measured;
    // at 100 TB it fires only for sort-merge joins with visible stats,
    // and the point here is the explicit salting path.
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    import spark.implicits._

    // Shingle store: every doc owns 22 deterministic shingles; the hot
    // doc (id 0) shares them all (jaccard 1 with every partner), cold
    // docs share none.
    val nDocs = coldDocs.toLong + hotPairs.toLong + 1L
    val sh = Tables.cpuPartition(
      spark.range(0, nDocs).toDF("doc_id")
        .select(col("doc_id"),
          explode(sequence(lit(0), lit(21))).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", lit("g"), pmod(col("doc_id"), lit(1000)),
            col("i")).as("g"),
          lit(22L).as("n")),
      col("doc_id")).localCheckpoint(false)
    // Candidate pairs: the hot doc pairs with ids 1..hotPairs; cold
    // pairs link consecutive high ids.
    val hot = spark.range(1, hotPairs.toLong + 1)
      .select(lit(0L).as("id_a"), col("id").as("id_b"))
    val cold = spark.range(hotPairs.toLong + 1, hotPairs.toLong + coldDocs)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val cand = Tables.cpuPartition(hot.unionByName(cold), col("id_b"))
      .localCheckpoint(false)

    def time2(f: => Unit): Double = {
      def once: Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }
    val tPlain = time2(Dedup.verifyJaccard(cand, sh)
      .write.format("noop").mode("overwrite").save())
    val tSalted = time2(Dedup.verifyJaccardSalted(cand, sh, salts)
      .write.format("noop").mode("overwrite").save())
    val tAware = time2(Dedup.verifyJaccardSkewAware(cand, sh, salts)
      .write.format("noop").mode("overwrite").save())
    val plain = Dedup.verifyJaccard(cand, sh)
    def diffOf(other: org.apache.spark.sql.DataFrame): Long =
      plain.unionByName(other)
        .groupBy("id_a", "id_b", "jaccard").agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2).count()
    val dS = diffOf(Dedup.verifyJaccardSalted(cand, sh, salts))
    val dA = diffOf(Dedup.verifyJaccardSkewAware(cand, sh, salts))
    println(f"SKEWPROBE hot=$hotPairs cold=$coldDocs salts=$salts " +
      f"plain=$tPlain%.3f s salted=$tSalted%.3f s skew_aware=$tAware%.3f s " +
      f"diff_salted=$dS diff_aware=$dA rows=${plain.count()}")
    spark.stop()
  }
}
