package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineSim
import graft.operators.Similarity
import graft.sources.Tables

/** ANN realism probe: sweeps IVFADC cell count / nprobe at a given
  * corpus and reports build cost, probe-only cost (min of 2, noop sink)
  * and recall@3 against the exact cosine top-3 — the measured
  * recall/cost tradeoff the toy oracle setting (k=8, nprobe=2) cannot
  * show.
  *
  * Usage: runMain graft.tools.AnnProbe <dir> [k] [nprobe] [rotate01]
  *
  * `<dir>` may be `embed:<srcDir>` — the probe then runs over the
  * engine's OWN embed_text vectors of that corpus's documents (hash
  * features of real text: duplicate/near-dup docs collapse to
  * identical/near vectors — the clustered regime real embedding corpora
  * live in), instead of the uniform-random embeddings table (the known
  * IVF worst case).
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val dir0 = args(0)
    val k = if (args.length > 1) args(1).toInt else 8
    val nprobe = if (args.length > 2) args(2).toInt else 2
    val rotate = args.length > 3 && args(3) == "1"
    val spark = graft.Session.local()

    val dir = if (dir0.startsWith("embed:")) {
      val src = dir0.stripPrefix("embed:")
      val out = java.nio.file.Files
        .createTempDirectory("graft-embed-corpus").toString
      graft.operators.Embedder.embedText(spark, src)
        .select(col("doc_id").as("vec_id"),
          col("embedding").cast("array<float>").as("embedding"),
          pmod(col("doc_id"), lit(8)).cast("int").as("label"))
        .coalesce(4)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      out
    } else dir0

    val path = s"${Similarity.ivfPqIndexPath(dir)}-k$k" +
      (if (rotate) "-rot" else "")
    val t0 = System.nanoTime()
    Similarity.buildIvfPqIndex(spark, dir, path, k, rotate)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val idx = Similarity.loadIvfPqIndex(spark, path)

    def probeOnce(): Double = {
      val t = System.nanoTime()
      Similarity.annIvfPqProbe(spark, dir, idx, nprobe)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    val probeSec = Seq.fill(2)(probeOnce()).min

    // recall@3 of the ADC ranking vs the exact cosine top-3
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("s").desc, col("neighbor_id"))
    val exact = e.join(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("embedding"), col("qe")).as("s"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 3)
      .select("q_id", "neighbor_id")
    val approx = Similarity.annIvfPqProbe(spark, dir, idx, nprobe)
      .select("q_id", "neighbor_id")
    val nExact = exact.count()
    val nHit = approx.intersect(exact).count()
    val recall = nHit.toDouble / nExact

    println(s"""{"k":$k,"nprobe":$nprobe,"rotate":$rotate,""" +
      s""""build_sec":$buildSec,"probe_sec":$probeSec,""" +
      s""""recall_at_3":$recall,"dir":"$dir"}""")
    spark.stop()
  }
}
