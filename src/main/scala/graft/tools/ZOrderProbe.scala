package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}

/** Measures the z-order layout's ACTUAL file-skipping payoff on a real
  * corpus (the SinksSpec span proof, turned into the operational
  * number): writes the documents table once sorted 1-dim by doc_id and
  * once z-ordered on (doc_id, n_chars), then for a selective range
  * probe on EACH dimension counts the files a min/max-pruning reader
  * must open — i.e. files whose per-file [min,max] span intersects the
  * probe range. Per-file spans are computed engine-side via
  * input_file_name() grouping, which equals the parquet footer stats a
  * real reader prunes on.
  *
  * Usage: runMain graft.tools.ZOrderProbe <dir> [numFiles]
  *
  * Expectation (recorded in BASELINE.md): the 1-dim sort prunes
  * perfectly on its own sort key and reads EVERY file on the other
  * dim; the z-layout reads ~sqrt-fraction on both.
  */
object ZOrderProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 64
    val spark = graft.Session.local()

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("lang"), col("source"))
    val base = java.nio.file.Files.createTempDirectory("zorder-probe")
      .toString
    Sinks.writeSortedParquet(docs, s"$base/sorted", Seq("doc_id"),
      numPartitions = nFiles)
    Sinks.writeZOrdered(docs, s"$base/z", "doc_id", "n_chars", nFiles)

    // probe ranges: ~1% of each dimension's observed domain
    val r = docs.agg(min("doc_id"), max("doc_id"),
      min("n_chars"), max("n_chars")).head()
    val (idLo, idHi) = (r.getLong(0), r.getLong(1))
    val (chLo, chHi) = (r.getLong(2), r.getLong(3))
    val idProbe = (idLo, idLo + math.max(1L, (idHi - idLo) / 100))
    val chProbe = (chLo + (chHi - chLo) / 2,
      chLo + (chHi - chLo) / 2 + math.max(1L, (chHi - chLo) / 100))

    /** files whose [min,max] footer span intersects [lo,hi] / total */
    def filesRead(path: String, dim: String, lo: Long, hi: Long)
        : (Long, Long) = {
      val spans = Tables.read(spark, path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(dim)).as("lo"), max(col(dim)).as("hi"))
      val total = spans.count()
      val hit = spans.filter(col("hi") >= lo && col("lo") <= hi).count()
      (hit, total)
    }

    Seq("sorted" -> s"$base/sorted", "z" -> s"$base/z").foreach {
      case (name, path) =>
        val (ia, ta) = filesRead(path, "doc_id", idProbe._1, idProbe._2)
        val (ib, tb) = filesRead(path, "n_chars", chProbe._1, chProbe._2)
        println(f"ZORDER $name%-7s doc_id_files=$ia%3d/$ta%-3d " +
          f"n_chars_files=$ib%3d/$tb%-3d " +
          s"(probes: doc_id=[${idProbe._1},${idProbe._2}] " +
          s"n_chars=[${chProbe._1},${chProbe._2}])")
    }

    // tenant layout: directory prune (shard) then row-group prune
    // (user min/max within the shard's sorted files)
    import graft.operators.Tenancy
    Tenancy.writeTenantLayout(spark, dir, s"$base/tenants")
    def parquetFiles(p: String): Seq[java.io.File] = {
      val f = new java.io.File(p)
      if (!f.exists) Nil
      else f.listFiles.toSeq.flatMap { c =>
        if (c.isDirectory) parquetFiles(c.getPath)
        else if (c.getName.endsWith(".parquet")) Seq(c) else Nil
      }
    }
    val total = parquetFiles(s"$base/tenants").size
    val user = Tables.read(spark, s"$base/tenants")
      .select(max(col("user_id"))).head.getLong(0) / 2
    val shardDir =
      s"$base/tenants/tenant_shard=${Tenancy.shardOf(user)}"
    val shardFiles = parquetFiles(shardDir).size
    val userFiles = Tables.read(spark, shardDir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
      .filter(col("lo") <= user && col("hi") >= user)
      .count()
    println(s"TENANT total_files=$total shard_files=$shardFiles " +
      s"user_files=$userFiles (user=$user shard=${Tenancy.shardOf(user)})")
    spark.stop()
  }
}
