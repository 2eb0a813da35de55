package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType,
  TimestampType}

import graft.operators.{IndexStore, Similarity}
import graft.sources.Tables

/** `Tables.read` returns what `spark.read.parquet` returns, without the
  * schema-inference job while a path's files are unchanged; and
  * `Tables.events` reads every `ts` encoding as the same ns long.
  */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Whole microseconds, so every encoding holds them exactly. */
  private val nanos = Seq(0L, 1500000000123456000L, 1700000000000001000L)

  private val encodings: Seq[(String, DataType)] =
    Seq("long" -> LongType, "ntz" -> TimestampNTZType, "ltz" -> TimestampType)

  /** Writes `dir/events.parquet` with `ts` = `ns` under encoding `enc`. */
  private def writeEvents(dir: String, enc: String, ns: Seq[Long]): Unit = {
    val instant = timestamp_micros(expr("ns div 1000"))
    val ts = enc match {
      case "long" => col("ns")
      case "ntz" => instant.cast("timestamp_ntz") // wall clock, UTC session
      case "ltz" => instant
    }
    ns.zipWithIndex.toDF("ns", "event_id")
      .select(col("event_id").cast("long"), ts.as("ts"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("""{"k": 1}""").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def eventTs(dir: String): Seq[Long] =
    Tables.events(spark, dir).orderBy("event_id").select("ts").as[Long]
      .collect().toSeq

  private def rawTs(dir: String): DataType =
    Tables.read(spark, s"$dir/events.parquet").schema("ts").dataType

  private def tmp(): String = Files.createTempDirectory("graft-tables").toString

  test("events: a long, a TIMESTAMP_NTZ and a TIMESTAMP ts read as the " +
      "same ns long") {
    encodings.foreach { case (enc, raw) =>
      val d = tmp()
      writeEvents(d, enc, nanos)
      assert(rawTs(d) === raw, enc)
      assert(eventTs(d) === nanos, enc)
    }
  }

  test("events: rewriting a path with another ts type is seen by the " +
      "next read in the same session") {
    val d = tmp()
    encodings.zipWithIndex.foreach { case ((enc, raw), i) =>
      val ns = nanos.map(_ + i * 1000000L)
      writeEvents(d, enc, ns)
      assert(rawTs(d) === raw, enc)
      assert(eventTs(d) === ns, enc)
    }
  }

  test("read keeps Spark's inferred schema for the ten sf0.01 tables") {
    Tables.names.foreach { n =>
      val p = s"${SparkSpecBase.Sf001}/$n.parquet"
      val inferred = spark.read.parquet(p).schema
      (1 to 2).foreach(_ => assert(Tables.read(spark, p).schema === inferred, n))
    }
  }

  test("read keeps Spark's inferred schema for every Similarity artifact, " +
      "after the build and after an append") {
    val embs = (0 until 40).map { i =>
      Emb(i.toLong, vec(math.cos(i * 0.7), math.sin(i * 0.7), 0.1 * (i % 5),
        if (i % 2 == 0) 1.0 else -1.0), i % 2)
    }
    val d = fixtureDir(docs = (0 until 40).map(i => doc(i, s"doc $i w${i % 3}")),
      embs = embs)
    Similarity.denseTruth(spark, d)
    Similarity.ivfRebalIndex(spark, d)
    Similarity.ivfFlatIndex(spark, d)
    Similarity.pqIndex(spark, d)
    Similarity.ivfPqIndex(spark, d)
    Similarity.pcaBasis(spark, d)
    Similarity.bqCodes(spark, d)
    Similarity.knnGraph(spark, d)
    Similarity.appendedKnnGraph(spark, d)
    Similarity.matryoshkaRecall(spark, d)
    SparkEntry.queries("lsh_ann")(spark, d)

    val suffix = "-" + IndexStore.md5hex(d).substring(0, 12)
    def tables(f: File): Seq[File] =
      (if (new File(f, "_SUCCESS").exists) Seq(f) else Nil) ++
        Option(f.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap(tables)
    def assertSame(when: String): Int = {
      val all = new File(IndexStore.root).listFiles
        .filter(_.getName.endsWith(suffix)).toSeq.flatMap(tables)
      all.foreach { t =>
        val inferred = spark.read.parquet(t.getPath).schema
        (1 to 2).foreach(_ => assert(
          Tables.read(spark, t.getPath).schema === inferred, s"$when: $t"))
      }
      all.size
    }
    assert(assertSame("built") >= 15)

    val shard = (100 until 104).map(i => Emb(i.toLong, embs(i - 100).embedding
      .map(_ + 0.01f), i % 2)).toDF()
    val vecs = shard.select(col("vec_id"), col("embedding"))
    Similarity.appendToIvfFlat(spark, Similarity.ivfFlatIndexPath(d), vecs)
    Similarity.appendToPqCodes(spark, d, vecs)
    Similarity.appendToIvfPqCodes(spark, d, vecs)
    Similarity.appendToBqCodes(spark, d, vecs)
    Similarity.appendToKnnGraph(spark, d, shard)
    assertSame("appended")
  }

  test("a second read of an unchanged path runs no job; the first read " +
      "after an append or an overwrite runs one") {
    val p = s"${tmp()}/t"
    def write(mode: String, from: Int): Unit =
      (from until from + 10).toDF("x").write.mode(mode).parquet(p)
    def jobs(): Int = {
      val (df, n) = JobCount(sc)(Tables.read(spark, p))
      assert(df.schema === spark.read.parquet(p).schema)
      n
    }
    write("overwrite", 0)
    assert(jobs() === 1)
    assert(jobs() === 0)
    write("append", 10)
    assert(jobs() === 1)
    assert(jobs() === 0)
    assert(Tables.read(spark, p).count() === 20)
    write("overwrite", 20)
    assert(jobs() === 1)
    assert(jobs() === 0)
    assert(Tables.read(spark, p).as[Int].collect().sorted.toSeq === (20 until 30))
  }

  test("the graph walk collects its graph and vectors once per version") {
    val d = fixtureDir(embs = (0 until 20).map { i =>
      Emb(i.toLong, vec(if (i % 2 == 0) 1.0 else -1.0, 0.1 * (i % 5), 0.2),
        i % 2)
    })
    Similarity.annGraph(spark, d) // builds, then collects both
    val (_, warm) = JobCount(sc)(Similarity.annGraph(spark, d))
    assert(warm === 0)
    Similarity.appendToKnnGraph(spark, d,
      Seq(Emb(100L, vec(1.0, 0.05, 0.2), 0)).toDF())
    Similarity.knnGraph(spark, d) // the new listing's schema inference
    val (_, first) = JobCount(sc)(Similarity.annGraph(spark, d))
    assert(first === 1) // the graph's collect; the vectors are unchanged
    val (_, again) = JobCount(sc)(Similarity.annGraph(spark, d))
    assert(again === 0)
  }
}
