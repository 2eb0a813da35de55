package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.streaming.EventStream

/** Streaming-path benchmark: drives the EventStream twins over the real
  * event corpus (file source, RocksDB state store, noop sink) and reports
  * wall time, throughput, per-batch latency, and state-store rows/memory
  * — the streaming analogue of Bench's numbers, so the path has
  * measurements, not just green specs.
  *
  * Since r7 the corpus replays as N MICRO-BATCHES (event-time-ordered
  * files + maxFilesPerTrigger=1 under Trigger.AvailableNow): the
  * single-batch numbers were floors (one giant batch, wall time dominated
  * by RocksDB init); multi-batch replay measures a RATE — per-batch
  * latency once state is warm, and watermark-driven state eviction
  * between batches, which a single batch never exercises.
  *
  * Usage: runMain graft.tools.StreamBench [sfDir]
  *        SPARK_GRAFT_STREAM_BATCHES=N (default 10)
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nBatches =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt.max(1)
    val spark = graft.Session.local()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // normalized read (ts as ns-long regardless of the parquet physical
    // type) so the staged files honor EventStream's input contract
    val raw = Tables.events(spark, dir)
    val schema = raw.schema
    val nEvents = raw.count()
    // Stage as nBatches event-time-ordered files (the landing-dir shape:
    // arrivals are roughly time-ordered in production, so the watermark
    // advances between micro-batches and evicts closed state). The global
    // ntile window is tool-side staging, not an engine plan.
    val stage = Files.createTempDirectory("graft-stream-src")
    val batched = raw
      .withColumn("b", ntile(nBatches).over(Window.orderBy(col("ts"))))
    (1 to nBatches).foreach { i =>
      val tmp = Files.createTempDirectory("graft-stage-tmp").toString
      batched.filter(col("b") === i).drop("b")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, stage.resolve(f"b$i%03d.parquet"))
    }
    def src: DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)

    val plans: Seq[(String, DataFrame)] = Seq(
      "stream_window_agg" -> EventStream.windowAgg(src),
      "stream_sessionize" -> EventStream.sessionize(src),
      "stream_dedup" -> EventStream.dedupEvents(src))

    val results = plans.map { case (name, plan) =>
      val ckpt = Files.createTempDirectory(s"graft-ckpt-$name").toString
      val t0 = System.nanoTime()
      val q = plan.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0).toSeq
      val durs = progs
        .map(_.durationMs.get("triggerExecution").longValue()).sorted
      val med = if (durs.isEmpty) 0L else durs(durs.size / 2)
      val last = if (durs.isEmpty) 0L else durs.last
      // state growth across the replay: rows after first and last batch
      def stateRows(i: Int): Long = progs.lift(i)
        .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
        .getOrElse(0L)
      val (rows0, rowsN) = (stateRows(0), stateRows(progs.size - 1))
      val mem = progs.lastOption
        .flatMap(_.stateOperators.headOption).map(_.memoryUsedBytes)
        .getOrElse(0L)
      s""""$name":{"sec":$sec,"events_per_sec":${(nEvents / sec).toLong},""" +
        s""""batches":${progs.size},"batch_ms_med":$med,"batch_ms_last":$last,""" +
        s""""state_rows_first":$rows0,"state_rows_last":$rowsN,"state_bytes":$mem}"""
    }
    println(s"""{"metric":"stream","n_events":$nEvents,"n_files":$nBatches,${results.mkString(",")},"sf":"$dir"}""")
    spark.stop()
  }
}
