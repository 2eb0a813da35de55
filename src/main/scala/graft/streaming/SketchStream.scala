package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Sessions
import graft.sources.Tables

/** Streaming sketch maintenance — the streaming face of the
  * deterministic HLL ([[graft.operators.Sessions.approxDistinct]]).
  *
  * MERGEABILITY is the whole point of a sketch at scale: per-batch
  * registers max-merge into a standing register store (64 rows per
  * event type, forever), so the stream answers "distinct users so far"
  * with bounded state and NO dedup of arrivals — a re-delivered or
  * repeated (type, user) pair hashes to the same register value and the
  * max() absorbs it. This is the property that also makes HLL
  * cross-partition safe in batch and cross-DATACENTER safe in
  * production (registers from independent pipelines merge the same
  * way).
  *
  * Shape: stateless foreachBatch (the ScoreStream posture) — derive
  * the arriving batch's registers with the SHARED
  * Sessions.hllRegisters, max-merge with the store frame, atomically
  * swap the tiny store (write staged, then move — the store is
  * register-sized, never corpus-sized). [[estimate]] reads the store
  * through the SHARED Sessions.hllEstimateOf, so the streaming
  * estimate is bit-identical to the batch query over the same arrival
  * set — the batch-parity spec pins exactly that.
  */
object SketchStream {

  /** Max-merge each micro-batch's HLL registers into `store`. */
  def maintainHll(events: DataFrame, store: String)
      : DataStreamWriter[Row] =
    events.writeStream.foreachBatch {
      (batch: Dataset[Row], _: Long) => mergeBatch(batch.toDF(), store)
    }

  private[graft] def mergeBatch(batch: DataFrame, store: String): Unit = {
    val spark = batch.sparkSession
    val fresh = Sessions.hllRegisters(
      batch.select(col("event_type"), col("user_id")))
    val merged =
      if (StreamStore.exists(spark, store))
        Tables.read(spark, store).unionByName(fresh)
          .groupBy(col("event_type"), col("bucket"))
          .agg(max(col("r")).as("r"))
      else fresh
    // materialize BEFORE overwriting: the merged plan reads the very
    // files the write replaces (localCheckpoint cuts that lineage)
    val out = merged.localCheckpoint()
    try out.write.mode("overwrite").parquet(store)
    finally out.unpersist()
  }

  /** The standing estimate over the drained store — shared derivation
    * with the batch query, so parity is by construction.
    */
  def estimate(spark: org.apache.spark.sql.SparkSession,
      store: String): DataFrame =
    Sessions.hllEstimateOf(Tables.read(spark, store))
      .orderBy(col("event_type"))
}
