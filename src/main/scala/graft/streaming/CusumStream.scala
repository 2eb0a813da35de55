package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Sessions
import graft.sources.Tables

/** Streaming CUSUM maintenance — the streaming face of `cusum_shift`
  * ([[graft.operators.Sessions.cusumShift]]): arriving events append
  * one `(event_id, event_type, day)` row per distinct event (the
  * StreamStore anti-join posture, so source re-deliveries are no-ops),
  * and [[chart]] answers "has any event type's daily volume drifted"
  * at any moment through the SAME closed-form CUSUM tail the batch
  * query runs — parity is by construction, pinned by the spec.
  * [[EventStream.watchEvents]] is the per-batch Shewhart gate against
  * FROZEN stats; this is the standing whole-history chart, the same
  * division of labor DriftStream has with the batch quality_psi.
  *
  * The store is per-event rather than merged day counts deliberately:
  * count merging is not replay-idempotent, the event-keyed anti-join
  * is. At 100 TB the store compacts to day counts on the usual cadence;
  * the count table is the compaction OUTPUT, not the ingest format.
  */
object CusumStream {

  /** Drain each arriving micro-batch of events into the standing
    * day store.
    */
  def maintainDays(events: DataFrame, store: String)
      : DataStreamWriter[Row] =
    events.writeStream.foreachBatch {
      (batch: Dataset[Row], _: Long) => dayBatch(batch.toDF(), store)
    }

  private[graft] def dayBatch(batch: DataFrame, store: String): Unit =
    StreamStore.appendNew(batch, store, Seq("event_id")) { fresh =>
      fresh.select(col("event_id"), col("event_type"),
        expr("ts div 86400000000000").as("day"))
    }

  /** The standing chart over the drained store — the shared
    * [[graft.operators.Sessions.cusumOfDaily]] tail, so the streaming
    * answer is bit-identical to the batch query over the same arrival
    * set.
    */
  def chart(spark: SparkSession, store: String): DataFrame =
    Sessions.cusumOfDaily(Tables.read(spark, store)
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint())
}
