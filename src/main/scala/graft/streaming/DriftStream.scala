package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{CorpusStats, TextAnalysis}
import graft.sources.Tables

/** Streaming quality-score drift maintenance — the streaming face of
  * `quality_psi` ([[graft.operators.CorpusStats.qualityPsi]]): arriving
  * documents bin by the SHARED 4dp quality score, the store accumulates
  * one `(doc_id, source, bin)` row per distinct doc (the ScoreStream
  * append/anti-join posture, so source re-deliveries are no-ops), and
  * [[psi]] answers "is any source's score distribution drifting away
  * from the corpus?" at any moment through the SAME PSI tail the batch
  * query runs — parity is by construction, pinned by the spec.
  *
  * The store is per-doc rather than a merged count table deliberately:
  * count merging is not replay-idempotent (a re-delivered batch would
  * double-count), while the doc-keyed anti-join is — the same
  * exactly-once recipe every foreachBatch sink here uses. At 100 TB the
  * store is a 3-narrow-column frame compacted on the usual cadence; a
  * bounded (source, bin) count store is the compaction OUTPUT, not the
  * ingest format.
  */
object DriftStream {

  /** Bin each arriving micro-batch of `(doc_id, text, source, …)` docs
    * into the standing drift store.
    */
  def maintainBins(docs: DataFrame, store: String)
      : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[Row], _: Long) => binBatch(batch.toDF(), store)
    }

  private[graft] def binBatch(batch: DataFrame, store: String): Unit =
    StreamStore.appendNew(batch, store) { fresh =>
      TextAnalysis.qualitySignalsOf(
        fresh.select(col("doc_id"), col("text")))
        .join(fresh.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"),
          least(floor(col("score") * CorpusStats.PsiBins),
            lit(CorpusStats.PsiBins - 1)).cast("int").as("bin"))
    }

  /** The standing per-source PSI over the drained store — the shared
    * [[graft.operators.CorpusStats.qualityPsiOfCounts]] tail, so the
    * streaming answer is bit-identical to the batch query over the same
    * arrival set.
    */
  def psi(spark: SparkSession, store: String): DataFrame =
    CorpusStats.qualityPsiOfCounts(spark,
      Tables.read(spark, store)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("c")))
}
