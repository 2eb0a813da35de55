package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.Fixed.r4
import graft.operators.{Curation, Dedup}

/** Streaming ingest gate — the arriving-document face of the batch
  * curation manifest (Curation.curateCorpus): each micro-batch of new
  * documents is gated against FROZEN corpus artifacts (the same
  * freeze-then-probe contract as ScoreStream's LM and the ANN indexes):
  *
  *  - quality: stateless per-doc signals (the shared
  *    Curation.qualityFilterOf — identical thresholds and rounding);
  *  - exact duplication: the arriving doc's content hash against the
  *    frozen corpus hash set (Dedup.exactHashOf on both sides);
  *  - near duplication (r8): the arriving doc's LSH band keys against
  *    the frozen corpus band store — collision candidates verify by
  *    true Jaccard against the frozen shingle store, the batch
  *    pipeline's candidates→verify contract applied stream-vs-frozen.
  *    This is the reference's add-document path (database.py:388) plus
  *    dedup: an arriving doc that near-duplicates the stored corpus is
  *    rejected at the door instead of waiting for the next corpus-wide
  *    rebuild;
  *  - contamination: the arriving doc's word-3-gram shingles against
  *    the frozen benchmark shingle set.
  *
  * Stage precedence mirrors the batch manifest (curate_corpus):
  * quality → exact_dup → near_dup → contaminated → kept. Cross-ARRIVAL
  * near-dup maintenance stays DedupStream's stateful job — this gate is
  * the stream-static part (new vs frozen), so it needs no watermark and
  * no state store; the two compose (gate at the door, DedupStream keeps
  * the pair set current for the next freeze).
  *
  * foreachBatch + parquet-append store with doc_id anti-join: source
  * re-deliveries are no-ops, the drained store holds exactly one verdict
  * per distinct document (the ScoreStream skeleton).
  */
object CurateStream {

  /** Frozen dedup-side artifacts the gate probes, deduped and
    * localCheckpointed ONCE at stream construction — per-micro-batch
    * recomputation of a non-checkpointed artifact lineage was the r7
    * advisor finding.
    *
    * @param hashes   (text_hash) distinct content hashes of the corpus
    * @param bands    (doc_id, band, key) LSH band rows of the corpus
    *                 (Dedup.minhashBandedFrom or DedupStream's band store)
    * @param shingles (doc_id, g, n) shingle rows with per-doc counts
    * @param bench    (g) distinct shingles of the eval suite
    */
  final case class FrozenGate(hashes: DataFrame, bands: DataFrame,
      shingles: DataFrame, bench: DataFrame)

  /** Freeze the gate inputs: project, dedup, and localCheckpoint each
    * artifact exactly once so every micro-batch probes materialized
    * frames instead of re-deriving the artifact lineage.
    */
  def freeze(corpusHashes: DataFrame, corpusBands: DataFrame,
      corpusShingles: DataFrame, benchShingles: DataFrame): FrozenGate =
    FrozenGate(
      corpusHashes.select(col("text_hash")).distinct().localCheckpoint(),
      corpusBands.select(col("doc_id"), col("band"), col("key"))
        .localCheckpoint(),
      corpusShingles.select(col("doc_id"), col("g"), col("n"))
        .localCheckpoint(),
      benchShingles.select(col("g")).distinct().localCheckpoint())

  /** Gate arriving docs against the frozen artifacts; append verdicts
    * (doc_id, stage, keep) to `store`.
    */
  def gateDocs(docs: DataFrame, frozen: FrozenGate,
      store: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[Row], _: Long) =>
        processBatch(batch.toDF(), frozen, store)
    }

  private[graft] def processBatch(batch: DataFrame, frozen: FrozenGate,
      store: String): Unit =
    StreamStore.appendNew(batch, store)(gateOf(_, frozen))

  /** The gate itself over any (doc_id, text, …) frame — also the batch
    * definition the parity spec compares against. Contract: `frozen`
    * frames are pre-deduped/materialized ([[freeze]]). A `source`
    * column is carried into the shingle provenance when present; absent
    * one, the gate supplies a placeholder (the shingle frame requires
    * it).
    */
  private[graft] def gateOf(in: DataFrame, frozen: FrozenGate): DataFrame = {
    val docs =
      if (in.columns.contains("source")) in
      else in.withColumn("source", lit(""))
    val qf = Curation.qualityFilterOf(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("keep"))
    val dup = Dedup.exactHashOf(docs)
      .join(frozen.hashes, Seq("text_hash"), "left_semi")
      .select(col("doc_id"), lit(true).as("known_dup"))
    // arriving shingles feed both the near-dup verify and the
    // contamination probe — compute once (shingleRowsOf is already
    // distinct per (doc_id, g); n = the per-doc set size for |A∪B|)
    val arrSh = Dedup.shingleRowsOf(docs)
      .select(col("doc_id"), col("g"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .localCheckpoint()
    val nearDup = nearDupOf(docs, arrSh, frozen)
    val contaminated = arrSh
      .join(frozen.bench, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("contaminated"))
    qf.join(dup, Seq("doc_id"), "left_outer")
      .join(nearDup, Seq("doc_id"), "left_outer")
      .join(contaminated, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(!col("keep"), "quality")
          .when(col("known_dup").isNotNull, "exact_dup")
          .when(col("near_dup").isNotNull, "near_dup")
          .when(col("contaminated").isNotNull, "contaminated")
          .otherwise("kept").as("stage"),
        (col("keep") && col("known_dup").isNull && col("near_dup").isNull &&
          col("contaminated").isNull).as("keep"))
  }

  /** Near-dup flag per arriving doc: LSH band collision against the
    * frozen band store generates candidates (the equi-join shape — never
    * all-pairs), true Jaccard against the frozen shingle store verifies
    * them. One surviving pair ≥ the batch threshold marks the doc.
    */
  private def nearDupOf(docs: DataFrame, arrSh: DataFrame,
      frozen: FrozenGate): DataFrame = {
    val arrBands = DedupStream.bandRows(docs)
    val cand = arrBands
      .join(frozen.bands
          .select(col("doc_id").as("f_id"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_id") =!= col("f_id"))
      .select(col("doc_id"), col("f_id")).distinct()
    val fSh = frozen.shingles.select(col("doc_id").as("fid2"),
      col("g").as("fg"), col("n").as("fn"))
    cand
      .join(arrSh, Seq("doc_id"))
      .join(fSh, col("f_id") === col("fid2") && col("g") === col("fg"))
      .groupBy(col("doc_id"), col("f_id"), col("n"), col("fn"))
      .agg(count(lit(1)).as("inter"))
      // same 4dp floor primitive as the batch verify, so a boundary
      // jaccard gates identically in both worlds
      .filter(r4(col("inter").cast("double") /
          (col("n") + col("fn") - col("inter")))
        >= Dedup.JaccardThreshold)
      .select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("near_dup"))
  }
}
