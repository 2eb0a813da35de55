package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.sources.Tables

/** Typed rows for the incremental LSH maintenance operator (top-level:
  * Spark encoders cannot reach inner classes).
  */
case class BandRow(doc_id: Long, band: Int, key: String)
case class BucketState(ids: List[Long], overflowed: Boolean)
case class CandPair(id_a: Long, id_b: Long, band: Int)

/** Incremental (streaming) minhash-LSH pair maintenance — the streaming
  * face of the persisted dedup pair set (Dedup.buildDedupPairs): instead
  * of re-running the corpus-wide band self-join when documents land, each
  * arriving document joins the LSH bucket STATE and emits only its new
  * candidate pairs. This is the reference's dedup-on-insert RPC
  * (/root/reference/database.py:161-199 checks each new interaction
  * against what's stored) at pipeline scale.
  *
  * Shape: per-document signatures/band keys are a stateless projection
  * (per-row array ops — correct here because a stream processes each doc
  * once; the batch build amortizes tokenization differently, see
  * Dedup's row-shaped notes), then `flatMapGroupsWithState` keyed by
  * (band, key) holds each bucket's member ids. State per key is at most
  * [[Dedup.BUCKET_CAP]] longs; an over-cap bucket stops emitting and
  * flags itself (`overflowed`) rather than exploding quadratically —
  * the streaming analogue of the batch bucket cap, with the one
  * semantic difference that pairs emitted BEFORE overflow cannot be
  * retracted (the batch pass, which drops the whole bucket, remains
  * the authority on such keys).
  *
  * Emitted pairs are band-collision CANDIDATES (id_a < id_b, with the
  * colliding band): the true-Jaccard verify is downstream in both worlds
  * (batch: Dedup.verifyJaccard; streaming: a periodic join of the new
  * candidates against the shingle store). On an under-cap corpus the
  * distinct (id_a, id_b) set equals the batch candidate set exactly
  * (spec-verified, including across multi-batch replays).
  */
object DedupStream {

  /** Per-row minhash band keys: the identical Carter-Wegman family and
    * band construction as the batch pipeline (one md5 per shingle, 12
    * mins, 4 bands of 3, md5-derived 16-char band key), computed with
    * array HOFs per document instead of explode+groupBy. Docs with <3
    * tokens produce no shingles — and, as in batch, no bands.
    */
  private def bandKeyCols(text: Column): Column = {
    val ws = Dedup.normToks(text)
    val shingles = array_distinct(transform(
      sequence(lit(0), size(ws) - 3),
      j => concat_ws(" ", element_at(ws, j + 1), element_at(ws, j + 2),
        element_at(ws, j + 3))))
    // one md5 per shingle, split into the two 32-bit halves
    val hv = transform(shingles, g => {
      val h = md5(g)
      struct(conv(substring(h, 1, 8), 16, 10).cast("long").as("v1"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("v2"))
    })
    val mins = (0 until Dedup.MINHASHES).map { j =>
      array_min(transform(hv,
        s => (s.getField("v1") + lit(j.toLong) * s.getField("v2"))
          % lit(Dedup.MH_MOD)))
    }
    array((0 until Dedup.MH_BANDS).map { b =>
      substring(md5(concat_ws("_",
        mins(3 * b).cast("string"),
        mins(3 * b + 1).cast("string"),
        mins(3 * b + 2).cast("string"))), 1, 16)
    }: _*)
  }

  /** (doc_id, band, key) rows for a (streaming or batch) documents frame.
    * The size guard keeps <3-token docs out before sequence() would
    * produce a negative range.
    */
  def bandRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"))
      .filter(size(Dedup.normToks(col("text"))) >= 3)
      .select(col("doc_id"),
        posexplode(bandKeyCols(col("text"))).as(Seq("band", "key")))

  /** The incremental maintenance operator: new candidate pairs per
    * micro-batch, state = bucket membership.
    */
  def candidatePairs(docs: DataFrame): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    bandRows(docs).as[BandRow]
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(emitBucket)
  }

  private def emitBucket(bucket: (Int, String), it: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[CandPair] = {
    var st = state.getOption.getOrElse(BucketState(Nil, overflowed = false))
    // ascending id order makes emission deterministic under replay; a
    // re-delivered member id is a no-op
    val arriving = it.map(_.doc_id).toArray.distinct.sorted
    val out = Array.newBuilder[CandPair]
    var members = st.ids
    var over = st.overflowed
    for (id <- arriving if !members.contains(id)) {
      if (over || members.size >= Dedup.BUCKET_CAP) {
        over = true // cap reached: stop emitting AND stop growing state
      } else {
        for (m <- members)
          out += CandPair(math.min(m, id), math.max(m, id), bucket._1)
        members = id :: members
      }
    }
    state.update(BucketState(members, over))
    out.result().iterator
  }

  // --- full maintenance: candidates + Jaccard verify + persisted pair
  //     set, per micro-batch -------------------------------------------

  /** End-to-end incremental dedup maintenance — the streaming face of
    * [[Dedup.buildDedupPairs]]. Per micro-batch of documents:
    *
    *  1. already-stored docs are dropped (re-delivery is a no-op);
    *  2. the batch's shingle rows (doc_id, g, n) and LSH band rows
    *     append to the persisted stores under `store`;
    *  3. the batch's band rows join the UPDATED band store into new
    *     candidate pairs (old⋈new and new⋈new; over-cap (band, key)
    *     buckets are skipped — the batch bucket-drop semantics, with
    *     the same no-retraction caveat as [[candidatePairs]]);
    *  4. candidates verify by true Jaccard against the updated shingle
    *     store, and survivors (≥ [[Dedup.JaccardThreshold]]) append to
    *     `store/pairs`.
    *
    * After the stream drains, `store/pairs` equals the batch
    * `dedupMinhash` pair set over the union corpus (spec-proven across
    * micro-batches, re-deliveries included). Every step is a
    * distributed frame op; the stores are plain parquet appends (new
    * files only), so consumers ([[Dedup.dedupClusters]]-style probes,
    * audits) read them like any other persisted pair set.
    */
  def maintainPairs(docs: DataFrame, store: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[Row], _: Long) => processBatch(batch.toDF(), store)
    }

  private def readOr(batch: DataFrame, path: String, ddl: String): DataFrame = {
    val spark = batch.sparkSession
    if (StreamStore.exists(spark, path))
      Tables.read(spark, path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(ddl))
  }

  private[graft] def processBatch(batch: DataFrame, store: String): Unit = {
    val spark = batch.sparkSession
    val shP = s"$store/shingles"
    val bdP = s"$store/bands"
    val prP = s"$store/pairs"
    val knownIds = readOr(batch, shP,
      "doc_id BIGINT, source STRING, g STRING, n BIGINT")
      .select(col("doc_id")).distinct()
    val newDocs = batch.select(col("doc_id"), col("source"), col("text"))
      .dropDuplicates("doc_id")
      .join(knownIds, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    if (!newDocs.isEmpty) {
      val newSh = Dedup.shingleRowsOf(newDocs)
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .localCheckpoint()
      newSh.write.mode("append").parquet(shP)
      Dedup.minhashBandedFrom(newSh).write.mode("append").parquet(bdP)
      val allBands = readOr(batch, bdP, "doc_id BIGINT, band INT, key STRING")
      val capped = allBands
        .withColumn("bc",
          count(lit(1)).over(Window.partitionBy(col("band"), col("key"))))
        .filter(col("bc") <= Dedup.BUCKET_CAP)
        .drop("bc")
      val newSide = capped.join(newDocs.select(col("doc_id")), "doc_id")
      val cand = capped.alias("a").hint("merge")
        .join(newSide.alias("b").hint("merge"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(
          least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
        .distinct()
      val knownPairs = readOr(batch, prP,
        "id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
        .select(col("id_a"), col("id_b"))
      val fresh = cand.join(knownPairs, Seq("id_a", "id_b"), "left_anti")
      Dedup.verifyJaccard(fresh, readOr(batch, shP,
          "doc_id BIGINT, source STRING, g STRING, n BIGINT"))
        .filter(col("jaccard") >= Dedup.JaccardThreshold)
        .write.mode("append").parquet(prP)
    }
  }
}
