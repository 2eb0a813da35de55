package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Shared freeze/probe store plumbing for the foreachBatch sinks
  * (ScoreStream, CurateStream; DedupStream's multi-store variant reuses
  * [[exists]]). One place for the two known quirks: the store path must
  * resolve against its OWN filesystem scheme (FileSystem.get(conf)
  * returns the default FS and throws Wrong-FS for an s3a:// store on an
  * hdfs:// cluster), and re-delivered doc_ids must no-op via the
  * store anti-join.
  */
private[streaming] object StreamStore {

  /** Existence check against the path's own filesystem. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Micro-batch skeleton: drop in-batch key duplicates, anti-join the
    * store (source re-deliveries are no-ops), transform what's left,
    * append. The drained store holds exactly one row per distinct
    * emitted key (default key: doc_id).
    */
  def appendNew(batch: DataFrame, store: String,
      keys: Seq[String] = Seq("doc_id"))(
      transform: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val fresh = batch.dropDuplicates(keys)
    val newDocs =
      if (exists(spark, store))
        fresh.join(Tables.read(spark, store).select(keys.head, keys.tail: _*),
          keys, "left_anti")
      else fresh
    // localCheckpoint so the emptiness probe and the write share one
    // evaluation of the transform (incl. the store anti-join) instead of
    // running the full plan twice per micro-batch.
    val out = transform(newDocs).localCheckpoint()
    try {
      if (!out.isEmpty)
        out.write.mode("append").parquet(store)
    } finally out.unpersist()
  }
}
