package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + tiny-table fixture writer. Specs write
  * crafted `documents`/`embeddings`/`events` parquet into a temp dir so
  * the production operators run unmodified against known inputs.
  */
/** Fixture row types (top-level: Spark encoders cannot reach inner
  * classes of a test trait).
  */
case class Doc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)
case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String,
    value: Double, props: String)

trait SparkSpecBase extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  /** The session is shared across every suite in the JVM; without this,
    * localCheckpoint blocks and unreclaimed broadcasts pile up across
    * ~100 tests and late suites run minutes-slow (same churn measured
    * and fixed in Bench). Runs after each suite, between tests'
    * own lineage: checkpointed frames are only consumed inside the test
    * that made them.
    */
  override def afterAll(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
    super.afterAll()
  }

  def doc(id: Long, text: String, source: String = "s0"): Doc =
    Doc(id, text, "en", source, text.length.toLong)

  /** 64-dim float vector from a sparse prefix. */
  def vec(prefix: Double*): Seq[Float] =
    (prefix.map(_.toFloat) ++ Seq.fill(64 - prefix.size)(0.0f))

  def ev(id: Long, sec: Long, user: Long, typ: String = "click",
      value: Double = 1.0, k: Int = 0): Ev =
    Ev(id, sec * 1000000000L, user, typ, value, s"""{"k": $k}""")

  /** Write fixture tables, return the dir usable as an operator sfDir. */
  def fixtureDir(docs: Seq[Doc] = Nil, embs: Seq[Emb] = Nil,
      evs: Seq[Ev] = Nil): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-spec").toString
    if (docs.nonEmpty)
      docs.toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    if (embs.nonEmpty)
      embs.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    if (evs.nonEmpty)
      evs.toDF().write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)

  /** Stage doc batches as separate parquet files in one stream dir (one
    * file per micro-batch under maxFilesPerTrigger=1).
    */
  def stageBatches(batches: Seq[Seq[Doc]]): String = {
    import spark.implicits._
    stageBatchFrames(batches.map(_.toDF()))
  }

  /** Frame-typed twin of [[stageBatches]] for streams whose rows aren't
    * the Doc fixture shape.
    */
  def stageBatchFrames(batches: Seq[org.apache.spark.sql.DataFrame])
      : String = {
    val stage = java.nio.file.Files
      .createTempDirectory("graft-doc-stream").toString
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-doc-stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$stage/b$i.parquet"))
    }
    stage
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = Session.local(4)
}
