package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Params
import graft.functions.Fixed.r4
import graft.sources.Tables

/** Interaction-log operators over the `events` table (events ≈ the
  * reference's `interactions` table, user_id ≈ session, props ≈ the JSON
  * `metadata` column):
  *
  *  - conversation_history — last-N per session
  *    (/root/reference/database.py:67-95, last 5 used in rag_processor.py:100-110)
  *  - topic_interactions — JSON topic filter + per-session recency limit
  *    (/root/reference/database.py:316-343)
  *  - high_quality — JSON metric extract + cast + threshold + order + limit
  *    (/root/reference/database.py:344-387:
  *     `metadata->'effectiveness'->>'term_overlap' >= 0.7 OR
  *      template_adherence = 'high'`)
  *
  * The synthetic `props` column carries one metric `k` (0..99); it stands in
  * for the reference's nested effectiveness object: term_overlap ≔ k/100,
  * topic ≔ taxonomy[k mod |taxonomy|], template_adherence ≔ by event_type.
  * Recency is ordered by event_id, which the generator makes monotone in ts
  * (verified), so both engines agree without sub-second timestamp games.
  */
object Interactions {

  private def propsK =
    graft.functions.TextFunctions.jsonField(col("props"), "k").cast("int")

  /** `pred(k)` holding the `props` decode once. A filter on a derived
    * column is pushed below the projection that derives it, with the
    * derivation copied in once per reference; a one-element `exists`
    * keeps a predicate of two derived columns to one decode.
    */
  private def ofK(pred: Column => Column): Column =
    exists(array(propsK), pred)

  /** conversation_history: the last 5 interactions of every session
    * (limit is the reference's runtime arg database.py:68 — override
    * via `spark.graft.param.conversation_history.limit`).
    */
  def conversationHistory(spark: SparkSession, dir: String): DataFrame = {
    val lastN = Params.int(spark, "conversation_history.limit", 5)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= lastN)
      .select(col("user_id"), col("rn"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), propsK.as("k"))
  }

  /** topic_interactions: filter by detected topic, keep the 3 most recent
    * per session.
    */
  def topicInteractions(spark: SparkSession, dir: String): DataFrame = {
    val wanted = Params.strOpt(spark, "topic_interactions.topic", None)
      .getOrElse("Anxiety")
    val lastN = Params.int(spark, "topic_interactions.limit", 3)
    val names = array(RefVocab.taxonomy.map(t => lit(t._1)): _*)
    val topic = element_at(names,
      (pmod(propsK, lit(RefVocab.taxonomy.size)) + 1).cast("int"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("topic", topic)
      .filter(col("topic") === wanted)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= lastN)
      .select(col("user_id"), col("rn"), col("event_id"), col("topic"))
  }

  /** interaction_history: the FULL per-session interaction log in order
    * (/root/reference/database.py:236-251 `get_interaction_history` — the
    * all-rows sibling of the last-5 `get_conversation_history`), with a
    * per-session sequence number.
    */
  def interactionHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(spark, dir)
      .withColumn("seq", row_number().over(w))
      .select(col("user_id"), col("seq"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), propsK.as("k"))
  }

  /** conversation_context: rolling context of the previous ≤3 turns per
    * session (/root/reference/utilities/text_utils.py:78-131
    * `create_context` — a pandas loop with a per-question deque there; a
    * single window frame here). Each turn renders as "Q: .. A: .." and the
    * context is the frame-ordered join of the prior turns.
    */
  def conversationContext(spark: SparkSession, dir: String): DataFrame = {
    val turn = concat(lit("Q: "), col("event_type"),
      lit(" A: "), col("value").cast("string"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(-3, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("context", concat_ws(" ", collect_list(turn).over(w)))
      .select(col("user_id"), col("event_id"), col("context"))
  }

  /** effectiveness_trend: the reference's scoring loop tracked over
    * TIME — the product-monitoring rollup of the per-interaction
    * effectiveness metadata (prompt_selector.py:332-395 scores every
    * response; the operational question is whether the scores are
    * drifting week over week). Per week: interaction count, distinct
    * users (dedup-then-count), exact-decimal mean term overlap, and
    * the high-adherence + gate-pass shares (the SAME gate predicate
    * high_quality applies, so the trend provably tracks the gate's
    * admission rate).
    *
    * Plan: one scan, map-side week/metric derivation, one
    * |weeks|-bounded partial agg (the distinct-user count is bounded
    * by (weeks × users) intermediate rows — the active_users shuffle
    * class). Parity: overlaps are 2dp-exact (round() safe), summed in
    * DECIMAL, divided once in double, 4dp floor-rounded.
    */
  def effectivenessTrend(spark: SparkSession, dir: String): DataFrame = {
    // the SAME runtime threshold the high_quality gate reads — a tuned
    // gate and its monitoring rollup must move together
    val minEff = Params.double(spark, "high_quality.min_effectiveness", 0.7)
    val overlap = round(propsK / 100.0, 2)
    val adherence = when(col("event_type") === "purchase", "high")
      .when(col("event_type") === "signup", "medium")
      .otherwise("low")
    Tables.events(spark, dir)
      .select(expr("ts div 604800000000000").as("week"), col("user_id"),
        overlap.as("ov"), adherence.as("adh"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_interactions"),
        count_distinct(col("user_id")).as("n_users"),
        sum(col("ov").cast("decimal(18,2)")).as("ovs"),
        sum(when(col("adh") === "high", 1L).otherwise(0L)).as("nh"),
        sum(when(col("ov") >= minEff || col("adh") === "high", 1L)
          .otherwise(0L)).as("np"))
      .select(col("week"), col("n_interactions"), col("n_users"),
        r4(col("ovs").cast("double") / col("n_interactions"))
          .as("mean_overlap"),
        r4(col("nh").cast("double") / col("n_interactions"))
          .as("high_share"),
        r4(col("np").cast("double") / col("n_interactions"))
          .as("pass_share"))
      .orderBy(col("week"))
  }

  /** high_quality: effectiveness threshold OR high template adherence,
    * most recent first, limit 100 — the reference's training-data gate,
    * with the reference's optional topic filter
    * (/root/reference/database.py:344,358-361: `topic_filter` becomes
    * `metadata->>'topic' = '<filter>'` ANDed with the effectiveness
    * clause).
    */
  def highQualityFiltered(spark: SparkSession, dir: String,
      topicDefault: Option[String]): DataFrame = {
    // the reference's three runtime args (database.py:344), defaults =
    // the oracle-pinned constants
    val minEff = Params.double(spark, "high_quality.min_effectiveness", 0.7)
    val limitN = Params.int(spark, "high_quality.limit", 100)
    val topicFilter = Params.strOpt(spark, "high_quality.topic", topicDefault)
    def overlap(k: Column) = round(k / 100.0, 2)
    val adherence = when(col("event_type") === "purchase", "high")
      .when(col("event_type") === "signup", "medium")
      .otherwise("low")
    val names = array(RefVocab.taxonomy.map(t => lit(t._1)): _*)
    def topic(k: Column) = element_at(names,
      (pmod(k, lit(RefVocab.taxonomy.size)) + 1).cast("int"))
    def gate(k: Column) = overlap(k) >= minEff || adherence === "high"
    val keep = topicFilter.fold(gate _)(t => k => gate(k) && topic(k) === t)
    val base = Tables.events(spark, dir)
      .filter(ofK(keep))
      .select(col("event_id"), col("user_id"), propsK.as("k"),
        adherence.as("template_adherence"))
      .select(col("event_id"), col("user_id"), topic(col("k")).as("topic"),
        overlap(col("k")).as("term_overlap"), col("template_adherence"))
    topicFilter.fold(base.drop("topic"))(_ => base)
      .orderBy(col("event_id").desc)
      .limit(limitN)
  }

  /** interaction_ingest: the engine's WRITE surface for the interaction
    * log — the `add_interaction` path (/root/reference/database.py:96-160)
    * including its dedup-on-insert RPC (:161-199): re-submissions of the
    * same logical interaction (same user, type, value, props) keep only
    * the earliest event_id. The accepted batch lands as a BUCKETED table
    * keyed by user_id, bucket-sorted by event_id — the layout every
    * per-session consumer (conversation_history, sessionize, asof_join)
    * shuffles on, so ingest pre-pays their exchange once at write time.
    *
    * Dedup-on-insert is one window over the content key (shuffle on the
    * key, partial-ordering within groups only) — at 100 TB the same
    * shape, and the bucketed write replaces the Postgres upsert.
    * Returns the read-back of the written table.
    */
  def interactionIngest(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"), col("value"),
        col("props"))
      .orderBy(col("event_id"))
    val accepted = Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    graft.sources.Sinks.writeBucketedTable(accepted, table, "user_id",
      buckets = 8, sortCols = Seq("user_id", "event_id"))
    spark.table(table)
  }

  /** high_quality: the unfiltered training-data gate. */
  def highQuality(spark: SparkSession, dir: String): DataFrame =
    highQualityFiltered(spark, dir, None)

  /** high_quality_topic: the gate restricted to one detected topic. */
  def highQualityTopic(spark: SparkSession, dir: String): DataFrame =
    highQualityFiltered(spark, dir, Some("Anxiety"))
}
