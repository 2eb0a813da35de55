package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fixed.{money, r4, r6, units}
import graft.sources.Tables

/** Event sessionization and windowed aggregation (the batch twins of
  * graft.streaming.EventStream — same column logic, different source).
  *
  * Event time derives from floor-epoch-seconds (`ts div 1e9` on the
  * nanos-as-long column), which a nanosecond engine computes identically —
  * sub-second precision never decides a boundary. Money-style sums
  * accumulate in decimal so results are partitioning-independent.
  */
object Sessions {

  /** Session gap: a new session starts after >4h of inactivity (the event
    * stream's median inter-event gap is ~7h, so this yields a healthy mix
    * of single- and multi-event sessions).
    *
    * Boundary parity with Structured Streaming (r2 ADVICE asked): Spark's
    * `session_window("4 hours")` merges two windows when the new event's
    * start is <= the open session's end (= last_event + 4h) — INCLUSIVE at
    * exactly last+4h, verified empirically in StreamingSpec/SessionsSpec
    * boundary tests. Batch's strict `gap > GapSec` therefore classifies an
    * exact-4h gap identically (same session); no off-by-boundary drift
    * between the streaming path and the batch mop-up.
    */
  val GapSec = 14400L

  private def decSum(cname: String) =
    sum(col(cname).cast("decimal(28,6)"))

  /** sessionize: gap-based session assignment + per-session rollup.
    * Two window passes over (user_id, event_id) — one shuffle on user_id —
    * then a partial-agg-friendly groupBy on (user_id, session_idx).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        expr("ts div 1000000000").as("ts_sec"))
      .withColumn("prev", lag(col("ts_sec"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev").isNull || col("ts_sec") - col("prev") > GapSec, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("is_new")).over(wRun))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).cast("int").as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"),
        (max(col("ts_sec")) - min(col("ts_sec"))).as("duration_sec"),
        round(decSum("value").cast("double"), 2).as("total_value"))
      .select(col("user_id"), col("session_idx").cast("int").as("session_idx"),
        col("n_events"), col("first_event"), col("last_event"),
        col("duration_sec"), col("total_value"))
  }

  /** session_gaps: the RETURN-TIME distribution — gaps between a
    * user's consecutive sessions (end of one to start of the next) in
    * power-of-two-second bins, with each bin's share (the habit-loop
    * curve behind cohort_retention's weekly grid and active_users'
    * stickiness ratio: WHERE the return-time mass sits is what a
    * notification/engagement team actually tunes against).
    *
    * Plan: the sessionize window chain to per-session (start, end),
    * one more lag over the per-user session order, then the
    * length_hist exact power-of-two binning onto a ≤~30-row grid;
    * the share total re-aggregates the grid. Gaps are > GapSec by
    * construction (that is what makes them session BOUNDARIES).
    */
  def sessionGaps(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("ts_sec"))
      .withColumn("prev", lag(col("ts_sec"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev").isNull || col("ts_sec") - col("prev") > GapSec, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("is_new")).over(wRun))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_sec")).as("start_sec"),
        max(col("ts_sec")).as("end_sec"))
    val wS = Window.partitionBy(col("user_id")).orderBy(col("session_idx"))
    val g = sess
      .withColumn("prev_end", lag(col("end_sec"), 1).over(wS))
      .filter(col("prev_end").isNotNull)
      .select((col("start_sec") - col("prev_end")).as("gap_sec"))
      .select(expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(length(bin(gap_sec)) AS INT) - 1)")
        .as("bin_lo"))
      .groupBy(col("bin_lo")).agg(count(lit(1)).as("n_gaps"))
      .localCheckpoint(false) // feeds the grid and its share total
    g.crossJoin(broadcast(g.agg(sum(col("n_gaps")).as("total"))))
      .select(col("bin_lo"), col("n_gaps"),
        r4(col("n_gaps").cast("double") / col("total")).as("gap_share"))
      .orderBy(col("bin_lo"))
  }

  /** asof_join: event-time as-of join — every event is matched with the
    * most recent at-or-before 'purchase' of the same user (the
    * slowly-changing-dimension lookup: "what was the user's last
    * transaction state when this event happened").
    *
    * NOT a range join: the scalable formulation is union + carry-forward
    * — dimension rows are unioned into the fact stream, both sides
    * co-shuffle ONCE on the join key, and one ordered window carries the
    * last dimension value forward (`last(..., ignoreNulls)` over
    * rows-unbounded-preceding). A range join would re-pair every fact
    * with every candidate version (quadratic in version count per key);
    * the carry is linear, partial-ordering only within user — the plan
    * contains no join node at all (PlanSpec asserts it).
    *
    * Tie semantics (mirrored by the DuckDB ASOF JOIN oracle): a
    * dimension row at exactly the event's timestamp matches (at-or-
    * before), and multiple purchases at the same (user, ts) collapse to
    * the max-event_id one before the carry. Comparisons run on the raw
    * nanosecond longs — full precision, identical ordering to the
    * oracle's timestamp compare.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val wTie = Window.partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val dim = ev.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wTie))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts"),
        col("event_id").as("asof_event"), col("value").as("asof_value"))
    val facts = ev.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), lit(0).as("is_dim"),
      lit(null).cast("long").as("asof_event"),
      lit(null).cast("double").as("asof_value"))
    val dimRows = dim.select(col("asof_event").as("event_id"), col("ts"),
      col("user_id"), lit("purchase").as("event_type"),
      lit(1).as("is_dim"), col("asof_event"), col("asof_value"))
    // dim rows sort BEFORE facts at equal ts (is_dim desc) = at-or-before
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_dim").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    facts.union(dimRows)
      .withColumn("ae", last(col("asof_event"), ignoreNulls = true).over(w))
      .withColumn("av", last(col("asof_value"), ignoreNulls = true).over(w))
      .filter(col("is_dim") === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ae").as("asof_event"), round(col("av"), 2).as("asof_value"))
  }

  /** scd2_build: compact the change log into SCD-2 validity intervals —
    * the dimension-BUILDING twin of [[asofJoin]] (asof probes "the value
    * at-or-before t"; scd2_build materializes the table that answers it:
    * one row per version with [valid_from, valid_to) bounds, the
    * Kimball type-2 dimension shape).
    *
    * Same version semantics as asofJoin's dim side: each user's
    * 'purchase' events are the versions, same-ts duplicates collapse to
    * the max-event_id row BEFORE interval construction, and each version
    * closes at its successor's start (lead(); the current version stays
    * open with NULL valid_to). Ordering runs on the raw nanosecond longs
    * (full precision, identical to the oracle's timestamp order);
    * emitted bounds are floor-epoch-seconds like every event-time column.
    *
    * Plan: one shuffle on user_id; the tie window, version window, and
    * lead() all reuse it (same partition key, compatible ordering).
    */
  def scd2Build(spark: SparkSession, dir: String): DataFrame = {
    val wTie = Window.partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(wTie))
      .filter(col("rn") === 1)
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"),
        col("event_id").as("dim_event"),
        round(col("value"), 2).as("dim_value"),
        expr("ts div 1000000000").as("valid_from_sec"),
        expr("next_ts div 1000000000").as("valid_to_sec"))
  }

  /** forecast_baseline: the SEASONAL-NAIVE backtest — predict each
    * (event_type, day) volume by the same weekday one week earlier and
    * score the prediction (MAE, MAPE, signed bias) per type: the
    * no-model baseline every forecasting stack must beat before its
    * numbers mean anything (the M-competition convention; a "model"
    * that loses to t−7 persistence is negative value). Read beside
    * ewma_chart/dow_anomalies: those flag surprise days, this prices
    * how surprising a whole series is at one-week horizon.
    *
    * Pairs exist only where BOTH days have volume (a zero-event day
    * has no grid row — persistence over gaps is a different contract
    * and is stated, not silently interpolated).
    *
    * Scale shape: one (type, day) partial agg; the lag join is a
    * self-equi-join on (type, day+7) over the bounded daily grid; the
    * rollup is |types| rows. Parity: counts exact; per-day MAPE terms
    * round to 6dp integer units and sum exactly; MAE/bias are exact
    * integer sums with ONE final mirrored division each.
    */
  def forecastBaseline(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // both sides of the lag self-join
    val prev = daily.select(col("event_type").as("pt"),
      (col("day") + 7).as("pd"), col("n").as("np"))
    daily.join(prev, col("event_type") === col("pt") &&
        col("day") === col("pd"))
      .select(col("event_type"),
        abs(col("n") - col("np")).as("ae"),
        (col("n") - col("np")).as("e"),
        units(abs(col("n") - col("np")).cast("double") / col("n"), 1000000)
          .as("t6"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("ae")).as("sae"),
        sum(col("e")).as("se"), sum(col("t6")).as("st6"))
      .select(col("event_type"), col("n_days"),
        r4(col("sae").cast("double") / col("n_days")).as("mae"),
        r4(col("st6").cast("double") / 1000000 / col("n_days"))
          .as("mape"),
        r4(col("se").cast("double") / col("n_days")).as("bias"))
      .orderBy(col("event_type"))
  }

  /** scd2_lookup: the POINT-IN-TIME dimension join — every click fact
    * resolved against the [[scd2Build]] dimension version valid at the
    * fact's second (valid_from ≤ t < valid_to, open tail NULL): the
    * classic warehouse "as-of the fact" lookup that SCD2 tables exist
    * to serve (Kimball type-2; facts before the user's first version
    * have no dimension state and drop — the inner-join convention).
    *
    * Scale shape: a plain equi-join on user_id with the validity
    * predicate as the refine — the per-key fan-out is the user's
    * VERSION COUNT (bounded by business cadence, the standing SCD2
    * assumption), never facts × facts; intervals partition time, so
    * each fact matches at most one version and no dedup pass exists.
    */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Build(spark, dir)
    val facts = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("fuid"),
        expr("ts div 1000000000").as("sec"))
    facts.join(dim,
        col("fuid") === col("user_id") &&
        col("sec") >= col("valid_from_sec") &&
        (col("valid_to_sec").isNull || col("sec") < col("valid_to_sec")))
      .select(col("event_id"), col("user_id"), col("sec"), col("version"),
        col("dim_event"), col("dim_value"))
      .orderBy(col("event_id"))
  }

  /** interval_join attribution window: a click is credited to a same-user
    * purchase at most this many seconds later. Single-sourced into the
    * oracle SQL via [[graft.oracle.DuckSql]].
    */
  val AttributionSec = 600L

  /** interval_join: ALL same-user 'click' events inside the trailing
    * (p_sec - [[AttributionSec]], p_sec] window of each 'purchase' — the
    * attribution/interval join (every match, where asof_join keeps only
    * the latest one).
    *
    * NOT written as an inequality join: a bare range predicate leaves
    * user_id as the only equi-key, so per-user pairing is quadratic and
    * a keyless variant plans as BroadcastNestedLoop. The scale shape is
    * bucket-explode + refine: bucket width = the window length, each
    * click lands statically in ONE (user, bucket); each purchase probes
    * exactly its own and the previous bucket (a trailing window of
    * length W spans at most 2 W-buckets). The join is then a plain
    * equi-join on (user_id, bucket) — hashable, AQE-skew-splittable —
    * and the exact window predicate refines candidates. No dedup pass
    * is needed: the click's bucket is unique and the two probed buckets
    * differ, so a (purchase, click) pair can only arise once.
    * SessionsSpec asserts the plan is BNL-free.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = AttributionSec
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("sec").as("c_sec"), expr(s"sec div $w").as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("sec").as("p_sec"))
      .withColumn("bucket",
        explode(array(expr(s"p_sec div $w") - 1, expr(s"p_sec div $w"))))
    purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_sec") > col("p_sec") - w && col("c_sec") <= col("p_sec"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (col("p_sec") - col("c_sec")).as("gap_sec"))
  }

  /** funnel: ordered-step conversion counts over the event stream —
    * signup → click → purchase, each step requiring its FIRST occurrence
    * strictly after the previous step's first occurrence (the standard
    * product-analytics funnel on first-touch semantics).
    *
    * Scale shape: one groupBy(user) computes the three first-occurrence
    * times as conditional MIN aggregates (map-side partial, no window,
    * no self-join — a per-user row regardless of event volume), then a
    * constant-size conditional-count aggregate emits the step rows via
    * an inline steps table. Two shuffles total, both partial-agg.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    def firstOf(t: String) =
      min(when(col("event_type") === t, col("sec"))).as(s"t_$t")
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
      .groupBy(col("user_id"))
      .agg(firstOf("signup"), firstOf("click"), firstOf("purchase"))
      .select(
        col("t_signup").isNotNull.as("s1"),
        (col("t_signup").isNotNull && col("t_click").isNotNull &&
          col("t_click") > col("t_signup")).as("s2"),
        (col("t_signup").isNotNull && col("t_click").isNotNull &&
          col("t_click") > col("t_signup") &&
          col("t_purchase").isNotNull &&
          col("t_purchase") > col("t_click")).as("s3"))
    val agg = perUser.agg(
      sum(col("s1").cast("long")).as("n1"),
      sum(col("s2").cast("long")).as("n2"),
      sum(col("s3").cast("long")).as("n3"))
    agg.select(explode(array(
      struct(lit(1).as("step"), lit("signup").as("event_type"),
        col("n1").as("n_users")),
      struct(lit(2).as("step"), lit("click").as("event_type"),
        col("n2").as("n_users")),
      struct(lit(3).as("step"), lit("purchase").as("event_type"),
        col("n3").as("n_users")))).as("r"))
      .select(col("r.step"), col("r.event_type"), col("r.n_users"))
  }

  /** cohort_retention: users grouped by the week of their FIRST event
    * (the cohort), counted per subsequent activity week offset — the
    * classic retention triangle.
    *
    * Scale shape: first-event week per user via one groupBy(user) MIN
    * (partial-agg); the activity rows re-join that tiny per-user frame
    * on user_id (co-partitioned by the same key, no extra shuffle
    * beyond the join); distinct users per (cohort, offset) is a
    * two-level aggregate — dedup rows first, then count — never
    * count(distinct) over raw events.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
    val first = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_wk"),
        (col("wk") - col("cohort_wk")).cast("int").as("week_no"))
      .distinct()
      .groupBy(col("cohort_wk"), col("week_no"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** cohort_ltv: the money-weighted cohort triangle — cumulative
    * purchase value per cohort user by weeks-since-signup (the LTV
    * curve growth teams read next to [[cohortRetention]]'s activity
    * triangle; same first-event-week cohort definition so the two
    * triangles line up row for row).
    *
    * Scale shape: the cohort assignment is one groupBy(user) min;
    * purchase values aggregate to the (cohort, week) GRID before the
    * cumulative window runs — the running sum orders over grid rows
    * (bounded by weeks², not events), and the cohort-size join is a
    * broadcast of the ≤|weeks|-row size table. The grid is SPARSE
    * (weeks with zero purchases don't emit rows); the cumulative skips
    * them identically in both engines.
    *
    * Parity: values accumulate as exact 1e-4-unit longs; the per-user
    * LTV divides the exact cumulative once in double (floor 4dp); the
    * weekly subtotal re-rounds to cents.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 604800000000000").as("wk"),
        col("event_type"), col("value"))
    val first = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
      .localCheckpoint(false) // feeds the size table AND the value join
    val sizes = first.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_users"))
    val vU = units(col("value"), 10000)
    val grid = ev.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .select(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).cast("int").as("week_no"),
        vU.as("vu"))
      .groupBy(col("cohort_wk"), col("week_no"))
      .agg(sum(col("vu")).as("wu"))
    val wCum = Window.partitionBy(col("cohort_wk")).orderBy(col("week_no"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.withColumn("cu", sum(col("wu")).over(wCum))
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("week_no"), col("cohort_users"),
        money(col("wu")).as("week_value"),
        (floor(col("cu").cast("double") / col("cohort_users") + 0.5)
          / 10000).as("ltv_per_user"))
      .orderBy(col("cohort_wk"), col("week_no"))
  }

  /** session_stats: the one-row session-shape summary over the
    * [[sessionize]] output — session count, average events and duration
    * per session, and p50/p90 session duration. The histogram-cumulative
    * quantile path (hist_quantiles/rfm posture): durations bin to
    * minutes (bounded by the corpus time span, not by session count),
    * cumulative over the bin grid, p_k = the lowest bin with
    * cum·100 ≥ k·N in exact integers, reported as the bin's lower bound
    * in seconds. Never a total order over sessions.
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val s = sessionize(spark, dir)
      .select(col("n_events").cast("long").as("ne"), col("duration_sec"),
        expr("duration_sec div 60").as("bin"))
      .localCheckpoint(false) // feeds the totals AND the histogram
    val tot = s.agg(count(lit(1)).as("n_sessions"),
      sum(col("ne")).as("se"), sum(col("duration_sec")).as("sd"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pcts = s.groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .crossJoin(broadcast(tot.select(col("n_sessions").as("ns"))))
      .agg(
        min(when(col("cum") * 100 >= col("ns") * 50, col("bin"))).as("b50"),
        min(when(col("cum") * 100 >= col("ns") * 90, col("bin"))).as("b90"))
    tot.crossJoin(broadcast(pcts))
      .select(col("n_sessions"),
        r4(col("se").cast("double") / col("n_sessions")).as("avg_events"),
        r4(col("sd").cast("double") / col("n_sessions")).as("avg_duration"),
        (col("b50") * 60).as("p50_duration_sec"),
        (col("b90") * 60).as("p90_duration_sec"))
  }

  /** active_users period length: fixed 28-day epoch windows, NOT
    * calendar months — fixed-size periods keep the stickiness ratio
    * comparable across periods (no 28-vs-31-day skew) and the period
    * key a pure integer division. Single-sourced into the oracle SQL.
    */
  val AuPeriodDays = 28L

  /** active_users: the DAU/MAU engagement summary — per 28-day period,
    * the distinct-user count (MAU), the average daily distinct-user
    * count (avg DAU), and their ratio (stickiness, the classic
    * product-health metric; ~1 means every active user shows up daily).
    *
    * Scale shape: the dedup-then-count rule everywhere (never
    * count-distinct over raw events): one distinct on (user, day) —
    * THE corpus-sized shuffle, shared by both series via
    * localCheckpoint — then bounded partial aggs: DAU per day, MAU per
    * period (second dedup on the already-shrunk frame), and a
    * period-grid join. Parity: counts are exact integers; avg DAU and
    * stickiness divide them in a fixed operation order with the shared
    * 4dp floor primitive.
    */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("ts div 1000000000 div 86400").as("day"))
      .distinct()
      .withColumn("period", expr(s"day div $AuPeriodDays"))
      .localCheckpoint(false) // feeds the DAU and MAU series
    val dau = ud.groupBy(col("period"), col("day"))
      .agg(count(lit(1)).as("dau"))
      .groupBy(col("period"))
      .agg(sum(col("dau")).as("dau_sum"), count(lit(1)).as("n_days"))
    val mau = ud.select(col("period"), col("user_id")).distinct()
      .groupBy(col("period")).agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("period"))
      .select(col("period"), col("n_days"), col("mau"),
        r4(col("dau_sum").cast("double") / col("n_days")).as("avg_dau"),
        r4(col("dau_sum").cast("double") / col("n_days") / col("mau"))
          .as("stickiness"))
      .orderBy(col("period"))
  }

  /** event_transitions: the first-order Markov transition matrix of the
    * event stream — counts and row-normalized probabilities of each
    * (from_type → to_type) step within per-user event-time order (the
    * product-analytics "next action" model; ties at the same second
    * break by event_id, the corpus-wide deterministic order).
    *
    * Scale shape: one window shuffle on user_id for `lead`, then a
    * partial-agg groupBy onto the |types|² matrix; the normalizing
    * per-from sum windows over that tiny frame. No self-join — lead()
    * is the single-pass formulation of the event-pair join.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val wf = Window.partitionBy(col("from_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("from_type"), col("to_type"), col("n"),
        r6(col("n").cast("double") / sum(col("n")).over(wf)).as("p"))
  }

  val PathTopK = 20

  /** event_paths: the corpus's top 3-step event-type sequences — the
    * n-gram extension of event_transitions' first-order matrix (where
    * that answers "what follows a click", this answers "what JOURNEYS
    * dominate"; the two disagreeing flags non-Markovian structure).
    *
    * Plan: the same per-user (sec, event_id) ordering window as
    * event_transitions with two lead()s (the single-pass form of a
    * double self-join), one partial-agg groupBy on the ≤|types|³ path
    * space, TakeOrdered top-k.
    */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val counts = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
      .select(col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("path")).limit(PathTopK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("path"))))
      .select(col("path"), col("n"), col("rank"))
  }

  /** The event-type vocabulary of the pivoted report — an EXPLICIT list
    * because dynamic pivot (Spark inferring the columns) runs a hidden
    * collect of the distinct values on the driver; a fixed output
    * schema is also what makes the oracle compare well-defined.
    * Single-sourced into the oracle SQL.
    */
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** event_pivot: day-of-week × event-type count crosstab — the PIVOT
    * relational shape (wide conditional aggregation). With the explicit
    * value list this is purely declarative: one partial-agg groupBy
    * whose output is ≤7 rows × |types| columns; missing combinations
    * coalesce to 0 (Spark's pivot-count yields null there, the oracle's
    * FILTER count yields 0 — reconciled engine-side).
    *
    * dow = (epoch_day + 4) mod 7, 0 = Sunday (1970-01-01 was a
    * Thursday) — integer ops, identical on both engines.
    */
  def eventPivot(spark: SparkSession, dir: String): DataFrame = {
    val piv = Tables.events(spark, dir)
      .select(expr("(ts div 86400000000000 + 4) % 7").as("dow"),
        col("event_type"))
      .groupBy(col("dow"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    piv.select(col("dow") +:
      EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** event_anomalies: daily-volume outliers per event type — the ops
    * monitoring query over the event stream: per (event_type, day)
    * counts, each day scored against its type's population mean/σ,
    * anomaly = count > mean + 3σ (the three-sigma control chart,
    * Shewhart's rule).
    *
    * Parity: day counts are exact integers; mean and variance divide
    * exact integer sums (S1, S2) in double with one fixed operand order
    * — var = S2/d − (S1/d)·(S1/d) — so both engines hold identical
    * bits; σ = sqrt (IEEE correctly rounded); the 3σ compare runs on
    * the UNROUNDED doubles; a zero-variance type (and the −ε FP case of
    * all-equal counts) clamps through greatest(var, 0) and scores z=0.
    *
    * Scale: two partial-agg groupBys (day grid, then per-type moments —
    * the second input is |types|·|days| rows, tiny) + a broadcast of
    * the |types|-row stats back onto the day grid. The day grid feeds
    * both consumers, so it is localCheckpoint-ed once.
    */
  def eventAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(Tables.events(spark, dir)).localCheckpoint(false)
    flagDaily(daily, dayStatsOf(daily))
  }

  /** (event_type, day, n) day-grid partial agg — the control chart's
    * input frame. Factored so the streaming twin
    * ([[graft.streaming.EventStream.watchEvents]]) flags the SAME
    * day-count shape against frozen stats.
    */
  private[graft] def dailyCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))

  /** Per-type (mean, sigma) from exact integer sums over the day grid
    * (fixed operand order, −ε clamp) — the FROZEN side of the
    * streaming control chart.
    */
  private[graft] def dayStatsOf(daily: DataFrame): DataFrame = {
    val mean = col("s1").cast("double") / col("d")
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("d"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
      .select(col("event_type"), mean.as("mean"),
        sqrt(greatest(
          col("s2").cast("double") / col("d") - mean * mean,
          lit(0.0))).as("sigma"))
  }

  /** Shewhart flagging of a day-count frame against a per-type stats
    * frame: 6dp mean, 4dp z, 3σ anomaly bit on unrounded doubles.
    * Inner join: types the stats frame never saw are unchartable and
    * drop (the ScoreStream unknown-language rule applied to events).
    */
  private[graft] def flagDaily(daily: DataFrame,
      stats: DataFrame): DataFrame =
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"),
        r6(col("mean")).as("mean_n"),
        when(col("sigma") > 0,
          r4((col("n") - col("mean")) / col("sigma")))
          .otherwise(lit(0.0)).as("z"),
        (col("n") > col("mean") + lit(3) * col("sigma")).as("is_anomaly"))

  /** robust_stats: outlier-resistant value statistics per event type —
    * exact mean, exact median, and the [p5, p95]-winsorized mean (the
    * robust center a payments/metering pipeline reports when single
    * fat-finger values would swing a plain mean). All three derive
    * from the 2dp-cents VALUE HISTOGRAM: quantiles by cumulative
    * position (the hist_quantiles rule), winsorizing as an exact
    * integer clamp-sum — never a per-type total order over events.
    *
    * Scale shape: one partial agg to the (type, cents) grid, a
    * grid-bounded cumulative window, a ≤|types|-row broadcast back,
    * one clamp-sum partial agg.
    */
  def robustStats(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .select(col("event_type"),
        units(col("value"), 100).as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds the quantile grid and the clamp-sum
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    def pAt(num: Int, den: Int) =
      min(when(col("cum") >= expr(s"(n - 1) * $num div $den") + 1,
        col("cents")))
    val qs = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        pAt(1, 20).as("p5"), pAt(1, 2).as("p50"), pAt(19, 20).as("p95"))
    hist.join(broadcast(qs), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        sum(col("c") * col("cents")).as("sc"),
        sum(col("c") *
          least(greatest(col("cents"), col("p5")), col("p95"))).as("swc"),
        max(col("p50")).as("p50c"))
      .select(col("event_type"), col("n_events"),
        r4(col("sc").cast("double") / col("n_events") / 100).as("mean"),
        (floor(col("p50c").cast("double") + 0.5) / 100).as("median"),
        r4(col("swc").cast("double") / col("n_events") / 100)
          .as("winsorized_mean"))
      .orderBy(col("event_type"))
  }

  /** dow_anomalies: SEASONALITY-AWARE Shewhart — each (type, day)
    * count scored against its type's same-day-of-week population
    * instead of the flat all-days baseline. weekly_profile shows the
    * shape; event_anomalies false-alarms on it (every Saturday of a
    * weekend-heavy type breaches a flat 3σ); this chart compares
    * Saturdays with Saturdays. Same exact arithmetic as the flat
    * chart (integer S1/S2 moments, fixed operand order, −ε clamp,
    * 6dp mean / 4dp z, anomaly bit on unrounded doubles) with dow in
    * the grouping key, so the two stay numerically comparable.
    *
    * Scale shape: the (type, day) grid is one partial agg; the stats
    * table is ≤|types|×7 rows riding a broadcast back onto the grid.
    */
  def dowAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(Tables.events(spark, dir))
      .withColumn("dow", pmod(col("day") + 3, lit(7)).cast("int"))
      .localCheckpoint(false) // feeds the stats and the flagging join
    val mean = col("s1").cast("double") / col("d")
    val stats = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("d"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
      .select(col("event_type"), col("dow"), mean.as("mean"),
        sqrt(greatest(
          col("s2").cast("double") / col("d") - mean * mean,
          lit(0.0))).as("sigma"))
    daily.join(broadcast(stats), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        r6(col("mean")).as("mean_n"),
        when(col("sigma") > 0,
          r4((col("n") - col("mean")) / col("sigma")))
          .otherwise(lit(0.0)).as("z"),
        (col("n") > col("mean") + lit(3) * col("sigma")).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** CUSUM slack k and decision threshold h in 1e-4 z-units (k = 0.5σ,
    * h = 5σ — the standard ARL-tuned pairing, Page Biometrika'54 /
    * Montgomery SPC). Single-sourced into the oracle SQL.
    */
  val CusumSlackU = 5000L
  val CusumThreshU = 50000L

  /** cusum_shift: two-sided CUSUM change-point chart over the daily
    * event-count grid (Page, Biometrika 1954) — the SUSTAINED-shift
    * detector beside the two Shewhart charts: event_anomalies flags
    * single 3σ days, this accumulates small persistent drifts
    * (S⁺ₜ = max(0, S⁺ₜ₋₁ + zₜ − k)) that never individually breach 3σ.
    *
    * The recursion is served in closed form — S⁺ₜ = Pₜ − min(0,
    * min_{j≤t} Pⱼ) with Pₜ the running sum of (zₜ − k) — so both
    * engines compute it as two cumulative windows (sum + running min)
    * over the day grid, no recursion anywhere.
    *
    * Parity: z standardizes against the same frozen per-type (mean, σ)
    * as the Shewhart charts and rounds to 4dp; all CUSUM state then
    * lives in EXACT 1e-4 integer units (the slack subtraction, both
    * prefix sums, the running mins, and the h-threshold compare are
    * pure BIGINT arithmetic — bit-identical under any partitioning).
    *
    * Scale shape: one partial agg to the (type, day) grid; windows run
    * per type over grid rows (bounded by types × days, never events).
    */
  def cusumShift(spark: SparkSession, dir: String): DataFrame =
    cusumOfDaily(dailyCounts(Tables.events(spark, dir)).localCheckpoint(false))

  /** The CUSUM chart over a `(event_type, day, n)` count frame — shared
    * with the streaming twin ([[graft.streaming.CusumStream]]), whose
    * standing store drains to exactly this shape; parity with the batch
    * query is by construction.
    */
  private[graft] def cusumOfDaily(daily: DataFrame): DataFrame = {
    val zu = units(col("z"), 10000)
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagDaily(daily, dayStatsOf(daily))
      .select(col("event_type"), col("day"), col("n"), zu.as("zu"))
      .withColumn("pu", sum(col("zu") - CusumSlackU).over(wCum))
      .withColumn("pd", sum(-col("zu") - CusumSlackU).over(wCum))
      .withColumn("su", col("pu") - least(lit(0L), min(col("pu")).over(wCum)))
      .withColumn("sd", col("pd") - least(lit(0L), min(col("pd")).over(wCum)))
      .select(col("event_type"), col("day"), col("n"),
        (col("zu").cast("double") / 10000).as("z"),
        (col("su").cast("double") / 10000).as("cusum_up"),
        (col("sd").cast("double") / 10000).as("cusum_down"),
        (col("su") > CusumThreshU || col("sd") > CusumThreshU)
          .as("is_shift"))
      .orderBy(col("event_type"), col("day"))
  }

  /** conversion_latency: the signup→purchase timing profile — how long
    * converting users take, as the histogram-quantile row ([[funnel]]
    * counts WHO converts; this says HOW FAST). Conversion uses the
    * funnel's strict-order convention (first purchase after the first
    * signup); latencies bin to minutes and p50/p90 read off the
    * cumulative grid (the sessionStats rule — never a total order over
    * users), reported as the bin's lower bound in seconds; the mean is
    * an exact integer-second sum with one 4dp division.
    *
    * Scale shape: one groupBy(user) min-pair partial agg, then a
    * minute-grid histogram (bounded by the corpus time span) with one
    * cumulative window and a 1-row rollup.
    */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    def firstOf(t: String) =
      min(when(col("event_type") === t, col("sec"))).as(s"t_$t")
    val per = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
      .groupBy(col("user_id"))
      .agg(firstOf("signup"), firstOf("purchase"))
      .filter(col("t_signup").isNotNull && col("t_purchase").isNotNull &&
        col("t_purchase") > col("t_signup"))
      .select((col("t_purchase") - col("t_signup")).as("lat"))
    val hist = per
      .select(col("lat"), expr("lat div 60").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("c"), sum(col("lat")).as("sl"))
      .localCheckpoint(false) // feeds the cumulative grid and the rollup
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(hist.agg(sum(col("c")).as("n"),
        sum(col("sl")).as("tl"))))
      .agg(max(col("n")).as("n_converted"),
        min(when(col("cum") * 100 >= col("n") * 50, col("bin") * 60))
          .as("p50_sec"),
        min(when(col("cum") * 100 >= col("n") * 90, col("bin") * 60))
          .as("p90_sec"),
        max(r4(col("tl").cast("double") / col("n"))).as("mean_sec"))
  }

  /** session_entropy: per-user Shannon entropy of the event-type
    * distribution — the behavioral-diversity score (a user whose
    * activity is all one event type scores 0; uniform use of all types
    * scores ln k). The per-user face of token_entropy's corpus
    * statistic, and the segmentation feature a churn model reads next
    * to rfm_segments.
    *
    * Parity: H = ln n − (Σ c·ln c)/n with each c·ln c term rounded to
    * 6dp integer units and summed exactly (a raw double Σ would be
    * partition-order dependent — the decSum lesson applied to entropy
    * terms), one double expression at the end re-rounded to 6dp.
    *
    * Scale shape: two partial aggs ((user, type) then user) on
    * co-partitioned keys — no windows, no joins beyond the count
    * rollup.
    */
  def sessionEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perType = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val tl =
      units(col("c").cast("double") * log(col("c").cast("double")), 1000000)
    perType
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).cast("int").as("n_types"),
        sum(tl).as("stl"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        r6(log(col("n_events").cast("double")) -
          (col("stl").cast("double") / 1000000) / col("n_events"))
          .as("entropy"))
      .orderBy(col("user_id"))
  }

  /** Two-proportion z-test critical value (two-sided α = 0.05). */
  val LiftZCrit = 1.96

  /** conversion_lift: the A/B conversion read-out — users hash into
    * two deterministic arms (the md5-derived split of approx_distinct's
    * hash, so assignment is reproducible across engines and runs),
    * conversion = the user has a 'purchase' event, and the arms compare
    * by the classic two-proportion pooled z-test (the experimentation
    * dashboard's headline row). With a hash split both arms draw from
    * the same population, so the expected lift is 0 — the z column is
    * the A/A sanity check an experiment platform runs before any real
    * assignment, and the operator is the slot a real assignment column
    * plugs into.
    *
    * Parity: counts are exact integers; p̂/lift/z compute in double
    * with IDENTICAL operand order on both engines (sqrt is
    * IEEE-correctly-rounded, so the pooled SE is bit-identical), then
    * round 6dp/4dp; the significance bit tests the unrounded |z| (the
    * is_anomaly convention).
    *
    * Scale shape: one groupBy(user) partial agg, then a 1-row
    * conditional rollup — map-shaped end to end.
    */
  def conversionLift(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val per = Tables.events(spark, dir)
      .select(col("user_id"),
        (col("event_type") === "purchase").cast("int").as("cv"))
      .groupBy(col("user_id")).agg(max(col("cv")).as("cv"))
      .select(pmod(h, lit(2L)).cast("int").as("arm"), col("cv"))
    val g = per.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 0, col("cv").cast("long"))
        .otherwise(0L)).as("ca"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === 1, col("cv").cast("long"))
        .otherwise(0L)).as("cb"))
    val pa = col("ca").cast("double") / col("na")
    val pb = col("cb").cast("double") / col("nb")
    val pool = (col("ca") + col("cb")).cast("double") /
      (col("na") + col("nb"))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("na") + lit(1.0) / col("nb")))
    val zRaw = (pa - pb) / se
    g.select(col("na").as("n_a"), col("ca").as("conv_a"),
      r6(pa).as("p_a"), col("nb").as("n_b"), col("cb").as("conv_b"),
      r6(pb).as("p_b"), r6(pa - pb).as("lift"),
      when(se > 0, r4(zRaw))
        .otherwise(lit(0.0)).as("z_score"),
      (se > 0 && abs(zRaw) > LiftZCrit).as("is_significant"))
  }

  /** km_retention: the Kaplan-Meier survival curve (JASA 1958) of user
    * activity lifetime in weeks — "what share of users is still active
    * t weeks after their first event", with proper right-censoring:
    * users whose LAST event falls in the corpus's final observed week
    * are censored (the study ended on them), not churned — the
    * correction that makes the tail of a plain retention curve honest.
    * cohort_retention counts activity per (cohort, week); this is the
    * pooled actuarial curve over the same lifetimes.
    *
    * Estimator: at each distinct lifetime t, n_t = users with lifetime
    * ≥ t (at-risk), d_t = churned exactly at t; S(t) = Π_{i≤t}
    * (1 − d_i/n_i), served as exp(Σ ln·) — each ln factor rounds to
    * 6dp and the sum accumulates in exact integer units, the
    * exp/ln-only parity precedent (perplexity family); once a factor
    * hits zero (d = n) every later row is exactly 0 via a cumulative
    * flag, not a −∞ ln.
    *
    * Scale shape: one groupBy(user) min/max partial agg; everything
    * after lives on the ≤|weeks| lifetime grid (two cumulative windows
    * + a 1-row broadcast of the corpus max week).
    */
  def kmRetention(spark: SparkSession, dir: String): DataFrame = {
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalGrid(spark, dir)
      .withColumn("lnu",
        when(col("d") < col("n_risk"),
          units(log(lit(1.0) -
            col("d").cast("double") / col("n_risk")), 1000000))
          .otherwise(lit(0L)))
      .withColumn("dead",
        max((col("d") === col("n_risk")).cast("int")).over(wCum))
      .withColumn("lns", sum(col("lnu")).over(wCum))
      .select(col("t"), col("n_risk"), col("d").as("n_churn"),
        col("c").as("n_censored"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(r6(exp(col("lns").cast("double") / 1000000)))
          .as("survival"))
      .orderBy(col("t"))
  }

  /** The shared actuarial grid of [[kmRetention]] and [[nelsonAalen]]:
    * one row per distinct user lifetime t (weeks) with leave/churn/
    * censor counts, the user total, and the at-risk count n_risk —
    * everything after the one groupBy(user) partial agg lives on the
    * ≤|weeks| grid.
    */
  private def survivalGrid(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
    val span = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("f"), max(col("wk")).as("l"))
      .localCheckpoint(false) // feeds the max-week scalar AND the grid
    val maxWk = broadcast(span.agg(max(col("l")).as("maxwk")))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    span.crossJoin(maxWk)
      .select((col("l") - col("f")).cast("int").as("t"),
        (col("l") === col("maxwk")).cast("int").as("cens"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("leave"),
        sum(lit(1L) - col("cens")).as("d"),
        sum(col("cens").cast("long")).as("c"))
      .crossJoin(broadcast(span.agg(count(lit(1)).as("n_users"))))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum(col("leave")).over(wPrev), lit(0L)))
  }

  /** nelson_aalen: the cumulative-hazard twin of [[kmRetention]]
    * (Nelson 1972 / Aalen 1978) — H(t) = Σ_{i≤t} d_i/n_i over the same
    * right-censored lifetime grid, plus the Fleming–Harrington survival
    * S̃(t) = exp(−H(t)), the small-sample-friendlier estimator that
    * should track (and upper-bound) the KM product-limit curve — the
    * standing cross-check between the two (S̃ ≥ S_KM always; a gap
    * beyond small-sample noise means a grid bug).
    *
    * Parity: each hazard increment d/n rounds to 6dp integer units and
    * the cumulative sum is exact; H is that integer over 1e6 (one cast,
    * no arithmetic), S̃ one exp rounded 6dp — the exp/ln-only rule.
    * Scale shape: identical to kmRetention (one user partial agg, the
    * ≤|weeks| grid, bounded windows).
    */
  def nelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivalGrid(spark, dir)
      .withColumn("hu",
        units(col("d").cast("double") / col("n_risk"), 1000000))
      .withColumn("hs", sum(col("hu")).over(wCum))
      .select(col("t"), col("n_risk"), col("d").as("n_churn"),
        col("c").as("n_censored"),
        (col("hs").cast("double") / 1000000).as("cum_hazard"),
        r6(exp(-col("hs").cast("double") / 1000000)).as("survival_fh"))
      .orderBy(col("t"))
  }

  /** Log-rank χ² critical value (α = 0.05, 1 df) — same grid point as
    * [[SrmChi2Crit]], kept separate so the two gates tune independently.
    */
  val LogrankChi2Crit = 3.8415

  /** logrank_test: the TWO-COHORT comparison leg of the survival shelf
    * (Mantel 1966; Peto & Peto 1972) — km_retention/nelson_aalen draw
    * ONE pooled curve; this asks whether two user cohorts' churn
    * hazards differ. Cohorts come from the md5 arm split of
    * [[conversionLift]] (a deterministic A/A, so the expected χ² is
    * small — the slot a real assignment plugs into, and the standing
    * sanity check that the hash split doesn't secretly correlate with
    * lifetime). At each distinct lifetime t: observed arm-0 churn d_a
    * vs its hypergeometric expectation d·n_a/n under H₀ (equal
    * hazards), variance d·(n_a/n)·(n_b/n)·(n−d)/(n−1); the statistic
    * is U²/V with U = Σ(d_a − e_a), V = Σv — χ²(1 df).
    *
    * Parity: the grid counts are exact integers; each e_a and v term
    * rounds to 6dp integer units and the sums accumulate as longs
    * (partition-order independent — the km/nelson precedent), so U and
    * V are exact; one double division tail rounds χ² to 4dp and the
    * significance bit tests the unrounded value (the is_anomaly
    * convention).
    *
    * Scale shape: identical to [[survivalGrid]] — one groupBy(user)
    * partial agg, everything after on the ≤|weeks| grid (one bounded
    * cumulative window per arm, 1-row broadcasts for the totals).
    */
  def logrankTest(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val span = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
      .groupBy(col("user_id"))
      .agg(min(col("wk")).as("f"), max(col("wk")).as("l"))
      .select(pmod(h, lit(2L)).cast("int").as("arm"), col("f"), col("l"))
      .localCheckpoint(false) // feeds the max-week scalar, arm totals, grid
    val maxWk = broadcast(span.agg(max(col("l")).as("maxwk")))
    val tot = broadcast(span.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nu_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nu_b")))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = span.crossJoin(maxWk)
      .select((col("l") - col("f")).cast("int").as("t"), col("arm"),
        (col("l") =!= col("maxwk")).cast("long").as("churn"))
      .groupBy(col("t"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("leave_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("leave_b"),
        sum(when(col("arm") === 0, col("churn")).otherwise(0L)).as("d_a"),
        sum(when(col("arm") === 1, col("churn")).otherwise(0L)).as("d_b"))
      .crossJoin(tot)
      .withColumn("n_a", col("nu_a") -
        coalesce(sum(col("leave_a")).over(wPrev), lit(0L)))
      .withColumn("n_b", col("nu_b") -
        coalesce(sum(col("leave_b")).over(wPrev), lit(0L)))
    val d = col("d_a") + col("d_b")
    val n = col("n_a") + col("n_b")
    val eA = d.cast("double") * col("n_a") / n
    val v = when(n > 1,
      d.cast("double") * col("n_a") / n * col("n_b") / n *
        (n - d).cast("double") / (n - lit(1)).cast("double"))
      .otherwise(lit(0.0))
    val g = grid.filter(d > 0)
      .agg(count(lit(1)).as("n_times"),
        sum(col("d_a")).as("churn_a"), sum(col("d_b")).as("churn_b"),
        sum(units(eA, 1000000)).as("eu"),
        sum(units(v, 1000000)).as("vu"))
      .crossJoin(tot)
    val u = col("churn_a").cast("double") - col("eu").cast("double") / 1000000
    val chi2 = u * u / (col("vu").cast("double") / 1000000)
    g.select(col("nu_a").as("n_users_a"), col("nu_b").as("n_users_b"),
      col("n_times"), col("churn_a"), col("churn_b"),
      (col("eu").cast("double") / 1000000).as("expected_a"),
      when(col("vu") > 0, r4(chi2))
        .otherwise(lit(0.0)).as("chi2"),
      (col("vu") > 0 && chi2 > LogrankChi2Crit).as("is_significant"))
  }

  /** cuped_lift: VARIANCE-REDUCED lift (CUPED — Deng, Xu, Kohavi &
    * Walker, WSDM 2013) over the [[conversionLift]] arm split. The
    * corpus time range splits at its midpoint week; each user's
    * PRE-period event count x is the covariate, the POST-period count y
    * the metric. θ = cov(x,y)/var(x) fits POOLED across arms (the
    * paper's recommendation — pre-period data is assignment-blind), the
    * adjusted metric is y − θ·(x − x̄), and the read-out is the raw vs
    * adjusted lift plus ρ² — the variance share CUPED removes (its
    * entire value proposition: a 30% ρ² means 30% fewer users for the
    * same power).
    *
    * Parity: x/y are exact integer counts, so every moment (Σx, Σy,
    * Σx², Σy², Σxy, per-arm Σ) is an exact long and the centered
    * products n·Σxy − Σx·Σy stay in BIGINT (the chi2_terms rule); the
    * double tail (θ, lifts, ρ²) computes with identical operand order
    * and rounds 6dp.
    *
    * Scale shape: one groupBy(user) partial agg, one 1-row conditional
    * rollup — map-shaped end to end, the conversionLift cost class.
    */
  def cupedLift(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
    val mid = broadcast(ev.agg(
      expr("(min(wk) + max(wk) + 1) div 2").as("mid")).localCheckpoint(false))
    val per = ev.crossJoin(mid)
      .groupBy(col("user_id"))
      .agg(sum(when(col("wk") < col("mid"), 1L).otherwise(0L)).as("x"),
        sum(when(col("wk") >= col("mid"), 1L).otherwise(0L)).as("y"))
      .select(pmod(h, lit(2L)).cast("int").as("arm"), col("x"), col("y"))
    val g = per.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sxa"),
      sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sya"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sxb"),
      sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("syb"))
    val covN = (col("n") * col("sxy") - col("sx") * col("sy"))
    val varxN = (col("n") * col("sxx") - col("sx") * col("sx"))
    val varyN = (col("n") * col("syy") - col("sy") * col("sy"))
    val theta = covN.cast("double") / varxN.cast("double")
    val liftRaw = col("sya").cast("double") / col("na") -
      col("syb").cast("double") / col("nb")
    val liftCuped = liftRaw - theta *
      (col("sxa").cast("double") / col("na") -
        col("sxb").cast("double") / col("nb"))
    val rho2 = covN.cast("double") * covN.cast("double") /
      (varxN.cast("double") * varyN.cast("double"))
    val ok = varxN > 0 && varyN > 0 && col("na") > 0 && col("nb") > 0
    g.select(col("na").as("n_a"), col("nb").as("n_b"),
        when(ok, r6(theta)).otherwise(lit(0.0)).as("theta"),
        when(col("na") > 0 && col("nb") > 0, r6(liftRaw))
          .otherwise(lit(0.0)).as("lift_raw"),
        when(ok, r6(liftCuped)).otherwise(lit(0.0)).as("lift_cuped"),
        when(ok, r6(rho2)).otherwise(lit(0.0)).as("var_reduction"))
  }

  /** Benjamini–Hochberg false-discovery rate for [[fdrBh]]. */
  val FdrAlpha = 0.05

  /** fdr_bh: MULTIPLE-TESTING correction over the per-type [[ksDrift]]
    * p-values (Benjamini & Hochberg 1995) — a drift dashboard fires one
    * KS test per event type every sweep, and at α=0.05 a 20-type fleet
    * false-alarms weekly; BH bounds the EXPECTED SHARE of false
    * discoveries instead of the per-test rate. Rank p ascending; the
    * cutoff is the LARGEST rank k with p_(k) ≤ k·α/m, and every rank ≤ k
    * is a discovery (including any p above its own line — the step-up
    * property the naive per-row test gets wrong).
    *
    * Parity: the consumed p-values are ks_drift's (already 6dp-rounded,
    * bit-identical on both engines); ranks tie-break on event_type, the
    * BH line k·α/m computes in one fixed-order double expression, and
    * the step-up cutoff is a max over an exact integer flag — no new
    * rounding surface.
    *
    * Scale shape: ks_drift's cost plus a |types|-bounded window — the
    * correction itself is free; at 100 TB the test fleet is the corpus
    * pass, the BH pass is a dashboard frame.
    */
  def fdrBh(spark: SparkSession, dir: String): DataFrame = {
    val p = ksDrift(spark, dir)
      .filter(col("p_value").isNotNull)
      .select(col("event_type"), col("p_value"))
    val wRank = Window.orderBy(col("p_value"), col("event_type"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    p.crossJoin(broadcast(p.agg(count(lit(1)).as("m"))))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("bh_line",
        col("rank").cast("double") * FdrAlpha / col("m"))
      .withColumn("kmax", max(when(col("p_value") <= col("bh_line"),
        col("rank")).otherwise(lit(0))).over(wAll))
      .select(col("event_type"), col("p_value"), col("rank"), col("m"),
        r6(col("bh_line")).as("bh_threshold"),
        (col("rank") <= col("kmax")).as("is_discovery"))
      .orderBy(col("rank"))
  }

  /** HLL register count (m = 2^6). 64 registers give ~13% standard
    * error (1.04/√64) — coarse but the POINT is the mechanism: the
    * sketch state is 64 bytes per group regardless of cardinality.
    * Single-sourced into the oracle SQL.
    */
  val HllBuckets = 64

  /** approx_distinct: DETERMINISTIC HyperLogLog (Flajolet et al. 2007)
    * distinct-user estimation per event type, next to the exact count
    * and the realized relative error — the sketch audit. Unlike
    * `approx_count_distinct` (whose xxHash/HLL++ internals no other
    * engine reproduces), every step here is md5-derived and exactly
    * mirrored in the DuckDB oracle, so the ESTIMATE ITSELF is
    * hash-compared bit-for-bit — a cross-engine-reproducible sketch:
    *   h = 60-bit md5(user); bucket = h mod 64; ρ = leading-zeros+1 of
    *   the remaining 54 bits (exact integer form via binary-string
    *   length); register = max ρ per bucket; E = α·m²/Σ2^−ρ with the
    *   small-range linear-counting correction (E ≤ 2.5m, V > 0).
    *
    * Scale shape: the register table is ≤ |types|×64 rows from ONE
    * partial-agg pass over the deduped pairs; Σ2^−ρ accumulates as
    * exact integers scaled by 2^55 (a raw double Σ would be
    * partition-order dependent — the decSum lesson applied to powers
    * of two), so results reproduce under any partitioning. At 100 TB
    * the exact-count arm is the expensive side (the audit costs the
    * thing it audits); production keeps the sketch and drops the arm.
    */
  /** HLL register derivation over an `(event_type, user_id)` frame —
    * `(event_type, bucket, r)`. Max-merge semantics make input
    * duplicates no-ops, which is exactly what lets the streaming twin
    * ([[graft.streaming.SketchStream]]) merge per-batch registers
    * without deduplicating arrivals.
    */
  private[graft] def hllRegisters(pairs: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
      16, 10).cast("long") // 60 bits, non-negative
    pairs
      .select(col("event_type"), pmod(h, lit(HllBuckets.toLong)).cast("int")
        .as("bucket"), shiftright(h, 6).as("w")) // 54-bit remainder
      .select(col("event_type"), col("bucket"),
        when(col("w") === 0, 55)
          .otherwise(lit(55) - length(bin(col("w")))).cast("int").as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
  }

  /** Estimate from a register frame: `(event_type, n_buckets,
    * hll_est)` — integer-scaled Σ2^−ρ, α literal, small-range
    * correction, 6dp.
    */
  private[graft] def hllEstimateOf(regs: DataFrame): DataFrame = {
    val m = HllBuckets
    val two55 = lit(36028797018963968L) // 2^55
    val s = (col("sp") + (lit(m.toLong) - col("nb")) * two55).as("s")
    val eRaw = lit(0.709) * lit(4096.0) /
      (col("s").cast("double") / two55.cast("double"))
    val v = lit(m.toLong) - col("nb")
    val est = r6(when(v > 0 && eRaw <= lit(2.5 * m),
      lit(64.0) * log(lit(64.0) / v.cast("double"))).otherwise(eRaw))
    regs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nb"),
        // Σ 2^(55−ρ) as exact integers (55−ρ ∈ [0,54]; ≤ m·2^55 < 2^62)
        expr("sum(shiftleft(CAST(1 AS BIGINT), 55 - r))").as("sp"))
      .select(col("event_type"), col("nb"), col("sp"), s)
      .select(col("event_type"), col("nb").cast("int").as("n_buckets"),
        est.as("hll_est"))
  }

  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint(false) // feeds the sketch AND the exact arm
    val ex = du.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    hllEstimateOf(hllRegisters(du)).join(ex, "event_type")
      .select(col("event_type"), col("n_exact"), col("n_buckets"),
        col("hll_est"),
        r4(abs(col("hll_est") - col("n_exact")) / col("n_exact"))
          .as("rel_err"))
      .orderBy(col("event_type"))
  }

  /** Count-min geometry: d=4 hash rows × w=256 counters (ε ≈ e/w ≈ 1%,
    * δ ≈ e^−4) and the heavy-hitter report depth. Single-sourced into
    * the oracle SQL.
    */
  val CmsDepth = 4
  val CmsWidth = 256
  val CmsTopK = 20

  /** heavy_hitters: the DETERMINISTIC count-min sketch (Cormode &
    * Muthukrishnan 2005) beside [[approxDistinct]]'s HLL — the top
    * event-volume users with their CMS-estimated counts and the
    * realized overestimate (CMS errors are one-sided: est ≥ truth,
    * inflated by bucket collisions). Like the HLL, every hash is
    * md5-derived (row d hashes `d:user`), so the sketch state and the
    * estimates hash-compare bit-for-bit in the oracle — the
    * cross-engine-reproducible sketch posture.
    *
    * Scale shape: the counter table is d×w = 1024 cells built by ONE
    * partial agg over the per-user counts; the top-k arm is TakeOrdered
    * on the exact counts (the audit arm — production keeps the 1024
    * longs and answers point queries from them); estimates join the
    * k-bounded top set against the broadcast cells.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val uc = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds the counters AND the exact top-k arm
    def bucketOf(d: Column, u: Column): Column =
      pmod(conv(substring(md5(concat(d.cast("string"), lit(":"),
        u.cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(CmsWidth.toLong)).cast("int")
    val ds = explode(array((0 until CmsDepth).map(lit): _*)).as("d")
    val cells = uc.select(col("user_id"), col("n"), ds)
      .select(col("d"), bucketOf(col("d"), col("user_id")).as("bucket"),
        col("n"))
      .groupBy(col("d"), col("bucket")).agg(sum(col("n")).as("c"))
    val top = uc.orderBy(col("n").desc, col("user_id")).limit(CmsTopK)
    top.select(col("user_id"), col("n"), ds)
      .select(col("user_id"), col("n"), col("d"),
        bucketOf(col("d"), col("user_id")).as("bucket"))
      .join(broadcast(cells), Seq("d", "bucket"))
      .groupBy(col("user_id"), col("n"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("user_id"), col("n").as("n_events"), col("cms_est"),
        (col("cms_est") - col("n")).as("overest"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_events").desc, col("user_id"))))
      .select(col("user_id"), col("rank").cast("int").as("rank"),
        col("n_events"), col("cms_est"), col("overest"))
      .orderBy(col("rank"))
  }

  /** temporal_decay knobs: half-life in whole days (weights halve per
    * elapsed half-life) and the exponent clamp (2^-40 ≈ 9e-13 — past it
    * a contribution is below any 4dp-visible share, so the clamp changes
    * nothing observable while keeping the shifted weight in a long).
    */
  val DecayHalfLifeDays = 7L
  val DecayMaxHalves = 40

  /** temporal_decay: per-user engagement score under exponential
    * recency decay — the standard "recent activity counts more" ranking
    * signal (RFM's R axis made continuous). Each event contributes
    * `value · 2^-(age/half_life)` with age in whole days against the
    * corpus max day, so the score is reproducible from the data alone
    * (no wall clock — Bench/Verify runs are re-runnable bit-for-bit).
    *
    * Parity across engines is EXACT-integer by construction: the only
    * float inputs are 2dp values (→ integer cents), and the decay
    * weight is a power of two applied as an integer left-shift of
    * 2^(40 - halves), so every per-event contribution is
    * `cents · 2^k` — an exact DECIMAL(38,0). The one double appears in
    * the final per-user division, identically ordered in the oracle.
    * Bound: 1e6-cent events × 2^40 × 1e7 events/user ≈ 1e25 ≪ 1e38
    * (the q11 rule — non-ANSI decimal overflow would NULL silently).
    *
    * Scale shape: one partial-agg groupBy on user_id (high-cardinality,
    * grows with SF — exactly what hash aggregation scales for); the
    * corpus max day rides as a 1-row broadcast. No window, no join.
    */
  def temporalDecay(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("ts div 1000000000 div 86400").as("day"),
        units(col("value"), 100).as("cents"))
    val ref = e.agg(max(col("day")).as("ref_day"))
    // integer halves, then the exact power-of-two weight as a shift
    // (scala shiftleft() only takes a literal count — SQL form doesn't)
    val wu = expr(s"cast(cents as decimal(38,0)) * shiftleft(" +
      s"cast(1 as bigint), cast($DecayMaxHalves - least($DecayMaxHalves," +
      s" (ref_day - day) div $DecayHalfLifeDays) as int))")
    e.crossJoin(broadcast(ref))
      .select(col("user_id"), col("day"), wu.as("wu"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("day")).as("last_day"),
        sum(col("wu")).as("su"))
      .select(col("user_id"), col("n_events"), col("last_day"),
        r4(col("su").cast("double") / (1L << DecayMaxHalves) / 100)
          .as("decayed_value"))
      .orderBy(col("user_id"))
  }

  /** user_overlap: the audience-overlap matrix between event types —
    * for every type pair, how many users do both, the Jaccard of the
    * two audiences, and the lift against independence (the co-presence
    * analogue of copurchase, on behaviors instead of parts). Lift > 1
    * marks behaviors that travel together (funnel candidates); Jaccard
    * near 1 marks redundant instrumentation.
    *
    * Scale shape: distinct (type, user) first — a partial-agg distinct
    * whose output is ≤ |types| rows per user — then the self-join on
    * user_id fans out at most |types|² rows per user (types are a
    * bounded vocabulary; users are the high-cardinality axis the join
    * shuffles on), feeding a ≤|types|²-row partial agg. Audience sizes
    * and the global user count ride back on broadcasts. No window.
    *
    * Parity: counts are exact integers; jaccard and lift divide them
    * in double with one fixed operand order, 4dp-floored.
    */
  def userOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint(false) // feeds sizes, the pair join, and the U count
    val sz = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val totalU = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("tu"))
    val a = ut.select(col("event_type").as("type_a"),
      col("user_id").as("ua"))
    val b = ut.select(col("event_type").as("type_b"),
      col("user_id").as("ub"))
    a.join(b, col("ua") === col("ub") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(sz.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sz.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(totalU))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        r4(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both"))).as("jaccard"),
        r4(col("n_both").cast("double") * col("tu")
          / col("n_a") / col("n_b")).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** weekly_profile: the day-of-week seasonality grid per event type —
    * volume, share, and the peak day (ties resolve to the earliest
    * day). The capacity-planning readout (when does each behavior
    * spike) and the input a seasonal anomaly baseline would train on
    * (event_anomalies scores against a FLAT mean; a type with strong
    * weekly shape needs this profile as its baseline instead).
    *
    * Day-of-week derives from integer epoch-day arithmetic —
    * (day + 3) mod 7, 0 = Monday (1970-01-01 was a Thursday) — never
    * from a locale/zone-dependent date function, so both engines agree
    * by construction. One partial-agg groupBy to the ≤|types|×7 grid;
    * the share/peak window runs on the grid only.
    */
  def weeklyProfile(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(spark, dir)
      .select(col("event_type"),
        pmod(expr("ts div 1000000000 div 86400") + 3, lit(7)).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
    grid
      .withColumn("tot", sum(col("n")).over(w))
      .withColumn("mx", max(col("n")).over(w))
      .withColumn("peak_dow",
        min(when(col("n") === col("mx"), col("dow"))).over(w))
      .select(col("event_type"), col("dow").cast("int").as("dow"),
        col("n"),
        r4(col("n").cast("double") / col("tot")).as("share"),
        (col("dow") === col("peak_dow")).as("is_peak"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** seasonal_strength: how much of each type's DAILY-VOLUME variance
    * the day-of-week profile explains — the one-way-ANOVA R² of dow on
    * the zero-filled daily count grid (SSB/SST = 1 − SSW/SST, Fisher's
    * decomposition). The missing number between weekly_profile (the
    * shape) and dow_anomalies/forecast_baseline (consumers that assume
    * a shape): a type at 0.8 needs the seasonal baseline, a type at
    * 0.05 is noise around a flat mean and the seasonal model is
    * overfit. Zero days COUNT: the grid is the full [min day, max day]
    * corpus range per type (absent days are real zeros — the honest
    * variance, not the observed-days survivor bias).
    *
    * Parity: counts/squares/group sums are exact longs; the 7
    * between-group terms S_g²/c_g round to 6dp integer units and sum
    * exactly (the km precedent), leaving two fixed-order double
    * expressions (SSB, SST) and one 4dp ratio.
    *
    * Scale shape: one (type, day) partial agg; the grid is
    * |types| × |days| (both bounded), built from a broadcast day range;
    * everything after is grid-sized. At 100 TB the day range grows
    * like the retention window, not the data.
    */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("ts div 1000000000 div 86400").as("day"))
    val days = broadcast(ev.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1")).localCheckpoint(false)
      .select(explode(sequence(col("d0"), col("d1"))).as("day")))
    val counts = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(days)
      .join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), pmod(col("day") + 3, lit(7)).as("dow"),
        coalesce(col("c"), lit(0L)).as("n"))
      .localCheckpoint(false) // feeds the dow terms and the totals
    val sw = grid.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("sg"), count(lit(1)).as("cg"))
      .groupBy(col("event_type"))
      .agg(sum(units(col("sg").cast("double") * col("sg") / col("cg"),
        1000000)).as("swu"))
    val tot = grid.groupBy(col("event_type"))
      .agg(sum(col("n")).as("s"), count(lit(1)).as("nd"),
        sum(col("n") * col("n")).as("a"))
    val sst = col("a").cast("double") -
      col("s").cast("double") * col("s") / col("nd")
    val ssb = col("swu").cast("double") / 1000000 -
      col("s").cast("double") * col("s") / col("nd")
    tot.join(sw, Seq("event_type"))
      .select(col("event_type"), col("nd").as("n_days"),
        col("s").as("n_events"),
        r4(col("s").cast("double") / col("nd")).as("mean_daily"),
        when(sst > 0, r4(ssb / sst)).as("dow_strength"))
      .orderBy(col("event_type"))
  }

  /** window_agg: tumbling 1-hour event-time windows per event type —
    * a single partial-agg groupBy, the shape that scales linearly.
    */
  def windowAgg(spark: SparkSession, dir: String): DataFrame = {
    val hr = expr("ts div 3600000000000")
    Tables.events(spark, dir)
      .select(hr.as("hr"), col("event_type"), col("value"))
      .groupBy(col("hr"), col("event_type"))
      .agg(
        count(lit(1)).cast("int").as("n"),
        round(decSum("value").cast("double"), 2).as("sum_value"),
        r4(decSum("value").cast("double") / count(lit(1))).as("avg_value"))
      .select(
        date_format(timestamp_seconds(col("hr") * 3600),
          "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"), col("avg_value"))
  }

  /** Fixed power rounds for the Markov stationary distribution
    * (unrolled in the oracle; the ≤|types| chain mixes fast).
    */
  val MkIters = 16

  /** markov_stationary: the STATIONARY DISTRIBUTION of the first-order
    * event-type Markov chain — where the event_transitions matrix
    * answers "what follows a click", πP = π answers "where does the
    * session SETTLE": the long-run attention share each surface earns
    * if behavior keeps its transition structure. Read next to the
    * EMPIRICAL share: agreement says the chain is near mixing already;
    * divergence says current traffic is transient (campaign spikes)
    * relative to the behavioral steady state.
    *
    * Scale shape: the transition matrix is a ≤k² partial agg of one
    * lead() pass (the event_transitions frame); the iteration runs on
    * k-row frames with 1-row normalizers — the pagerank loop shape.
    *
    * Parity: row probabilities and every π component live in 1e-6
    * integer units; each round is one exact integer matvec and one
    * rounded renormalization.
    */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val wf = Window.partitionBy(col("from_type"))
    val trans = base
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("from_type"), col("to_type"),
        units(col("n").cast("double") / sum(col("n")).over(wf), 1000000)
          .as("pu"))
      .localCheckpoint(false)
    val emp = base.groupBy(col("event_type")).agg(count(lit(1)).as("ne"))
      .localCheckpoint(false)
    val k = broadcast(emp.agg(count(lit(1)).as("k"),
      sum(col("ne")).as("tot")).localCheckpoint(false))
    // r14: the iteration runs WITHOUT per-round eager checkpoints or
    // broadcast normalizers — each round's renormalizer is a window sum
    // over the k-row frame (k = |event types|, bounded at any corpus
    // scale, so the single-partition window is safe), and the rounds
    // chain lazily into ONE job. The old shape paid 2 driver jobs per
    // round (eager checkpoint + broadcast collect) = 4.5 s of pure
    // orchestration for 16 five-row matvecs (measured; exec was 0.2 s).
    // trans/emp keep their checkpoints: they bound the corpus pass and
    // stop the per-round join from re-expanding it 16×.
    var pi = emp.crossJoin(k)
      .select(col("event_type").as("t"),
        floor(lit(1000000.0) / col("k") + lit(0.5)).cast("long").as("vu"))
    for (_ <- 1 to MkIters) {
      pi = trans
        .join(pi.select(col("t").as("from_type"), col("vu")),
          Seq("from_type"))
        .groupBy(col("to_type"))
        .agg(sum(col("pu") * col("vu")).as("raw"))
        .select(col("to_type").as("t"),
          units(col("raw").cast("double") /
            sum(col("raw")).over(Window.rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)),
          1000000).as("vu"))
    }
    emp.crossJoin(k).join(pi, col("event_type") === col("t"), "left")
      .select(col("event_type"),
        (coalesce(col("vu"), lit(0L)).cast("double") / 1000000)
          .as("stationary"),
        r6(col("ne").cast("double") / col("tot")).as("empirical_share"))
      .orderBy(col("event_type"))
  }

  /** Fixed Bradley–Terry MM rounds (unrolled in the oracle). */
  val BtIters = 5

  /** bradley_terry: PAIRWISE-PREFERENCE strengths of the event types —
    * each user who spends on two types casts one comparison per pair
    * (the type with the larger exact-cents value total wins; ties
    * abstain), and the Bradley–Terry model turns the win matrix into
    * interval-scale strengths via Hunter (2004)'s MM iteration:
    *   p'_i = W_i / Σ_j n_ij/(p_i + p_j), renormalized to mean 1.
    * The same machinery that ranks LLM arenas from pairwise human
    * preferences — here grounded on per-user engagement value, the
    * "which surface do users consistently prefer" read-out that a raw
    * value sum (dominated by heavy users) cannot give.
    *
    * Scale shape: one (user, type) partial agg, one per-user ≤C(k,2)
    * pair pass, then all iteration on ≤k² comparison rows with 1-row
    * broadcast normalizers — the pagerank loop shape; corpus cost is
    * the first two aggregations.
    *
    * Parity: win counts are exact integers; each MM term n/(p_i+p_j)
    * rounds once to 1e-6 units and sums exactly; update and
    * normalization are two fixed-order rounded divisions per round.
    */
  def bradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    val perUT = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        units(col("value"), 100).as("cents"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("cents")).as("su"))
    val a = perUT.select(col("user_id"), col("event_type").as("ta"),
      col("su").as("sa"))
    val b = perUT.select(col("user_id"), col("event_type").as("tb"),
      col("su").as("sb"))
    val comp = a.join(b, Seq("user_id"))
      .filter(col("ta") < col("tb") && col("sa") =!= col("sb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("sa") > col("sb"), 1L).otherwise(0L)).as("wa"))
      .localCheckpoint(false)
    val sym = comp.select(col("ta").as("t"), col("tb").as("o"), col("n"),
        col("wa").as("w"))
      .unionByName(comp.select(col("tb").as("t"), col("ta").as("o"),
        col("n"), (col("n") - col("wa")).as("w")))
      .localCheckpoint(false)
    val wins = sym.groupBy(col("t"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("comparisons"))
      .localCheckpoint(false)
    // r14: the MM rounds run without eager per-round jobs — the round's
    // two normalizers (Σ pr and the type count k) are window aggregates
    // over the k-row strength frame (k = |event types|, bounded at any
    // corpus scale, so the single-partition window is safe), and each
    // round's p is a LAZY localCheckpoint: the plan still truncates at
    // API time (p feeds two joins per round — unchecked, the subplan
    // doubles per round), but nothing executes until the final action.
    // The old shape paid 2 eager driver jobs per round — measured 4.4 s
    // of orchestration for five ≤k²-row rounds (exec was 0.25 s).
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    var p = wins.select(col("t"), lit(1000000L).as("pu"))
      .localCheckpoint(false)
    for (_ <- 1 to BtIters) {
      val terms = sym
        .join(p.select(col("t"), col("pu").as("pt")), Seq("t"))
        .join(p.select(col("t").as("o"), col("pu").as("po")), Seq("o"))
        .select(col("t"),
          units(col("n").cast("double") /
            ((col("pt") + col("po")).cast("double") / 1000000), 1000000)
          .as("termu"))
        .groupBy(col("t")).agg(sum(col("termu")).as("s"))
      p = terms.join(wins.select(col("t"), col("wins")), Seq("t"))
        .select(col("t"),
          units(col("wins").cast("double") /
            (col("s").cast("double") / 1000000), 1000000).as("pr"))
        .select(col("t"),
          units(col("pr").cast("double") * count(lit(1)).over(wAll) /
            sum(col("pr")).over(wAll), 1000000).as("pu"))
        .localCheckpoint(false)
    }
    wins.join(p, Seq("t"))
      .select(col("t").as("event_type"), col("comparisons"), col("wins"),
        (col("pu").cast("double") / 1000000).as("strength"))
      .orderBy(col("strength").desc, col("event_type"))
  }

  /** Normal quantiles for the power calculation: z_{0.975} (two-sided
    * α = 0.05) and z_{0.80} (power 80%) — parsed literals on both
    * engines.
    */
  val ZAlpha = 1.959964
  val ZBeta = 0.841621

  /** ab_power: the MINIMUM DETECTABLE EFFECT of the current A/B split
    * at 80% power / α = 0.05 — MDE = (z_{α/2}+z_β)·√(p(1−p)(1/n_a+1/n_b))
    * on the pooled conversion rate (the standard two-proportion power
    * formula). The "is this experiment even big enough" row read
    * BEFORE conversion_lift's verdict: a non-significant lift smaller
    * than the MDE is an underpowered test, not a null result.
    *
    * Parity: exact user/conversion counts; one fixed-order sqrt
    * expression, 6dp-rounded outputs.
    */
  def abPower(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val per = Tables.events(spark, dir)
      .select(col("user_id"),
        (col("event_type") === "purchase").cast("int").as("cv"))
      .groupBy(col("user_id")).agg(max(col("cv")).as("cv"))
      .select(pmod(h, lit(2L)).cast("int").as("arm"), col("cv"))
    val g = per.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(col("cv").cast("long")).as("conv"))
    val p = col("conv").cast("double") / (col("n_a") + col("n_b"))
    val mde = lit(ZAlpha + ZBeta) *
      sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    g.select(col("n_a"), col("n_b"), r6(p).as("pooled_p"),
      r6(mde).as("mde_abs"),
      when(p > 0, r6(mde / p)).as("mde_rel"))
  }

  /** 1-dof chi-square critical value at α = 0.05 (the SRM gate). */
  val SrmChi2Crit = 3.8415

  /** srm_check: the SAMPLE-RATIO-MISMATCH guard on the A/B split —
    * chi-square of the md5-arm user counts against 50/50 (1 dof). The
    * first thing an experimentation platform checks before reading
    * conversion_lift: a biased split invalidates the z-test no matter
    * what it says. Exact integer counts, one 4dp division.
    */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    val arm = pmod(conv(substring(md5(col("user_id").cast("string")), 1,
      15), 16, 10).cast("long"), lit(2L)).cast("int")
    Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .select(arm.as("arm"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        r4((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))
          .cast("double") / (col("n_a") + col("n_b"))).as("chi2"))
      .withColumn("srm_flag", col("chi2") > SrmChi2Crit)
  }

  /** Attribution lookback window (seconds): touches more than 7 days
    * before the conversion earn no credit.
    */
  val AttrLookbackSec = 604800L

  /** attribution: MULTI-TOUCH marketing attribution — each purchase's
    * value is credited to the event types that touched the user inside
    * the 7-day lookback, under the three standard models side by side:
    * first-touch (100% to the earliest touch), last-touch (100% to the
    * latest touch before the purchase — the default every ads
    * dashboard ships), and linear (equal split across touches). The
    * "which channel earns the revenue" table; funnel says WHO
    * converts, conversion_latency says HOW FAST, this says WHAT GETS
    * PAID.
    *
    * Conversions with no in-window touch are direct sales and drop out
    * (reported by conversion_latency's funnel side, not here).
    *
    * Parity: money stays in integer cents; the linear split is an
    * exact integer division of cents·10⁴ units per touch (floor — the
    * residue of at most cnt−1 units per conversion is discarded
    * identically on both engines); event order inside a second breaks
    * by event_id.
    *
    * Scale shape: one equi-join purchases⋈touches on user_id with the
    * window predicate (per-user fan-out is bounded by per-user
    * activity — the interval_join posture), two windows per conversion
    * key, one partial-agg groupBy on event type.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"), col("value"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("sec").as("csec"),
        col("event_id").as("cid"),
        units(col("value"), 100).as("cents"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("sec").as("tsec"),
        col("event_id").as("tid"), col("event_type").as("ttype"))
    val pairs = conv.join(touch, Seq("user_id"))
      .filter((col("tsec") < col("csec") ||
        (col("tsec") === col("csec") && col("tid") < col("cid"))) &&
        col("csec") - col("tsec") <= AttrLookbackSec)
    val wAsc = Window.partitionBy(col("cid"))
      .orderBy(col("tsec"), col("tid"))
    val wDesc = Window.partitionBy(col("cid"))
      .orderBy(col("tsec").desc, col("tid").desc)
    pairs
      .withColumn("rnf", row_number().over(wAsc))
      .withColumn("rnl", row_number().over(wDesc))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .groupBy(col("ttype").as("event_type"))
      .agg(sum(when(col("rnf") === 1, 1L).otherwise(0L))
        .as("n_first"),
        sum(when(col("rnf") === 1, col("cents")).otherwise(0L)).as("fu"),
        sum(when(col("rnl") === 1, col("cents")).otherwise(0L)).as("lu"),
        sum(expr("(cents * 10000) div cnt")).as("linu"))
      .select(col("event_type"), col("n_first"),
        (col("fu").cast("double") / 100).as("first_value"),
        (col("lu").cast("double") / 100).as("last_value"),
        (floor(col("linu").cast("double") / 100 + 0.5) / 10000)
          .as("linear_value"))
      .orderBy(col("event_type"))
  }

  /** EWMA chart constants: λ = 1/5 and the exact-rational weight table
    * u_i = ⌊0.2·0.8^i·10⁶ + ½⌋ (per-lag), t_i = ⌊0.8^i·10⁶ + ½⌋ (tail
    * mass at truncation depth i), computed once from exact BigDecimal
    * powers and injected as LITERALS into both engines — the chart
    * recursion z_t = λx_t + (1−λ)z_{t−1}, z_0 = x̄ unrolls to
    * z_t = Σ_{i<k} u_i·x_{t−i} + t_k·x̄ with k = min(t, [[EwmaLags]])
    * (0.8⁴⁰ ≈ 1.3·10⁻⁴ — truncation below the 4dp output grid).
    */
  val EwmaLags = 40
  val EwmaWeights: Seq[(Int, Long, Long)] = {
    val om = BigDecimal("0.8"); val lam = BigDecimal("0.2")
    (0 to EwmaLags).map { i =>
      val p = om.pow(i)
      (i, ((lam * p) * 1000000 + BigDecimal("0.5"))
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong,
        (p * 1000000 + BigDecimal("0.5"))
          .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
    }
  }

  /** ewma_chart: the EWMA control chart over daily event counts — the
    * small-persistent-shift detector between event_anomalies' Shewhart
    * chart (single 3σ spikes) and cusum_shift's CUSUM (accumulated
    * drift): EWMA z_t with λ = 0.2 flags when |z_t − μ| exceeds
    * 3σ·√(λ/(2−λ)) (the steady-state control limit, Lucas & Saccucci
    * 1990). Reported per type: days observed, days flagged, and the
    * worst limit-ratio — the one-line health row; the per-day chart is
    * the same frame unfiltered.
    *
    * Parity: the recursion unrolls to a fixed-weight dot product over
    * the last [[EwmaLags]] observed days (weights are exact-rational
    * literals, see [[EwmaWeights]]), accumulated as exact integers;
    * μ/σ reuse the event_anomalies moment path verbatim; one 4dp
    * division per day.
    *
    * Scale shape: one day-grid partial agg, a bounded offset join
    * (rows × ≤41 weights on the per-type day index), one partial-agg
    * groupBy — linear in the day grid, independent of event volume.
    */
  def ewmaChart(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(Tables.events(spark, dir))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
      .localCheckpoint(false)
    val stats = dayStatsOf(daily.select(col("event_type"), col("day"),
      col("n")))
    val wts = broadcast(daily.sparkSession.createDataFrame(EwmaWeights)
      .toDF("i", "ui", "ti"))
    val meanu = units(col("mean"), 1000000)
    // z_t = Σ_{i<k} u_i·x_{t-i} + t_k·μ, k = min(t, lags): the offset
    // join pairs day t with its ≤40 predecessors BY OBSERVED INDEX —
    // an equi-join on (type, rn−i) after the tiny weight-table fan-out
    val src = daily.select(col("event_type").as("set"),
      col("rn").as("sn"), col("n").as("x"))
    val terms = daily.select(col("event_type"), col("rn"), col("day"))
      .join(wts, col("i") < least(col("rn"), lit(EwmaLags)))
      .join(src, col("event_type") === col("set") &&
        col("sn") === col("rn") - col("i"))
      .groupBy(col("event_type"), col("rn"), col("day"))
      .agg(sum(col("ui") * col("x")).as("headu"))
      .withColumn("k", least(col("rn"), lit(EwmaLags)))
    val chart = terms
      .join(broadcast(wts.select(col("i").as("k"), col("ti"))), Seq("k"))
      .join(broadcast(stats), Seq("event_type"))
      .withColumn("mu", meanu)
      .withColumn("tailu", expr("(ti * mu) div 1000000"))
      .select(col("event_type"), col("day"),
        r4((col("headu") + col("tailu")).cast("double") / 1000000)
          .as("z"),
        col("mean"), col("sigma"))
      .withColumn("limit", lit(3) * col("sigma") *
        sqrt(lit(0.2) / lit(1.8)))
      .withColumn("flag", abs(col("z") - col("mean")) > col("limit"))
    chart.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"),
        max(when(col("limit") > 0,
          r4(abs(col("z") - col("mean")) / col("limit")))).as("max_ratio"))
      .orderBy(col("event_type"))
  }

  /** Two-sided normal critical value for the Mann–Whitney flag. */
  val MwZCrit = 1.96

  /** mann_whitney: the RANK-SUM drift test — Mann–Whitney U per event
    * type between the early/late halves (the same split as ks_drift),
    * with tie-corrected normal approximation. Where KS asks "did the
    * distribution change shape ANYWHERE", U asks the sharper ordinal
    * question "did values systematically shift up or down" — the pair
    * a metrics review reads together (KS fires on variance changes U
    * can't see; U beats KS on small median shifts).
    *
    * Parity: rank-sums come off the (type, value) grid with AVERAGE
    * ranks for ties carried ×2 (2Σranks = Σ ca·(2k + c + 1) — exact
    * integers, no half-rank floats); the tie-corrected σ and z are one
    * fixed-order double expression over exact integer moments.
    *
    * Scale shape: ksDrift's grid + one cumulative window + one rollup.
    */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000").as("sec"),
        units(col("value"), 1000000).as("vu"))
    val mid = broadcast(ev.agg(
      expr("(min(sec) + max(sec)) div 2").as("mid")).localCheckpoint(false))
    val grid = ev.crossJoin(mid)
      .groupBy(col("event_type"), col("vu"))
      .agg(sum(when(col("sec") < col("mid"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("sec") < col("mid"), 0L).otherwise(1L)).as("cb"))
      .withColumn("c", col("ca") + col("cb"))
    val wT = Window.partitionBy(col("event_type"))
    val wCum = wT.orderBy(col("vu"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = grid
      .withColumn("k", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .groupBy(col("event_type"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        // 2·Σ avg-ranks of the early arm: ca·(2k + c + 1), exact
        sum(d38(col("ca")) * (lit(2) * d38(col("k")) + d38(col("c")) + 1))
          .as("rs2"),
        // tie term Σ c³−c for the variance correction
        sum(d38(col("c")) * d38(col("c")) * d38(col("c")) - d38(col("c")))
          .as("ties"))
    val n = col("na") + col("nb")
    val u2 = (col("rs2") - d38(col("na")) * (d38(col("na")) + 1))
      .cast("double") // 2·U_early
    val sigma = sqrt(col("na").cast("double") * col("nb") / 12 *
      ((n + 1).cast("double") -
        col("ties").cast("double") / (n.cast("double") * (n - 1))))
    val z = (u2 - col("na").cast("double") * col("nb")) / (lit(2) * sigma)
    m.select(col("event_type"), col("na").as("n_early"),
        col("nb").as("n_late"),
        (u2 / 2).as("u"),
        when(col("na") > 0 && col("nb") > 0 && sigma > 0, r4(z)).as("z"))
      .withColumn("significant",
        when(col("z").isNotNull, abs(col("z")) > MwZCrit))
      .orderBy(col("event_type"))
  }

  /** ks_drift: per-event-type two-sample Kolmogorov–Smirnov test of
    * the `value` distribution between the EARLY and LATE halves of the
    * time range (split at the midpoint of [min ts, max ts] in epoch
    * seconds) — the exact-distribution drift audit next to
    * quality_psi's binned one: PSI quantizes into fixed buckets and
    * can miss shape changes inside a bucket; KS compares the full
    * empirical CDFs and carries a distribution-free p-value
    * 2·exp(−2λ²), λ = D·√(n₁n₂/(n₁+n₂)) (Kolmogorov's one-term
    * asymptotic, the two-sided Smirnov approximation).
    *
    * Parity: D is found as an exact integer — at each distinct value,
    * |cumₐ·n_b − cum_b·nₐ| over integer cumulative counts — so the max
    * and argmax are partition-order independent; the single division
    * rounds to 6dp, and the p-value is one sqrt/exp expression over
    * the already-rounded D (the 1-ulp exp caveat documented).
    *
    * Scale shape: one partial agg to the (type, value) grid, one
    * cumulative window per type over that grid (bounded by distinct
    * values, not events), one final groupBy — linear, no joins except
    * the 1-row midpoint broadcast.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000").as("sec"),
        units(col("value"), 1000000).as("vu"))
    val mid = broadcast(ev.agg(
      expr("(min(sec) + max(sec)) div 2").as("mid")).localCheckpoint(false))
    val grid = ev.crossJoin(mid)
      .groupBy(col("event_type"), col("vu"))
      .agg(sum(when(col("sec") < col("mid"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("sec") < col("mid"), 0L).otherwise(1L)).as("cb"))
    val wT = Window.partitionBy(col("event_type"))
    val wCum = wT.orderBy(col("vu"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perType = grid
      .withColumn("na", sum(col("ca")).over(wT))
      .withColumn("nb", sum(col("cb")).over(wT))
      .withColumn("diff",
        abs(sum(col("ca")).over(wCum) * col("nb") -
          sum(col("cb")).over(wCum) * col("na")))
      .groupBy(col("event_type"), col("na"), col("nb"))
      .agg(max(col("diff")).as("dint"))
    val d = r6(col("dint").cast("double") / col("na") / col("nb"))
    perType
      .withColumn("ks_d", when(col("na") > 0 && col("nb") > 0, d))
      .withColumn("lam", col("ks_d") *
        sqrt(col("na").cast("double") * col("nb") /
          (col("na") + col("nb"))))
      .select(col("event_type"), col("na").as("n_early"),
        col("nb").as("n_late"), col("ks_d"),
        when(col("ks_d").isNotNull, r6(least(lit(1.0),
          lit(2.0) * exp(lit(-2.0) * col("lam") * col("lam")))))
          .as("p_value"))
      .orderBy(col("event_type"))
  }

  /** drift_gate thresholds — the conventional lines, single-sourced to
    * the oracle: KS two-sided p < 0.05; PSI > 0.25 (credit-scoring
    * "investigate"); per-source centroid cosine < 0.9 against the
    * corpus centroid; CUSUM h = [[CusumThreshU]] z-units (the chart's
    * own decision line, re-read here as max excursion).
    */
  val DriftKsAlpha = 0.05
  val DriftPsiBound = 0.25
  val DriftCentroidFloor = 0.9

  /** drift_gate: the unified DRIFT DECISION table — one row per
    * (monitor, key) across the four standing drift audits, each
    * reduced to (stat, threshold, rule, triggered): ks_value
    * (ksDrift's exact-CDF p-value per event type), cusum_count
    * (max CUSUM excursion per type vs the chart's h), psi_quality
    * (qualityPsi per source), embedding_centroid (embeddingDrift's
    * per-source centroid cosine). The audits each tell one story;
    * this is the page-the-pipeline read that consumes all of them —
    * the same audit→decision closure nprobe_pick/threshold_pick/
    * banding_pick give their families, applied to monitoring.
    *
    * Plan: pure four-audit consumer — each input is its own bounded
    * plan (grids/windows bounded by types × days, sources × bins);
    * the gate adds |types|+|sources|-sized projections and a union.
    * The four branches BUILD in parallel (guide §2.6 overlap): each
    * audit materializes its own localCheckpoint chain, and built
    * serially those AQE waves queue behind one another on an idle
    * cluster; four driver threads let the scheduler interleave them.
    * Results are unaffected — the branches share no frames and each
    * audit is deterministic regardless of materialization order.
    */
  def driftGate(spark: SparkSession, dir: String): DataFrame = {
    val Seq(ksA, csA, psiA, emA) = graft.operators.Par.build(Seq(
      () => ksDrift(spark, dir),
      () => cusumShift(spark, dir),
      () => CorpusStats.qualityPsi(spark, dir),
      () => Similarity.embeddingDrift(spark, dir)))
    val ks = ksA.select(
      lit("ks_value").as("monitor"), col("event_type").as("key"),
      col("p_value").as("stat"), lit(DriftKsAlpha).as("threshold"),
      lit("lt").as("rule"),
      coalesce(col("p_value") < DriftKsAlpha, lit(false)).as("triggered"))
    val cs = csA
      .groupBy(col("event_type"))
      .agg(max(greatest(col("cusum_up"), col("cusum_down"))).as("stat"),
        max(when(col("is_shift"), 1L).otherwise(0L)).as("trg"))
      .select(lit("cusum_count").as("monitor"),
        col("event_type").as("key"), col("stat"),
        lit(CusumThreshU / 10000.0).as("threshold"),
        lit("gt").as("rule"), (col("trg") === 1L).as("triggered"))
    val psi = psiA.select(
      lit("psi_quality").as("monitor"), col("source").as("key"),
      col("psi").as("stat"), lit(DriftPsiBound).as("threshold"),
      lit("gt").as("rule"),
      (col("psi") > DriftPsiBound).as("triggered"))
    val em = emA.select(
      lit("embedding_centroid").as("monitor"), col("source").as("key"),
      col("drift_cos").as("stat"),
      lit(DriftCentroidFloor).as("threshold"), lit("lt").as("rule"),
      (col("drift_cos") < DriftCentroidFloor).as("triggered"))
    ks.unionByName(cs).unionByName(psi).unionByName(em)
      .orderBy(col("monitor"), col("key"))
  }

  /** SES smoothing constant and truncation window. α=0.3 discounts a
    * 28-day-old observation to (1-α)^27 ≈ 6e-5 of the newest — the
    * truncated window is the exact SES anchored at y_{t-W}, not an
    * approximation (the anchor term carries the remaining mass).
    */
  val SesAlpha = 0.3
  val SesWindow = 28

  /** Lag weights 1..[[SesWindow]]: α(1-α)^(ℓ-1), with the anchor mass
    * (1-α)^W folded into the last lag. Computed once here and embedded
    * as the SAME double literals in the Spark plan and the oracle SQL
    * (toString round-trip) — the engines never re-derive a power.
    */
  val SesWeights: Seq[Double] = {
    val a = SesAlpha
    val base = (1 to SesWindow).map(l => a * math.pow(1 - a, l - 1))
    base.updated(SesWindow - 1,
      base.last + math.pow(1 - a, SesWindow))
  }

  /** ses_backtest: one-step-ahead simple-exponential-smoothing backtest
    * per event type on the ZERO-FILLED daily grid, scored against the
    * seasonal-naive t-7 arm on the SAME days — the "does smoothing beat
    * last-week" decision row that completes the forecasting shelf:
    * seasonal_strength licenses the seasonal baseline, forecast_baseline
    * prices it, changepoint explains its failures, this says whether a
    * level-tracking model beats it (skill > 0) or the series is
    * seasonality-dominated (skill < 0, keep the naive arm).
    *
    * The recursion is unrolled exactly: SES anchored at y_{t-W} is a
    * fixed W-term weighted sum ([[SesWeights]]), so one 28-lag
    * grid-to-grid equi-join prices every forecast — no sequential state,
    * no (1-α)^-t explosion. Per-term products round to 6dp integer
    * units and sum exactly (the km precedent); both error columns are
    * exact longs; two fixed-order double ratios per type at the end.
    *
    * Scale shape: one (type, day) partial agg; the grid is
    * |types|×|days| (seasonalStrength posture), the lag join is
    * grid × 28 on (type, day) equi-keys with the 28-row weight table
    * broadcast. At 100 TB the grid grows like the calendar.
    */
  def sesBacktest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
    val span = broadcast(ev.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1")).localCheckpoint(false))
    val days = span
      .select(explode(sequence(col("d0"), col("d1"))).as("day"),
        col("d0"))
    val counts = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(days)
      .join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("d0"),
        coalesce(col("c"), lit(0L)).as("n"))
      .localCheckpoint(false) // target side and 28 lag probes
    val lagW = SesWeights.zipWithIndex
      .foldLeft(lit(0.0)) { case (acc, (w, i)) =>
        when(col("id") === (i + 1), lit(w)).otherwise(acc) }
    val lags = broadcast(spark.range(1, SesWindow + 1)
      .select(col("id").cast("int").as("lag"), lagW.as("w")))
    val probes = grid.filter(col("day") >= col("d0") + SesWindow)
      .select(col("event_type"), col("day"), col("n").as("yt"))
      .crossJoin(lags)
      .join(grid.select(col("event_type").as("lt"), col("day").as("ld"),
        col("n").as("yl")),
        col("lt") === col("event_type") &&
          col("ld") === col("day") - col("lag"))
    val perDay = probes
      .groupBy(col("event_type"), col("day"), col("yt"))
      .agg(sum(units(col("w") * col("yl"), 1000000))
        .as("yhat6"),
        sum(when(col("lag") === 7, col("yl"))).as("y7"))
    perDay
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("yhat6") - col("yt") * 1000000)).as("ses6"),
        sum(abs(col("y7") - col("yt")) * 1000000).as("nv6"))
      .select(col("event_type"), col("n_scored"),
        r4(col("ses6").cast("double") / 1000000 / col("n_scored"))
          .as("mae_ses"),
        r4(col("nv6").cast("double") / 1000000 / col("n_scored"))
          .as("mae_naive7"),
        when(col("nv6") > 0, r4(lit(1.0) -
          col("ses6").cast("double") / col("nv6"))).as("skill"))
      .orderBy(col("event_type"))
  }

  /** markov_order: the likelihood-ratio test that LICENSES (or revokes)
    * the first-order assumption [[markovStationary]] and
    * [[eventTransitions]] ride — order-1 vs order-2 on the per-user
    * event stream: G² = 2·Σ_abc n_abc · ln( n_abc·n_b / (n_ab·n_bc) )
    * (Anderson & Goodman 1957). A large G² per df says yesterday's
    * surface still shapes tomorrow's beyond the current one — the
    * stationary-distribution story is then a two-step chain's shadow,
    * not the law. All four count frames derive from ONE trigram pass
    * (n_ab = first-pair margin, n_bc = last-pair margin, n_b = middle
    * margin — margins of the SAME sample, the MLE-nesting requirement).
    *
    * Parity: counts are exact longs; each cell's term rounds to 6dp
    * integer units with a verbatim-order ratio (the chi2_terms rule);
    * df is the nominal full-support k(k−1)² with k = observed trigram
    * middle types (sparse cells inflate it — read G²/df as a gauge,
    * not a calibrated p-value; the Scaladoc'd caveat).
    *
    * Scale shape: one lead-chain pass reducing to the ≤k³ trigram
    * partial agg; every margin and join after is k-bounded. Flat.
    */
  def markovOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val tri = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
      .select(col("event_type").as("a"),
        lead(col("event_type"), 1).over(w).as("b"),
        lead(col("event_type"), 2).over(w).as("c"))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n3"))
      .localCheckpoint(false) // all three margins re-read it
    val nab = tri.groupBy(col("a"), col("b")).agg(sum(col("n3")).as("n2f"))
    val nbc = tri.groupBy(col("b"), col("c")).agg(sum(col("n3")).as("n2s"))
    val nb = tri.groupBy(col("b")).agg(sum(col("n3")).as("n1"))
    val terms = tri
      .join(nab, Seq("a", "b")).join(nbc, Seq("b", "c"))
      .join(nb, Seq("b"))
      .select(col("n3"),
        units(col("n3").cast("double") *
          log(col("n3").cast("double") * col("n1") /
            (col("n2f").cast("double") * col("n2s"))), 1000000).as("t6"))
    val kf = broadcast(tri.agg(
      countDistinct(col("b")).as("k")).localCheckpoint(false))
    val dfn = col("k") * (col("k") - 1) * (col("k") - 1)
    terms.agg(sum(col("n3")).as("n_trigrams"),
      count(lit(1)).as("n_cells"), sum(col("t6")).as("st6"))
      .crossJoin(kf)
      .select(col("n_trigrams"), col("n_cells"),
        col("k").as("k_types"), dfn.as("df_nominal"),
        r4(lit(2.0) * col("st6").cast("double") / 1000000).as("g2"),
        when(col("k") > 1, r4(lit(2.0) * col("st6").cast("double")
          / 1000000 / dfn)).as("g2_per_df"))
  }

  /** session_length_hist: power-of-two histogram of session depth —
    * the TAIL under session_stats' means: a bin-16+ population is the
    * power users every engagement mean hides, and its share moving is
    * the re-engagement signal cohort dashboards miss. The lengthHist
    * binning idiom (binary string length = exact floor-log2) applied
    * to [[sessionize]]'s own output, so the histogram can never
    * disagree with the gated sessionization.
    *
    * Scale shape: sessionize's one user-shuffle, then a ≤log2(max
    * depth) bin partial agg. Flat past the sessionize pass.
    */
  def sessionLengthHist(spark: SparkSession, dir: String): DataFrame = {
    val g = sessionize(spark, dir)
      .select(col("n_events").cast("long").as("ne"))
      .select(col("ne"), expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(length(bin(ne)) AS INT) - 1)")
        .as("bin_lo"))
      .groupBy(col("bin_lo"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("ne")).as("n_events"))
      .localCheckpoint(false) // grid rows feed the share against the total
    val tot = broadcast(g.agg(sum(col("n_sessions")).as("t"))
      .localCheckpoint(false))
    g.crossJoin(tot)
      .select(col("bin_lo"), col("n_sessions"), col("n_events"),
        r4(col("n_sessions").cast("double") / col("t"))
          .as("session_share"))
      .orderBy(col("bin_lo"))
  }

  /** overdispersion: the per-user event-count dispersion index and the
    * method-of-moments negative-binomial fit — the assumption audit
    * UNDER the AB shelf: ab_power sizes on a variance, bootstrap_ci
    * brackets a mean, srm_check trusts a Poisson-ish split; all three
    * silently assume the count distribution's var/mean is near 1. This
    * row measures it: D = s²/x̄ (Fisher 1950's index), and when D > 1
    * the NB size r̂ = x̄²/(s²−x̄) says HOW heavy the user-activity tail
    * is (small r̂ = a few whales dominate — exactly when normal-theory
    * power formulas mislead and the bootstrap row is the one to trust).
    *
    * Parity: count moments are exact longs (Σx, Σx² — bounded: a
    * 10¹²-event user base needs Σx² < 2^63 ⇒ per-user counts < ~3e6 at
    * a trillion users, the realistic envelope); one fixed-order double
    * tail per stat, each rounded once.
    *
    * Scale shape: one per-user partial agg, a 1-row tail. Linear scan,
    * constant output.
    */
  def overdispersion(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val mean = col("sx").cast("double") / col("n")
    val vr = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx") / col("n")) / (col("n") - 1)
    m.select(col("n").as("n_users"),
      when(col("n") > 0, r6(mean)).as("mean_events"),
      when(col("n") > 1, r6(vr)).as("var_events"),
      when(col("n") > 1 && mean > 0, r6(vr / mean)).as("dispersion"),
      when(col("n") > 1 && vr > mean, r6(mean * mean / (vr - mean)))
        .as("nb_size"))
  }

  /** Bootstrap replica count. 200 keeps the replica frame trivially
    * small while the 2.5%/97.5% ranks (5, 195) sit 4 replicas deep in
    * each tail — stable enough for a CI that pages someone.
    */
  val BootB = 200

  /** Seed namespace for the bootstrap hash draws (kept distinct from
    * SampleSeed/ShuffleSeed so adding replicas never perturbs the
    * sampling/sharding hashes, per the r9 seed-isolation rule).
    */
  val BootSeed = "boot1"

  /** Poisson(1) CDF thresholds c_0..c_8: replica weight w(u) = #{k :
    * u >= c_k} caps at 9 (P(W>9) ~ 1e-7 — at 2^-32 hash resolution the
    * cap changes ~1 in 4e6 draws, identically on both engines). The
    * literals are single-sourced into the oracle SQL via toString, so
    * every comparison is against the bit-identical double.
    */
  val PoisCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726562, 0.9994058151824182,
    0.999916758850712, 0.9999897508033254, 0.9999988747974021)

  /** bootstrap_ci: percentile-bootstrap confidence interval for MEAN
    * EVENTS PER USER — the uncertainty line under the engine's many
    * point estimates (active_users' mean, ab_power's inputs), computed
    * the one way that scales: the POISSON BOOTSTRAP (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", Google 2012).
    * Classic resampling draws n users with replacement per replica —
    * a global shuffle per replica, undistributable at 100 TB. Poisson
    * bootstrap replaces the multinomial with independent w ~ Poisson(1)
    * per (user, replica): one map-side explode ×B over the per-user
    * frame, partial-agg to B rows. No replica ever sees the user list.
    *
    * Determinism: w is a pure function of (user_id, replica, seed) —
    * u = first-8-md5-hex / 2^32 (the hashU posture) stepped through
    * [[PoisCdf]]. Replica means round to 6dp integer units, so the
    * percentile ranks and the se moments are exact-integer; the only
    * double tail is the fixed-order se expression (sqrt is IEEE
    * correctly-rounded, parity-safe).
    *
    * Ranks: lo = ceil(0.025·b_eff), hi = ceil(0.975·b_eff) over
    * replicas with Σw > 0 (b_eff; an empty replica has no mean — it is
    * dropped, not zero-filled), in exact integer arithmetic.
    *
    * Scale shape: per-user count is one partial agg; the ×B explode is
    * map-only and combines map-side to B·partitions partials; every
    * frame after is B rows. At 100 TB the shuffle carries B rows per
    * partition, not users.
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      .localCheckpoint(false) // feeds the point estimate and the replicas
    val est = broadcast(perUser.agg(count(lit(1)).as("n_users"),
      sum(col("x")).as("sx")).localCheckpoint(false))
    val reps = broadcast(spark.range(0, BootB)
      .select(col("id").cast("int").as("b")))
    val u = conv(substring(md5(concat(col("user_id").cast("string"),
      lit(":"), col("b").cast("string"), lit(":" + BootSeed))),
      1, 8), 16, 10).cast("long") / lit(4294967296.0)
    val w = PoisCdf.map(c => when(col("u") >= lit(c), 1L).otherwise(0L))
      .reduce(_ + _)
    val perRep = perUser.crossJoin(reps)
      // u materializes once per (user, replica): the 9 threshold
      // comparisons read the column, not 9 re-hashes
      .select(col("b"), col("x"), u.as("u"))
      .select(col("b"), w.as("w"), col("x"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("x")).as("swx"))
      .filter(col("sw") > 0)
      .select(units(col("swx").cast("double") / col("sw"), 1000000).as("mu6"))
    // <= B rows from here — the unpartitioned windows are deliberate
    val ranked = perRep.withColumn("r",
        row_number().over(Window.orderBy(col("mu6"))))
      .withColumn("beff", max(col("r")).over(Window.partitionBy(lit(0))))
      .withColumn("rlo", expr("(beff * 25 + 999) div 1000"))
      .withColumn("rhi", expr("(beff * 975 + 999) div 1000"))
    // Replica moments accumulate in DECIMAL(38,0): smu2 = Σ mu6² passes
    // 2^63 once mean events/user exceeds ~214 (mu6 = mean·1e6, squared,
    // summed over up to BootB replicas) — far tighter than the documented
    // per-user envelopes elsewhere. Long sums would wrap silently under
    // Spark's non-ANSI mode while the oracle's ::BIGINT cast errors, so
    // the engines would diverge exactly when the answer went wrong.
    val g = ranked.groupBy(col("beff"))
      .agg(sum(col("mu6").cast("decimal(38,0)")).as("smu"),
        sum(col("mu6").cast("decimal(38,0)") * col("mu6")).as("smu2"),
        min(when(col("r") === col("rlo"), col("mu6"))).as("lo6"),
        min(when(col("r") === col("rhi"), col("mu6"))).as("hi6"))
    val seVar = (col("smu2").cast("double") -
      col("smu").cast("double") * col("smu") / col("beff")) /
      (col("beff") - 1)
    g.crossJoin(est).select(
      col("n_users"), col("beff").as("b_eff"),
      r6(col("sx").cast("double") / col("n_users")).as("mean_events"),
      (col("lo6").cast("double") / 1000000).as("ci_lo"),
      (col("hi6").cast("double") / 1000000).as("ci_hi"),
      when(col("beff") > 1, r6(sqrt(seVar) / 1000000)).as("boot_se"))
  }
}
