package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fixed.{r4, r6}
import graft.sources.Tables

/** Multi-tenant routing — the Spark-native analogue of the reference's
  * per-user schema isolation (`create_user_schema` /
  * `ensure_user_schema_view`, /root/reference/database.py:32-66,253-281:
  * Postgres gives each user a schema + view over shared tables).
  *
  * A storage engine owns its layout instead: tenancy is a PARTITION
  * COLUMN. The interaction log is written partitioned by tenant shard,
  * so every per-tenant read is a directory-pruned scan — no catalogs, no
  * views, no per-tenant DDL. Sharding (tenant → user_id mod N) bounds
  * the directory count: a raw user_id partition key at 10^9 users is the
  * classic small-files bomb, while a shard is the listing unit and the
  * user predicate prunes within it via the sorted layout's row-group
  * min/max stats. The two-level prune (directory, then row group) is
  * what makes "one user's data" an O(user) read on a 100 TB log.
  */
object Tenancy {

  val TenantShards = 16

  def shardOf(userId: Long): Int = (userId % TenantShards).toInt

  /** The create_user_schema analogue, once for ALL tenants: write the
    * event log partitioned by tenant shard, sorted by (user_id,
    * event_id) within each shard so row-group stats prune to the user.
    */
  def writeTenantLayout(spark: SparkSession, dir: String,
      path: String): Unit =
    Tables.events(spark, dir)
      .withColumn("tenant_shard",
        pmod(col("user_id"), lit(TenantShards)).cast("int"))
      .repartition(col("tenant_shard"))
      .sortWithinPartitions(col("user_id"), col("event_id"))
      .write.mode("overwrite")
      .partitionBy("tenant_shard")
      .option("compression", "zstd")
      .parquet(path)

  /** The ensure_user_schema_view analogue: one tenant's slice of the
    * layout. The shard predicate is DERIVED from the user id, so the
    * scan lists exactly one partition directory and the user filter
    * pushes into the parquet row groups.
    */
  def tenantView(spark: SparkSession, path: String,
      userId: Long): DataFrame =
    Tables.read(spark, path)
      .filter(col("tenant_shard") === shardOf(userId) &&
        col("user_id") === userId)

  /** tenant_usage: the admin/capacity rollup of the multi-tenant log —
    * per tenant shard: tenants, events, exact total value, the busiest
    * tenant and its share of the shard (the noisy-neighbor signal that
    * drives re-sharding and quota decisions — the operational query a
    * per-schema design answers with N schema scans, and the partition
    * layout answers with one).
    *
    * Plan: one scan to a per-(shard, user) partial agg, then a
    * shard-bounded rollup + argmax window over ≤|shards| groups.
    * Parity: value sums accumulate in DECIMAL.
    */
  def tenantUsage(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(pmod(col("user_id"), lit(TenantShards)).cast("int")
        .as("tenant_shard"), col("user_id"), col("value"))
      .groupBy(col("tenant_shard"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).as("v"))
      .localCheckpoint(false) // feeds the rollup AND the argmax window
    val top = perUser.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("tenant_shard"))
          .orderBy(col("n").desc, col("user_id"))))
      .filter(col("rn") === 1)
      .select(col("tenant_shard"), col("user_id").as("top_user"),
        col("n").as("top_n"))
    perUser.groupBy(col("tenant_shard"))
      .agg(count(lit(1)).as("n_tenants"),
        sum(col("n")).as("n_events"),
        round(sum(col("v")).cast("double"), 2).as("total_value"))
      .join(top, "tenant_shard")
      .select(col("tenant_shard"), col("n_tenants"), col("n_events"),
        col("total_value"), col("top_user"),
        r4(col("top_n").cast("double") / col("n_events"))
          .as("top_user_share"))
      .orderBy(col("tenant_shard"))
  }

  /** forget_user deletion-list rule: users/customers whose id ≡ 0
    * (mod [[ForgetMod]]) — the deterministic stand-in for an erasure
    * request batch. Runtime override: `spark.graft.param.forget.mod`.
    */
  val ForgetMod = 50

  /** forget_user: the right-to-be-forgotten IMPACT MANIFEST — for an
    * erasure batch (the deletion-list rule above), how many rows each
    * table must purge, including the cascade (a customer's orders, and
    * every lineitem of those orders). The audit a deletion pipeline
    * runs BEFORE rewriting 100 TB of partitions: it prices the
    * rewrite, and its row counts are the reconciliation check after.
    *
    * Scale shape: events/customer/orders purge counts are single-pass
    * conditional aggregates (the predicate is pure id arithmetic — no
    * deletion table ships anywhere); the lineitem cascade is the one
    * real join, a semi-join of the fact against the purged orderkeys,
    * counted with a map-side predicate after. Each table contributes
    * exactly one scan.
    */
  def forgetUser(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.Params.int(spark, "forget.mod", ForgetMod)
    require(m > 0, s"forget.mod must be positive ($m)")
    def audit(name: String, df: DataFrame, purge: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("n_rows"),
        sum(when(purge, 1L).otherwise(0L)).as("n_purge"))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_purge"))
    val ev = audit("events", Tables.events(spark, dir)
      .select(col("user_id")), pmod(col("user_id"), lit(m)) === 0)
    val cu = audit("customer", Tables.customer(spark, dir)
      .select(col("c_custkey")), pmod(col("c_custkey"), lit(m)) === 0)
    val or = audit("orders", Tables.orders(spark, dir)
      .select(col("o_custkey")), pmod(col("o_custkey"), lit(m)) === 0)
    // the cascade: lineitems of purged customers' orders
    val purgedOrders = Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(m)) === 0)
      .select(col("o_orderkey"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"))
      .join(purgedOrders, col("l_orderkey") === col("o_orderkey"),
        "left_outer")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_orderkey").isNotNull, 1L).otherwise(0L))
          .as("n_purge"))
      .select(lit("lineitem").as("table_name"), col("n_rows"),
        col("n_purge"))
    ev.unionByName(cu).unionByName(or).unionByName(li)
      .select(col("table_name"), col("n_rows"), col("n_purge"),
        r4(col("n_purge").cast("double") / col("n_rows")).as("purge_pct"))
      .orderBy(col("table_name"))
  }

  /** The erasure request batch under [[forgetUser]]'s deletion-list
    * rule: every distinct user in the log with id ≡ 0 (mod m). At
    * production scale this frame arrives from a deletion-request queue;
    * here it derives from the same rule the manifest prices, so the
    * manifest and the execution reconcile by construction.
    */
  def erasureBatch(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.Params.int(spark, "forget.mod", ForgetMod)
    require(m > 0, s"forget.mod must be positive ($m)")
    Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(m)) === 0)
      .select(col("user_id")).distinct()
  }

  /** applyErasure: EXECUTE an erasure manifest against the tenant
    * layout — the write path [[forgetUser]] only prices. GDPR deletion
    * becomes an operation, not a query: rewrite exactly the shard
    * partitions that contain erased users, leave every other partition
    * file byte-identical (never read, never listed for rewrite).
    *
    * Mechanics: the deletion list's shards are derived driver-side
    * (id mod [[TenantShards]] — pure arithmetic, no scan), the read is
    * directory-pruned to those shards, erased users leave via a
    * broadcast anti-join, and the write uses DYNAMIC partition
    * overwrite so only the rewritten `tenant_shard=` directories are
    * replaced. A shard whose every row was erased writes nothing under
    * dynamic overwrite, so its stale directory is deleted explicitly.
    * The rewritten shards re-sort by (user_id, event_id) — the layout's
    * row-group-prune contract survives erasure.
    *
    * The localCheckpoint cuts the plan's lineage from `path` (Spark
    * refuses to overwrite a path it is reading) and bounds the staged
    * data to the AFFECTED shards only; a production job stages to a
    * sibling temp dir + atomic rename per partition instead.
    */
  def applyErasure(spark: SparkSession, path: String,
      userIds: Seq[Long]): Unit = {
    if (userIds.isEmpty) return
    val shards = userIds.map(shardOf).distinct.sorted
    import spark.implicits._
    val del = broadcast(userIds.toDF("del_uid"))
    val remaining = Tables.read(spark, path)
      .filter(col("tenant_shard").isin(shards: _*))
      .join(del, col("user_id") === col("del_uid"), "left_anti")
      .repartition(col("tenant_shard"))
      .sortWithinPartitions(col("user_id"), col("event_id"))
      .localCheckpoint()
    val keptShards = remaining.select(col("tenant_shard")).distinct()
      .collect().map(_.getInt(0)).toSet
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      remaining.write.mode("overwrite")
        .partitionBy("tenant_shard")
        .option("compression", "zstd")
        .parquet(path)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    shards.filterNot(keptShards).foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"tenant_shard=$s"), true)
    }
  }

  /** compactArtifacts: the ERASURE-DEBT write path for the persisted
    * IndexStore artifacts — [[applyErasure]]'s posture applied to the
    * derived surfaces. GDPR deletion that stops at the source tables
    * leaves every pair set, band/hash store, inverted list, code table,
    * graph and truth artifact still carrying the erased ids (exactly
    * what store_coverage's `n_extra` column prices as debt); this
    * drops them with LOCAL REWRITES OF TOUCHED FILES ONLY — untouched
    * files are never read past their footer stats, never listed for
    * rewrite, and stay byte-identical.
    *
    * Mechanics per artifact: `input_file_name()` locates the files
    * holding erased rows (a footer-stat-prunable scan — the deletion
    * batch is a bounded literal, the GDPR-queue contract), the
    * surviving rows of ONLY those files re-stage through a
    * localCheckpoint (cutting lineage from the path), the touched
    * files delete, and the survivors append as fresh files (under the
    * original hive partitioning where the layout has one). The
    * touched-file enumeration collects a file LIST, not rows — the
    * applyErasure kept-shard posture.
    *
    * Semantics notes: a hash-store row whose canonical was erased is
    * dropped entirely (identical text arriving later re-registers
    * under a new canonical — first-come-after-erasure); graph edges
    * erase in both directions, so symmetry survives; the dense truth
    * loses the erased ids' rows on BOTH sides — it is a rebuildable
    * cache, and a post-erasure rebuild restores exact ranks. The
    * caller erases the SOURCE tables first; then this clears the
    * derived debt and store_coverage reconciles to n_extra=0.
    */
  def compactArtifacts(spark: SparkSession, dir: String,
      ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    def hitIn(cs: String*) =
      cs.map(n => col(n).isin(ids: _*)).reduce(_ || _)
    compactFiles(spark, Dedup.pairsIndexPath(dir), hitIn("id_a", "id_b"))
    compactFiles(spark, Dedup.deltaPairsPath(dir), hitIn("id_a", "id_b"))
    compactFiles(spark, Dedup.bandStorePath(dir), hitIn("doc_id"))
    compactFiles(spark, Dedup.hashStorePath(dir), hitIn("canonical"))
    compactFiles(spark, s"${Similarity.ivfFlatIndexPath(dir)}/lists",
      hitIn("vec_id"), Seq("ccell"))
    compactFiles(spark, s"${Similarity.pqIndexPath(dir)}/codes",
      hitIn("vec_id"))
    compactFiles(spark, s"${Similarity.ivfPqIndexPath(dir)}/codes",
      hitIn("vec_id"), Seq("ccell"))
    compactFiles(spark, Similarity.bqCodesPath(dir), hitIn("vec_id"))
    compactFiles(spark, Similarity.knnGraphPath(dir), hitIn("src", "dst"))
    compactFiles(spark, Similarity.denseTruthPath(dir),
      hitIn("q_id", "neighbor_id"))
  }

  /** Rewrite only the files of `path` that contain rows matching `hit`,
    * dropping those rows; absent artifacts are skipped (not every
    * corpus has every index built).
    */
  private def compactFiles(spark: SparkSession, path: String,
      hit: org.apache.spark.sql.Column,
      partitionCols: Seq[String] = Nil): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) return
    val withF = Tables.read(spark, path)
      .withColumn("_file", input_file_name())
    val touched = withF.filter(hit).select(col("_file")).distinct()
      .collect().map(_.getString(0))
    if (touched.isEmpty) return
    // EAGER checkpoint required: the kept rows must be materialized
    // BEFORE the touched files are deleted below — a lazy plan would
    // read the deleted files at write time.
    val kept = withF.filter(col("_file").isin(touched: _*)).filter(!hit)
      .drop("_file").localCheckpoint()
    touched.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(f)), false))
    val w = kept.write.mode("append").option("compression", "zstd")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** k_anonymity quasi-identifier balance-bucket width and the k grid
    * the profile reports.
    */
  val KAnonBalBucket = 1000.0
  val KAnonKs = Seq(2, 3, 5, 10, 25)

  /** k_anonymity: the re-identification-risk PROFILE of the customer
    * table under its quasi-identifiers (Sweeney, IJUFKS 2002 — a row is
    * k-anonymous iff its QI equivalence class holds ≥ k rows; training
    * corpora exported with user attributes carry exactly this risk
    * before release). QI = (nation, market segment, account-balance
    * bucket). For each k on the standard grid: equivalence classes
    * below k, rows they expose, and the anonymous share — the table a
    * release gate reads to pick its generalization level (the
    * [[forgetUser]] posture: audit BEFORE the 100 TB rewrite).
    *
    * Scale shape: one scan → QI partial agg (classes are the grouped
    * frame, bounded by the QI domain, not the row count), then a
    * |classes| × |grid| broadcast cross of a 5-row literal grid and a
    * grid-bounded final agg. No joins against the fact table.
    */
  /** dp_release privacy budget and noise seed (deterministic: the
    * released table must be reproducible across runs and engines, so
    * the Laplace draw derives from a seeded hash — a production release
    * would draw fresh randomness; the MECHANISM and its error profile
    * are what this op exercises).
    */
  val DpEpsilon = 1.0
  val DpSeed = "gdp1"

  /** dp_release: DIFFERENTIALLY PRIVATE per-source document counts —
    * the Laplace mechanism (Dwork et al., TCC'06: count sensitivity 1,
    * noise ~ Lap(1/ε)) via the inverse CDF over a seeded uniform,
    * releasing count + noise alongside the audit columns (true count,
    * absolute error) a release gate inspects before publishing corpus
    * cards. Completes the privacy family: [[kAnonymity]] audits
    * re-identification, [[forgetUser]] prices erasure, this releases
    * aggregates safely.
    *
    * Scale shape: one source partial agg; the noise is per-GROUP map
    * arithmetic (|sources| rows). Parity: the uniform is an exact
    * binary rational ((h + ½)/2³²), the inverse CDF is one fixed-order
    * double expression (ln is sanctioned), 6dp-rounded.
    */
  def dpRelease(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(col("source"), lit(":" + DpSeed))),
      1, 8), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val c = u - lit(0.5)
    val noise = r6(
      when(c >= 0, -log(lit(1.0) - lit(2.0) * c))
        .otherwise(log(lit(1.0) + lit(2.0) * c)) / lit(DpEpsilon))
    Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"), noise.as("noise"))
      .select(col("source"), col("n_docs"), col("noise"),
        (col("n_docs") + floor(col("noise") + 0.5).cast("long"))
          .as("released"))
      .withColumn("abs_err", abs(col("released") - col("n_docs")))
      .orderBy(col("source"))
  }

  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / KAnonBalBucket).as("bal_bucket"))
      .agg(count(lit(1)).as("cnt"))
    classes
      .crossJoin(broadcast(spark.range(1)
        .select(explode(array(KAnonKs.map(lit): _*)).as("k"))))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("cnt") < col("k"), 1L).otherwise(0L))
          .as("n_classes_below"),
        sum(when(col("cnt") < col("k"), col("cnt")).otherwise(0L))
          .as("rows_at_risk"),
        sum(col("cnt")).as("n_rows"))
      .select(col("k"), col("n_classes"), col("n_classes_below"),
        col("rows_at_risk"),
        r4(lit(1.0) - col("rows_at_risk").cast("double") / col("n_rows"))
          .as("anonymous_share"))
      .orderBy(col("k"))
  }

  /** l-diversity sweep values (Machanavajjhala et al., ICDE'06). */
  val LDivLs: Seq[Int] = Seq(2, 3, 5)

  /** l_diversity: k_anonymity's COMPANION audit — k-anonymity bounds
    * re-identification, but a class whose members all share one
    * SENSITIVE value leaks it anyway (the homogeneity attack);
    * l-diversity requires ≥ l distinct sensitive values per
    * quasi-identifier class. Here the QI drops to (nation,
    * balance-bucket) and the market segment becomes the sensitive
    * payload — the sweep reports, for each l, how many classes fall
    * below and what share of rows sits in diverse classes.
    *
    * Scale shape: one (QI, sensitive) partial agg, one QI rollup, a
    * 3-row sweep cross — the kAnonymity plan with one more level.
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val perSens = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / KAnonBalBucket).as("bal_bucket"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
    val classes = perSens
      .groupBy(col("c_nationkey"), col("bal_bucket"))
      .agg(count(lit(1)).as("l"), sum(col("cnt")).as("cnt"))
    classes
      .crossJoin(broadcast(spark.range(1)
        .select(explode(array(LDivLs.map(lit): _*)).as("l_req"))))
      .groupBy(col("l_req"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("l") < col("l_req"), 1L).otherwise(0L))
          .as("n_classes_below"),
        sum(when(col("l") < col("l_req"), col("cnt")).otherwise(0L))
          .as("rows_at_risk"),
        sum(col("cnt")).as("n_rows"))
      .select(col("l_req"), col("n_classes"), col("n_classes_below"),
        col("rows_at_risk"),
        r4(lit(1.0) - col("rows_at_risk").cast("double") / col("n_rows"))
          .as("diverse_share"))
      .orderBy(col("l_req"))
  }

  /** t-closeness thresholds in TENTHS (t = t10/10): integer so the
    * violation test stays exact (see below). Li et al., ICDE'07 use
    * t ≈ 0.1-0.4.
    */
  val TCloseT10s: Seq[Int] = Seq(1, 2, 3)

  /** t_closeness: the third leg of the privacy triad (Li, Li &
    * Venkatasubramanian, ICDE'07) — [[kAnonymity]] bounds
    * re-identification, [[lDiversity]] defeats the homogeneity attack,
    * but a class whose sensitive DISTRIBUTION skews far from the
    * corpus-wide one still leaks (the skewness attack: 49 of 50 members
    * sharing one segment passes l=2 yet reveals plenty). t-closeness
    * requires every QI class's sensitive distribution to sit within
    * distance t of the global one; for a categorical sensitive
    * attribute the distance is total variation
    * d_c = ½ Σ_s |p_c(s) − p(s)|.
    *
    * EXACT arithmetic throughout: with integer counts,
    * d_c > t  ⟺  10·Σ_s |cnt_cs·N − g_s·n_c|  >  2·t10·n_c·N —
    * every operand an integer (DECIMAL(38,0) products: ≤ ~1e24 at the
    * 1e12-rows design point, the q11 headroom rule), so the sweep has
    * NO floating comparison to disagree on; the only double is the 4dp
    * compliant share. Absent (class, segment) pairs enter via the
    * class × segment grid completion (the benford_check zero-row rule
    * — a missing segment is maximal evidence, not missing data).
    *
    * Scale shape: one (QI, sensitive) partial agg; the grid is
    * |classes| × |segments| (segments broadcast, ≤ 5 rows); per-class
    * rollup then a 3-row sweep cross — lDiversity's plan with one
    * more bounded join.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val cs = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / KAnonBalBucket).as("bal_bucket"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds class totals, the global margin, the grid
    val cls = cs.groupBy(col("c_nationkey"), col("bal_bucket"))
      .agg(sum(col("cnt")).as("n_c"))
    val glob = cs.groupBy(col("c_mktsegment")).agg(sum(col("cnt")).as("g"))
    val tot = broadcast(glob.agg(sum(col("g")).as("n")))
    val term = abs(d(coalesce(col("cnt"), lit(0L))) * d(col("n")) -
      d(col("g")) * d(col("n_c")))
    val perClass = cls
      .crossJoin(broadcast(glob))
      .join(cs, Seq("c_nationkey", "bal_bucket", "c_mktsegment"), "left")
      .crossJoin(tot)
      .select(col("c_nationkey"), col("bal_bucket"), col("n_c"),
        col("n"), term.as("term"))
      .groupBy(col("c_nationkey"), col("bal_bucket"))
      .agg(max(col("n_c")).as("n_c"), max(col("n")).as("n"),
        sum(col("term")).as("dnum"))
    perClass
      .crossJoin(broadcast(spark.range(1)
        .select(explode(array(TCloseT10s.map(lit): _*)).as("t10"))))
      .withColumn("viol",
        d(col("dnum")) * 10 > d(col("n_c")) * d(col("n")) * 2 * col("t10"))
      .groupBy(col("t10"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("viol"), 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("viol"), col("n_c")).otherwise(0L))
          .as("rows_at_risk"),
        sum(col("n_c")).as("n_rows"))
      .select((col("t10").cast("double") / 10.0).as("t"),
        col("n_classes"), col("n_violating"), col("rows_at_risk"),
        r4(lit(1.0) - col("rows_at_risk").cast("double") / col("n_rows"))
          .as("compliant_share"))
      .orderBy(col("t"))
  }
}
