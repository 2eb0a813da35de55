package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.oracle.DuckSql

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(spark, "/root/testdata/sf0.001")

  type Builder = (SparkSession, String) => DataFrame

  /** One graft query: its plan builder and the DuckDB oracle
    * SQL (same parquet tables, same column names/order semantics — see
    * SURVEY.md §6) the gate hash-compares it against.
    */
  final case class Query(name: String, build: Builder, oracleSql: String)

  private implicit class Named(private val e: (String, Builder))
      extends AnyVal {
    def oracle(sql: String): Query = Query(e._1, e._2, sql)
  }

  /** One entry per implemented operator from SURVEY.md §2, each written
    * `name -> (Module.fn _) oracle sql`: perfbench/run.py reads a
    * query's operator module from that shape. Names must be unique —
    * the map views below would silently keep only the last duplicate.
    */
  val registry: Seq[Query] = Seq(
    "q1_pricing" -> (Analytics.q1Pricing _) oracle
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_disc_price,
        |  floor(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_qty,
        |  floor(CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_revenue" -> (Analytics.q3Revenue _) oracle
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region" -> (Analytics.q5Region _) oracle
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "top_customers" -> (Analytics.topCustomers _) oracle
      """SELECT c_mktsegment, rank::INT AS rank, c_custkey, round(bal, 2) AS c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal AS bal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rank
        |  FROM customer) WHERE rank <= 3
        |ORDER BY c_mktsegment, rank""".stripMargin,
    "q14_promo" -> (Analytics.q14Promo _) oracle
      """WITH u AS (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(floor(l_extendedprice*(1-l_discount) * 10000 + 0.5) AS BIGINT) AS ru,
        |  CASE WHEN p_type = 'ECONOMY'
        |       THEN CAST(floor(l_extendedprice*(1-l_discount) * 10000 + 0.5) AS BIGINT)
        |       ELSE 0 END AS pu
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |s AS (SELECT ship_month, sum(pu) AS pu, sum(ru) AS tu
        |      FROM u GROUP BY ship_month)
        |SELECT ship_month,
        |  floor(pu::DOUBLE / 100 + 0.5) / 100 AS promo_revenue,
        |  floor(tu::DOUBLE / 100 + 0.5) / 100 AS total_revenue,
        |  floor(pu::DOUBLE / tu::DOUBLE * 100 * 10000 + 0.5) / 10000 AS promo_pct
        |FROM s ORDER BY ship_month""".stripMargin,
    "q18_large_orders" -> (Analytics.q18LargeOrders _) oracle
      s"""WITH big AS (SELECT l_orderkey,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2)
        |         >= ${graft.operators.Analytics.Q18MinQty})
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  round(o_totalprice, 2) AS o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT ${graft.operators.Analytics.Q18TopN}""".stripMargin,
    "q4_priority" -> (Analytics.q4Priority _) oracle
      s"""SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '${graft.operators.Analytics.Q4Start}'
        |  AND o_orderdate < DATE '${graft.operators.Analytics.Q4End}'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q22_idle_rich" -> (Analytics.q22IdleRich _) oracle
      s"""WITH thr AS (SELECT sum(CAST(c_acctbal AS DECIMAL(28,6)))::DOUBLE
        |               / count(*) AS thr
        |             FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*)::BIGINT AS numcust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 2)
        |    AS totacctbal
        |FROM customer, thr
        |WHERE c_acctbal > thr
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= DATE '${graft.operators.Analytics.Q22Cutoff}')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q7_volume" -> (Analytics.q7Volume _) oracle
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate)::INT AS l_year,
        |  round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = '${graft.operators.Analytics.Q7NationA}'
        |        AND n2.n_name = '${graft.operators.Analytics.Q7NationB}')
        |    OR (n1.n_name = '${graft.operators.Analytics.Q7NationB}'
        |        AND n2.n_name = '${graft.operators.Analytics.Q7NationA}'))
        |  AND l_shipdate >= DATE '${graft.operators.Analytics.Q7Start}'
        |  AND l_shipdate <= DATE '${graft.operators.Analytics.Q7End}'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_share" -> (Analytics.q8Share _) oracle
      s"""WITH u AS (
        |  SELECT year(o_orderdate)::INT AS o_year,
        |    CAST(floor(l_extendedprice*(1-l_discount) * 10000 + 0.5) AS BIGINT) AS vu,
        |    CASE WHEN sn.n_name = '${graft.operators.Analytics.Q8Nation}'
        |         THEN CAST(floor(l_extendedprice*(1-l_discount) * 10000 + 0.5) AS BIGINT)
        |         ELSE 0 END AS nu
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |    AND p_type = '${graft.operators.Analytics.Q8Type}'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |    AND r_name = '${graft.operators.Analytics.Q8Region}'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey),
        |s AS (SELECT o_year, sum(nu) AS nus, sum(vu) AS vus
        |      FROM u GROUP BY o_year)
        |SELECT o_year,
        |  floor(nus::DOUBLE / 100 + 0.5) / 100 AS nation_revenue,
        |  floor(vus::DOUBLE / 100 + 0.5) / 100 AS total_revenue,
        |  floor(nus::DOUBLE / vus::DOUBLE * 10000 + 0.5) / 10000 AS mkt_share
        |FROM s ORDER BY o_year""".stripMargin,
    "q17_small_qty" -> (Analytics.q17SmallQty _) oracle
      s"""WITH lp AS (SELECT l_partkey, l_quantity::BIGINT AS q, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = '${graft.operators.Analytics.Q17Brand}'),
        |st AS (SELECT l_partkey, sum(q) AS sq, count(*) AS cnt
        |       FROM lp GROUP BY l_partkey)
        |SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
        |             / 7 * 100 + 0.5) / 100 AS avg_yearly
        |FROM lp JOIN st USING (l_partkey)
        |WHERE 5 * q * cnt < sq""".stripMargin,
    "q21_blame" -> (Analytics.q21Blame _) oracle
      s"""SELECT s_name, count(*)::BIGINT AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name
        |LIMIT ${graft.operators.Analytics.Q21TopN}""".stripMargin,
    "q19_disjunct" -> (Analytics.q19Disjunct _) oracle
      s"""SELECT
        |  round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue,
        |  count(*)::BIGINT AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE ${graft.operators.Analytics.Q19Bands.map {
          case (b, szLo, szHi, qLo, qHi) =>
            s"(p_brand = '$b' AND p_size BETWEEN $szLo AND $szHi" +
              s" AND l_quantity BETWEEN $qLo AND $qHi)"
        }.mkString("\n   OR ")}""".stripMargin,
    "q16_supplier_cnt" -> (Analytics.q16SupplierCnt _) oracle
      """WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |ex AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |SELECT p_brand, (p_size // 10)::INT AS size_bucket,
        |  count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM sp JOIN part ON l_partkey = p_partkey
        |WHERE NOT EXISTS (SELECT 1 FROM ex WHERE s_suppkey = l_suppkey)
        |GROUP BY p_brand, p_size // 10
        |ORDER BY supplier_cnt DESC, p_brand, size_bucket""".stripMargin,
    "q6_forecast" -> (Analytics.q6Forecast _) oracle
      s"""SELECT floor(sum(CAST(floor(l_extendedprice*l_discount * 10000 + 0.5)
        |                    AS BIGINT))::DOUBLE / 100 + 0.5) / 100 AS revenue,
        |  count(*)::BIGINT AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= DATE '${graft.operators.Analytics.Q6Start}'
        |  AND l_shipdate < DATE '${graft.operators.Analytics.Q6End}'
        |  AND l_discount BETWEEN ${graft.operators.Analytics.Q6DiscLo}
        |                     AND ${graft.operators.Analytics.Q6DiscHi}
        |  AND l_quantity < ${graft.operators.Analytics.Q6MaxQty}""".stripMargin,
    "q10_returns" -> (Analytics.q10Returns _) oracle
      s"""SELECT c_custkey, c_name,
        |  floor(c_acctbal*100 + 0.5)/100 AS c_acctbal, n_name,
        |  floor(sum(CAST(floor(l_extendedprice*(1-l_discount) * 10000 + 0.5)
        |            AS BIGINT))::DOUBLE / 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= DATE '${graft.operators.Analytics.Q10Start}'
        |  AND o_orderdate < DATE '${graft.operators.Analytics.Q10End}'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT ${graft.operators.Analytics.Q10TopN}""".stripMargin,
    "q13_custdist" -> (Analytics.q13Custdist _) oracle
      s"""SELECT c_count, count(*)::BIGINT AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        |  FROM customer LEFT OUTER JOIN (
        |    SELECT o_orderkey, o_custkey FROM orders
        |    WHERE o_orderpriority <> '${graft.operators.Analytics.Q13ExcludedPriority}')
        |    ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" -> (Analytics.q15TopSupplier _) oracle
      s"""WITH rev AS (
        |  SELECT l_suppkey,
        |    floor(sum(CAST(floor(l_extendedprice*(1-l_discount) * 10000 + 0.5)
        |              AS BIGINT))::DOUBLE / 100 + 0.5) / 100 AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '${graft.operators.Analytics.Q15Start}'
        |    AND l_shipdate < DATE '${graft.operators.Analytics.Q15End}'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q9_profit" -> (Analytics.q9Profit _) oracle
      s"""SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
        |  floor(sum(CAST(floor(l_extendedprice*(1-l_discount) * 10000 + 0.5)
        |              AS BIGINT)
        |          - CAST(floor(p_retailprice*${graft.operators.Analytics.Q9CostFrac} * 10000 + 0.5)
        |              AS BIGINT)
        |            * CAST(floor(l_quantity + 0.5) AS BIGINT)
        |        )::DOUBLE / 100 + 0.5) / 100 AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%${graft.operators.Analytics.Q9PartToken}%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q12_shipmode" -> (Analytics.q12Shipmode _) oracle
      s"""SELECT l_linestatus AS ship_mode,
        |  sum(CASE WHEN o_orderpriority IN
        |    (${graft.operators.Analytics.Q12HighPriorities.map("'" + _ + "'").mkString(", ")})
        |    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN
        |    (${graft.operators.Analytics.Q12HighPriorities.map("'" + _ + "'").mkString(", ")})
        |    THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= DATE '${graft.operators.Analytics.Q12Start}'
        |  AND l_shipdate < DATE '${graft.operators.Analytics.Q12End}'
        |GROUP BY 1 ORDER BY ship_mode""".stripMargin,
    "lang_confusion" -> (TextAnalysis.langConfusion _) oracle
      DuckSql.langConfusion,
    "copurchase" -> (Analytics.copurchase _) oracle
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |c AS (SELECT l_orderkey, l_partkey FROM (
        |        SELECT l_orderkey, l_partkey,
        |          row_number() OVER (PARTITION BY l_orderkey
        |                             ORDER BY l_partkey) AS rn
        |        FROM li) WHERE rn <= ${graft.operators.Analytics.BasketCap}),
        |t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM c),
        |n AS (SELECT l_partkey, count(*)::BIGINT AS cnt FROM c GROUP BY 1),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |        count(*)::BIGINT AS support
        |      FROM c a JOIN c b ON a.l_orderkey = b.l_orderkey
        |                       AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2)
        |SELECT part_a, part_b, support, na.cnt AS n_a, nb.cnt AS n_b,
        |  floor((support * t.n_orders)::DOUBLE / (na.cnt * nb.cnt)
        |        * 10000 + 0.5) / 10000 AS lift
        |FROM p JOIN n na ON na.l_partkey = part_a
        |       JOIN n nb ON nb.l_partkey = part_b, t
        |ORDER BY support DESC, part_a, part_b
        |LIMIT ${graft.operators.Analytics.CopurchaseTopK}""".stripMargin,
    "revenue_trend" -> (Analytics.revenueTrend _) oracle
      """WITH d AS (SELECT (floor(epoch(l_shipdate))::BIGINT // 86400) AS day,
        |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS drev
        |  FROM lineitem GROUP BY 1)
        |SELECT day, floor(drev::DOUBLE * 100 + 0.5) / 100 AS revenue,
        |  floor((sum(drev) OVER w)::DOUBLE / (count(*) OVER w) * 100 + 0.5)
        |    / 100 AS ma7
        |FROM d
        |WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "revenue_rollup" -> (Analytics.revenueRollup _) oracle
      s"""SELECT r_name, n_name,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2)
        |    AS revenue,
        |  count(*)::BIGINT AS n_orders,
        |  grouping_id(r_name, n_name)::INT AS lvl
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= DATE '${graft.operators.Analytics.RollupYear}-01-01'
        |  AND o_orderdate < DATE '${graft.operators.Analytics.RollupYear + 1}-01-01'
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "rfm_segments" -> (Analytics.rfmSegments _) oracle DuckSql.rfmSegments,
    "kb_ingest" -> (Similarity.kbIngest _) oracle
      """SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
        |  len(e.embedding)::INT AS dim,
        |  round(sqrt(list_sum(list_transform(range(1,65),
        |    i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))), 4) AS norm
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin,
    "embedding_norms" -> (Similarity.embeddingNorms _) oracle
      DuckSql.embeddingNorms,
    "dim_variance" -> (Similarity.dimVariance _) oracle DuckSql.dimVariance,
    "pca_power" -> (Similarity.pcaPower _) oracle DuckSql.pcaPower,
    "pca_project" -> (Similarity.pcaProject _) oracle DuckSql.pcaProject,
    "bq_topk" -> (Similarity.bqTopk _) oracle DuckSql.bqTopk,
    "bq_recall" -> (Similarity.bqRecall _) oracle DuckSql.bqRecall,
    "matryoshka_recall" -> (Similarity.matryoshkaRecall _) oracle
      DuckSql.matryoshkaRecall,
    "mrl_rerank" -> (Similarity.mrlRerank _) oracle DuckSql.mrlRerank,
    "bq_rerank" -> (Similarity.bqRerank _) oracle DuckSql.bqRerank,
    "bq_bit_balance" -> (Similarity.bqBitBalance _) oracle DuckSql.bqBitBalance,
    "bq_rethreshold" -> (Similarity.bqRethreshold _) oracle
      DuckSql.bqRethreshold,
    "bq_rethreshold_recall" -> (Similarity.bqRethresholdRecall _) oracle
      DuckSql.bqRethresholdRecall,
    "ann_graph" -> (Similarity.annGraph _) oracle DuckSql.annGraph,
    "graph_recall" -> (Similarity.graphRecall _) oracle DuckSql.graphRecall,
    "beam_curve" -> (Similarity.beamCurve _) oracle DuckSql.beamCurve,
    "graph_degree" -> (Similarity.graphDegree _) oracle DuckSql.graphDegree,
    "rounds_pick" -> (Similarity.roundsPick _) oracle DuckSql.roundsPick,
    "append_recall" -> (Similarity.appendRecall _) oracle DuckSql.appendRecall,
    "append_churn" -> (Similarity.appendChurn _) oracle DuckSql.appendChurn,
    "embedding_drift" -> (Similarity.embeddingDrift _) oracle
      DuckSql.embeddingDrift,
    "kb_consistency" -> (Similarity.kbConsistency _) oracle
      DuckSql.kbConsistency,
    "sim_topk" -> (Similarity.simTopk _) oracle
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS sim
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin,
    "knn_join" -> (Similarity.knnJoin _) oracle
      """SELECT q_id, neighbor_id, round(s, 6) AS sim, rank::INT AS rank FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
        |               e.vec_id) AS rank
        |  FROM embeddings e, embeddings q
        |  WHERE q.vec_id % 50 = 0 AND e.vec_id <> q.vec_id)
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "neardup_embedding" -> (Similarity.nearDupEmbedding _) oracle
      """SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.40
        |ORDER BY id_a, id_b""".stripMargin,
    "ann_ivf" -> (Similarity.annIvf _) oracle
      """WITH comp AS (
        |  SELECT label, i,
        |    CAST(floor(CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)) AS DOUBLE)
        |               / (count(*) * 10) + 0.5) / 1000000 AS FLOAT) AS cv
        |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label, list(cv ORDER BY i) AS centroid FROM comp GROUP BY label),
        |probes AS (
        |  SELECT * FROM (
        |    SELECT q.vec_id AS q_id, c.label AS clabel,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
        |                 c.label) AS pr
        |    FROM embeddings q, cent c WHERE q.vec_id % 100 = 0)
        |  WHERE pr <= 2),
        |cand AS (
        |  SELECT p.q_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s
        |  FROM probes p
        |  JOIN embeddings e ON e.label = p.clabel
        |  JOIN embeddings q ON q.vec_id = p.q_id
        |  WHERE e.vec_id <> p.q_id)
        |SELECT q_id, neighbor_id, round(s, 6) AS sim, rank::INT AS rank FROM (
        |  SELECT q_id, neighbor_id, s,
        |    row_number() OVER (PARTITION BY q_id ORDER BY s DESC, neighbor_id) AS rank
        |  FROM cand) WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,
    "lsh_ann" -> (Similarity.lshAnn _) oracle DuckSql.lshAnn,
    "clean_text" -> (TextOps.cleanTextQ _) oracle DuckSql.cleanText,
    "template_classify" -> (TextOps.templateClassify _) oracle
      DuckSql.templateClassify,
    "topic_detect" -> (TextOps.topicDetect _) oracle DuckSql.topicDetect,
    "safety_screen" -> (TextOps.safetyScreen _) oracle DuckSql.safetyScreen,
    "effectiveness" -> (TextOps.effectiveness _) oracle DuckSql.effectiveness,
    "template_effect" -> (TextOps.templateEffect _) oracle
      DuckSql.templateEffect,
    "training_examples" -> (TextOps.trainingExamples _) oracle
      DuckSql.trainingExamples,
    "lemma_tokens" -> (TextOps.lemmaTokens _) oracle DuckSql.lemmaTokens,
    "category_info" -> (TextOps.categoryInfo _) oracle DuckSql.categoryInfo,
    "response_clean" -> (TextOps.responseClean _) oracle DuckSql.responseClean,
    "conversation_history" -> (Interactions.conversationHistory _) oracle
      DuckSql.conversationHistory,
    "conversation_context" -> (Interactions.conversationContext _) oracle
      DuckSql.conversationContext,
    "interaction_history" -> (Interactions.interactionHistory _) oracle
      DuckSql.interactionHistory,
    "topic_interactions" -> (Interactions.topicInteractions _) oracle
      DuckSql.topicInteractions,
    "high_quality" -> (Interactions.highQuality _) oracle DuckSql.highQuality,
    "high_quality_topic" -> (Interactions.highQualityTopic _) oracle
      DuckSql.highQualityTopic,
    "effectiveness_trend" -> (Interactions.effectivenessTrend _) oracle
      DuckSql.effectivenessTrend,
    "lang_id" -> (TextAnalysis.langId _) oracle DuckSql.langId,
    "quality_score" -> (TextAnalysis.qualityScore _) oracle
      DuckSql.qualityScore,
    "token_count" -> (TextAnalysis.tokenCount _) oracle DuckSql.tokenCount,
    "doc_fingerprint" -> (TextAnalysis.docFingerprint _) oracle
      DuckSql.docFingerprint,
    "winnow_overlap" -> (TextAnalysis.winnowOverlap _) oracle
      DuckSql.winnowOverlap,
    "pii_scrub" -> (TextAnalysis.piiScrub _) oracle DuckSql.piiScrub,
    "repetition_score" -> (TextAnalysis.repetitionScore _) oracle
      DuckSql.repetitionScore,
    "char_entropy" -> (TextAnalysis.charEntropy _) oracle DuckSql.charEntropy,
    "toxicity_screen" -> (TextAnalysis.toxicityScreen _) oracle
      DuckSql.toxicityScreen,
    "dedup_exact" -> (Dedup.dedupExact _) oracle DuckSql.dedupExact,
    "dedup_minhash" -> (Dedup.dedupMinhash _) oracle DuckSql.dedupMinhash,
    "jaccard_hist" -> (Dedup.jaccardHist _) oracle DuckSql.jaccardHist,
    "cluster_size_hist" -> (Dedup.clusterSizeHist _) oracle
      DuckSql.clusterSizeHist,
    "dedup_simhash" -> (Dedup.dedupSimhash _) oracle DuckSql.dedupSimhash,
    "dedup_ngram" -> (Dedup.dedupNgram _) oracle DuckSql.dedupNgram,
    "dedup_clusters" -> (Dedup.dedupClusters _) oracle DuckSql.dedupClusters,
    "dedup_keep_best" -> (Dedup.dedupKeepBest _) oracle DuckSql.dedupKeepBest,
    "lsh_curve" -> (Dedup.lshCurve _) oracle DuckSql.lshCurve,
    "dup_tokens" -> (Dedup.dupTokens _) oracle DuckSql.dupTokens,
    "dedup_substring" -> (Dedup.dedupSubstring _) oracle DuckSql.dedupSubstring,
    "span_hotspots" -> (Dedup.spanHotspots _) oracle DuckSql.spanHotspots,
    "semdedup" -> (Similarity.semDedup _) oracle DuckSql.semDedup,
    "cluster_stats" -> (Dedup.clusterStats _) oracle DuckSql.clusterStats,
    "source_overlap" -> (Dedup.sourceOverlap _) oracle DuckSql.sourceOverlap,
    "sessionize" -> (Sessions.sessionize _) oracle DuckSql.sessionize,
    "window_agg" -> (Sessions.windowAgg _) oracle DuckSql.windowAgg,
    "asof_join" -> (Sessions.asofJoin _) oracle DuckSql.asofJoin,
    "scd2_build" -> (Sessions.scd2Build _) oracle DuckSql.scd2Build,
    "scd2_lookup" -> (Sessions.scd2Lookup _) oracle DuckSql.scd2Lookup,
    "interval_join" -> (Sessions.intervalJoin _) oracle DuckSql.intervalJoin,
    "funnel" -> (Sessions.funnel _) oracle DuckSql.funnel,
    "cohort_retention" -> (Sessions.cohortRetention _) oracle
      DuckSql.cohortRetention,
    "cohort_ltv" -> (Sessions.cohortLtv _) oracle DuckSql.cohortLtv,
    "active_users" -> (Sessions.activeUsers _) oracle DuckSql.activeUsers,
    "session_stats" -> (Sessions.sessionStats _) oracle DuckSql.sessionStats,
    "session_entropy" -> (Sessions.sessionEntropy _) oracle
      DuckSql.sessionEntropy,
    "conversion_latency" -> (Sessions.conversionLatency _) oracle
      DuckSql.conversionLatency,
    "session_gaps" -> (Sessions.sessionGaps _) oracle DuckSql.sessionGaps,
    "temporal_decay" -> (Sessions.temporalDecay _) oracle DuckSql.temporalDecay,
    "user_overlap" -> (Sessions.userOverlap _) oracle DuckSql.userOverlap,
    "weekly_profile" -> (Sessions.weeklyProfile _) oracle DuckSql.weeklyProfile,
    "seasonal_strength" -> (Sessions.seasonalStrength _) oracle
      DuckSql.seasonalStrength,
    "dow_anomalies" -> (Sessions.dowAnomalies _) oracle DuckSql.dowAnomalies,
    "cusum_shift" -> (Sessions.cusumShift _) oracle DuckSql.cusumShift,
    "conversion_lift" -> (Sessions.conversionLift _) oracle
      DuckSql.conversionLift,
    "km_retention" -> (Sessions.kmRetention _) oracle DuckSql.kmRetention,
    "nelson_aalen" -> (Sessions.nelsonAalen _) oracle DuckSql.nelsonAalen,
    "logrank_test" -> (Sessions.logrankTest _) oracle DuckSql.logrankTest,
    "cuped_lift" -> (Sessions.cupedLift _) oracle DuckSql.cupedLift,
    "ks_drift" -> (Sessions.ksDrift _) oracle DuckSql.ksDrift,
    "drift_gate" -> (Sessions.driftGate _) oracle DuckSql.driftGate,
    "fdr_bh" -> (Sessions.fdrBh _) oracle DuckSql.fdrBh,
    "mann_whitney" -> (Sessions.mannWhitney _) oracle DuckSql.mannWhitney,
    "bootstrap_ci" -> (Sessions.bootstrapCi _) oracle DuckSql.bootstrapCi,
    "attribution" -> (Sessions.attribution _) oracle DuckSql.attribution,
    "bradley_terry" -> (Sessions.bradleyTerry _) oracle DuckSql.bradleyTerry,
    "markov_stationary" -> (Sessions.markovStationary _) oracle
      DuckSql.markovStationary,
    "srm_check" -> (Sessions.srmCheck _) oracle DuckSql.srmCheck,
    "ab_power" -> (Sessions.abPower _) oracle DuckSql.abPower,
    "ewma_chart" -> (Sessions.ewmaChart _) oracle DuckSql.ewmaChart,
    "forecast_baseline" -> (Sessions.forecastBaseline _) oracle
      DuckSql.forecastBaseline,
    "ses_backtest" -> (Sessions.sesBacktest _) oracle DuckSql.sesBacktest,
    "markov_order" -> (Sessions.markovOrder _) oracle DuckSql.markovOrder,
    "overdispersion" -> (Sessions.overdispersion _) oracle
      DuckSql.overdispersion,
    "session_length_hist" -> (Sessions.sessionLengthHist _) oracle
      DuckSql.sessionLengthHist,
    "langid_f1" -> (TextAnalysis.langidF1 _) oracle DuckSql.langidF1,
    "media_dedup" -> (Multimodal.mediaDedup _) oracle DuckSql.mediaDedup,
    "frame_dedup" -> (Multimodal.frameDedup _) oracle DuckSql.frameDedup,
    "cdc_dedup" -> (Multimodal.cdcDedup _) oracle DuckSql.cdcDedup,
    "phash_dedup" -> (Multimodal.phashDedup _) oracle DuckSql.phashDedup,
    "media_shard" -> (Multimodal.mediaShard _) oracle DuckSql.mediaShard,
    "banding_curve" -> (Dedup.bandingCurve _) oracle DuckSql.bandingCurve,
    "banding_pick" -> (Dedup.bandingPick _) oracle DuckSql.bandingPick,
    "band_store_stats" -> (Dedup.bandStoreStats _) oracle
      DuckSql.bandStoreStats,
    "dedup_delta" -> (Dedup.dedupDelta _) oracle DuckSql.dedupDelta,
    "arrival_report" -> (Curation.arrivalReport _) oracle DuckSql.arrivalReport,
    "store_coverage" -> (Curation.storeCoverage _) oracle DuckSql.storeCoverage,
    "arrival_funnel" -> (Curation.arrivalFunnel _) oracle DuckSql.arrivalFunnel,
    "event_transitions" -> (Sessions.eventTransitions _) oracle
      DuckSql.eventTransitions,
    "event_paths" -> (Sessions.eventPaths _) oracle DuckSql.eventPaths,
    "key_skew" -> (Analytics.keySkew _) oracle DuckSql.keySkew,
    "event_anomalies" -> (Sessions.eventAnomalies _) oracle
      DuckSql.eventAnomalies,
    "approx_distinct" -> (Sessions.approxDistinct _) oracle
      DuckSql.approxDistinct,
    "heavy_hitters" -> (Sessions.heavyHitters _) oracle DuckSql.heavyHitters,
    "tenant_usage" -> (Tenancy.tenantUsage _) oracle DuckSql.tenantUsage,
    "event_pivot" -> (Sessions.eventPivot _) oracle DuckSql.eventPivot,
    "multimodal_meta" -> (Multimodal.multimodalMeta _) oracle
      DuckSql.multimodalMeta,
    "embed_text" -> (Embedder.embedTextComponents _) oracle DuckSql.embedText,
    "ann_ivf_kmeans" -> (Similarity.annIvfKmeans _) oracle DuckSql.annIvfKmeans,
    "ann_recall" -> (Similarity.annRecall _) oracle DuckSql.annRecall,
    "nprobe_curve" -> (Similarity.nprobeCurve _) oracle DuckSql.nprobeCurve,
    "semdedup_recall" -> (Similarity.semdedupRecall _) oracle
      DuckSql.semdedupRecall,
    "hubness" -> (Similarity.hubness _) oracle DuckSql.hubness,
    "ivf_cell_stats" -> (Similarity.ivfCellStats _) oracle DuckSql.ivfCellStats,
    "ivf_rebalance" -> (Similarity.ivfRebalance _) oracle DuckSql.ivfRebalance,
    "rebalance_recall" -> (Similarity.rebalanceRecall _) oracle
      DuckSql.rebalanceRecall,
    "probe_cost_quantiles" -> (Similarity.probeCostQuantiles _) oracle
      DuckSql.probeCostQuantiles,
    "ann_miss_audit" -> (Similarity.annMissAudit _) oracle DuckSql.annMissAudit,
    "cell_outliers" -> (Similarity.cellOutliers _) oracle DuckSql.cellOutliers,
    "nprobe_pick" -> (Similarity.nprobePick _) oracle DuckSql.nprobePick,
    "rebalance_churn" -> (Similarity.rebalanceChurn _) oracle
      DuckSql.rebalanceChurn,
    "quality_by_length" -> (CorpusStats.qualityByLength _) oracle
      DuckSql.qualityByLength,
    "decontam_sweep" -> (Curation.decontamSweep _) oracle DuckSql.decontamSweep,
    "mix_sensitivity" -> (CorpusStats.mixSensitivity _) oracle
      DuckSql.mixSensitivity,
    "index_recall" -> (Similarity.indexRecall _) oracle DuckSql.indexRecall,
    "ann_pq" -> (Similarity.annPq _) oracle DuckSql.annPq,
    "pq_distortion" -> (Similarity.pqDistortion _) oracle DuckSql.pqDistortion,
    "sq_distortion" -> (Similarity.sqDistortion _) oracle DuckSql.sqDistortion,
    "sq_recall" -> (Similarity.sqRecall _) oracle DuckSql.sqRecall,
    "ann_sq" -> (Similarity.annSq _) oracle DuckSql.annSq,
    "pq_refresh" -> (Similarity.pqRefresh _) oracle DuckSql.pqRefresh,
    "pq_refresh_recall" -> (Similarity.pqRefreshRecall _) oracle
      DuckSql.pqRefreshRecall,
    "sq_refit" -> (Similarity.sqRefit _) oracle DuckSql.sqRefit,
    "sq_refit_distortion" -> (Similarity.sqRefitDistortion _) oracle
      DuckSql.sqRefitDistortion,
    "sq_refit_recall" -> (Similarity.sqRefitRecall _) oracle
      DuckSql.sqRefitRecall,
    "ann_ivfpq" -> (Similarity.annIvfPq _) oracle DuckSql.annIvfPq,
    "media_frames" -> (Multimodal.mediaFrames _) oracle DuckSql.mediaFrames,
    "decontaminate" -> (Curation.decontaminate _) oracle DuckSql.decontaminate,
    "contamination_report" -> (Curation.contaminationReport _) oracle
      DuckSql.contaminationReport,
    "bloom_decontaminate" -> (Curation.bloomDecontaminate _) oracle
      DuckSql.bloomDecontaminate,
    "stratified_sample" -> (Curation.stratifiedSample _) oracle
      DuckSql.stratifiedSample,
    "pack_sequences" -> (Curation.packSequences _) oracle DuckSql.packSequences,
    "pack_stats" -> (Curation.packStats _) oracle DuckSql.packStats,
    "shuffle_assign" -> (Curation.shuffleAssign _) oracle DuckSql.shuffleAssign,
    "export_manifest" -> (Curation.exportManifest _) oracle
      DuckSql.exportManifest,
    "quality_filter" -> (Curation.qualityFilter _) oracle DuckSql.qualityFilter,
    "curate_corpus" -> (Curation.curateCorpus _) oracle DuckSql.curateCorpus,
    "curation_funnel" -> (Curation.curationFunnel _) oracle
      DuckSql.curationFunnel,
    "classifier_examples" -> (Curation.classifierExamples _) oracle
      DuckSql.classifierExamples,
    "classifier_train" -> (Curation.classifierTrain _) oracle
      DuckSql.classifierTrain,
    "classifier_apply" -> (Curation.classifierApply _) oracle
      DuckSql.classifierApply,
    "data_split" -> (Curation.dataSplit _) oracle DuckSql.dataSplit,
    "sft_export" -> (Curation.sftExport _) oracle DuckSql.sftExport,
    "split_leakage" -> (Curation.splitLeakage _) oracle DuckSql.splitLeakage,
    "cell_purity" -> (Similarity.cellPurity _) oracle DuckSql.cellPurity,
    "gate_eval" -> (Curation.gateEval _) oracle DuckSql.gateEval,
    "bm25_topk" -> (Retrieval.bm25Topk _) oracle DuckSql.bm25Topk,
    "ql_topk" -> (Retrieval.qlTopk _) oracle DuckSql.qlTopk,
    "tfidf_vectors" -> (Retrieval.tfidfVectors _) oracle DuckSql.tfidfVectors,
    "hybrid_retrieve" -> (Retrieval.hybridRetrieve _) oracle
      DuckSql.hybridRetrieve,
    "ndcg_eval" -> (Retrieval.ndcgEval _) oracle DuckSql.ndcgEval,
    "late_interaction" -> (Retrieval.lateInteraction _) oracle
      DuckSql.lateInteraction,
    "late_interaction_ann" -> (Retrieval.lateInteractionAnn _) oracle
      DuckSql.lateInteractionAnn,
    "li_pool_recall" -> (Retrieval.liPoolRecall _) oracle DuckSql.liPoolRecall,
    "arm_overlap" -> (Retrieval.armOverlap _) oracle DuckSql.armOverlap,
    "sparse_knn" -> ((s: SparkSession, d: String) =>
      Retrieval.sparseKnn(s, d)) oracle DuckSql.sparseKnn,
    "impact_recall" -> (Retrieval.impactRecall _) oracle DuckSql.impactRecall,
    "prf_expand" -> (Retrieval.prfExpand _) oracle DuckSql.prfExpand,
    "ir_metrics" -> (Retrieval.irMetrics _) oracle DuckSql.irMetrics,
    "rank_corr" -> (Retrieval.rankCorr _) oracle DuckSql.rankCorr,
    "fusion_sweep" -> (Retrieval.fusionSweep _) oracle DuckSql.fusionSweep,
    "silhouette" -> (Similarity.silhouette _) oracle DuckSql.silhouette,
    "bitext_mine" -> (Similarity.bitextMine _) oracle DuckSql.bitextMine,
    "clf_calibration" -> (Curation.clfCalibration _) oracle
      DuckSql.clfCalibration,
    "brier_score" -> (Curation.brierScore _) oracle DuckSql.brierScore,
    "pr_curve" -> (Curation.prCurve _) oracle DuckSql.prCurve,
    "threshold_pick" -> (Curation.thresholdPick _) oracle DuckSql.thresholdPick,
    "clf_ks" -> (Curation.clfKs _) oracle DuckSql.clfKs,
    "k_anonymity" -> (Tenancy.kAnonymity _) oracle DuckSql.kAnonymity,
    "l_diversity" -> (Tenancy.lDiversity _) oracle DuckSql.lDiversity,
    "t_closeness" -> (Tenancy.tCloseness _) oracle DuckSql.tCloseness,
    "label_prop" -> (Graph.labelProp _) oracle DuckSql.labelProp,
    "centered_shift" -> (Similarity.centeredShift _) oracle
      DuckSql.centeredShift,
    "gate_overlap" -> (Curation.gateOverlap _) oracle DuckSql.gateOverlap,
    "dp_release" -> (Tenancy.dpRelease _) oracle DuckSql.dpRelease,
    "mix_temperature" -> (CorpusStats.mixTemperature _) oracle
      DuckSql.mixTemperature,
    "epoch_plan" -> (CorpusStats.epochPlan _) oracle DuckSql.epochPlan,
    "quality_psi" -> (CorpusStats.qualityPsi _) oracle DuckSql.qualityPsi,
    "label_queue" -> (Curation.labelQueue _) oracle DuckSql.labelQueue,
    "robust_stats" -> (Sessions.robustStats _) oracle DuckSql.robustStats,
    "forget_user" -> (Tenancy.forgetUser _) oracle DuckSql.forgetUser,
    "chunk_docs" -> (Retrieval.chunkDocs _) oracle DuckSql.chunkDocs,
    "ngram_stats" -> (CorpusStats.ngramStats _) oracle DuckSql.ngramStats,
    "cooccur_pmi" -> (CorpusStats.cooccurPmi _) oracle DuckSql.cooccurPmi,
    "domain_mix" -> (CorpusStats.domainMix _) oracle DuckSql.domainMix,
    "apply_mix" -> (CorpusStats.applyMix _) oracle DuckSql.applyMix,
    "quality_thresholds" -> (CorpusStats.qualityThresholds _) oracle
      DuckSql.qualityThresholds,
    "hist_quantiles" -> (CorpusStats.histQuantiles _) oracle
      DuckSql.histQuantiles,
    "zipf_fit" -> (CorpusStats.zipfFit _) oracle DuckSql.zipfFit,
    "token_entropy" -> (CorpusStats.tokenEntropy _) oracle DuckSql.tokenEntropy,
    "vocab_growth" -> (CorpusStats.vocabGrowth _) oracle DuckSql.vocabGrowth,
    "heaps_law" -> (CorpusStats.heapsLaw _) oracle DuckSql.heapsLaw,
    "length_hist" -> (CorpusStats.lengthHist _) oracle DuckSql.lengthHist,
    "q11_important_stock" -> (Analytics.q11ImportantStock _) oracle
      s"""WITH ns AS (SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = '${graft.operators.Analytics.Q11Nation}'),
        |g AS (SELECT l_partkey,
        |  sum(CAST(floor(l_extendedprice*(1-l_discount) * 10000 + 0.5)
        |      AS BIGINT)) AS vu
        |  FROM lineitem JOIN ns ON l_suppkey = s_suppkey
        |  GROUP BY l_partkey),
        |t AS (SELECT sum(vu) AS tot, count(*) AS np FROM g)
        |SELECT l_partkey, floor(vu::DOUBLE / 100 + 0.5) / 100 AS stock_value
        |FROM g, t
        |WHERE vu * np > tot * ${graft.operators.Analytics.Q11MeanMult}
        |ORDER BY stock_value DESC, l_partkey""".stripMargin,
    "q20_excess_stock" -> (Analytics.q20ExcessStock _) oracle
      s"""WITH ps AS (SELECT l_partkey, l_suppkey,
        |  sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS sq
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT l_partkey, sum(sq) AS tq, count(*) AS ns
        |      FROM ps GROUP BY 1),
        |dom AS (SELECT DISTINCT l_suppkey FROM ps JOIN p USING (l_partkey)
        |        WHERE sq * ns > tq * ${graft.operators.Analytics.Q20DomMult})
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = '${graft.operators.Analytics.Q20Nation}'
        |  AND EXISTS (SELECT 1 FROM dom WHERE l_suppkey = s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,
    "corpus_card" -> (CorpusStats.corpusCard _) oracle DuckSql.corpusCard,
    "source_card" -> (CorpusStats.sourceCard _) oracle DuckSql.sourceCard,
    "source_divergence" -> (CorpusStats.sourceDivergence _) oracle
      DuckSql.sourceDivergence,
    "tokenizer_fertility" -> (CorpusStats.tokenizerFertility _) oracle
      DuckSql.tokenizerFertility,
    "oov_rate" -> (CorpusStats.oovRate _) oracle DuckSql.oovRate,
    "vocab_coverage" -> (CorpusStats.vocabCoverage _) oracle
      DuckSql.vocabCoverage,
    "coverage_pick" -> (CorpusStats.coveragePick _) oracle DuckSql.coveragePick,
    "source_lang_assoc" -> (CorpusStats.sourceLangAssoc _) oracle
      DuckSql.sourceLangAssoc,
    "token_gini" -> (CorpusStats.tokenGini _) oracle DuckSql.tokenGini,
    "hill_tail" -> (CorpusStats.hillTail _) oracle DuckSql.hillTail,
    "perplexity_score" -> (CorpusStats.perplexityScore _) oracle
      DuckSql.perplexityScore,
    "ccnet_buckets" -> (CorpusStats.ccnetBuckets _) oracle DuckSql.ccnetBuckets,
    "signal_corr" -> (CorpusStats.signalCorr _) oracle DuckSql.signalCorr,
    "signal_mi" -> (CorpusStats.signalMi _) oracle DuckSql.signalMi,
    "perplexity_ood" -> (CorpusStats.perplexityOod _) oracle
      DuckSql.perplexityOod,
    "perplexity_backoff" -> (CorpusStats.perplexityBackoff _) oracle
      DuckSql.perplexityBackoff,
    "dsir_weights" -> (CorpusStats.dsirWeights _) oracle DuckSql.dsirWeights,
    "dsir_select" -> (CorpusStats.dsirSelect _) oracle DuckSql.dsirSelect,
    "bpe_pairs" -> (CorpusStats.bpePairs _) oracle DuckSql.bpePairs,
    "bpe_vocab" -> (CorpusStats.bpeVocab _) oracle DuckSql.bpeVocab,
    "bpe_encode" -> (CorpusStats.bpeEncode _) oracle DuckSql.bpeEncode,
    "readability" -> (TextAnalysis.readability _) oracle DuckSql.readability,
    "pagerank" -> (Graph.pagerank _) oracle DuckSql.pagerank,
    "graph_stats" -> (Graph.graphStats _) oracle DuckSql.graphStats,
    "copurchase_clusters" -> (Graph.copurchaseClusters _) oracle
      DuckSql.copurchaseClusters,
    "dedup_recall" -> (Dedup.dedupRecall _) oracle DuckSql.dedupRecall,
    "capture_recapture" -> (Dedup.captureRecapture _) oracle
      DuckSql.captureRecapture,
    "containment_dup" -> (Dedup.containmentDup _) oracle DuckSql.containmentDup,
    "fuzzy_match" -> (Dedup.fuzzyMatch _) oracle DuckSql.fuzzyMatch,
    "fuzzy_clusters" -> (Dedup.fuzzyClusters _) oracle DuckSql.fuzzyClusters,
    "minhash_error" -> (Dedup.minhashError _) oracle DuckSql.minhashError,
    "k_core" -> (Graph.kCore _) oracle DuckSql.kCore,
    "assortativity" -> (Graph.assortativity _) oracle DuckSql.assortativity,
    "local_clustering" -> (Graph.localClustering _) oracle
      DuckSql.localClustering,
    "jaccard_links" -> (Graph.jaccardLinks _) oracle DuckSql.jaccardLinks,
    "ship_latency" -> (Analytics.shipLatency _) oracle DuckSql.shipLatency,
    "pareto_front" -> (Analytics.paretoFront _) oracle DuckSql.paretoFront,
    "theil_sen" -> (Analytics.theilSen _) oracle DuckSql.theilSen,
    "revenue_concentration" -> (Analytics.revenueConcentration _) oracle
      DuckSql.revenueConcentration,
    "gini_revenue" -> (Analytics.giniRevenue _) oracle DuckSql.giniRevenue,
    "lorenz_curve" -> (Analytics.lorenzCurve _) oracle DuckSql.lorenzCurve,
    "acf_revenue" -> (Analytics.acfRevenue _) oracle DuckSql.acfRevenue,
    "changepoint" -> (Analytics.changepoint _) oracle DuckSql.changepoint,
    "benford_check" -> (Analytics.benfordCheck _) oracle DuckSql.benfordCheck,
    "discount_elasticity" -> (Analytics.discountElasticity _) oracle
      DuckSql.discountElasticity,
    "curriculum_order" -> (Curation.curriculumOrder _) oracle
      DuckSql.curriculumOrder,
    "bottomk_sample" -> (Curation.bottomkSample _) oracle DuckSql.bottomkSample,
    "sample_audit" -> (Curation.sampleAudit _) oracle DuckSql.sampleAudit,
    "burstiness" -> (CorpusStats.burstiness _) oracle DuckSql.burstiness,
    "hapax_ratio" -> (CorpusStats.hapaxRatio _) oracle DuckSql.hapaxRatio,
    "good_turing" -> (CorpusStats.goodTuring _) oracle DuckSql.goodTuring,
    "chi2_terms" -> (CorpusStats.chi2Terms _) oracle DuckSql.chi2Terms,
    "ngram_diversity" -> (CorpusStats.ngramDiversity _) oracle
      DuckSql.ngramDiversity,
    "signal_auc" -> (CorpusStats.signalAuc _) oracle DuckSql.signalAuc,
    "corpus_cube" -> (CorpusStats.corpusCube _) oracle DuckSql.corpusCube,
    "cluster_terms" -> (Retrieval.clusterTerms _) oracle DuckSql.clusterTerms,
    "topic_coverage" -> (Retrieval.topicCoverage _) oracle
      DuckSql.topicCoverage,
    "mmr_rerank" -> (Similarity.mmrRerank _) oracle DuckSql.mmrRerank,
    "mmr_pool_recall" -> (Similarity.mmrPoolRecall _) oracle
      DuckSql.mmrPoolRecall,
    "rag_context" -> (Similarity.ragContext _) oracle DuckSql.ragContext,
    "hard_negatives" -> (Similarity.hardNegatives _) oracle
      DuckSql.hardNegatives,
    "ann_filtered" -> (Similarity.annFiltered _) oracle DuckSql.annFiltered,
    "filtered_recall" -> (Similarity.filteredRecall _) oracle
      DuckSql.filteredRecall,
    "cheapest_supplier" -> (Analytics.cheapestSupplier _) oracle
      DuckSql.cheapestSupplier,
  )
  private val duplicates =
    registry.map(_.name).diff(registry.map(_.name).distinct)
  require(duplicates.isEmpty,
    s"duplicate query names: ${duplicates.mkString(", ")}")

  /** Name-keyed views of [[registry]]. */
  val queries: Map[String, Builder] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
