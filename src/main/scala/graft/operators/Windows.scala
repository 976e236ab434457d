package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{QueryModule, Tables}

/** Window / analytic functions (SURVEY.md §2.6) — Hive's PTF engine
  * (QL/exec/PTFOperator.java + QL/udf/ptf/WindowingTableFunction.java):
  * row_number/rank/dense_rank/percent_rank/cume_dist/ntile/first_value/
  * last_value/lead/lag, ROWS and RANGE frames
  * (parse/WindowingSpec$BoundarySpec).
  *
  * All are Spark built-ins over `Window.partitionBy().orderBy()`. Window
  * order is always made total (unique tiebreak column) so frames — and
  * therefore running sums — are deterministic; running money sums go
  * through DECIMAL like grouped aggregates (order-independence at scale).
  * Hive's streaming bounded-frame evaluators
  * (GenericUDAFStreamingEvaluator) correspond to Spark's incremental
  * WindowExec frame processors — nothing to build.
  */
object Windows {

  private type Q = (SparkSession, String) => DataFrame

  /** RFM segmentation — the classic customer-analytics windowing
    * workload: per-customer recency (µs-epoch day arithmetic, exact
    * integers — engine-specific epoch spelling), frequency, exact
    * DECIMAL monetary, then NTILE(4) quartiles per dimension. Every
    * NTILE order is made total with the customer key so bucket
    * boundaries are deterministic; the three windows share one
    * unpartitioned pass over the 1-row-per-customer aggregate (not
    * the fact table), which is the scale-safe place for a global
    * NTILE. */
  private def rfmSql(spark: Boolean): String = {
    // orders timestamps surface as TIMESTAMP_NTZ in Spark; the session
    // zone is pinned UTC so the cast is an identity on the instant
    def epochUs(c: String) =
      if (spark) s"UNIX_MICROS(CAST($c AS TIMESTAMP))" else s"EPOCH_US($c)"
    s"""
      WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
      base AS (
        SELECT o_custkey AS c_custkey,
               CAST(FLOOR((${epochUs("mx.maxd")} - ${epochUs("MAX(o_orderdate)")}) / 86400000000.0) AS BIGINT) AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        FROM orders, mx
        GROUP BY o_custkey, mx.maxd
      )
      SELECT c_custkey, recency_days, frequency, monetary,
             NTILE(4) OVER (ORDER BY recency_days, c_custkey) AS r_quartile,
             NTILE(4) OVER (ORDER BY frequency DESC, c_custkey) AS f_quartile,
             NTILE(4) OVER (ORDER BY monetary DESC, c_custkey) AS m_quartile
      FROM base
      ORDER BY c_custkey"""
  }

  // ABC / cumulative-share analysis (the Pareto-80/20 classification):
  // customers ranked by revenue, running share of total, classed
  // A (first 50% of revenue) / B (to 80%) / C (tail). The running sum
  // runs over the PRE-AGGREGATED 1-row-per-customer table (never the
  // fact), in exact DECIMAL so the cumulative values are
  // order-independent; the share division and class cuts are one fixed
  // IEEE sequence. One SQL text serves both engines.
  private val AbcSql = """
      WITH c AS (
        SELECT o_custkey AS ck,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM orders GROUP BY o_custkey
      ), tot AS (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS t FROM orders
      ), r AS (
        SELECT ck, rev,
               SUM(CAST(CAST(rev AS DECIMAL(18,4)) AS DECIMAL(28,4)))
                 OVER (ORDER BY rev DESC, ck
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM c
      )
      SELECT ck, rev,
             ROUND(CAST(cum AS DOUBLE) / t, 6) AS cum_share,
             CASE WHEN CAST(cum AS DOUBLE) / t <= 0.5 THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / t <= 0.8 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM r CROSS JOIN tot
      ORDER BY rev DESC, ck
      LIMIT 100"""

  // NTH_VALUE + FIRST_VALUE over a running frame (the remaining §2.6
  // positional window function) — sampled to every 100th key so the
  // output stays compact; the sample filter applies AFTER the window
  // (subquery spelling — Spark has no QUALIFY). One SQL text.
  private val NthValueSql = """
      SELECT o_orderstatus, o_orderkey, o_totalprice, third_price, top_key
      FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               NTH_VALUE(o_totalprice, 3) OVER w AS third_price,
               FIRST_VALUE(o_orderkey) OVER w AS top_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ) t
      WHERE o_orderkey % 100 = 0
      ORDER BY o_orderstatus, o_orderkey"""

  // Month-over-month trend — the reporting staple: DATE_TRUNC month
  // buckets (identical in both engines), exact DECIMAL revenue, LAG
  // growth ratio rounded at the boundary. The window runs over the
  // ~80-row monthly aggregate.
  private val MonthlyTrendSql = """
      WITH m AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM orders GROUP BY DATE_TRUNC('month', o_orderdate)
      )
      SELECT month, revenue, n_orders,
             ROUND(revenue / LAG(revenue) OVER (ORDER BY month) - 1.0, 6) AS mom_growth
      FROM m
      ORDER BY month"""

  /** Peak-to-trough drawdown over the daily revenue series: running
    * MAX (incremental unbounded-preceding frame, O(1)/row) against the
    * current level. Cents-exact integers end to end; the one double
    * division per row is deterministic. Dialect split on day
    * numbering only. */
  private def drawdownSql(spark: Boolean): String = {
    val day =
      if (spark) "DATEDIFF(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
      else "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INT)"
    s"""
      WITH d AS (
        SELECT $day AS d,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1
      ),
      m AS (
        SELECT d, rev,
               MAX(rev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS peak
        FROM d
      )
      SELECT d, ROUND(CAST(rev AS DOUBLE) / 100, 2) AS revenue,
             ROUND(CAST(peak AS DOUBLE) / 100, 2) AS peak,
             ROUND(CAST(peak - rev AS DOUBLE) / peak, 6) AS drawdown
      FROM m ORDER BY d"""
  }

  /** Rolling 7-day mean/std of daily revenue from exact windowed sums
    * (Σx, Σx² as BIGINT over a bounded ROWS frame — incremental, never
    * re-scans); the moment formulas are per-row double arithmetic on
    * exact inputs. Whole-dollar units: daily Σx² in cents overflows
    * int64 at sf0.1 (found by the sf0.1 cross-check). */
  private def rollingSql(spark: Boolean): String = {
    val day =
      if (spark) "DATEDIFF(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
      else "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INT)"
    s"""
      WITH d AS (
        SELECT $day AS d,
               SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS rev
        FROM orders GROUP BY 1
      ),
      r AS (
        SELECT d, rev,
               CAST(COUNT(*) OVER f AS BIGINT) AS n,
               CAST(SUM(rev) OVER f AS BIGINT) AS s,
               -- rev² ≈ 1e20 per day at sf10 (daily revenue ~1e10) and
               -- the 7-day BIGINT sum crossed Long.Max there: the
               -- square products run
               -- DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0), width-
               -- legal in both engines and exact to 1e38
               SUM(CAST(rev AS DECIMAL(19,0)) * CAST(rev AS DECIMAL(19,0))) OVER f AS ss
        FROM d
        WINDOW f AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      )
      SELECT d, CAST(rev AS DOUBLE) AS revenue,
             -- integer-grid round (ROUND(x·10^s)→BIGINT→/10^s): a
             -- fractional-scale ROUND on these doubles hit a 4-dp half
             -- boundary at sf10 (a 1e-4 divergence); the
             -- scale-0 ROUND sees the bit-identical double in both
             -- engines (IEEE sqrt/÷ are correctly rounded), so the
             -- grid value is exact
             CAST(ROUND(CAST(s AS DOUBLE) / n * 100) AS BIGINT) / 100.0E0 AS roll_mean,
             -- ss (DECIMAL 38) converts to DOUBLE via VARCHAR: DuckDB's
             -- direct int128→double cast is NOT correctly rounded
             -- (measured 1 ulp low on 1.92e19 at sf10 — new divergence
             -- subclass), while string→double is correctly rounded in
             -- BOTH engines, so the sqrt sees one bit-identical operand
             CAST(ROUND(SQRT((CAST(CAST(ss AS STRING) AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) * 10000) AS BIGINT) / 10000.0E0 AS roll_std
      FROM r ORDER BY d"""
  }

  // the queries Spark and DuckDB run as one statement (QueryModule.shared)
  private val shared = QueryModule.shared(Map(
    "window_abc_analysis" -> AbcSql,
    "window_nth_value" -> NthValueSql,
    "window_monthly_trend" -> MonthlyTrendSql,

    // Ranking family + running sum over ROWS frame.
    "window_rank_rows_frame" -> """
      SELECT c_custkey, c_nationkey,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
             RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk,
             DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS drnk,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_bal
      FROM customer
      ORDER BY c_nationkey, rn""",

    // RANGE frame with a numeric offset (Hive ValueBoundaryScanner).
    "window_range_frame" -> """
      SELECT o_orderkey, o_totalprice,
             COUNT(*) OVER (ORDER BY o_totalprice
               RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (ORDER BY o_totalprice
               RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS DOUBLE) AS sum_within_10k
      FROM orders
      WHERE o_orderkey <= 1000
      ORDER BY o_totalprice, o_orderkey""",

    "window_lead_lag" -> """
      SELECT event_id, user_id, event_type,
             LAG(event_type, 1, '<start>') OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             LEAD(event_type, 1, '<end>') OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
             LAG(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_2_back
      FROM events
      WHERE user_id <= 20
      ORDER BY user_id, event_id""",

    // ntile / percent_rank / cume_dist — exact rational values, identical
    // doubles in both engines.
    "window_ntile_cume" -> """
      SELECT s_suppkey,
             NTILE(4) OVER (ORDER BY s_acctbal, s_suppkey) AS quartile,
             CAST(PERCENT_RANK() OVER (ORDER BY s_acctbal, s_suppkey) AS DOUBLE) AS pct_rnk,
             CAST(CUME_DIST() OVER (ORDER BY s_acctbal, s_suppkey) AS DOUBLE) AS cume
      FROM supplier
      ORDER BY s_suppkey""",

    "window_first_last" -> """
      SELECT c_custkey, c_nationkey,
             FIRST_VALUE(c_name) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS richest,
             LAST_VALUE(c_name) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest
      FROM customer
      WHERE c_custkey <= 300
      ORDER BY c_custkey""",

    // Sliding ROWS frame; avg expressed as exact SUM(decimal)/COUNT so
    // both engines' sliding-window accumulation strategies can't drift.
    // Window order tiebreak (found at sf10): the fixture's
    // (l_orderkey, l_linenumber) is NOT unique (TPC-H-ish, not TPC-H),
    // so a ROWS frame ordered by linenumber alone is underspecified —
    // engines agreed on tie order at small SFs by file-layout luck and
    // diverged at sf10. Tiebreaking on the AGGREGATED column makes
    // frame CONTENTS value-deterministic: rows still tied after
    // (linenumber, quantity) are interchangeable for quantity
    // aggregates. Same fix in window_running_median.
    "window_sliding_avg" -> """
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER w3 AS DOUBLE)
                  / COUNT(*) OVER w3 AS DOUBLE) AS avg3_qty
      FROM lineitem
      WHERE l_orderkey <= 400
      WINDOW w3 AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY l_orderkey, l_linenumber"""
  ))

  val queries: Map[String, Q] = shared.queries ++ Map(
    "window_drawdown" -> Tables.sql(drawdownSql(spark = true)),
    "window_rolling_stats" -> Tables.sql(rollingSql(spark = true)),
    "window_rfm_segmentation" -> Tables.sql(rfmSql(spark = true)),

    // Running exact median per key — the EXACT percentile aggregate
    // evaluated over a growing ROWS frame (Hive: GenericUDAFPercentile
    // in windowing mode). Median of integer-valued quantities
    // interpolates to .0/.5 halves — exactly representable doubles, so
    // the compare needs no tolerance.
    "window_running_median" -> Tables.sql("""
      SELECT l_orderkey, l_linenumber,
             CAST(PERCENTILE(l_quantity, 0.5) OVER w AS DOUBLE) AS run_median
      FROM lineitem
      WHERE l_orderkey <= 200
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY l_orderkey, l_linenumber"""),

    // Running DISTINCT count per key ("how many distinct statuses has
    // this customer's history shown so far") — neither Hive 1.2 nor
    // Spark accepts COUNT(DISTINCT) over a window, so the capability is
    // re-expressed as SIZE(COLLECT_SET() OVER w): the set is bounded by
    // the domain (3 statuses), so the running state stays O(domain),
    // not O(rows). DuckDB DOES accept the distinct-window form — an
    // independent formulation, not a rewrite of the same expression.
    "window_count_distinct" -> Tables.sql("""
      SELECT o_custkey, o_orderkey,
             SIZE(COLLECT_SET(o_orderstatus) OVER w) AS statuses_seen
      FROM orders
      WHERE o_custkey <= 200
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""")
  )

  val oracle: Map[String, String] = shared.oracle ++ Map(
    "window_drawdown" -> drawdownSql(spark = false),
    "window_rolling_stats" -> rollingSql(spark = false),
    "window_rfm_segmentation" -> rfmSql(spark = false),

    // QUANTILE_CONT over the same frame — same linear-interpolation
    // definition as Spark's exact PERCENTILE
    "window_running_median" -> """
      SELECT l_orderkey, l_linenumber,
             CAST(QUANTILE_CONT(l_quantity, 0.5) OVER w AS DOUBLE) AS run_median
      FROM lineitem
      WHERE l_orderkey <= 200
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY l_orderkey, l_linenumber""",

    // DuckDB's native COUNT(DISTINCT ...) OVER — independent of the
    // Spark-side collect_set spelling
    "window_count_distinct" -> """
      SELECT o_custkey, o_orderkey,
             CAST(COUNT(DISTINCT o_orderstatus) OVER w AS INT) AS statuses_seen
      FROM orders
      WHERE o_custkey <= 200
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""
  )
}
