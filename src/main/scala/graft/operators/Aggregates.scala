package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Aggregation surface (SURVEY.md §2.5) — Hive `GroupByOperator`
  * (QL/exec/GroupByOperator.java, partial/final modes in
  * plan/GroupByDesc$Mode) and the UDAF registry in
  * QL/exec/FunctionRegistry.java: count/sum/avg/min/max, variance family,
  * corr/covar, collect_set/collect_list, percentile, grouping sets /
  * cube / rollup (GroupByDesc.listGroupingSets).
  *
  * Catalyst plans the partial/final split itself (HashAggregateExec with
  * map-side combine), so every grouped agg here shuffles only
  * pre-aggregated partial buffers — the property that makes these run at
  * 100 TB. The one Hive trick worth keeping explicitly is the skew-salt
  * two-stage aggregate (hive.groupby.skewindata,
  * SemanticAnalyzer.genGroupByPlanMapAggr2MR) — see agg_skew_salted.
  */
object Aggregates {

  private type Q = (SparkSession, String) => DataFrame

  private val PercentileContSql = """
      SELECT l_returnflag,
             PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25,
             PERCENTILE_CONT(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS median,
             PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_quantity) AS q75,
             PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY l_quantity) AS d25
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""

  // one partial-aggregate text per split; merged on the group keys.
  // CAST(SUM(cnt) AS BIGINT): DuckDB widens SUM(BIGINT) to HUGEINT,
  // Spark keeps BIGINT — the cast pins both to the oracle's COUNT type
  private val MvIncrementalSql = {
    def partial(pred: String) = s"""
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
               COUNT(*) AS cnt,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price
        FROM lineitem WHERE $pred
        GROUP BY l_returnflag, l_linestatus"""
    s"""
      WITH corp AS (${partial("l_orderkey % 5 <> 4")}),
      bat AS (${partial("l_orderkey % 5 = 4")}),
      merged AS (
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(sum_qty) AS DOUBLE) AS sum_qty,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               MIN(min_price) AS min_price,
               MAX(max_price) AS max_price
        FROM (SELECT * FROM corp UNION ALL SELECT * FROM bat) u
        GROUP BY l_returnflag, l_linestatus
      )
      SELECT * FROM merged ORDER BY l_returnflag, l_linestatus"""
  }

  /** Register the lineitem rollup MV for this session: its
    * (l_returnflag, l_linestatus) partials are a warehouse fixture
    * (`graft.Fixtures.buildOnce` over lineitem: production MVs live on
    * storage, not in a session cache, and Hive's are tables), rebuilt
    * only when lineitem's files change. Every call re-registers the
    * reader view and the definition (`MvRewrite.register`, which also
    * attaches the rewrite rule). */
  private def mvRegister(spark: SparkSession, sfDir: String): Unit = {
    import graft.plans.MvRewrite
    import graft.plans.MvRewrite.{AggSpec, MvDef}
    val (dir, _) = graft.Fixtures.buildOnce(spark, sfDir, "mv_lineitem_rf_ls",
        Seq("lineitem"), committed = "_SUCCESS") { dir =>
      spark.table("lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .write.parquet(dir)
      0L
    }
    Tables.parquet(spark, dir).createOrReplaceTempView("mv_lineitem_rf_ls")
    MvRewrite.register(spark, MvDef(
      mvName = "mv_lineitem_rf_ls",
      baseFiles = MvRewrite.scanFilesOf(spark.table("lineitem")),
      groupCols = Set("l_returnflag", "l_linestatus"),
      sums = Seq(AggSpec("l_quantity",
        Some(org.apache.spark.sql.types.DecimalType(18, 4)), "sum_qty")),
      mins = Seq(AggSpec("l_extendedprice", None, "min_price")),
      maxs = Seq(AggSpec("l_extendedprice", None, "max_price")),
      countStarCol = Some("cnt")))
  }

  // z-score + min-max feature scaling: the whole-corpus moments reduce
  // to ONE broadcast row (exact DECIMAL sums for mean and sum-of-
  // squares — the per-row square is deterministic double work, its
  // 8-dp DECIMAL quantization makes the reduction order-independent),
  // then scaling is narrow per-row arithmetic. The textbook
  // E[x²]−E[x]² variance is fine here because the DECIMAL boundary
  // fixes both operands bit-exactly in both engines. One SQL text
  // serves both.
  private val FeatureScaleSql = """
      WITH st AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mu,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS musq,
               MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
        FROM lineitem
      )
      SELECT l_orderkey, l_linenumber,
             ROUND((l_quantity - mu) / SQRT(musq - mu * mu), 6) AS qty_z,
             ROUND((l_extendedprice - mn) / (mx - mn), 6) AS price_minmax
      FROM lineitem CROSS JOIN st
      WHERE l_orderkey < 2000
      ORDER BY l_orderkey, l_linenumber"""

  // Deterministic MODE (most-frequent value per group): the engines'
  // native mode() functions break ties arbitrarily, so the operator is
  // spelled as count + ROW_NUMBER with an explicit (cnt DESC, value)
  // tie-break — same result bit-for-bit in both engines, and the
  // window runs over the tiny per-group count table, not the fact.
  private val ModeSql = """
      WITH c AS (
        SELECT o_orderpriority, l_returnflag, COUNT(*) AS cnt
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority, l_returnflag
      ), r AS (
        SELECT o_orderpriority, l_returnflag, cnt,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                 ORDER BY cnt DESC, l_returnflag) AS rn
        FROM c
      )
      SELECT o_orderpriority, l_returnflag AS mode_flag, cnt
      FROM r WHERE rn = 1
      ORDER BY o_orderpriority"""

  // Boolean aggregate family (Hive's count(CASE...) idioms as the
  // modern first-class spellings): COUNT_IF / BOOL_AND / BOOL_OR —
  // same names in both engines; COUNT_IF is cast to BIGINT because
  // DuckDB widens its count to HUGEINT (surfacing as float64 in the
  // compare) while Spark emits BIGINT.
  private val BoolAggSql = """
      SELECT o_orderstatus,
             CAST(COUNT_IF(o_totalprice > 300000) AS BIGINT) AS n_big,
             BOOL_AND(o_totalprice > 1000) AS all_over_1k,
             BOOL_OR(o_orderpriority = '1-URGENT') AS any_urgent
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""

  /** Equi-depth histogram — the complement of Hive's equi-width
    * `histogram_numeric`: exact quartile boundaries (one bounded-state
    * aggregate, ROUNDed so both engines cut identically), then a
    * broadcast CASE bucketing pass + per-bucket count/min/max.
    * Parameterized on the percentile spelling (Spark PERCENTILE ↔
    * DuckDB QUANTILE_CONT — the agg_percentile pairing). */
  private def equidepthSql(spark: Boolean): String = {
    // ONE array-percentile aggregate, not three scalar ones — each
    // scalar PERCENTILE buffers the whole column separately (3× the
    // state and 5.2 s at sf0.1; the array form is one pass)
    val (pcts, i1, i2, i3) =
      if (spark) ("PERCENTILE(l_extendedprice, ARRAY(0.25D, 0.5D, 0.75D))", 0, 1, 2)
      else ("QUANTILE_CONT(l_extendedprice, [0.25, 0.5, 0.75])", 1, 2, 3)
    s"""
      WITH ps AS (
        SELECT $pcts AS p
        FROM (SELECT /*+ REPARTITION(32) */ l_extendedprice FROM lineitem) li
      ), b AS (
        SELECT ROUND(p[$i1], 6) AS p1, ROUND(p[$i2], 6) AS p2, ROUND(p[$i3], 6) AS p3
        FROM ps
      )
      SELECT CASE WHEN l_extendedprice <= p1 THEN 1
                  WHEN l_extendedprice <= p2 THEN 2
                  WHEN l_extendedprice <= p3 THEN 3
                  ELSE 4 END AS bucket,
             COUNT(*) AS n,
             MIN(l_extendedprice) AS lo,
             MAX(l_extendedprice) AS hi
      FROM lineitem CROSS JOIN b
      GROUP BY CASE WHEN l_extendedprice <= p1 THEN 1
                    WHEN l_extendedprice <= p2 THEN 2
                    WHEN l_extendedprice <= p3 THEN 3
                    ELSE 4 END
      ORDER BY bucket"""
  }

  /** Ordered string aggregation — Hive's concat_ws(collect_list())
    * idiom as the first-class spelling (Spark 4 LISTAGG ... WITHIN
    * GROUP ↔ DuckDB STRING_AGG ... ORDER BY). The explicit total
    * order inside the aggregate is what makes the concatenation
    * deterministic — without it both engines concatenate in partition
    * arrival order. */
  private def listaggSql(spark: Boolean): String = {
    val agg =
      if (spark) "LISTAGG(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
      else "STRING_AGG(n_name, ',' ORDER BY n_name)"
    s"""
      SELECT n_regionkey, $agg AS names, COUNT(*) AS n
      FROM nation
      GROUP BY n_regionkey
      ORDER BY n_regionkey"""
  }

  // UNPIVOT — the inverse of agg_pivot: Spark's first-class clause on
  // the Spark side, oracled against the manual UNION ALL spelling the
  // Hive 1.2 user writes (the compare proves the clause IS the manual
  // form, the agg_pivot treatment). INCLUDE NULLS is what makes the
  // equivalence actually hold: the default EXCLUDE NULLS drops rows
  // whose unpivoted value is NULL while the UNION ALL keeps them, so
  // without it the claim is only true on null-free data.
  private val UnpivotSparkSql = """
      SELECT o_orderkey, metric, val
      FROM (SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS o_custkey_d
            FROM orders WHERE o_orderkey < 100)
      UNPIVOT INCLUDE NULLS (val FOR metric IN (o_totalprice, o_custkey_d))
      ORDER BY o_orderkey, metric"""
  private val UnpivotOracleSql = """
      SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS val
      FROM orders WHERE o_orderkey < 100
      UNION ALL
      SELECT o_orderkey, 'o_custkey_d' AS metric, CAST(o_custkey AS DOUBLE) AS val
      FROM orders WHERE o_orderkey < 100
      ORDER BY o_orderkey, metric"""

  // MAX_BY / MIN_BY (Hive's max-of-struct idiom as the first-class
  // argmax aggregate): the ordering key is the UNIQUE customer key, so
  // the result is deterministic — on tied keys both engines pick
  // arbitrarily, which is exactly why agg_mode spells its tie-break
  // explicitly.
  private val MinMaxBySql = """
      SELECT c_mktsegment,
             MAX_BY(c_name, c_custkey) AS last_customer,
             MIN_BY(c_name, c_custkey) AS first_customer,
             MAX(c_custkey) AS max_key
      FROM customer
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""

  /** Weighted percentiles (quantity-weighted price quartiles): the
    * smallest value whose cumulative weight reaches q·total, via one
    * ordered window over the per-value weight rollup. Every
    * comparison is integer (4·cw ≥ q·4·tw spellings), so the cut
    * points are exact on both engines — no interpolation, no floats
    * until the display division. */
  private val WeightedPctSql = """
      WITH w AS (
        SELECT l_returnflag AS rf,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(ROUND(l_quantity) AS BIGINT) AS wt
        FROM lineitem
      ),
      g AS (SELECT rf, v, SUM(wt) AS wt FROM w GROUP BY rf, v),
      c AS (
        SELECT rf, v, wt,
               SUM(wt) OVER (PARTITION BY rf ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY rf) AS tw
        FROM g
      )
      SELECT rf,
             ROUND(CAST(MIN(CASE WHEN 4 * cw >= tw THEN v END) AS DOUBLE)
                   / 100, 2) AS p25_w,
             ROUND(CAST(MIN(CASE WHEN 2 * cw >= tw THEN v END) AS DOUBLE)
                   / 100, 2) AS p50_w,
             ROUND(CAST(MIN(CASE WHEN 4 * cw >= 3 * tw THEN v END) AS DOUBLE)
                   / 100, 2) AS p75_w
      FROM c GROUP BY rf ORDER BY rf"""

  /** Geometric and harmonic means per return flag — the multiplicative
    * and rate-average companions of AVG that Hive never shipped as
    * UDAFs. Both reduce through quantized integers so the shuffle
    * merge stays order-independent: log-space nano-units for the
    * geomean (the text_entropy LN-agreement precedent), reciprocal
    * pico-units for the harmonic mean (no libm at all). */
  private val GeoHarmonicSql = """
      SELECT l_returnflag AS rf, COUNT(*) AS n,
             ROUND(EXP(CAST(SUM(CAST(ROUND(LN(l_quantity) * 1000000000)
                                     AS BIGINT)) AS DOUBLE)
                       / 1000000000 / COUNT(*)), 6) AS geomean_qty,
             ROUND(COUNT(*) * 1.0E12
                   / CAST(SUM(CAST(ROUND(1.0E12 / l_quantity) AS BIGINT))
                          AS DOUBLE), 6) AS harmonic_qty
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY rf"""

  /** 5%-trimmed mean per return flag — the robust-mean companion of
    * the winsorized/MAD family: drop the lowest and highest ⌊n/20⌋
    * values by rank, average the exact-cents middle via a DECIMAL sum.
    * Scale shape: a map-side-combinable GROUP BY (rf, v) collapses the
    * corpus to one row per DISTINCT cents value FIRST, so the rank
    * window runs over value counts, not rows — at 100 TB the window
    * input is bounded by the value domain (~1e6 cents values), not the
    * 6e9-row table (a per-row ROW_NUMBER here was the sf10 bench's
    * single-partition-sort warning). Each value's rank interval
    * (cum−cnt, cum] is intersected with the kept interval
    * (trim, n−trim]; `kept` is how many duplicates of v survive —
    * tie-safe by construction, since equal values are interchangeable
    * at a trim boundary. */
  private val TrimmedMeanSql = """
      WITH c AS (
        SELECT /*+ REPARTITION(32) */ l_returnflag AS rf,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem
      ),
      g AS (SELECT rf, v, COUNT(*) AS cnt FROM c GROUP BY rf, v),
      r AS (
        SELECT rf, v, cnt,
               SUM(cnt) OVER (PARTITION BY rf ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY rf) AS n
        FROM g
      ),
      k AS (
        SELECT rf, v, n, FLOOR(n / 20.0) AS trim,
               GREATEST(CAST(0 AS BIGINT),
                 LEAST(cum, CAST(n - FLOOR(n / 20.0) AS BIGINT))
                 - GREATEST(cum - cnt, CAST(FLOOR(n / 20.0) AS BIGINT)))
                 AS kept
        FROM r
      )
      SELECT rf, CAST(MAX(n) AS BIGINT) AS n_rows,
             CAST(MAX(trim) AS BIGINT) AS n_trimmed_each_side,
             ROUND(CAST(SUM(CAST(kept AS DECIMAL(18, 0))
                            * CAST(v AS DECIMAL(18, 0))) AS DOUBLE)
                   / SUM(kept), 6) AS trimmed_mean_cents
      FROM k
      GROUP BY rf
      ORDER BY rf"""

  /** Skewness and excess kurtosis per return flag — the 3rd/4th
    * standardized moments that complete agg_stats' distribution
    * profile, as ONE aggregate pass over whole-dollar quantized values
    * (dollar ≤ ~6·10⁵ keeps v⁴ inside DECIMAL(27) and every product
    * sum inside DECIMAL(38) — cents would overflow the cube at sf0.1;
    * operands are sized DECIMALs BEFORE multiplying, the logistic-IRLS
    * lesson, and the squared operands widen to DECIMAL(19) because
    * DuckDB's int64-backed decimal multiply overflows at width 18 —
    * 19 forces the int128 path). Map-side partials reduce 100 TB to one moments row per
    * partition; each statistic is then a single IEEE chain on the
    * exact sums, ROUNDed at the boundary. */
  private val SkewKurtSql = """
      WITH c AS (
        SELECT l_returnflag AS rf,
               CAST(ROUND(l_extendedprice) AS BIGINT) AS v
        FROM lineitem
      ),
      m AS (
        SELECT rf, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(v AS DECIMAL(8, 0))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(v AS DECIMAL(8, 0))
                        * CAST(v AS DECIMAL(8, 0))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(v AS DECIMAL(8, 0)) * CAST(v AS DECIMAL(8, 0))
                        * CAST(v AS DECIMAL(8, 0))) AS DOUBLE) AS s3,
               CAST(SUM(CAST(CAST(v AS DECIMAL(8, 0)) * CAST(v AS DECIMAL(8, 0))
                        AS DECIMAL(19, 0))
                        * CAST(CAST(v AS DECIMAL(8, 0)) * CAST(v AS DECIMAL(8, 0))
                        AS DECIMAL(19, 0))) AS DOUBLE) AS s4
        FROM c GROUP BY rf
      ),
      k AS (
        SELECT rf, n, s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                 + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                 - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM m
      )
      SELECT rf, CAST(n AS BIGINT) AS n_rows,
             ROUND(mu, 6) AS mean_dollars,
             ROUND(m3 / (SQRT(m2) * SQRT(m2) * SQRT(m2)), 6) AS skewness,
             ROUND(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
      FROM k
      ORDER BY rf"""

  /** 5% winsorized mean per return flag — agg_trimmed_mean's sibling
    * that CLAMPS the tails to the boundary order statistics instead of
    * dropping them (keeps n constant — the estimator regulators expect
    * in reported aggregates). Same pre-aggregated rank machinery (the
    * GROUP BY (rf, v) collapse above), reduced to ONE grouped pass:
    * by rank positions, the winsorized sum is trim·lo (positions
    * 1..⌊n/20⌋ clamp up to lo = the value at rank ⌊n/20⌋+1) plus
    * trim·hi (the top ⌊n/20⌋ clamp down to hi = the value at rank
    * n−⌊n/20⌋) plus the kept-interval sum of the middle — exactly
    * agg_trimmed_mean's `kept` intersection. That identity removes
    * the `r JOIN b` self-join of the first spelling, which evaluated
    * the rank window TWICE (measured 4.6 s vs the trimmed sibling's
    * 2.5 s at sf0.1); boundaries fall out of the same scan as
    * conditional MINs. Exact-integer throughout until the final mean
    * division. */
  private val WinsorizedMeanSql = """
      WITH c AS (
        SELECT /*+ REPARTITION(32) */ l_returnflag AS rf,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem
      ),
      g AS (SELECT rf, v, COUNT(*) AS cnt FROM c GROUP BY rf, v),
      r AS (
        SELECT rf, v, cnt,
               SUM(cnt) OVER (PARTITION BY rf ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY rf) AS n
        FROM g
      ),
      k AS (
        SELECT rf, v, cnt, cum, n,
               CAST(FLOOR(n / 20.0) AS BIGINT) AS trim
        FROM r
      ),
      b AS (
        SELECT rf, MAX(n) AS n, MAX(trim) AS trim,
               MIN(CASE WHEN cum >= trim + 1 THEN v END) AS lo,
               MIN(CASE WHEN cum >= n - trim THEN v END) AS hi,
               SUM(CAST(GREATEST(CAST(0 AS BIGINT),
                     LEAST(cum, n - trim) - GREATEST(cum - cnt, trim))
                     AS DECIMAL(18, 0))
                   * CAST(v AS DECIMAL(18, 0))) AS mid_sum
        FROM k GROUP BY rf
      )
      SELECT rf, CAST(n AS BIGINT) AS n_rows,
             lo AS lower_bound_cents, hi AS upper_bound_cents,
             ROUND(CAST(CAST(trim AS DECIMAL(18, 0))
                          * (CAST(lo AS DECIMAL(18, 0))
                             + CAST(hi AS DECIMAL(18, 0)))
                        + mid_sum AS DOUBLE) / n, 6)
               AS winsorized_mean_cents
      FROM b
      ORDER BY rf"""

  // the queries Spark and DuckDB run as one statement (QueryModule.shared)
  private val shared = QueryModule.shared(Map(
    "agg_winsorized_mean" -> WinsorizedMeanSql,
    "agg_skew_kurtosis" -> SkewKurtSql,
    "agg_trimmed_mean" -> TrimmedMeanSql,
    "agg_geomean" -> GeoHarmonicSql,
    "agg_weighted_percentile" -> WeightedPctSql,
    "feature_scale" -> FeatureScaleSql,
    "agg_mode" -> ModeSql,
    "agg_bool" -> BoolAggSql,
    "agg_minmax_by" -> MinMaxBySql,

    "agg_basic" -> """
      SELECT o_orderstatus,
             COUNT(*) AS n,
             CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
             CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_price
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    // Multi-distinct + plain agg in one GROUP BY (Hive compiler rewrite;
    // Catalyst RewriteDistinctAggregates).
    "agg_distinct_multi" -> """
      SELECT l_returnflag,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT l_partkey) AS n_part,
             COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // GROUPING SETS + grouping() marker (Hive GROUPING__ID is
    // bit-reversed vs Spark — compare per-column grouping() instead,
    // SURVEY.md §7.3 trap #1).
    "agg_grouping_sets" -> """
      SELECT COALESCE(l_returnflag, '<all>') AS rflag,
             COALESCE(l_linestatus, '<all>') AS lstatus,
             CAST(GROUPING(l_returnflag) AS INT) AS g_rflag,
             CAST(GROUPING(l_linestatus) AS INT) AS g_lstatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY rflag, lstatus""",

    "agg_rollup" -> """
      SELECT COALESCE(o_orderstatus, '<all>') AS status,
             COALESCE(o_orderpriority, '<all>') AS priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      ORDER BY status, priority""",

    "agg_cube" -> """
      SELECT COALESCE(o_orderstatus, '<all>') AS status,
             COALESCE(o_orderpriority, '<all>') AS priority,
             COUNT(*) AS n
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority""",

    // Variance family + correlation (GenericUDAFVariance/Std/Corr/Covar).
    // Values are O(1)-O(100) so round(6) is safely inside double
    // precision; both engines use numerically-stable merge formulas.
    "agg_stats" -> """
      SELECT l_returnflag,
             ROUND(VAR_POP(l_quantity), 6)    AS vpop_qty,
             ROUND(VAR_SAMP(l_quantity), 6)   AS vsamp_qty,
             ROUND(STDDEV_POP(l_quantity), 6) AS sdpop_qty,
             ROUND(STDDEV_SAMP(l_discount), 6) AS sdsamp_disc,
             ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             ROUND(COVAR_POP(l_quantity, l_discount), 6) AS covp_qty_disc,
             ROUND(COVAR_SAMP(l_quantity, l_tax), 6) AS covs_qty_tax
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // ANSI ordered-set aggregates — PERCENTILE_CONT / PERCENTILE_DISC
    // WITHIN GROUP (SQL:2008; Hive 1.2 has only its own percentile
    // UDAF, the ANSI spelling is the modern surface users expect).
    // Quantiles are EXACT binary fractions (1/4, 1/2, 3/4) over
    // integer-valued quantities, so the interpolated value
    // a + f·(b−a) is an exact dyadic rational — every intermediate is
    // exact, which makes the result bit-identical no matter which
    // algebraic spelling of the interpolation each engine uses (the
    // two common forms differ in IEEE rounding for non-dyadic f).
    // PERCENTILE_DISC adds the ANSI smallest-cume_dist≥q selection.
    "agg_percentile_cont" -> PercentileContSql,

    // FILTER-clause / conditional aggregation.
    "agg_filtered" -> """
      SELECT o_orderpriority,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (WHERE o_totalprice > 250000) AS DOUBLE) AS sum_big
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "agg_having" -> """
      SELECT l_suppkey, COUNT(*) AS n_items
      FROM lineitem
      GROUP BY l_suppkey
      HAVING COUNT(*) > 620
      ORDER BY l_suppkey"""
  ))

  val queries: Map[String, Q] = shared.queries ++ Map(
    // Exact quartile cutoffs via the bounded two-level value-domain
    // quantile: the monolithic PERCENTILE aggregate buffers every
    // l_extendedprice in ONE final OpenHashMap task — an executor-OOM
    // shape at 100 TB. Quantiles.exactPercentiles replicates
    // PERCENTILE's interpolation byte-for-byte (its scaladoc has the
    // bytecode-verified chain), so the ROUND(·, 6) + CASE bucketing
    // below is fed the identical three doubles; the DuckDB oracle keeps
    // the QUANTILE_CONT spelling unchanged.
    "agg_equidepth_hist" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      import org.apache.spark.sql.functions._
      val cuts = Quantiles.exactPercentiles(
        spark.table("lineitem").select(col("l_extendedprice")),
        "l_extendedprice", Seq(0.25, 0.5, 0.75),
        Quantiles.Domains.ExtendedPrice2dp)
      val Seq(p1, p2, p3) = cuts match {
        case Some(cs) => cs.map(c => lit(c))
        case None     => Seq.fill(3)(lit(null).cast("double"))
      }
      val b = spark.range(1).select(
        round(p1, 6).as("p1"), round(p2, 6).as("p2"), round(p3, 6).as("p3"))
      val bucket = when(col("l_extendedprice") <= col("p1"), 1)
        .when(col("l_extendedprice") <= col("p2"), 2)
        .when(col("l_extendedprice") <= col("p3"), 3)
        .otherwise(4)
      spark.table("lineitem").crossJoin(broadcast(b))
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .orderBy(col("bucket"))
    }),
    "agg_listagg" -> Tables.sql(listaggSql(spark = true)),
    "agg_unpivot" -> Tables.sql(UnpivotSparkSql),

    // Hive ≤2.2 GROUPING__ID compatibility (SURVEY §7.3#1, HIVE-16102):
    // hive_grouping_id(grouping_id(), n) re-derives the legacy
    // bit-reversed/meaning-inverted integer; the oracle rebuilds the
    // same number from per-column GROUPING() bits, so the row-level
    // compare proves the shim agrees with the legacy definition.
    "agg_hive_grouping_id" -> Tables.sql("""
      SELECT COALESCE(o_orderstatus, '<all>') AS status,
             COALESCE(o_orderpriority, '<all>') AS priority,
             CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
               AS BIGINT) AS gid_std,
             CAST(hive_grouping_id(grouping_id(), 2) AS BIGINT)
               AS gid_hive_legacy,
             COUNT(*) AS n
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""),

    // EWAH bitmap-index algebra (Hive ewah_bitmap/_and/_or/_empty —
    // implemented with the real Lemire word-aligned-hybrid codec):
    // per-status customer bitmaps, then pairwise intersection/union
    // cardinalities + disjointness straight off the compressed
    // streams. The oracle recomputes the same set algebra from DISTINCT
    // value sets — bitmap vs relational spellings of identical
    // mathematics.
    "agg_ewah_bitmap" -> Tables.sql("""
        WITH bm AS (
          SELECT o_orderstatus AS status,
                 ewah_bitmap(CAST(o_custkey % 8192 AS INT)) AS b
          FROM orders GROUP BY o_orderstatus)
        SELECT a.status AS status_a, c.status AS status_b,
               ewah_bitmap_count(a.b) AS card_a,
               ewah_bitmap_count(ewah_bitmap_and(a.b, c.b)) AS n_common,
               ewah_bitmap_count(ewah_bitmap_or(a.b, c.b)) AS n_union,
               ewah_bitmap_empty(ewah_bitmap_and(a.b, c.b)) AS disjoint
        FROM bm a JOIN bm c ON a.status < c.status
        ORDER BY status_a, status_b"""),

    // Exact percentile (Hive UDAFPercentile / GenericUDAFPercentileApprox
    // cousin) — linear interpolation in both engines.
    "agg_percentile" -> Tables.sql("""
      SELECT l_returnflag,
             ROUND(PERCENTILE(l_quantity, 0.25), 6) AS p25,
             ROUND(PERCENTILE(l_quantity, 0.5), 6)  AS p50,
             ROUND(PERCENTILE(l_quantity, 0.75), 6) AS p75,
             ROUND(MEDIAN(l_quantity), 6) AS med
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // percentile_approx: sketch-based, engine-specific numerics — no
    // value oracle; driver records rows>0 and ScalaTest bounds-checks it.
    "agg_percentile_approx" -> Tables.sql("""
      SELECT l_returnflag,
             PERCENTILE_APPROX(l_extendedprice, 0.5, 1000) AS p50_approx,
             APPROX_COUNT_DISTINCT(l_partkey) AS nd_part_approx
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // histogram_numeric (GenericUDAFHistogramNumeric — Ben-Haim/Tom-Yossef
    // streaming histogram, same algorithm in Spark). The sketch is EXACT
    // only when each group is fed by exactly ONE partial buffer whose
    // distinct(input) <= nbins: add() increments an existing bin on exact
    // x-match, but merge()'s trim breaks equal-gap ties with a PRNG and
    // does NOT collapse duplicate-x bins preferentially (verified
    // empirically: multi-partition input returns duplicate/averaged bins
    // nondeterministically — HistogramExactnessSpec pins both regimes).
    // Hence the REPARTITION(1): one map-side partial per group, merge
    // touches nothing, and the result is exactly the 7 per-value counts
    // of l_linenumber — a valid cross-engine value oracle. This is a
    // deliberately serialized VERIFICATION query; the approximate
    // partition-parallel regime a 100 TB user runs stays covered by
    // ScalaTest bounds (SemanticTrapsSpec).
    // Bins are posexploded to scalar (bin, bin_x, bin_y) columns: the
    // pandas-based result compare cannot hash an array<struct> column
    // (it reports `err`), and scalars also make the row count meaningful.
    "agg_histogram_numeric" -> Tables.sql("""
      SELECT l_returnflag, pos AS bin,
             ROUND(CAST(b.x AS DOUBLE), 6) AS bin_x,
             CAST(b.y AS DOUBLE) AS bin_y
      FROM (
        -- NB: Spark 4 propagates the input type to bin.x
        -- (spark.sql.legacy.histogramNumericPropagateInputType=true), so
        -- x arrives as INT here and must be cast for the oracle compare
        SELECT l_returnflag, HISTOGRAM_NUMERIC(l_linenumber, 10) AS hist
        FROM (SELECT /*+ REPARTITION(1) */ l_returnflag, l_linenumber FROM lineitem)
        GROUP BY l_returnflag
      ) h
      LATERAL VIEW POSEXPLODE(hist) t AS pos, b
      ORDER BY l_returnflag, bin"""),

    // PIVOT: Spark has the first-class clause; Hive 1.2 users write the
    // conditional-aggregation form by hand — which is exactly what the
    // oracle does, so the compare proves the clause IS the manual
    // spelling. Money through the q1 DECIMAL discipline.
    "agg_pivot" -> Tables.sql("""
      SELECT * FROM (
        SELECT l_returnflag, l_linestatus, CAST(l_quantity AS DECIMAL(18,4)) AS qty
        FROM lineitem
      )
      PIVOT (
        CAST(SUM(qty) AS DOUBLE) FOR l_linestatus IN ('F' AS qty_f, 'O' AS qty_o)
      )
      ORDER BY l_returnflag"""),

    // Spark's built-in HLL++ sketch (approx_count_distinct) in its
    // EXACT regime, the same honest-boundary treatment as
    // histogram_numeric / approx_topk: with 2^14 registers the
    // small-cardinality estimate comes from linear counting, which is
    // exact only while no two values collide in a register —
    // empirically already off at 50 distincts on this data (47; pinned
    // in HistogramExactnessSpec), so the oracled columns stay at
    // cardinality <= 7 where the estimate provably matched COUNT
    // DISTINCT at both harness SFs. Both the sketch and the exact
    // counts are in the output row, so the compare enforces ad == ed.
    "agg_approx_distinct" -> Tables.sql("""
      SELECT l_returnflag,
             APPROX_COUNT_DISTINCT(l_linestatus) AS ad_status,
             COUNT(DISTINCT l_linestatus) AS ed_status,
             APPROX_COUNT_DISTINCT(l_linenumber) AS ad_lineno,
             COUNT(DISTINCT l_linenumber) AS ed_lineno,
             COUNT(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // Re-aggregatable distinct-count rollup — the datacube pattern HLL
    // sketches exist for: per-DAY DataSketches HLL sketches of the
    // clerk id (HLL_SKETCH_AGG), merged to months with HLL_UNION_AGG
    // and only then estimated. COUNT(DISTINCT) cannot roll up (daily
    // counts don't sum); sketches merge associatively, so at 100 TB the
    // daily cube is k bytes per group and every coarser granularity is
    // a cheap re-merge, never a re-scan of the fact table. The sketched
    // key is the buying customer's nation (via the customer dim join):
    // 25 distinct at EVERY SF, far inside the sketch's coupon
    // (LIST/SET) phase where the estimate is exact — and the output
    // carries the exact distinct beside the estimate so the compare
    // enforces est == exact at both harness SFs, the
    // agg_approx_distinct discipline.
    "agg_hll_union" -> Tables.sql("""
      WITH oc AS (
        SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) AS m,
               o.o_orderdate AS d, c.c_nationkey AS nk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      ), daily AS (
        SELECT m, d, HLL_SKETCH_AGG(nk, 12) AS sk
        FROM oc GROUP BY m, d
      ), monthly AS (
        SELECT m, COUNT(*) AS n_days,
               CAST(HLL_SKETCH_ESTIMATE(HLL_UNION_AGG(sk)) AS BIGINT) AS uniq_est
        FROM daily GROUP BY m
      ), exact AS (
        SELECT m, COUNT(DISTINCT nk) AS uniq_exact FROM oc GROUP BY m
      )
      SELECT monthly.m AS m, n_days, uniq_est, uniq_exact
      FROM monthly JOIN exact ON monthly.m = exact.m
      ORDER BY m"""),

    // Misra–Gries frequent items (graft.functions.ApproxTopKAgg): the
    // oracle is valid because o_orderpriority has 5 distinct values ≤
    // buf=32 — the sketch's exactness boundary (counts are exact iff
    // distinct ≤ buf; PropertySpec pins the boundary and the n/(buf+1)
    // error bound beyond it, histogram_numeric-style).
    "agg_approx_topk" -> Tables.sql("""
        SELECT o_orderstatus, item, cnt
        FROM (SELECT o_orderstatus, APPROX_TOPK(o_orderpriority, 3, 32) AS tops
              FROM orders GROUP BY o_orderstatus)
        LATERAL VIEW INLINE(tops) t AS item, cnt
        ORDER BY o_orderstatus, cnt DESC, item"""),

    // Count-Min frequency estimation (graft.functions.CountMinAgg +
    // CmQuery): the sketch builds once, broadcasts as a single row,
    // and every key's estimate is a MIN over depth cells. The oracle
    // (plain exact counts) is valid because this (depth=4, width=64)
    // configuration gives every event_type a collision-free row —
    // collisions depend only on (key, depth, width), never on data
    // size, so exactness verified here holds at every SF (the
    // approx_topk exactness-boundary treatment; CountMinSpec pins the
    // never-undercount bound beyond it).
    // Materialized-view rewrite (graft.plans.MvRewrite — Hive 2.3/3.0
    // materialized view rollup rewriting, SURVEY §2.3 [2.x]): the MV
    // materializes lineitem partials at (l_returnflag, l_linestatus)
    // granularity to parquet ONCE per warehouse and lineitem files; the
    // query below is written against the BASE table at coarser
    // (l_returnflag) granularity, and the injected optimizer rule
    // rewrites it to re-aggregate the MV — ExtensionsSpec pins that the
    // executed plan scans the MV parquet and never the lineitem fact. DECIMAL sum
    // partials make the regrouping bit-exact, so the oracle (the same
    // query over the base in DuckDB) matches exactly.
    "agg_mv_rewrite" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      mvRegister(spark, sfDir)
      spark.sql("""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price
        FROM lineitem
        WHERE l_returnflag <> 'N'
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    }),

    // Incremental view maintenance — the refresh half of the MV story
    // (Hive 3's ALTER MATERIALIZED VIEW ... REBUILD incremental path;
    // Griffin & Libkin, SIGMOD'95): when a batch arrives, the MV is
    // refreshed by MERGING the batch's partials into the stored ones
    // (SUM+SUM, cnt+cnt, MIN/MIN, MAX/MAX on the group keys) — never
    // by recomputing over the corpus. The corpus here is the 80% split
    // and the batch the 20%; the oracle aggregates the FULL table
    // directly, so the compare proves merge ≡ recompute (exact because
    // the partials are DECIMAL/integer — the same associativity
    // contract MvRewrite enforces at registration). At 100 TB the
    // refresh touches the batch plus k MV rows, not the corpus.
    "agg_mv_incremental" -> Tables.sql(MvIncrementalSql),

    "agg_countmin" -> Tables.sql("""
        SELECT event_type, CM_QUERY(s, event_type) AS est
        FROM (SELECT DISTINCT event_type FROM events)
        CROSS JOIN (SELECT COUNTMIN(event_type, 4, 64) AS s FROM events)
        ORDER BY event_type"""),

    // collect_set/collect_list (GenericUDAFMkCollectionEvaluator) —
    // compared as a sorted joined string (set semantics, stable text).
    "agg_collect" -> Tables.sql("""
      SELECT c_nationkey,
             ARRAY_JOIN(SORT_ARRAY(COLLECT_SET(c_mktsegment)), ',') AS segments,
             SIZE(COLLECT_LIST(c_custkey)) AS n_cust
      FROM customer
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""),

    // Two-stage salted aggregate — the 100 TB skew pattern (Hive
    // hive.groupby.skewindata, genGroupByPlanMapAggr2MR:6446): stage 1
    // aggregates (key, salt) so one hot key spreads over 16 reducers;
    // stage 2 merges the 16 partials. Oracle = the plain GROUP BY.
    "agg_skew_salted" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      spark.table("lineitem")
        .withColumn("salt", pmod(hash(col("l_orderkey")), lit(16)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,4)")).as("part_qty"),
          count(lit(1)).as("part_cnt"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("part_qty")).cast("double").as("sum_qty"),
          sum(col("part_cnt")).as("n_rows"))
        .orderBy(col("l_returnflag"))
    })
  )

  val oracle: Map[String, String] = shared.oracle ++ Map(
    "agg_equidepth_hist" -> equidepthSql(spark = false),
    "agg_listagg" -> listaggSql(spark = false),
    "agg_unpivot" -> UnpivotOracleSql,

    // legacy GROUPING__ID: bit i (first col = least significant) = 1
    // when col_i IS grouped — the inverse of the standard bit
    "agg_hive_grouping_id" -> """
      SELECT COALESCE(o_orderstatus, '<all>') AS status,
             COALESCE(o_orderpriority, '<all>') AS priority,
             CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
               AS BIGINT) AS gid_std,
             CAST((1 - GROUPING(o_orderstatus)) * 1
                + (1 - GROUPING(o_orderpriority)) * 2 AS BIGINT)
               AS gid_hive_legacy,
             COUNT(*) AS n
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority""",

    "agg_ewah_bitmap" -> """
      WITH s AS (SELECT DISTINCT o_orderstatus AS status,
                        o_custkey % 8192 AS v FROM orders),
      card AS (SELECT status, CAST(COUNT(*) AS BIGINT) AS card
               FROM s GROUP BY status),
      inter AS (SELECT x.status AS sa, y.status AS sb,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM s x JOIN s y ON x.v = y.v AND x.status < y.status
                GROUP BY x.status, y.status)
      SELECT ca.status AS status_a, cb.status AS status_b,
             ca.card AS card_a,
             CAST(COALESCE(i.n, 0) AS BIGINT) AS n_common,
             CAST(ca.card + cb.card - COALESCE(i.n, 0) AS BIGINT) AS n_union,
             COALESCE(i.n, 0) = 0 AS disjoint
      FROM card ca JOIN card cb ON ca.status < cb.status
      LEFT JOIN inter i ON i.sa = ca.status AND i.sb = cb.status
      ORDER BY status_a, status_b""",

    // the classic Hive manual pivot: conditional aggregation
    "agg_pivot" -> """
      SELECT l_returnflag,
             CAST(SUM(CASE WHEN l_linestatus = 'F'
                  THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_f,
             CAST(SUM(CASE WHEN l_linestatus = 'O'
                  THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_o
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // exact regime (clerks = SF·1000 << coupon capacity): the unioned
    // estimate must equal the exact distinct, so the oracle substitutes
    // COUNT(DISTINCT) for the whole sketch-merge-estimate chain and
    // derives n_days as the distinct order dates in the month
    "agg_hll_union" -> """
      SELECT m, n_days, uniq_exact AS uniq_est, uniq_exact FROM (
        SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) AS m,
               COUNT(DISTINCT o.o_orderdate) AS n_days,
               COUNT(DISTINCT c.c_nationkey) AS uniq_exact
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1)
      ORDER BY m""",

    // exact regime: the sketch must equal COUNT(DISTINCT) at these
    // cardinalities (<= 7), so the oracle simply substitutes the exact
    // aggregate for the sketch
    "agg_approx_distinct" -> """
      SELECT l_returnflag,
             COUNT(DISTINCT l_linestatus) AS ad_status,
             COUNT(DISTINCT l_linestatus) AS ed_status,
             COUNT(DISTINCT l_linenumber) AS ad_lineno,
             COUNT(DISTINCT l_linenumber) AS ed_lineno,
             COUNT(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "agg_percentile" -> """
      SELECT l_returnflag,
             ROUND(QUANTILE_CONT(l_quantity, 0.25), 6) AS p25,
             ROUND(QUANTILE_CONT(l_quantity, 0.5), 6)  AS p50,
             ROUND(QUANTILE_CONT(l_quantity, 0.75), 6) AS p75,
             ROUND(MEDIAN(l_quantity), 6) AS med
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // Exact-regime histogram (distinct values <= nbins) == per-value
    // counts, sorted by x within each group — SQL-expressible exactly.
    "agg_histogram_numeric" -> """
      SELECT l_returnflag,
             CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_linenumber) - 1 AS INT) AS bin,
             ROUND(CAST(l_linenumber AS DOUBLE), 6) AS bin_x,
             CAST(COUNT(*) AS DOUBLE) AS bin_y
      FROM lineitem
      GROUP BY l_returnflag, l_linenumber
      ORDER BY l_returnflag, bin""",

    // the full-table recompute — merge-refresh must equal it exactly
    "agg_mv_incremental" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n_rows,
             MIN(l_extendedprice) AS min_price,
             MAX(l_extendedprice) AS max_price
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    // the same rollup over the BASE table — the MV rewrite must be
    // result-invariant (DECIMAL partials regroup exactly)
    "agg_mv_rewrite" -> """
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n_rows,
             MIN(l_extendedprice) AS min_price,
             MAX(l_extendedprice) AS max_price
      FROM lineitem
      WHERE l_returnflag <> 'N'
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // exact regime: every event_type has a collision-free sketch row
    "agg_countmin" -> """
      SELECT event_type, COUNT(*) AS est
      FROM events GROUP BY event_type
      ORDER BY event_type""",

    // exact regime: 5 distinct priorities ≤ buf=32 ⇒ plain top-3 counts
    "agg_approx_topk" -> """
      WITH c AS (
        SELECT o_orderstatus, o_orderpriority AS item, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
      ), r AS (
        SELECT o_orderstatus, item, cnt,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY cnt DESC, item) AS rn
        FROM c
      )
      SELECT o_orderstatus, item, cnt FROM r WHERE rn <= 3
      ORDER BY o_orderstatus, cnt DESC, item""",

    "agg_collect" -> """
      SELECT c_nationkey,
             ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(c_mktsegment))), ',') AS segments,
             LEN(LIST(c_custkey)) AS n_cust
      FROM customer
      GROUP BY c_nationkey
      ORDER BY c_nationkey""",

    "agg_skew_salted" -> """
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""
  )
}
