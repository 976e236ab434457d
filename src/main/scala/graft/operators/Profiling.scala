package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{QueryModule, Tables}

/** Data-quality profiling and constraint validation — the pre-training
  * gate every production pipeline runs before a corpus or fact table is
  * allowed downstream (the Deequ/expectations pattern re-expressed as
  * plain aggregates; Hive users run exactly these as hand-written SQL).
  *
  * Both operators are single-scan shapes at 100 TB: every metric is a
  * hash/sort-free aggregate with bounded state (counts, min/max,
  * distincts expand to the standard two-phase distinct aggregate), and
  * the UNION ALL of rule rows evaluates each branch over its own scan —
  * Catalyst shares the cached relation when the table is hot, and a
  * production deployment would fuse the branches into one pass with
  * conditional aggregates (the spelling used inside each branch here).
  * One SQL text serves both engines.
  */
object Profiling {

  private type Q = (SparkSession, String) => DataFrame

  // typed profile: numeric min/max stay DOUBLE (casting doubles to
  // strings formats differently across engines), string min/max ride
  // in their own columns
  private val ProfileSql = """
      SELECT 'o_custkey' AS col, COUNT(*) AS n_rows,
             COUNT(o_custkey) AS n_nonnull,
             COUNT(DISTINCT o_custkey) AS n_distinct,
             CAST(MIN(o_custkey) AS DOUBLE) AS min_num,
             CAST(MAX(o_custkey) AS DOUBLE) AS max_num,
             CAST(NULL AS STRING) AS min_str, CAST(NULL AS STRING) AS max_str
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
             COUNT(DISTINCT o_totalprice),
             MIN(o_totalprice), MAX(o_totalprice),
             CAST(NULL AS STRING), CAST(NULL AS STRING)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
             COUNT(DISTINCT o_orderstatus),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             MIN(o_orderstatus), MAX(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
             COUNT(DISTINCT o_orderpriority),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             MIN(o_orderpriority), MAX(o_orderpriority)
      FROM orders
      ORDER BY col"""

  // each rule emits (rule, violations) — 0 everywhere on clean data,
  // and the rules are real (key uniqueness, referential integrity,
  // value range, enum domain, cross-field ordering)
  private val ValidateSql = """
      SELECT 'orderkey_unique' AS rule,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS violations
      FROM orders
      UNION ALL
      SELECT 'custkey_fk', COUNT(*)
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'price_positive', COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END)
      FROM orders
      UNION ALL
      SELECT 'priority_domain', COUNT(CASE WHEN o_orderpriority NOT IN
               ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW') THEN 1 END)
      FROM orders
      UNION ALL
      SELECT 'lineitem_fk', COUNT(*)
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'ship_after_order', COUNT(*)
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate < o.o_orderdate
      ORDER BY rule"""

  /** Benford first-digit screening — the classic fabricated-data probe
    * over a value column. Digit extraction is exact string arithmetic
    * on the cents-integer; expected frequencies log10(1+1/d) and the
    * deviations are per-digit double formulas on exact counts. Single
    * aggregate to 9 rows. DuckDB reads STRING as its VARCHAR. */
  private val BenfordSql = """
      WITH d AS (
        SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                   AS STRING), 1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice > 0
      ),
      c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
      t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM c)
      SELECT digit, n, ROUND(n / tot, 6) AS observed,
             ROUND(LOG10(1 + 1.0E0 / digit), 6) AS benford_expected,
             ROUND(n / tot - LOG10(1 + 1.0E0 / digit), 6) AS deviation
      FROM c CROSS JOIN t ORDER BY digit"""

  /** Functional-dependency discovery over a fixed candidate set — the
    * profiling pass that infers key/hierarchy structure (det → dep holds
    * iff no determinant value maps to two dependent values). Each
    * candidate is one groupBy on its determinant with a distinct-count
    * of the dependent — at 100 TB each branch is a single two-phase
    * distinct aggregate on the det key, never a pair join; the verdict
    * and violation counts are exact integers. Includes a composite
    * determinant (the lineitem PK) and known-false candidates so both
    * verdict polarities are exercised. */
  private def fdBranch(label: String, table: String,
                       det: String, dep: String): String = s"""
      SELECT '$label' AS fd,
             CAST(COUNT(*) AS BIGINT) AS n_det,
             CAST(MAX(nd) AS BIGINT) AS max_dep_per_det,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
             CAST(CASE WHEN MAX(nd) = 1 THEN 1 ELSE 0 END AS INT) AS holds
      FROM (SELECT $det, COUNT(DISTINCT $dep) AS nd
            FROM $table GROUP BY $det) g"""

  private val FdSql = Seq(
    fdBranch("n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    fdBranch("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    fdBranch("o_custkey->o_orderstatus", "orders", "o_custkey", "o_orderstatus"),
    fdBranch("l_orderkey->l_partkey", "lineitem", "l_orderkey", "l_partkey"),
    fdBranch("l_orderkey,l_linenumber->l_partkey", "lineitem",
             "l_orderkey, l_linenumber", "l_partkey"),
    fdBranch("c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    fdBranch("l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey")
  ).mkString("", "\n      UNION ALL", "\n      ORDER BY fd")

  /** Join-key skew profiler — the diagnostic you run BEFORE deciding a
    * join needs salting (the suite's join_skew_salted / AQE skew
    * machinery is the cure; this is the X-ray). Per-key counts of the
    * fact side's join key (`l_suppkey`), then: the top-10 hot keys
    * with their exact corpus share, each carrying the global context
    * (key count, exact p50/p99 of the per-key count distribution via
    * the cumulative-window lower-percentile trick, mean in micro
    * units, and hot/mean skew factor). Everything integer-exact; the
    * micro-unit shares use the overflow-safe split divide. 100 TB
    * shape: one hash aggregate to O(keys) rows (map-side combined),
    * one window over the tiny per-key-count GRID (counts collapse to
    * distinct-count values first), one top-10. */
  private def skewSql(spark: Boolean): String = {
    val mdiv = Statistics.microDiv(_: String, _: String, spark)
    s"""
      WITH k AS (
        SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_suppkey
      ),
      tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows
        FROM k
      ),
      grid AS (
        SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_at FROM k GROUP BY cnt
      ),
      cum AS (
        SELECT cnt, SUM(n_at) OVER (ORDER BY cnt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        FROM grid
      ),
      pct AS (
        SELECT MIN(CASE WHEN c.cw * 2 >= t.n_keys THEN c.cnt END)   AS p50_cnt,
               MIN(CASE WHEN c.cw * 100 >= t.n_keys * 99 THEN c.cnt END) AS p99_cnt
        FROM cum c CROSS JOIN tot t
      ),
      hot AS (
        SELECT key, cnt FROM k ORDER BY cnt DESC, key LIMIT 10
      )
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY h.cnt DESC, h.key) AS INT) AS rank,
             h.key, h.cnt,
             ${mdiv("h.cnt", "t.n_rows")} AS share_micro,
             t.n_keys, t.n_rows, p.p50_cnt, p.p99_cnt,
             ${mdiv("t.n_rows", "t.n_keys")} AS mean_cnt_micro,
             ${mdiv("h.cnt * t.n_keys", "t.n_rows")} AS skew_factor_micro
      FROM hot h CROSS JOIN tot t CROSS JOIN pct p
      ORDER BY rank"""
  }

  /** k-anonymity / l-diversity audit (Sweeney IJUFKS'02; Machanavajjhala
    * et al. ICDE'06) — the privacy gate a dataset passes before release:
    * quasi-identifier classes (nation × account-balance band) must each
    * hold ≥ k individuals (k=10) and ≥ l distinct values of the
    * sensitive attribute (market segment, l=3). GROUPING SETS emits the
    * published granularity AND the generalized fallback (nation only —
    * the suppression step that fixes violating classes) in ONE
    * aggregate pass; GROUPING(col) is used explicitly, never the
    * bit-order-trapped GROUPING__ID (SURVEY §7.3.1). Banding is pure
    * integer arithmetic on a nonnegative-shifted FLOOR (2-decimal
    * inputs sit ≥ 0.01 from integer boundaries, ≫ one ulp, so both
    * engines floor identically; the +1000 shift keeps the truncating
    * DIV away from its divergent negative-operand semantics). At
    * 100 TB: one map-side-combinable grouping-sets aggregate to
    * O(classes) rows. */
  private def privacySql(spark: Boolean): String = {
    val dv = if (spark) "DIV" else "//"
    s"""
      WITH q AS (
        SELECT c_nationkey AS nation,
               CAST(FLOOR(c_acctbal + 1000) AS BIGINT) $dv 2000 AS band,
               c_mktsegment AS seg
        FROM customer
      )
      SELECT CAST(GROUPING(band) AS INT) AS generalized,
             CAST(nation AS INT) AS nation,
             CAST(CASE WHEN GROUPING(band) = 1 THEN -1 ELSE band END AS BIGINT)
               AS band,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_seg,
             CASE WHEN COUNT(*) < 10 THEN 1 ELSE 0 END AS k_violation,
             CASE WHEN COUNT(DISTINCT seg) < 3 THEN 1 ELSE 0 END AS l_violation
      FROM q
      GROUP BY GROUPING SETS ((nation, band), (nation))
      ORDER BY generalized, nation, band"""
  }

  // the queries Spark and DuckDB run as one statement (QueryModule.shared)
  private val shared = QueryModule.shared(Map(
    "profile_columns" -> ProfileSql,
    "validate_constraints" -> ValidateSql,
    "profile_fd" -> FdSql,
    "profile_benford" -> BenfordSql
  ))

  val queries: Map[String, Q] = shared.queries ++ Map(
    "privacy_kanonymity" -> Tables.sql(privacySql(spark = true)),
    "profile_skew" -> Tables.sql(skewSql(spark = true))
  )

  val oracle: Map[String, String] = shared.oracle ++ Map(
    "privacy_kanonymity" -> privacySql(spark = false),
    "profile_skew" -> skewSql(spark = false)
  )
}
