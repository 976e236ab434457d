package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Core relational surface: scan/filter/project, every join type, union,
  * sort/distribute/cluster, limit/top-k, subquery predicates.
  *
  * Mirrors the reference operator inventory (SURVEY.md §2.1 rows 1-11 —
  * Hive `TableScanOperator`/`FilterOperator`/`SelectOperator`/
  * `JoinOperator`/`MapJoinOperator`/`LimitOperator`/`UnionOperator`,
  * `ql/src/java/org/apache/hadoop/hive/ql/exec/`), re-expressed as
  * declarative Spark SQL / DataFrame plans so Catalyst handles pushdown,
  * join strategy (broadcast vs SMJ), and AQE skew/coalesce at scale.
  *
  * Determinism conventions (FIXTURES.md §3): every query ends in a total
  * ORDER BY; money aggregates go through DECIMAL so sums are exact and
  * order-independent (double sums are not associative — at 100 TB the
  * reduction tree shape is nondeterministic).
  */
object Relational {

  private type Q = (SparkSession, String) => DataFrame

  /** One leg of a Hive UNIQUE JOIN: a relation, its key column, and
    * whether it is marked PRESERVE. Caller guarantees column names are
    * distinct across legs (Hive's per-alias projections do the same). */
  case class UniqueJoinLeg(df: DataFrame, key: String, preserve: Boolean)

  /** Hive 1.2 UNIQUE JOIN (grammar `TOK_UNIQUEJOIN`,
    * ql/src/java/org/apache/hadoop/hive/ql/parse/FromClauseParser.g
    * uniqueJoinToken; `ql/plan/JoinDesc.UNIQUE_JOIN`; emit logic in
    * `ql/exec/CommonJoinOperator.checkAndGenObject`): N legs, each
    * keyed by one expression; for a given key value the cross product
    * of the legs' rows — null-filled where a leg lacks the key — is
    * emitted IFF at least one leg marked PRESERVE has the key.
    *
    * Spark-first composition, not a custom operator: the standard
    * N-way full-outer chain (`coalesce(previous keys) = next key`),
    * then the PRESERVE test read off a per-leg literal presence
    * marker projected onto each leg before the join — non-null in the
    * join output exactly when that leg contributed a row — so the
    * filter adds NO extra join or shuffle (the marker is a projection,
    * not a key). At scale this is one hash partitioning on the key
    * reused across all N-1 SortMergeJoins (Catalyst sees the coalesce
    * key as co-partitioned with the previous join's output).
    *
    * NULL-key rows: SQL equality never matches NULL, so a null-keyed
    * row joins to nothing — and Hive's reduce-side outer machinery
    * (CommonJoinOperator.checkAndGenObject) still EMITS such a row of
    * a PRESERVE leg, null-padded. The presence marker (not key
    * nullness) is what makes that work here: a preserved leg's
    * null-key row carries its marker and passes the filter, while a
    * non-preserved leg's null-key row matches no preserved marker and
    * is dropped. Pinned in UniqueJoinAndVirtualColumnSpec. */
  def uniqueJoin(legs: Seq[UniqueJoinLeg]): DataFrame = {
    require(legs.size >= 2, "UNIQUE JOIN needs at least two legs")
    require(legs.exists(_.preserve),
      "UNIQUE JOIN with no PRESERVE leg emits nothing — mark at least one")
    val markers = legs.indices.map(i => s"__uj_present_$i")
    val marked = legs.zip(markers).map { case (l, m) =>
      l.copy(df = l.df.withColumn(m, lit(1)))
    }
    val joined = marked.tail.foldLeft((marked.head.df, Seq(marked.head.key))) {
      case ((acc, prevKeys), leg) =>
        val cond = coalesce(prevKeys.map(col): _*) === col(leg.key)
        (acc.join(leg.df, cond, "full_outer"), prevKeys :+ leg.key)
    }._1
    val presence = marked.zip(markers)
      .collect { case (l, m) if l.preserve => col(m).isNotNull }
    joined.where(presence.reduce(_ || _)).drop(markers: _*)
  }

  // Point-in-time (PIT) dimension join — the fact-to-SCD2 lookup every
  // temporal warehouse runs: each order joins to the dimension row
  // VALID AT its order date (valid_from <= d < valid_to, open-ended
  // current rows via IS NULL). The dimension is Scd2Sql's own output
  // (structural reuse — the same rows scd2_apply verifies). The Spark
  // side MATERIALIZES the dimension once (a persisted view — the
  // production shape: an SCD2 dimension is a maintained table, not a
  // per-query derivation) and broadcasts it, so the interval predicate
  // rides as a residual on the key equi-join — one map-side join,
  // never a range shuffle and never a dimension rebuild per fact scan.
  // The oracle nests the same dimension text as a derived table (DuckDB
  // has no session views in the driver's one-statement protocol).
  // Aggregated to per-version classes so the result is small and exact
  // (cents sums in DECIMAL).
  private def pitJoinSql(dimRel: String, hint: String): String = s"""
      SELECT $hint d.is_current, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
             CAST(SUM(CAST(CAST(ROUND(d.acctbal * 100) AS BIGINT)
                           AS DECIMAL(18, 0))) AS BIGINT) AS balance_cents
      FROM orders o JOIN $dimRel d
        ON o.o_custkey = d.c_custkey
       AND CAST(o.o_orderdate AS DATE) >= d.valid_from
       AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < d.valid_to)
      GROUP BY d.is_current
      ORDER BY d.is_current"""

  private lazy val PitScd2Sql = pitJoinSql(s"($Scd2Sql)", "")

  // TPC-H Q3/Q5/Q10 shapes (adapted to the synthetic schema/date range)
  // — the canonical multi-join + money-aggregate benchmark slices every
  // Hive deployment runs. One SQL text serves both engines: revenue
  // sums go through DECIMAL per q1's discipline (double products are
  // deterministic per row; the decimal SUM is exact and
  // order-independent), so no tolerance anywhere. Plan shape at scale:
  // dims broadcast, fact scans keep pushed filters, one agg shuffle.
  // SCD2 text — one spelling for both engines. The change set is
  // deterministic (key-derived predicate), its effective date comes
  // from data (the customer's latest order), and a changed customer
  // contributes exactly two rows: the closed history row and the open
  // current one. +100.0 on a dollar-scale double is exact.
  // Bag-semantics set operations. Both engines implement INTERSECT ALL /
  // EXCEPT ALL as a per-value counted aggregate (Spark: replicate-rows
  // over min/diff of the two counts), so the only shuffle is the value
  // key itself — scale is that of a groupBy on the column, not of the
  // row multiset. The outer GROUP BY compacts the replicated rows back
  // to (value, multiplicity) so the result is small and totally ordered.
  private val IntersectAllSql = """
      SELECT nk, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT ALL
        SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'MACHINERY'
      ) t GROUP BY nk ORDER BY nk"""

  private val ExceptAllSql = """
      SELECT nk, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT ALL
        SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'MACHINERY'
      ) t GROUP BY nk ORDER BY nk"""

  // SQL:1999 LATERAL derived table (Spark 3.2+ lateral join; identical
  // text runs in DuckDB): the inner subquery re-evaluates per outer row
  // with a correlated predicate. Catalyst decorrelates it into a plain
  // aggregate + join — at 100 TB this is one hash aggregate on the
  // correlation key plus a broadcast/shuffle join, never a per-row
  // re-execution. COUNT/MAX keep every value exact.
  private val LateralSql = """
      SELECT n_name, n_cust, max_bal
      FROM nation n, LATERAL (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
               MAX(c_acctbal) AS max_bal
        FROM customer c WHERE c.c_nationkey = n.n_nationkey
      ) x
      ORDER BY n_name"""

  // Snapshot reconciliation (table diff) — the nightly "what changed
  // between yesterday's and today's extract" audit: FULL OUTER join on
  // the key classifies every row added / removed / changed / unchanged
  // and counts which columns drove each change. The "new" snapshot is
  // a deterministic mutation of customer (balance bump on key%7,
  // segment flip on key%11, key%13 deleted, key%17 cloned as inserts)
  // so both verdict polarities and all four classes appear. At 100 TB
  // this is ONE key shuffle (or a shuffle-free SMB join when both
  // snapshots are bucketed on the key); +100.0 on a dollar double is
  // exact, so the change predicates are deterministic.
  private val DiffSnapshotSql = """
      WITH newv AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS bal,
               CASE WHEN c_custkey % 11 = 0 THEN 'AUTOMOBILE'
                    ELSE c_mktsegment END AS seg
        FROM customer WHERE c_custkey % 13 <> 0
        UNION ALL
        -- inserted keys are NEGATED clones: custkeys are positive at
        -- every scale factor, so -k can never collide with a real key
        -- (a fixed +1000000 offset would collide once custkeys pass
        -- 1e6 at larger SFs, silently double-counting 'added')
        SELECT -c_custkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 17 = 0
      ),
      d AS (
        SELECT CASE WHEN o.c_custkey IS NULL THEN 'added'
                    WHEN n.c_custkey IS NULL THEN 'removed'
                    WHEN o.c_acctbal <> n.bal OR o.c_mktsegment <> n.seg
                      THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
                     AND o.c_acctbal <> n.bal THEN 1 ELSE 0 END AS bal_chg,
               CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
                     AND o.c_mktsegment <> n.seg THEN 1 ELSE 0 END AS seg_chg
        FROM customer o FULL OUTER JOIN newv n ON o.c_custkey = n.c_custkey
      )
      SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(bal_chg) AS BIGINT) AS n_balance_changed,
             CAST(SUM(seg_chg) AS BIGINT) AS n_segment_changed
      FROM d GROUP BY change_type
      ORDER BY change_type"""

  private val Scd2Sql = """
      WITH eff AS (
        SELECT o_custkey, CAST(MAX(o_orderdate) AS DATE) AS eff_date
        FROM orders GROUP BY o_custkey
      ),
      chg AS (
        SELECT c_custkey, c_acctbal, eff_date
        FROM customer JOIN eff ON c_custkey = o_custkey
        WHERE c_custkey % 7 = 0
      )
      SELECT c_custkey, acctbal, valid_from, valid_to, is_current FROM (
        SELECT c_custkey, c_acctbal AS acctbal,
               DATE '1995-01-01' AS valid_from, eff_date AS valid_to,
               0 AS is_current
        FROM chg
        UNION ALL
        SELECT c_custkey, c_acctbal + 100.0, eff_date, CAST(NULL AS DATE), 1
        FROM chg
        UNION ALL
        SELECT c_custkey, c_acctbal, DATE '1995-01-01', CAST(NULL AS DATE), 1
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
      ) v
      ORDER BY c_custkey, is_current, valid_from"""

  private val Q3Sql = """
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             o_orderdate
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10"""

  private val Q5Sql = """
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""

  private val Q10Sql = """
      SELECT c_custkey, c_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             c_acctbal, n_name
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-04-01 00:00:00'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""

  // Q2 shape (min-cost supplier): correlated scalar MIN subquery in the
  // WHERE clause. Catalyst de-correlates it into an aggregate + join on
  // l_partkey, so at scale the "per-part minimum" is one shuffle over
  // the same key as the outer join — no nested-loop re-execution. The
  // unit-cost division is per-row IEEE double (deterministic), and MIN
  // over doubles is order-independent, so equality against the
  // subquery result is bit-stable in both engines. DISTINCT collapses
  // tied lineitems of the same (part, supplier), leaving
  // (unit_cost, p_partkey, s_suppkey) a unique sort key → LIMIT stable.
  private val Q2Sql = """
      SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
             l_extendedprice / l_quantity AS unit_cost
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
      WHERE p_size <= 3
        AND l_extendedprice / l_quantity = (
          SELECT MIN(l2.l_extendedprice / l2.l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      ORDER BY unit_cost, p_partkey, s_suppkey
      LIMIT 50"""

  // Q4 shape (order-priority checking): correlated EXISTS against the
  // fact with an inequality on a date offset (late shipment proxy for
  // commitdate < receiptdate). Catalyst plans a left-semi join on
  // l_orderkey with the date predicate as a join condition.
  private val Q4Sql = """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""

  // Q12 shape (shipping-mode class counts, adapted to o_orderpriority):
  // conditional COUNT(CASE ...) — COUNT not SUM so both engines emit
  // BIGINT (DuckDB SUM(int) widens to HUGEINT, which the compare
  // would flag as a dtype mismatch).
  private val Q12Sql = """
      SELECT l_returnflag,
             COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
             COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""

  // Q14 shape (promo revenue ratio): two exact DECIMAL sums (the CASE
  // branch types must match — ELSE is cast to the same DECIMAL(18,6))
  // divided once at the DOUBLE boundary. Single global aggregate; at
  // scale this is a map-side partial + 1-row final, no data motion
  // beyond the part join (broadcast-able dim).
  private val Q14Sql = """
      SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'"""

  // Q16 shape (supplier count by part attributes): NOT IN subquery
  // (null-free key side) + COUNT(DISTINCT) per group. The distinct
  // count expands to a two-phase aggregate; the anti-join side is a
  // 100-row broadcast.
  private val Q16Sql = """
      SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size IN (1, 14, 23, 45)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 100)
      GROUP BY p_brand, p_type
      ORDER BY supplier_cnt DESC, p_brand, p_type"""

  // Q19 shape (discounted revenue): disjunction of conjunctive
  // brand/size/quantity ranges. The OR-of-ANDs must still push the
  // common join key through; Catalyst extracts p_partkey = l_partkey
  // as the equi-condition and evaluates the disjunction post-join —
  // never a nested loop (gated in PlanQualitySpec).
  private val Q19Sql = """
      SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)"""

  // Q22 shape (global sales opportunity): scalar aggregate CTE joined
  // cross (1 row — broadcast), anti-join against recent orders, group
  // by a substring-derived code. The average goes through an exact
  // DECIMAL sum / COUNT at the double boundary so the threshold is
  // bit-identical in both engines.
  private val Q22Sql = """
      WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS ab
        FROM customer WHERE c_acctbal > 0)
      SELECT SUBSTR(c_name, 18, 1) AS cgroup,
             COUNT(*) AS numcust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      FROM customer, avg_bal
      WHERE c_acctbal > ab
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
      GROUP BY SUBSTR(c_name, 18, 1)
      ORDER BY cgroup"""

  // Q6 (forecast revenue change): the pure scan-filter-aggregate —
  // pushdown carries all three predicates to the parquet scan.
  private val Q6Sql = """
      SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""

  // Q7 (volume shipping between nation pairs): double nation join
  // (supplier's and customer's), symmetric pair disjunction, per-year
  // grouping. YEAR() parses identically in both engines.
  private val Q7Sql = """
      SELECT supp_nation, cust_nation, l_year,
             CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               YEAR(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                      JOIN orders ON o_orderkey = l_orderkey
                      JOIN customer ON c_custkey = o_custkey
                      JOIN nation n1 ON s_nationkey = n1.n_nationkey
                      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_0' AND n2.n_name = 'NATION_1')
            OR (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_0'))
      ) shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year"""

  // Q8 (market share): conditional share of a ratio per year — both
  // sums exact DECIMAL, one double division at the boundary.
  private val Q8Sql = """
      SELECT o_year,
             CAST(CAST(SUM(CASE WHEN nation = 'NATION_2'
                       THEN CAST(volume AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS DOUBLE) AS mkt_share
      FROM (
        SELECT YEAR(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM part JOIN lineitem ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation n1 ON c_nationkey = n1.n_nationkey
                  JOIN region ON n1.n_regionkey = r_regionkey
                  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      ) all_nations
      GROUP BY o_year
      ORDER BY o_year"""

  // Q9 (product-type profit, p_retailprice·qty·0.5 standing in for the
  // absent ps_supplycost): per-row profit is one fixed IEEE sequence,
  // the sum exact DECIMAL.
  private val Q9Sql = """
      SELECT nation, o_year,
             CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
      FROM (
        SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.5 AS amount
        FROM part JOIN lineitem ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%anvil%'
      ) profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC"""

  // Q11 (important stock, lineitem value standing in for partsupp):
  // HAVING against a scalar-subquery fraction of the global total.
  private val Q11Sql = """
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS part_value
      FROM lineitem
      GROUP BY l_partkey
      HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) >
             (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) * 0.0007
              FROM lineitem)
      ORDER BY part_value DESC, l_partkey"""

  // Q13 (customer order-count distribution): LEFT JOIN with an extra
  // join-side predicate, two stacked aggregations.
  private val Q13Sql = """
      SELECT c_count, COUNT(*) AS custdist
      FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
      ) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""

  // Q15 (top supplier): CTE reused by the body and by the MAX scalar
  // subquery — revenue values are exact-DECIMAL-derived doubles, so
  // the = comparison is safe cross-engine.
  private val Q15Sql = """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey
      )
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      ORDER BY s_suppkey"""

  // Q17 (small-quantity revenue): correlated scalar AVG per part — the
  // average goes through an exact DECIMAL sum / COUNT so the 0.5×avg
  // threshold is bit-identical in both engines.
  private val Q17Sql = """
      SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
             COUNT(*) AS n_items
      FROM lineitem l1 JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#23'
        AND l_quantity < (
          SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
          FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)"""

  // Q20 (excess stock): IN against a grouped-HAVING subquery.
  private val Q20Sql = """
      SELECT s_suppkey, s_name FROM supplier
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%anvil%'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 400)
      ORDER BY s_suppkey"""

  // Q21 (suppliers who kept orders waiting): the EXISTS + NOT EXISTS
  // double correlation on the same fact — the only-late-supplier-on-a
  // -multi-supplier-order shape (late = shipped > 80 days after the
  // order date, the Q4 proxy).
  private val Q21Sql = """
      SELECT s_name, COUNT(*) AS numwait
      FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                    JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 80 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 80 DAY)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 20"""

  // Q18 (large-volume customer): the HAVING-subquery shape — the inner
  // aggregate runs once, broadcasts its (small) qualifying key set into
  // a semi join against the fact, and the outer aggregate reuses the
  // same grouping.
  private val Q18Sql = """
      SELECT c_custkey, c_name, o_orderkey, o_orderdate,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300)
      GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
      ORDER BY total_qty DESC, o_orderkey
      LIMIT 20"""

  // the queries Spark and DuckDB run as one statement (QueryModule.shared)
  private val shared = QueryModule.shared(Map(
    "q3_shipping_priority" -> Q3Sql,
    "q5_local_supplier" -> Q5Sql,
    "q10_returned_items" -> Q10Sql,
    "q18_large_volume" -> Q18Sql,
    "q2_min_cost_supplier" -> Q2Sql,
    "q4_order_priority" -> Q4Sql,
    "q12_priority_class" -> Q12Sql,
    "q14_promo_revenue" -> Q14Sql,
    "q16_supplier_cnt" -> Q16Sql,
    "q19_disjunct_revenue" -> Q19Sql,
    "q22_inactive_customers" -> Q22Sql,
    "q6_forecast_revenue" -> Q6Sql,
    "q7_nation_volume" -> Q7Sql,
    "q8_market_share" -> Q8Sql,
    "q9_product_profit" -> Q9Sql,
    "q11_important_stock" -> Q11Sql,
    "q13_order_distribution" -> Q13Sql,
    "q15_top_supplier" -> Q15Sql,
    "q17_small_qty_revenue" -> Q17Sql,
    "q20_excess_stock" -> Q20Sql,
    "q21_waiting_suppliers" -> Q21Sql,

    // Slowly-changing-dimension Type 2 apply (Kimball's SCD2 — the
    // INSERT OVERWRITE idiom every Hive warehouse runs for dimension
    // history): a change batch (here: customers with a key-derived
    // predicate, effective at their latest order date) closes the
    // current row (valid_to = effective date, is_current = 0) and
    // opens the new version; untouched customers keep their open row.
    // Pure projection + union + one broadcast-size join on the change
    // keys — at 100 TB the rewrite touches the dimension, never the
    // fact, and the output is the bitemporal table as-of joins consume.
    "scd2_apply" -> Scd2Sql,

    // Relational division (Codd's ÷ — "FOR ALL" as SQL): customers
    // whose orders span EVERY priority class that exists. The division
    // compiles to one distinct-count aggregate against a 1-row scalar
    // subquery — no correlated NOT EXISTS double negation, which would
    // plan as a nested anti-join per candidate. Divisor cardinality is
    // a broadcast scalar; the dividend aggregate is one shuffle on the
    // customer key at any scale.
    "join_division" -> """
      SELECT c_custkey, c_name
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_name
      HAVING COUNT(DISTINCT o_orderpriority) =
             (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
      ORDER BY c_custkey""",

    // TPC-H Q1 shape — the flagship end-to-end slice (scan → filter →
    // partial/final hash agg → sort). Hive: GroupByOperator modes
    // HASH→MERGEPARTIAL (QL/exec/GroupByOperator.java:733).
    "q1_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             -- money sums on the exact integer grid (ROUND(x*10^s) ->
             -- BIGINT -> DECIMAL): CAST(double AS DECIMAL) rounds through
             -- DIFFERENT paths in the two engines (Spark RoundBase goes
             -- via BigDecimal.decimal, i.e. the SHORTEST-representation
             -- decimal of the double per Double.toString, then HALF_UP;
             -- DuckDB: scaled multiply + rint), measured at sf1 as a
             -- 4 micro-unit drift over 600k rows in sum_charge.
             -- Only INTEGER-scale ROUND is boundary-safe (no x.5 decimal
             -- can lie inside a non-tie double's shortest-repr interval);
             -- fractional-scale ROUND on doubles stays engine-divergent.
             -- ROUND here sees the bit-identical product double in both
             -- engines, so the grid value is exact.
             CAST(SUM(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS DECIMAL(18,0))) AS DOUBLE) / 100 AS sum_qty,
             CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))) AS DOUBLE) / 100 AS sum_base_price,
             CAST(SUM(CAST(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT) AS DECIMAL(18,0))) AS DOUBLE) / 1000000 AS sum_disc_price,
             CAST(SUM(CAST(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT) AS DECIMAL(18,0))) AS DOUBLE) / 1000000 AS sum_charge,
             CAST(CAST(SUM(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS DECIMAL(18,0))) AS DOUBLE) / 100 / COUNT(*) AS DOUBLE) AS avg_qty,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    // Filter + projection pushed into the parquet scan (PushedFilters /
    // ReadSchema in .explain). Hive: FilterOperator + SelectOperator.
    "scan_filter_project" -> """
      SELECT l_orderkey, l_linenumber, l_quantity,
             l_extendedprice * (1 - l_discount) AS net_price
      FROM lineitem
      WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1996-03-31 00:00:00'
        AND l_quantity < 5
      ORDER BY l_orderkey, l_linenumber""",

    // Shuffle equi-join (SortMergeJoinExec at scale; Hive reduce-side
    // JoinOperator, QL/exec/JoinOperator.java).
    "join_inner" -> """
      SELECT o_orderkey, o_totalprice, c_name
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > 490000
      ORDER BY o_orderkey""",

    "join_left_outer" -> """
      SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus = 'F'
      GROUP BY c_custkey, c_name
      ORDER BY c_custkey""",

    "join_right_outer" -> """
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey
      ORDER BY c_custkey""",

    // FULL OUTER over two pre-aggregated sides — exercises null-producing
    // both-side join. COALESCE gives a non-null sort key.
    "join_full_outer" -> """
      SELECT COALESCE(c.nk, s.nk) AS nationkey,
             COALESCE(c.n_cust, 0) AS n_cust,
             COALESCE(s.n_supp, 0) AS n_supp
      FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
      FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
        ON c.nk = s.nk
      ORDER BY nationkey""",

    "join_cross" -> """
      SELECT r1.r_name AS r1_name, r2.r_name AS r2_name
      FROM region r1 CROSS JOIN region r2
      ORDER BY r1_name, r2_name""",

    // TPC-H Q3 shape: 3-way join + agg + top-k.
    "join_multiway_topk" -> """
      SELECT o_orderkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             CAST(o_orderdate AS DATE) AS odate
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey
      LIMIT 10""",

    "union_all" -> """
      SELECT pri, COUNT(*) AS cnt FROM (
        SELECT o_orderpriority AS pri FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderpriority AS pri FROM orders WHERE o_totalprice > 300000
      ) u GROUP BY pri ORDER BY pri""",

    "union_distinct" -> """
      SELECT nk FROM (
        SELECT c_nationkey AS nk FROM customer
        UNION
        SELECT s_nationkey AS nk FROM supplier
      ) u ORDER BY nk""",

    // INTERSECT / EXCEPT (Hive 2.3 set-operation surface, rewritten by
    // both engines to distinct semi/anti joins — never a sort-based
    // set-difference pass; same shuffle key as the UNION DISTINCT).
    "set_intersect" -> """
      SELECT nk FROM (
        SELECT c_nationkey AS nk FROM customer
        INTERSECT
        SELECT s_nationkey AS nk FROM supplier
      ) t ORDER BY nk""",

    "set_except" -> """
      SELECT ck FROM (
        SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 400000
        EXCEPT
        SELECT c_custkey AS ck FROM customer WHERE c_mktsegment = 'BUILDING'
      ) t ORDER BY ck""",

    // Bag-semantics set ops (SQL:1999 INTERSECT ALL / EXCEPT ALL):
    // multiplicity min / difference per value. Both engines rewrite to
    // a counted aggregate + generate, so the shuffle stays on the value
    // key — no row-pair matching. Multiset of nation keys per segment:
    // how many BUILDING customers per nation survive pairing with a
    // MACHINERY customer of the same nation, and the excess.
    "set_intersect_all" -> IntersectAllSql,
    "set_except_all" -> ExceptAllSql,
    "join_lateral" -> LateralSql,
    "diff_snapshot" -> DiffSnapshotSql,

    // Uncorrelated IN subquery (Hive TOK_SUBQUERY_EXPR → semi-join
    // rewrite, SemanticAnalyzer.genPlanForSubQueryPredicate).
    "subquery_in" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        AND o_totalprice > 450000
      ORDER BY o_orderkey""",

    // NOT IN with a null in the subquery: three-valued logic → empty
    // result. Both engines must agree (SURVEY.md §7.3 trap #1).
    "subquery_not_in_null" -> """
      SELECT p_partkey FROM part
      WHERE p_partkey NOT IN (SELECT NULLIF(l_partkey, 1) FROM lineitem)
      ORDER BY p_partkey""",

    "subquery_not_in" -> """
      SELECT s_suppkey, s_name FROM supplier
      WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_orderkey < 50)
      ORDER BY s_suppkey""",

    // Correlated EXISTS.
    "subquery_exists" -> """
      SELECT c_custkey, c_name
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 480000)
      ORDER BY c_custkey""",

    // Scalar subquery (exact: MAX — no float-accumulation drift).
    "subquery_scalar" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * 0.97
      ORDER BY o_orderkey""",

    "distinct_project" -> """
      SELECT DISTINCT c_mktsegment, c_nationkey
      FROM customer
      ORDER BY c_mktsegment, c_nationkey""",

    // ORDER BY ... LIMIT → TakeOrderedAndProjectExec (Hive: TopN hash in
    // ReduceSinkOperator via LimitPushdownOptimizer).
    "topk" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10""",

    "limit_offset" -> """
      SELECT o_orderkey, o_custkey
      FROM orders
      ORDER BY o_orderkey
      LIMIT 20 OFFSET 10""",

    // Hive's MAPJOIN hint spelling — Spark honors it as a broadcast hint.
    "join_mapjoin_hint" -> """
      SELECT /*+ MAPJOIN(n) */ n_name, COUNT(*) AS n_supp
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n_name
      ORDER BY n_name""",

    // Multi-column global sort with explicit null placement (Spark's
    // default NULLS FIRST on ASC differs from DuckDB's NULLS LAST —
    // always explicit; SURVEY.md §7.3).
    "sort_order_by_nulls" -> """
      SELECT s_suppkey, NULLIF(s_acctbal, 0) AS bal
      FROM supplier
      ORDER BY bal DESC NULLS LAST, s_suppkey"""
  ))

  val queries: Map[String, Q] = shared.queries ++ Map(

    // Hive's null-safe equality join (`<=>`, GenericUDFOPEqualNS —
    // §2.1#6): NULL keys MATCH null keys, where `=` silently drops
    // them. Crucially still an EQUI join — Catalyst keeps
    // SortMergeJoin/hash with null-aware key comparison, never a
    // nested loop (gated). Keys are nullified in-query (region 2 →
    // NULL) so the null-match block is actually exercised.
    "join_null_safe" -> Tables.sql("""
      SELECT a.n_nationkey AS a_key, b.n_nationkey AS b_key
      FROM (SELECT n_nationkey, NULLIF(n_regionkey, 2) AS rk FROM nation) a
      JOIN (SELECT n_nationkey, NULLIF(n_regionkey, 2) AS rk FROM nation) b
        ON a.rk <=> b.rk
      ORDER BY a_key, b_key"""),

    // Hive UNIQUE JOIN (`FROM UNIQUEJOIN PRESERVE a (a.k), b (b.k),
    // PRESERVE c (c.k)`) — see uniqueJoin's Scaladoc. Legs chosen so
    // every semantic branch is hit at sf0.01: BUILDING customers
    // without orders (preserved-only key → b/c null-filled),
    // non-BUILDING customers with orders but no big order
    // (non-preserved-only key → dropped), and big spenders outside
    // BUILDING (re-added by the preserved c leg).
    "join_unique" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      val a = spark.table("customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k_cust"), col("c_name"))
      val b = spark.table("orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .select(col("o_custkey").as("k_ord"), col("n_orders"))
      val c = spark.table("orders").where(col("o_totalprice") > 150000)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
        .select(col("o_custkey").as("k_big"), col("n_big"))
      uniqueJoin(Seq(
          UniqueJoinLeg(a, "k_cust", preserve = true),
          UniqueJoinLeg(b, "k_ord", preserve = false),
          UniqueJoinLeg(c, "k_big", preserve = true)))
        .select(col("k_cust"), col("k_ord"), col("k_big"),
          col("c_name"), col("n_orders"), col("n_big"))
        .orderBy(coalesce(col("k_cust"), col("k_ord"), col("k_big")))
    }),

    // BLOCK__OFFSET__INSIDE__FILE analog (`ql/metadata/VirtualColumn
    // .java` BLOCKOFFSET; its one real use is stable row addressing
    // within a file): Spark 4's file-source metadata column
    // `_metadata.row_index` plus `input_file_name()` — same contract,
    // (file, offset) uniquely addresses a row and survives re-reads.
    // The oracle reads the SAME physical files via DuckDB's
    // file_row_number — an independent reader of the real per-file
    // layout, valid on single-file and multi-part fixtures alike.
    "scan_block_offset" -> ((spark, sfDir) => {
      Tables.parquet(spark, s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          regexp_extract(input_file_name(), "[^/]+$", 0).as("fname"),
          col("_metadata.row_index").as("block_offset"))
        .where(col("doc_id") % 7 === 3)
        .orderBy(col("doc_id"))
    }),

    // The skew-salting JOIN pattern (brief: "salting for skew"): the
    // fact side carries a deterministic salt (key-derived, 8 buckets),
    // the dim side replicates ×8 via explode(sequence), and the join
    // key becomes (s_suppkey, salt) — a hot supplier's rows spread
    // over 8 reducers instead of one. The merge hint forces the
    // shuffle plan the technique exists for (broadcast would make
    // salting moot — at real scale the dim exceeds the broadcast
    // threshold). Result is identical to the unsalted join by
    // construction, which is exactly what the oracle checks.
    "join_skew_salted" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      val li = spark.table("lineitem")
        .withColumn("salt", pmod(col("l_orderkey") * lit(31) + col("l_linenumber"), lit(8)))
      val supp = spark.table("supplier")
        .withColumn("salt", explode(sequence(lit(0), lit(7))))
        .hint("merge")
      li.join(supp, li("l_suppkey") === supp("s_suppkey") && li("salt") === supp("salt"))
        .groupBy(col("s_name"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"))
        .orderBy(col("s_name"))
    }),

    // Bloom-prefiltered join — Hive 2.x's bloom_filter/in_bloom_filter
    // runtime semi-join reduction (SURVEY §2.5 [2.x],
    // GenericUDAFBloomFilter; the same design as Spark's own
    // InjectRuntimeFilter): the dim side's filtered keys aggregate to
    // ONE bounded bloom sketch (graft.functions.BloomFilterAgg), the
    // sketch broadcasts as a single row, and the codegen'd
    // IN_BLOOM_FILTER prefilter drops most non-qualifying fact rows
    // BEFORE the join shuffle. No false negatives by construction, so
    // the exact join downstream removes only false positives and the
    // result equals the plain join — exactly what the oracle checks.
    // At 100 TB this is the difference between shuffling the full fact
    // table and shuffling ~the matching fraction of it.
    "join_bloom_prefilter" -> Tables.sql("""
        SELECT l.l_returnflag, COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM (
          SELECT l_orderkey, l_returnflag, l_extendedprice
          FROM lineitem
          CROSS JOIN (SELECT BLOOM_FILTER(CAST(o_orderkey AS STRING), 65536, 3) AS bf
                      FROM orders WHERE o_orderpriority = '1-URGENT') b
          WHERE IN_BLOOM_FILTER(b.bf, CAST(l_orderkey AS STRING))
        ) l
        JOIN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') o
          ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag"""),

    // Hive LEFT SEMI JOIN (JoinDesc.LEFT_SEMI_JOIN) — Spark left_semi.
    "join_left_semi" -> Tables.sql("""
      SELECT c_custkey, c_name
      FROM customer LEFT SEMI JOIN orders
        ON c_custkey = o_custkey AND o_totalprice > 400000
      ORDER BY c_custkey"""),

    // NOT EXISTS — Spark left_anti.
    "join_left_anti" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      val cust = spark.table("customer")
      val ords = spark.table("orders").where(col("o_totalprice") > 495000)
      cust.join(ords, cust("c_custkey") === ords("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Star join: fact × 3 small dims. DataFrame API with explicit
    // broadcast() hints — at 100 TB the dims stay broadcast
    // (BroadcastHashJoinExec), the fact table never shuffles for the
    // join, and only the final 1-row-per-nation agg exchanges.
    // Hive: MapJoinOperator (QL/exec/MapJoinOperator.java:368).
    "join_broadcast_star" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      val li = spark.table("lineitem")
      val sup = spark.table("supplier")
      val nat = spark.table("nation")
      val reg = spark.table("region").where(col("r_name") === "ASIA")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),
    "join_pit_scd2" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      // materialize-once: build the SCD2 dimension a single time,
      // persist it, and broadcast it into the fact join (dimension
      // cardinality ~ |customer| versions — broadcast-sized at any
      // fact scale; the fact side never shuffles)
      val dim = spark.sql(Scd2Sql).persist()
      dim.count() // settle the persisted rows before the broadcast plan
      dim.createOrReplaceTempView("pit_scd2_dim")
      spark.sql(pitJoinSql("pit_scd2_dim", "/*+ BROADCAST(d) */"))
    }),

    // DISTRIBUTE BY + SORT BY (Hive ReduceSinkOperator partition/order
    // keys) = repartition + sortWithinPartitions. Final global orderBy
    // makes the result comparable; the exchange still exercises the
    // cluster-by path.
    "sort_cluster_by" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      spark.table("lineitem")
        .where(col("l_quantity") >= 49)
        .repartition(col("l_suppkey"))
        .sortWithinPartitions(col("l_suppkey"), col("l_orderkey"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    // Z-order (Morton) clustering key — the layout operator behind
    // multidimensional data-skipping (Hive users approximate with
    // DISTRIBUTE BY on one key; Delta/Iceberg OPTIMIZE ZORDER BY is the
    // modern form). Two 16-bit dimensions (customer, order day) bit-
    // interleave via the magic-number spread — pure integer bitwise
    // expressions, whole-stage codegen, exact on both engines. The
    // head of the layout order comes back as TakeOrderedAndProject (no
    // global sort); a production write would repartitionByRange(zkey)
    // and sortWithinPartitions before the sink (gated in the spec).
    "sort_zorder" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      def spread(c: Column): Column = {
        val a = c.bitwiseAND(lit(65535L))
        val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(16711935L))
        val d = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(252645135L))
        val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(858993459L))
        e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(1431655765L))
      }
      spark.table("orders")
        .withColumn("zx", col("o_custkey").bitwiseAND(lit(65535L)))
        .withColumn("zy",
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
            .bitwiseAND(lit(65535L)))
        .withColumn("zkey",
          spread(col("zx")).bitwiseOR(shiftleft(spread(col("zy")), 1)))
        .select(col("o_orderkey"), col("zx"), col("zy"), col("zkey"))
        .orderBy(col("zkey"), col("o_orderkey"))
        .limit(200)
    }),

    // Custom physical operator (graft.plans.TopKPerKey): first-3 rows
    // per supplier by price — partial per-partition heaps cut the
    // shuffle to ≤3 rows per (partition, key); the window-function
    // formulation is the oracle.
    "topk_per_key" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      val li = spark.table("lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
      graft.plans.GraftOps.topKPerKey(li,
          Seq("l_suppkey"),
          Seq(("l_extendedprice", true), ("l_orderkey", false),
            ("l_linenumber", false)), 3)
        .orderBy(col("l_suppkey"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    }),

    // The Hive SQL-dialect forms — DISTRIBUTE BY + SORT BY parsed
    // natively by Spark SQL (Hive ReduceSinkOperator partition/order
    // split). Wrapped in a final ORDER BY for comparability.
    "sort_distribute_sql" -> Tables.sql("""
      SELECT l_suppkey, l_orderkey, l_quantity FROM (
        SELECT l_suppkey, l_orderkey, l_quantity
        FROM lineitem
        WHERE l_quantity >= 48
        DISTRIBUTE BY l_suppkey SORT BY l_suppkey, l_orderkey
      ) t
      ORDER BY l_suppkey, l_orderkey, l_quantity"""),

    // CLUSTER BY = DISTRIBUTE BY + SORT BY on the same columns (Hive
    // shorthand, parsed natively).
    "sort_cluster_by_sql" -> Tables.sql("""
      SELECT s_nationkey, s_suppkey FROM (
        SELECT s_nationkey, s_suppkey FROM supplier CLUSTER BY s_nationkey
      ) t
      ORDER BY s_nationkey, s_suppkey"""),

    // SMB join over bucketed+sorted tables (Hive
    // SortedMergeBucketMapJoinOptimizer): both sides bucketed by the join
    // key into the same bucket count, so the MERGE-hinted sort-merge join
    // reads co-located buckets with NO shuffle exchange (WritePathsSpec
    // pins the exchange-free plan). Results are bucketing-independent —
    // the oracle is the plain join on the raw tables.
    "join_bucketed_smb" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      import org.apache.spark.sql.functions.col
      // a previous JVM's managed-table directory can survive in a
      // persistent warehouse while the in-memory catalog forgot the
      // table — drop both the entry and any stale location first
      def recreate(name: String, df: org.apache.spark.sql.DataFrame,
                   bucketCol: String): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS graft_db.$name")
        val wh = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"))
        val loc = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(wh, "graft_db.db"), name)
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(loc, true)
        df.write.mode("overwrite")
          .bucketBy(8, bucketCol).sortBy(bucketCol)
          .saveAsTable(s"graft_db.$name")
      }
      recreate("lineitem_b",
        spark.table("lineitem").where(col("l_orderkey") <= 2000), "l_orderkey")
      recreate("orders_b",
        spark.table("orders").where(col("o_orderkey") <= 2000), "o_orderkey")
      spark.sql("""
        SELECT /*+ MERGE(l) */ o.o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM graft_db.lineitem_b l
        JOIN graft_db.orders_b o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
        ORDER BY status""")
    }),

    // Catalog-routed table lifecycle + ANALYZE (SURVEY §2.3
    // TOK_ANALYZE; Hive `QL/metadata/Hive.java` catalog writes): the
    // row registers a managed table in the session catalog — the REAL
    // Hive metastore in the verify harness (Verify builds the session
    // with enableHiveSupport over embedded Derby) — runs both ANALYZE
    // forms against it, and aggregates THROUGH the catalog table.
    // Equality with the raw-parquet oracle proves the catalog write
    // path round-trips values exactly; stats consumption itself is
    // pinned by MetastoreCatalogSpec (cross-JVM) and ExtensionsSpec.
    "catalog_metastore_stats" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      spark.table("supplier").write.mode("overwrite")
        .saveAsTable("graft_db.supplier_cat")
      spark.sql("ANALYZE TABLE graft_db.supplier_cat COMPUTE STATISTICS")
      spark.sql("""ANALYZE TABLE graft_db.supplier_cat COMPUTE STATISTICS
                   FOR COLUMNS s_suppkey, s_nationkey, s_acctbal""")
      spark.sql("""
        SELECT s_nationkey AS nation,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS sum_bal_cents,
               CAST(MIN(s_suppkey) AS BIGINT) AS min_supp,
               CAST(MAX(s_suppkey) AS BIGINT) AS max_supp
        FROM graft_db.supplier_cat
        GROUP BY s_nationkey
        ORDER BY nation""")
    }),

    // Catalog-partitioned scan with partition pruning (Hive
    // `ppr/PartitionPruner` against metastore partitions — SURVEY
    // §4.1): the table is REGISTERED with directory partitions in the
    // session catalog (the Hive metastore under Verify), and the
    // predicate on the partition column must prune at the CATALOG
    // level — the scan never lists the other partitions' files. At
    // 100 TB this is the single biggest lever there is: a day-
    // partitioned fact table answers a one-day query by reading one
    // directory. PlanQualitySpec pins PartitionCount = 1.
    "catalog_partition_pruned_scan" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      spark.table("orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").saveAsTable("graft_db.orders_part")
      spark.sql("""
        SELECT o_orderpriority AS priority,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM graft_db.orders_part
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY priority""")
    }),

    // Skyline / Pareto frontier (Börzsönyi et al. ICDE'01): orders not
    // dominated on (totalprice, orderdate) — "no other order is both
    // pricier and more recent". Spelled as the scale-safe two-level
    // prefix-max reduction: per-x maxima (hash agg), within-bucket
    // prefix max (window PARTITIONED by price bucket — parallel),
    // bucket-level prefix max (a ~12-row window), survivors join back
    // by (x, ymax). No window ever sees the unpartitioned fact table,
    // and nothing is O(n²) — the NOT EXISTS spelling would plan a
    // nested loop. Strict dominance: exact (x, y) duplicates both
    // survive. Oracle = the flat single-prefix formulation (different
    // decomposition, same math); brute-force NOT EXISTS pinned in
    // SemanticTrapsSpec at test scale.
    "skyline_orders" -> Tables.sql("""
      WITH pts AS (SELECT o_orderkey, o_totalprice AS x, o_orderdate AS y FROM orders),
      xm AS (SELECT x, CAST(FLOOR(x / 50000) AS BIGINT) AS b, MAX(y) AS ymax
             FROM pts GROUP BY x),
      wr AS (SELECT x, b, ymax,
               MAX(ymax) OVER (PARTITION BY b ORDER BY x DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS w_right
             FROM xm),
      bm AS (SELECT b, MAX(ymax) AS bymax FROM xm GROUP BY b),
      br AS (SELECT b, MAX(bymax) OVER (ORDER BY b DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_right
             FROM bm),
      sv AS (SELECT wr.x AS x, wr.ymax AS ymax FROM wr JOIN br ON wr.b = br.b
             WHERE (wr.w_right IS NULL OR wr.ymax > wr.w_right)
               AND (br.b_right IS NULL OR wr.ymax > br.b_right))
      SELECT p.o_orderkey, p.x AS o_totalprice, p.y AS o_orderdate
      FROM pts p JOIN sv ON p.x = sv.x AND p.y = sv.ymax
      ORDER BY o_totalprice DESC, o_orderkey""")
  )

  val oracle: Map[String, String] = shared.oracle ++ Map(

    // ANSI spelling of null-safe equality
    "join_null_safe" -> """
      SELECT a.n_nationkey AS a_key, b.n_nationkey AS b_key
      FROM (SELECT n_nationkey, NULLIF(n_regionkey, 2) AS rk FROM nation) a
      JOIN (SELECT n_nationkey, NULLIF(n_regionkey, 2) AS rk FROM nation) b
        ON a.rk IS NOT DISTINCT FROM b.rk
      ORDER BY a_key, b_key""",

    // UNIQUE JOIN reference semantics: N-way full outer on the key,
    // rows kept iff a PRESERVE'd leg is PRESENT — encoded with per-leg
    // TRUE markers (in_a/in_c), NOT key-nullness: uniqueJoin emits
    // preserved legs' NULL-KEY rows null-padded (the semantics
    // UniqueJoinAndVirtualColumnSpec pins), and a `k IS NOT NULL` filter would encode presence
    // only under a non-null-key fixture premise. Markers stay correct
    // either way: an absent leg's marker surfaces as NULL after the
    // full outer join, so `in_a OR in_c` is TRUE exactly when some
    // preserved leg contributed the row — including a preserved leg's
    // null-key row (marker TRUE, never joined).
    "join_unique" -> """
      WITH a AS (SELECT c_custkey AS k_cust, c_name, TRUE AS in_a
                 FROM customer WHERE c_mktsegment = 'BUILDING'),
           b AS (SELECT o_custkey AS k_ord, count(*) AS n_orders
                 FROM orders GROUP BY 1),
           c AS (SELECT o_custkey AS k_big, count(*) AS n_big, TRUE AS in_c
                 FROM orders WHERE o_totalprice > 150000 GROUP BY 1)
      SELECT k_cust, k_ord, k_big, c_name, n_orders, n_big
      FROM a
      FULL OUTER JOIN b ON a.k_cust = b.k_ord
      FULL OUTER JOIN c ON coalesce(a.k_cust, b.k_ord) = c.k_big
      WHERE in_a OR in_c
      ORDER BY coalesce(k_cust, k_ord, k_big)""",

    // Per-file oracle: DuckDB reads the SAME physical parquet files with
    // file_row_number/filename, so (fname, offset) is compared against
    // an independent reader of the real file layout — valid on ANY
    // fixture (single-file driver SFs AND multi-part ScaleGen dirs; the
    // rank-by-doc_id formulation would need a single-file premise).
    // __GRAFT_DOCUMENTS_PARQUET__
    // is resolved to the fixture's layout by Verify at dump time.
    "scan_block_offset" -> """
      SELECT doc_id, fname, block_offset
      FROM (SELECT doc_id,
                   regexp_extract(filename, '[^/]+$', 0) AS fname,
                   file_row_number AS block_offset
            FROM read_parquet('__GRAFT_DOCUMENTS_PARQUET__',
                              filename=true, file_row_number=true))
      WHERE doc_id % 7 = 3
      ORDER BY doc_id""",

    // the UNSALTED join — salting must be result-invariant
    "join_skew_salted" -> """
      SELECT s_name,
             COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name
      ORDER BY s_name""",

    // the PLAIN join — the bloom prefilter must be result-invariant
    // (no false negatives; false positives die at the exact join)
    "join_bloom_prefilter" -> """
      SELECT l_returnflag, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "join_left_semi" -> """
      SELECT c_custkey, c_name
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey""",

    "join_left_anti" -> """
      SELECT c_custkey, c_name
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 495000)
      ORDER BY c_custkey""",

    "join_broadcast_star" -> """
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name
      ORDER BY n_name""",
    "join_pit_scd2" -> PitScd2Sql,

    "sort_cluster_by" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber
      FROM lineitem
      WHERE l_quantity >= 49
      ORDER BY l_suppkey, l_orderkey, l_linenumber""",

    // flat single-prefix-max formulation — a different decomposition of
    // the same dominance math than the Spark side's bucketed two-level
    "skyline_orders" -> """
      WITH xmax AS (SELECT o_totalprice AS x, MAX(o_orderdate) AS ymax
                    FROM orders GROUP BY 1),
      x2 AS (SELECT x, ymax,
               MAX(ymax) OVER (ORDER BY x DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS yright
             FROM xmax)
      SELECT p.o_orderkey, p.o_totalprice, p.o_orderdate
      FROM orders p JOIN x2 ON p.o_totalprice = x2.x
      WHERE p.o_orderdate = x2.ymax AND (yright IS NULL OR p.o_orderdate > yright)
      ORDER BY o_totalprice DESC, o_orderkey""",

    "sort_distribute_sql" -> """
      SELECT l_suppkey, l_orderkey, l_quantity
      FROM lineitem
      WHERE l_quantity >= 48
      ORDER BY l_suppkey, l_orderkey, l_quantity""",

    "sort_cluster_by_sql" -> """
      SELECT s_nationkey, s_suppkey FROM supplier
      ORDER BY s_nationkey, s_suppkey""",

    // staged CTE spelling of the same magic-number Morton spread
    "sort_zorder" -> """
      WITH base AS (
        SELECT o_orderkey,
               CAST(o_custkey & 65535 AS BIGINT) AS zx,
               CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') & 65535
                    AS BIGINT) AS zy
        FROM orders
      ),
      s1 AS (SELECT o_orderkey, zx, zy,
               (zx | (zx << 8)) & 16711935 AS x1,
               (zy | (zy << 8)) & 16711935 AS y1 FROM base),
      s2 AS (SELECT o_orderkey, zx, zy,
               (x1 | (x1 << 4)) & 252645135 AS x2,
               (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
      s3 AS (SELECT o_orderkey, zx, zy,
               (x2 | (x2 << 2)) & 858993459 AS x3,
               (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
      s4 AS (SELECT o_orderkey, zx, zy,
               (x3 | (x3 << 1)) & 1431655765 AS x4,
               (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3)
      SELECT o_orderkey, zx, zy, x4 | (y4 << 1) AS zkey
      FROM s4
      ORDER BY zkey, o_orderkey
      LIMIT 200""",

    "join_bucketed_smb" -> """
      SELECT o.o_orderstatus AS status,
             COUNT(*) AS n,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_orderkey <= 2000
      GROUP BY o.o_orderstatus
      ORDER BY status""",

    "catalog_partition_pruned_scan" -> """
      SELECT o_orderpriority AS priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM orders
      WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority
      ORDER BY priority""",

    "catalog_metastore_stats" -> """
      SELECT s_nationkey AS nation,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS sum_bal_cents,
             CAST(MIN(s_suppkey) AS BIGINT) AS min_supp,
             CAST(MAX(s_suppkey) AS BIGINT) AS max_supp
      FROM supplier
      GROUP BY s_nationkey
      ORDER BY nation""",

    "topk_per_key" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        FROM lineitem) t
      WHERE rn <= 3
      ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber"""
  )
}
