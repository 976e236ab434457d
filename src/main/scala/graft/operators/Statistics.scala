package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{QueryModule, Tables}

/** Statistical analysis operators — the hypothesis-testing / model-fit
  * layer analysts run directly in SQL (Hive exposes the raw material
  * via its stats UDAFs, GenericUDAFVariance & friends; SURVEY.md §2.5):
  * per-group OLS regression, a chi-square independence test, and Gini
  * concentration. Each is a plain aggregate pipeline — no UDFs — so
  * Catalyst plans partial/final hash aggregates with map-side combine.
  *
  * Determinism discipline (the Clustering.scala rule): every SUM feeds
  * on exact integers (quantities rounded to units, prices to cents),
  * so the reduction is order-independent regardless of shuffle merge
  * order; the floating-point formula is then evaluated ONCE per group
  * on identical exact inputs, and IEEE-754 makes both engines produce
  * the same double bit-for-bit (ROUND 6dp is belt-and-braces). Sums
  * accumulate as BIGINT (Spark) / HUGEINT (DuckDB) — both exact — and
  * are cast to DOUBLE only at formula time, where correct rounding is
  * identical on both sides.
  *
  * 100 TB design: all three are single-shuffle shapes. Regression and
  * chi-square aggregate to O(groups)/O(cells) rows with bounded state
  * (five sums, a count). Gini needs a per-segment sort for ranks —
  * one range-partitioned window, the same cost class as any ranked
  * report, then collapses to O(segments) rows. No collect, no
  * cross-join, no per-row driver work.
  */
object Statistics {

  private type Q = (SparkSession, String) => DataFrame

  /** Per-nation OLS of extended price (whole dollars) on quantity over
    * the supplier's lineitems: slope/intercept/r² from the five exact
    * sufficient sums (n, Σx, Σy, Σx², Σy², Σxy). The sums stay within
    * BIGINT up to sf≫0.1 (x ≤ 50, y ≤ ~6e5 ⇒ Σy² ~ 1e16 at sf0.1);
    * the normal-equation products run in DOUBLE on both engines. */
  private val RegressionSql = """
      WITH pts AS (
        SELECT s_nationkey AS nk,
               CAST(ROUND(l_quantity) AS BIGINT)      AS x,
               CAST(ROUND(l_extendedprice) AS BIGINT) AS y
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      ),
      s AS (
        SELECT nk, COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE)     AS sx,
               CAST(SUM(y) AS DOUBLE)     AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM pts GROUP BY nk
      )
      SELECT CAST(nk AS BIGINT) AS nation, n,
             ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept,
             ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      FROM s ORDER BY nation"""

  /** Chi-square test of independence between order priority and order
    * status: the contingency table with expected counts and per-cell
    * contributions, plus the statistic itself. Marginals are window
    * sums of integer-valued doubles (exact); the total chi² uses the
    * quantized-sum trick — each contribution rounds to an exact 1e-6
    * integer before the window SUM, so the reduction is
    * order-independent and both engines agree to the last bit. */
  private val ChisqSql = """
      WITH cell AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               CAST(COUNT(*) AS DOUBLE) AS obs
        FROM orders GROUP BY o_orderpriority, o_orderstatus
      ),
      marg AS (
        SELECT pri, st, obs,
               SUM(obs) OVER (PARTITION BY pri) AS rt,
               SUM(obs) OVER (PARTITION BY st)  AS ct,
               SUM(obs) OVER ()                 AS nt
        FROM cell
      ),
      c AS (
        SELECT pri, st, obs, rt * ct / nt AS e,
               (obs - rt * ct / nt) * (obs - rt * ct / nt) / (rt * ct / nt) AS chi
        FROM marg
      )
      SELECT pri, st, CAST(obs AS BIGINT) AS obs,
             ROUND(e, 6) AS expected, ROUND(chi, 6) AS contrib,
             ROUND(CAST(SUM(CAST(ROUND(chi * 1000000) AS BIGINT)) OVER ()
                        AS DOUBLE) / 1000000, 6) AS chi2_total
      FROM c ORDER BY pri, st"""

  /** Gini concentration of customer revenue within each market
    * segment, via the rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ)
    * over revenues sorted ascending (ties broken by custkey so the
    * rank assignment is total and both engines agree). Revenue is in
    * exact cents; i·xᵢ stays within BIGINT far past sf0.1. */
  private val GiniSql = """
      WITH rev AS (
        SELECT c_custkey AS ck, c_mktsegment AS seg,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS r
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey, c_mktsegment
      ),
      ranked AS (
        SELECT seg, r,
               CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY r, ck)
                    AS BIGINT) AS i
        FROM rev
      ),
      s AS (
        SELECT seg, COUNT(*) AS n,
               CAST(SUM(r) AS DOUBLE)     AS t,
               -- rank×cents product sum crosses Long.Max at sf10
               -- (rank ≤ 3e5 × revenue-cents ~1.5e8 over 3e5 rows ≈
               -- 1.4e19): each product still
               -- fits BIGINT, the SUM runs in DECIMAL(38,0), exact in
               -- both engines, then one nearest-double conversion
               CAST(SUM(CAST(i * r AS DECIMAL(38,0))) AS DOUBLE) AS wi
        FROM ranked GROUP BY seg
      )
      SELECT seg, n, ROUND((2.0 * wi - (n + 1) * t) / (n * t), 6) AS gini
      FROM s ORDER BY seg"""

  /** Welch's unequal-variance t-test between every pair of order
    * priorities on order value (whole-dollar exact sums keep Σx²
    * within int64 past sf0.1 where cents overflow; 5 groups → 10
    * pairs). Group moments reduce once (n, Σx, Σx² per priority); the
    * t statistic and Welch–Satterthwaite df are per-pair double
    * formulas on exact inputs. The pair join is 5×5 driver-scale. */
  private val TTestSql = """
      WITH x AS (
        SELECT o_orderpriority AS pri,
               CAST(ROUND(o_totalprice) AS BIGINT) AS v
        FROM orders
      ),
      g AS (
        SELECT pri, COUNT(*) AS n,
               CAST(SUM(v) AS DOUBLE) AS s,
               -- v² sums run DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0)
               -- (the BIGINT Σv² measured ≈1.1e18 at sf80 — headed for
               -- the Long.Max cliff kruskal/gini hit a decade earlier;
               -- now exact to 1e38, ~sf7e21) and convert to DOUBLE via
               -- VARCHAR: DuckDB's direct int128→double cast is not
               -- correctly rounded while
               -- string→double is, in BOTH engines — below the old
               -- cliff this yields the bit-identical double the BIGINT
               -- cast produced, so small-SF results are unchanged
               CAST(CAST(SUM(CAST(v AS DECIMAL(19,0))
                             * CAST(v AS DECIMAL(19,0)))
                         AS STRING) AS DOUBLE) AS ss
        FROM x GROUP BY pri
      ),
      v AS (
        SELECT pri, n, s / n AS m, (ss - s * s / n) / (n - 1) AS var
        FROM g
      )
      SELECT a.pri AS pri_a, b.pri AS pri_b, a.n AS n_a, b.n AS n_b,
             ROUND(a.m - b.m, 2) AS mean_diff,
             ROUND((a.m - b.m) / SQRT(a.var / a.n + b.var / b.n), 6) AS t_stat,
             ROUND((a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n)
                   / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
                      + (b.var / b.n) * (b.var / b.n) / (b.n - 1)), 6) AS df
      FROM v a JOIN v b ON a.pri < b.pri
      ORDER BY pri_a, pri_b"""

  /** Mann–Whitney U (urgent vs low priority, order value): rank-based,
    * but computed on the VALUE DOMAIN, not by ranking rows (the
    * Quantiles discipline): the doubled mid-rank 2·rank + ties − 1 is
    * CONSTANT across a value's tie group — it equals 2·cb + c + 1
    * where cb = rows strictly below v and c = rows at v — so the rank
    * sum is Σ_v c₁(v)·(2·cb(v)+c(v)+1) over the value histogram. The
    * one unpartitioned cumulative window runs over distinct v (the
    * cents grid — bounded by the PRICE RANGE, not the corpus; the old
    * per-row RANK() was a corpus-scale single-task sort). Integer
    * arithmetic throughout, value-identical to the row-rank form. */
  private val MannWhitneySql = """
      WITH x AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      ),
      h AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM x GROUP BY v
      ),
      w AS (
        SELECT v, c, c1,
               SUM(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cb
        FROM h
      ),
      t AS (
        SELECT CAST(SUM(c1 * (2 * cb + c + 1)) AS DOUBLE) / 2 AS r1,
               CAST(SUM(c1) AS DOUBLE) AS n1,
               CAST(SUM(c - c1) AS DOUBLE) AS n2
        FROM w
      ),
      ties AS (
        SELECT CAST(SUM(c * c * c - c) AS DOUBLE) AS tc FROM h
      )
      SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_low,
             ROUND(r1 - n1 * (n1 + 1) / 2, 1) AS u_stat,
             ROUND((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2)
                   / SQRT(n1 * n2 / 12
                          * ((n1 + n2 + 1)
                             - tc / ((n1 + n2) * (n1 + n2 - 1)))), 6) AS z
      FROM t CROSS JOIN ties"""

  /** Spearman rank correlation per return flag (quantity vs price):
    * the Pearson formula over doubled mid-ranks (2·rank + ties − 1
    * stays integral under ties — the Mann–Whitney discipline), so the
    * rank sums reduce exactly and the rho formula is one double
    * expression per group. Two window ranks + one aggregate; scales
    * as any ranked report does. */
  private val SpearmanSql = """
      WITH x AS (
        SELECT l_returnflag AS rf,
               CAST(ROUND(l_quantity) AS BIGINT) AS a,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS b
        FROM lineitem
      ),
      r AS (
        SELECT rf,
               CAST(2 * RANK() OVER (PARTITION BY rf ORDER BY a)
                    + COUNT(*) OVER (PARTITION BY rf, a) - 1 AS BIGINT) AS ra,
               CAST(2 * RANK() OVER (PARTITION BY rf ORDER BY b)
                    + COUNT(*) OVER (PARTITION BY rf, b) - 1 AS BIGINT) AS rb
        FROM x
      ),
      s AS (
        -- rank-product sums go through DECIMAL: with doubled ranks
        -- ra,rb <= 2n, SUM(ra*ra) ~ 4n^3/3 crosses Long.Max at
        -- n ~ 1.3e6 rows per group (sf1 hit 1.06e19 at n = 2e6 --
        -- ANSI long overflow). The decimal sums are exact
        -- integers; the one CAST to DOUBLE at the end is the same
        -- correctly-rounded conversion in both engines.
        SELECT rf, COUNT(*) AS n,
               CAST(SUM(ra) AS DOUBLE) AS sa, CAST(SUM(rb) AS DOUBLE) AS sb,
               CAST(SUM(CAST(ra AS DECIMAL(19,0)) * ra) AS DOUBLE) AS saa,
               CAST(SUM(CAST(rb AS DECIMAL(19,0)) * rb) AS DOUBLE) AS sbb,
               CAST(SUM(CAST(ra AS DECIMAL(19,0)) * rb) AS DOUBLE) AS sab
        FROM r GROUP BY rf
      )
      SELECT rf, n,
             ROUND((n * sab - sa * sb)
                   / (SQRT(n * saa - sa * sa) * SQRT(n * sbb - sb * sb)),
                   6) AS spearman_rho
      FROM s ORDER BY rf"""

  /** Theil–Sen robust trend of one year's daily revenue: the median of
    * all pairwise slopes. Quadratic in SERIES length by construction
    * (the estimator itself is O(n²) pairs) — correct for day/month
    * scale series after the first reduce, never for row-scale input;
    * the one-year filter keeps that contract explicit. Slopes are
    * single IEEE divisions ROUNDed before ranking; the median picks
    * positions 2·rn ∈ {m, m+1, m+2} (parity selects the right rows)
    * so the result is a two-value MIN/MAX average — deterministic. */
  private def theilSenSql(spark: Boolean): String = {
    val day =
      if (spark) "DATEDIFF(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
      else "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INT)"
    s"""
      WITH d AS (
        SELECT $day AS d,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders
        WHERE YEAR(o_orderdate) = 1995
        GROUP BY 1
      ),
      p AS (
        SELECT ROUND(CAST(b.rev - a.rev AS DOUBLE) / (b.d - a.d), 9) AS slope,
               a.d AS i, b.d AS j
        FROM d a JOIN d b ON b.d > a.d
      ),
      rk AS (
        SELECT slope,
               CAST(ROW_NUMBER() OVER (ORDER BY slope, i, j) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM p
      )
      SELECT MAX(m) AS n_pairs,
             ROUND((MIN(CASE WHEN 2 * rn IN (m, m + 1, m + 2) THEN slope END)
                    + MAX(CASE WHEN 2 * rn IN (m, m + 1, m + 2) THEN slope END))
                   / 2 / 100, 4) AS ts_slope_per_day
      FROM rk"""
  }

  /** One-way ANOVA across order priorities (the omnibus companion of
    * the pairwise t-tests): within/between sums of squares from exact
    * whole-dollar integer sums. A magnitude audit put a BIGINT Σv²
    * total at ≈5.4e18 by ~sf20 (the kruskal/gini Long.Max
    * class, one decade out), so the square sums now run
    * DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) — exact to 1e38.
    * The cross-group Σsᵢ²/nᵢ term is the kruskal-style remainder-free
    * decomposition on the EXACT BIGINT group sum s (q = ⌊s/n⌋ = the
    * group mean in dollars, r = s − q·n < n):
    *   ⌊s²/n⌋ = q²·n + 2·q·r + ⌊r²/n⌋
    * q²·n runs DECIMAL(12,0)²×DECIMAL(12,0) (width 36; q ≈ mean order
    * price stays ~1.5e5 at EVERY sf, so the 1e12 cast bound never
    * binds); 2·q·r < 2·q·n is BIGINT-safe past sf1e6; ⌊r²/n⌋ < n.
    * WIDTH DISCIPLINE (found live at sf0.1): every decimal + or − must
    * keep max(p₁,p₂)+1 ≤ 38 in DUCKDB's algebra — past 38 DuckDB
    * silently falls back to DOUBLE (Spark merely caps the precision at
    * 38, staying exact at scale 0), and the one lost ulp surfaced as a
    * 0.5 mismatch on ss_within. Hence the 36-digit addend cast, the
    * 37-digit sst/sq, and the explicit 37-digit operands on sst − sq.
    * FLOOR-of-double pieces (q itself, r²/n) are
    * exact while the operand < 2^53 (q: s < 9e15 ⇒ ~sf4000; r²: r <
    * 9.4e7 ⇒ ~sf30) and past that remain DETERMINISTIC in both engines
    * (correctly-rounded IEEE mul/div on bit-identical operands), and
    * the term it perturbs is < n — 1e-10 of sq. DECIMAL(38,0)→DOUBLE
    * conversions route via VARCHAR (DuckDB's direct int128→double cast
    * is not correctly rounded). */
  private val AnovaSql = """
      WITH x AS (
        SELECT o_orderpriority AS pri,
               CAST(ROUND(o_totalprice) AS BIGINT) AS v
        FROM orders
      ),
      g AS (
        SELECT pri, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS ss
        FROM x GROUP BY pri
      ),
      gq AS (
        SELECT n, s, ss,
               CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT) AS q
        FROM g
      ),
      gd AS (SELECT n, s, ss, q, s - q * n AS r FROM gq),
      t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(s) AS BIGINT) AS st,
               CAST(SUM(ss) AS DECIMAL(37,0)) AS sst,
               -- q²n first factor DECIMAL(19): INT128 storage, real
               -- width algebra (the class-10 INT64 clamp would cap
               -- D(12)×D(12) at D(18) and overflow past sf100); the
               -- product down-casts to D(36) BEFORE the add so the
               -- addition stays ≤ 38 wide (class 8: a 39-wide add
               -- silently goes DOUBLE in DuckDB)
               CAST(SUM(CAST(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(12,0))
                               * CAST(n AS DECIMAL(12,0)) AS DECIMAL(36,0))
                        + CAST(2 * q * r
                               + CAST(FLOOR(CAST(r AS DOUBLE) * r / n) AS BIGINT)
                               AS DECIMAL(36,0))) AS DECIMAL(37,0)) AS sq
      FROM gd
      )
      SELECT k, nt,
             -- integer-grid round (divergence class 3, found LIVE here
             -- at sf0.1: DuckDB's fractional ROUND(x·1e15, 2) computes
             -- round(x·100)/100 in doubles and landed 0.5 off Spark's
             -- exact-BigDecimal ROUND); grid product < 9.2e18 through
             -- ~sf700 on ss_between
             CAST(ROUND((CAST(CAST(sq AS STRING) AS DOUBLE)
                         - CAST(st AS DOUBLE) * st / nt) * 100) AS BIGINT)
               / 100.0E0 AS ss_between,
             -- ss_within is an exact INTEGER (decimal minus decimal) —
             -- a 2-dp round is the identity, so no ROUND at all: the
             -- string-routed cast is the final double
             CAST(CAST(CAST(sst AS DECIMAL(37,0))
                       - CAST(sq AS DECIMAL(37,0))
                       AS STRING) AS DOUBLE) AS ss_within,
             ROUND(((CAST(CAST(sq AS STRING) AS DOUBLE)
                     - CAST(st AS DOUBLE) * st / nt) / (k - 1))
                   / (CAST(CAST(CAST(sst AS DECIMAL(37,0))
                                - CAST(sq AS DECIMAL(37,0))
                                AS STRING) AS DOUBLE) / (nt - k)), 6) AS f_stat
      FROM t"""

  /** Two-sample Kolmogorov–Smirnov (urgent vs low priority, order
    * value in whole dollars): the ECDF gap maximizes over exact cross-
    * multiplied integers |ca·n2 − cb·n1| — no float enters until the
    * final D and z formulas — and the scan reduces to distinct values
    * before the one ordered window. */
  private val KsSql = """
      WITH x AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS grp,
               CAST(ROUND(o_totalprice) AS BIGINT) AS v
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      ),
      g AS (
        SELECT v,
               SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS b
        FROM x GROUP BY v
      ),
      c AS (
        SELECT SUM(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
               SUM(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
        FROM g
      ),
      n AS (
        SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
        FROM g
      )
      SELECT n1, n2,
             ROUND(CAST(MAX(ABS(ca * n2 - cb * n1)) AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n2), 6) AS ks_d,
             ROUND(CAST(MAX(ABS(ca * n2 - cb * n1)) AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n2)
                   * SQRT(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6) AS ks_z
      FROM c CROSS JOIN n
      GROUP BY n1, n2"""

  /** Kruskal–Wallis rank-based one-way test across all five order
    * priorities (the nonparametric companion of stats_anova, built on
    * the Mann–Whitney doubled-mid-rank discipline — and like it
    * computed on the VALUE DOMAIN: per-(value, group) histogram counts
    * join the value-level cumulative, s2 = Σ_v cg·(2·cb+c+1); the one
    * unpartitioned window runs over the whole-dollar price grid,
    * bounded by the price RANGE, never over rows): H from exact
    * integer rank sums with the tie correction. */
  private val KruskalSql = """
      WITH x AS (
        SELECT o_orderpriority AS pri,
               CAST(ROUND(o_totalprice) AS BIGINT) AS v
        FROM orders
      ),
      h AS (
        SELECT v, pri, CAST(COUNT(*) AS BIGINT) AS cg
        FROM x GROUP BY v, pri
      ),
      hv AS (
        SELECT v, CAST(SUM(cg) AS BIGINT) AS c FROM h GROUP BY v
      ),
      w AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cb
        FROM hv
      ),
      g AS (
        SELECT h.pri, CAST(SUM(h.cg) AS BIGINT) AS n,
               CAST(SUM(h.cg * (2 * w.cb + w.c + 1)) AS BIGINT) AS s2
        FROM h JOIN w ON h.v = w.v
        GROUP BY h.pri
      ),
      -- rank-sum square term Σ s2²/(4n), EXACT and order-free (a
      -- ROUND(rs*rs/n) BIGINT crosses Long.Max at sf10 — measured
      -- 1.7e20). Remainder-free
      -- decomposition with q = ⌊s2/(2n)⌋, r = s2 − q·2n:
      --   s2²/(4n) = q²·n + q·r + ⌊r²/(4n)⌋   (fraction dropped, both
      -- engines identically). Every piece is BIGINT-exact except q²·n.
      -- WIDTH TRAP (found at sf10): DuckDB 1.0.0 computes a product of two decimals
      -- that BOTH fit INT64 storage (width ≤ 18) in INT64 and only
      -- CLAMPS the result width at 18 — D(13)×D(13) is D(18,0), so
      -- q²·n ≈ 1.7e20 overflowed LOUDLY at sf10 (never silently). The
      -- first factor is cast DECIMAL(19,0) — INT128 storage — which
      -- restores real width algebra: D(19)×D(13) = D(32), ×D(11)
      -- clamps to D(38), exact at scale 0 while the product < 1e38
      -- (q < 1e13 by construction, q²n < 1e37; Spark runs
      -- D(33)→D(38)-capped, exact at scale 0 — both engines
      -- overflow-check, neither silently doubles a MULTIPLY; the
      -- silent-DOUBLE class 8 is add/sub only).
      -- FLOOR-of-double-division is exact while s2 < 2^53 margin:
      -- safe through sf100 (s2 ≤ ~9e15 there), the binding envelope.
      gq AS (
        SELECT n, s2,
               CAST(FLOOR(CAST(s2 AS DOUBLE) / (2 * n)) AS BIGINT) AS q
        FROM g
      ),
      gd AS (SELECT n, q, s2 - q * 2 * n AS r FROM gq),
      t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(13,0))
                   * CAST(n AS DECIMAL(11,0))) AS rq_hi,
               SUM(q * r + CAST(FLOOR(CAST(r AS DOUBLE) * r / (4 * n)) AS BIGINT)) AS rq_lo
        FROM gd
      ),
      ties AS (
        SELECT CAST(SUM(c * c * c - c) AS DOUBLE) AS tc FROM hv
      )
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS k, nt,
             ROUND((12.0E0 * (CAST(rq_hi AS DOUBLE) + CAST(rq_lo AS DOUBLE))
                      / (CAST(nt AS DOUBLE) * (nt + 1))
                    - 3.0E0 * (nt + 1))
                   / (1 - tc / (CAST(nt AS DOUBLE) * nt * nt - nt)), 6) AS h_stat
      FROM t CROSS JOIN ties"""

  /** CUPED variance reduction (Deng et al., WSDM'13 — the standard
    * pre-experiment covariate adjustment every experimentation platform
    * applies): unit = customer, x = pre-period spend, y = post-period
    * spend (whole dollars — integer-exact per unit), arm = key parity.
    * θ = cov(x,y)/var(x) is estimated pooled, each unit's adjusted
    * outcome y* = y − θ·(x − x̄) is FLOORed back to whole dollars (the
    * quantize-before-reduce rule: y*² sums must be integer-exact or the
    * per-arm variance would be shuffle-order-dependent), and the output
    * reports per-arm means and the achieved variance reduction. Product
    * sums route through DECIMAL(38,0): Σx² ≈ 1.5e18 at sf0.1 overflows
    * the 2^53 exact-double range but not DECIMAL. Dispersion ships as
    * σ, not σ²: ROUND(·, 6) on a ~6e11 dollars² variance sits BELOW
    * the double's ulp (≈6e-5 there), where the engines' rounding
    * disagrees in the last bit — measured at sf0.1; σ ~ 1e6 keeps 6 dp
    * well-defined. Two hash aggregates and a broadcast 1-row join —
    * nothing at unit scale ever sorts. */
  private val CupedSql = """
      WITH u AS (
        SELECT o_custkey AS k,
               CAST(COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                    THEN CAST(FLOOR(o_totalprice) AS BIGINT) END), 0) AS DOUBLE) AS x,
               CAST(COALESCE(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                    THEN CAST(FLOOR(o_totalprice) AS BIGINT) END), 0) AS DOUBLE) AS y
        FROM orders GROUP BY o_custkey
      ),
      g AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(18, 0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(18, 0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38, 0))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(x * y AS DECIMAL(38, 0))) AS DOUBLE) AS sxy
        FROM u
      ),
      t AS (
        SELECT n, sx / n AS xbar,
               (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta
        FROM g WHERE sxx - sx * sx / n > 0
      ),
      a AS (
        SELECT k % 2 AS arm, y,
               CAST(FLOOR(y - theta * (x - xbar)) AS DOUBLE) AS yadj
        FROM u CROSS JOIN t
      ),
      r AS (
        SELECT arm,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(y AS DECIMAL(18, 0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(y * y AS DECIMAL(38, 0))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(yadj AS DECIMAL(18, 0))) AS DOUBLE) AS sa,
               CAST(SUM(CAST(yadj * yadj AS DECIMAL(38, 0))) AS DOUBLE) AS saa
        FROM a GROUP BY arm
      )
      SELECT CAST(arm AS INT) AS arm, CAST(n AS BIGINT) AS n_units,
             ROUND(sy / n, 6) AS mean_y,
             ROUND(sa / n, 6) AS mean_y_adj,
             ROUND(SQRT((syy - sy * sy / n) / n), 6) AS std_y,
             ROUND(SQRT((saa - sa * sa / n) / n), 6) AS std_y_adj,
             ROUND(1.0 - ((saa - sa * sa / n) / n) / ((syy - sy * sy / n) / n), 6) AS var_reduction
      FROM r
      ORDER BY arm"""

  /** Kendall's τ-b rank correlation (with Goodman–Kruskal γ) between
    * quantity and discount per return flag — the scalable CONTINGENCY-
    * TABLE spelling: the naive form compares all O(n²) row pairs, which
    * no cluster survives at 100 TB; but both variables are low-
    * cardinality (50 quantities × 11 discount ticks), so aggregating to
    * cells first (one hash aggregate — the only row-scale shuffle) and
    * then scoring the ≤550×550 CELL pairs computes the identical
    * statistic: concordant/discordant pair counts are Σ over cell pairs
    * of the count product. Everything stays integer-exact until the
    * final τ-b formula (n(n-1) ≈ 4e10 at sf0.1 — far inside BIGINT;
    * the tie-corrected denominator product crosses to DOUBLE before
    * multiplying, as n₀² would overflow). One IEEE op chain per group,
    * ROUND 6dp — both engines agree bit-for-bit. */
  private val KendallSql = """
      WITH pts AS (
        SELECT l_returnflag AS flag,
               CAST(ROUND(l_quantity) AS BIGINT)       AS x,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS y
        FROM lineitem
      ),
      cells AS (
        SELECT flag, x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY flag, x, y
      ),
      pairs AS (
        SELECT a.flag,
               CAST(SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
        FROM cells a JOIN cells b ON a.flag = b.flag AND b.x > a.x
        GROUP BY a.flag
      ),
      tx AS (
        SELECT flag, CAST(SUM(cx * (cx - 1)) AS BIGINT) AS xt
        FROM (SELECT flag, x, CAST(SUM(c) AS BIGINT) AS cx
              FROM cells GROUP BY flag, x) g
        GROUP BY flag
      ),
      ty AS (
        SELECT flag, CAST(SUM(cy * (cy - 1)) AS BIGINT) AS yt
        FROM (SELECT flag, y, CAST(SUM(c) AS BIGINT) AS cy
              FROM cells GROUP BY flag, y) g
        GROUP BY flag
      ),
      nn AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY flag)
      SELECT nn.flag, nn.n, p.conc AS concordant, p.disc AS discordant,
             ROUND(2.0E0 * CAST(p.conc - p.disc AS DOUBLE)
                   / SQRT(CAST(nn.n * (nn.n - 1) - tx.xt AS DOUBLE)
                          * CAST(nn.n * (nn.n - 1) - ty.yt AS DOUBLE)), 6) AS tau_b,
             ROUND(CAST(p.conc - p.disc AS DOUBLE)
                   / CAST(p.conc + p.disc AS DOUBLE), 6) AS gamma
      FROM nn JOIN pairs p ON p.flag = nn.flag
      JOIN tx ON tx.flag = nn.flag
      JOIN ty ON ty.flag = nn.flag
      ORDER BY nn.flag"""

  /** Pairwise Pearson correlation matrix over the four lineitem
    * numerics — the feature-redundancy screen run before any model
    * fit, as ONE aggregate pass: all 4 first moments, 4 second
    * moments, and 6 cross moments accumulate in a single hash
    * aggregate (map-side partials reduce 100 TB to one row per
    * partition), then each of the 6 pairs is one IEEE formula on the
    * exact sums. Values quantize to whole units/cents first; product
    * sums route through DECIMAL(38,0) (the CUPED rule — Σprice² ≈ 2e17
    * at sf0.1 overflows the 2^53 exact-double range). The 6-row matrix
    * is the 1-row moments CTE cross-joined with a constant VALUES pair
    * relation, each pair's formula selected by CASE (one scan; the
    * UNION ALL spelling re-ran the moments aggregate per branch). */
  private val CorrMatrixSql = {
    val vars = Seq(
      "qty"   -> "CAST(ROUND(l_quantity) AS DOUBLE)",
      "price" -> "CAST(ROUND(l_extendedprice) AS DOUBLE)",
      "disc"  -> "CAST(ROUND(l_discount * 100) AS DOUBLE)",
      "tax"   -> "CAST(ROUND(l_tax * 100) AS DOUBLE)")
    val firsts = vars.map { case (n, _) =>
      s"CAST(SUM(CAST($n AS DECIMAL(18, 0))) AS DOUBLE) AS s_$n" }
    val seconds = vars.map { case (n, _) =>
      s"CAST(SUM(CAST($n * $n AS DECIMAL(38, 0))) AS DOUBLE) AS s_${n}_$n" }
    val pairs = vars.combinations(2).toSeq.map { case Seq((a, _), (b, _)) => (a, b) }
    val crosses = pairs.map { case (a, b) =>
      s"CAST(SUM(CAST($a * $b AS DECIMAL(38, 0))) AS DOUBLE) AS s_${a}_$b" }
    // ONE m row cross-joined with a constant pair relation, not six
    // UNION ALL selects FROM m — under CTE inlining each branch
    // re-ran the whole moments aggregate (6 lineitem scans in the
    // plan; DuckDB materializes the CTE so its values are unchanged
    // either way). Per-pair arithmetic is the identical IEEE chain,
    // now selected by CASE.
    val corrCase = "CASE " + pairs.map { case (a, b) =>
      s"""WHEN var_a = '$a' AND var_b = '$b' THEN
             (n * s_${a}_$b - s_$a * s_$b)
                   / (SQRT(n * s_${a}_$a - s_$a * s_$a)
                      * SQRT(n * s_${b}_$b - s_$b * s_$b))"""
    }.mkString("\n           ") + " END"
    val pairRows = pairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
    val rows = s"""
      SELECT var_a, var_b, ROUND($corrCase, 6) AS corr
      FROM m CROSS JOIN (VALUES $pairRows) AS p(var_a, var_b)"""
    s"""
      WITH x AS (
        SELECT /*+ REPARTITION */
               ${vars.map { case (n, e) => s"$e AS $n" }.mkString(", ")}
        FROM lineitem
      ),
      m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               ${(firsts ++ seconds ++ crosses).mkString(",\n               ")}
        FROM x
      )$rows
      ORDER BY var_a, var_b"""
  }

  /** Two-feature OLS (multiple linear regression) fitted in closed form
    * from the normal equations — price ~ quantity + discount over
    * lineitem. Like the corr matrix, the entire fit is ONE hash
    * aggregate over 9 moment sums (map-side partials make this a
    * single row per partition at 100 TB), then Cramer's rule on the
    * centered 2×2 system is a scalar IEEE chain on the exact sums.
    * Inputs quantize to whole units/ticks; every product sum routes
    * through DECIMAL(38,0) so the moments are bit-exact and
    * order-independent; coefficients ROUND at the 6dp boundary (the
    * quotients are generic reals, never on the decimal grid where
    * engine rounding could disagree). */
  private val Ols2Sql = """
      WITH x AS (
        SELECT CAST(ROUND(l_quantity) AS DOUBLE)       AS x1,
               CAST(ROUND(l_discount * 100) AS DOUBLE) AS x2,
               CAST(ROUND(l_extendedprice) AS DOUBLE)  AS y
        FROM lineitem
      ),
      m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x1 AS DECIMAL(18, 0))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(x2 AS DECIMAL(18, 0))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(y  AS DECIMAL(18, 0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x1 * x1 AS DECIMAL(38, 0))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(x2 * x2 AS DECIMAL(38, 0))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(x1 * x2 AS DECIMAL(38, 0))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(x1 * y  AS DECIMAL(38, 0))) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(x2 * y  AS DECIMAL(38, 0))) AS DOUBLE) AS s2y,
               CAST(SUM(CAST(y  * y  AS DECIMAL(38, 0))) AS DOUBLE) AS syy
        FROM x
      ),
      c AS (
        SELECT n, s1, s2, sy,
               s11 - s1 * s1 / n AS c11,
               s22 - s2 * s2 / n AS c22,
               s12 - s1 * s2 / n AS c12,
               s1y - s1 * sy / n AS c1y,
               s2y - s2 * sy / n AS c2y,
               syy - sy * sy / n AS cyy
        FROM m
      ),
      b AS (
        SELECT n, s1, s2, sy, c1y, c2y, cyy,
               (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
               (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
        FROM c
      )
      SELECT CAST(n AS BIGINT) AS n_rows,
             ROUND((sy - b1 * s1 - b2 * s2) / n, 6) AS b0,
             ROUND(b1, 6) AS b1,
             ROUND(b2, 6) AS b2,
             ROUND((b1 * c1y + b2 * c2y) / cyy, 6) AS r2
      FROM b"""

  // one IRLS/Newton step on the 11-cell contingency table: sigmoid at
  // the CURRENT (1e-9-grid) coefficients quantized to 1e-6, per-cell
  // weights as exact DECIMALs in 1e-12 units (operands cast to sized
  // DECIMALs BEFORE multiplying — the raw BIGINT product n·P·(1e6−P)
  // overflows int64; the first product is additionally pinned to
  // DECIMAL(20,0) because DuckDB caps an un-annotated DECIMAL(12)×(7)
  // product at DECIMAL(18), which overflows at n ≥ ~4e6 rows per cell
  // — sf10's lineitem cells; Spark already types it DECIMAL(20)),
  // gradients as exact 1e-6 BIGINTs, then the 2×2 Newton solve as one
  // IEEE chain re-quantized to the 1e-9 grid for the next step. EXP/LN
  // evaluate on 11 cells only, so the engines' last-ulp libm
  // differences have ~11 chances (not 600k) to straddle a rounding
  // boundary — and the quantized coefficients make every downstream
  // value bit-reproducible anyway.
  /** One unrolled IRLS/Newton iteration over `cells(x, n, sy)` from
    * coefficients CTE `b${k-1}` to `b$k` — shared with
    * Curation.pipeline_quality_classifier (same cell contract). */
  private[operators] def irlsIter(k: Int): String = s"""
      , p$k AS (
        SELECT x, n, sy,
               CAST(ROUND(1000000.0 /
                 (1.0 + EXP(-(b.b0 + b.b1 * x))), 0) AS BIGINT) AS pq
        FROM cells CROSS JOIN b${k - 1} b
      ),
      w$k AS (
        SELECT x, n, sy, pq,
               CAST(CAST(CAST(n AS DECIMAL(12, 0)) * CAST(pq AS DECIMAL(7, 0))
                      AS DECIMAL(20, 0))
                 * CAST(1000000 - pq AS DECIMAL(7, 0)) AS DECIMAL(30, 0)) AS w
        FROM p$k
      ),
      s$k AS (
        SELECT CAST(SUM(w) AS DOUBLE) AS a,
               CAST(SUM(w * CAST(x AS DECIMAL(3, 0))) AS DOUBLE) AS bb,
               CAST(SUM(w * CAST(x * x AS DECIMAL(5, 0))) AS DOUBLE) AS c,
               CAST(SUM(sy * 1000000 - n * pq) AS DOUBLE) AS g0,
               CAST(SUM((sy * 1000000 - n * pq) * x) AS DOUBLE) AS g1
        FROM w$k
      ),
      b$k AS (
        SELECT ROUND(b.b0 + (s.c * s.g0 - s.bb * s.g1) * 1.0E6
                            / (s.a * s.c - s.bb * s.bb), 9) AS b0,
               ROUND(b.b1 + (s.a * s.g1 - s.bb * s.g0) * 1.0E6
                            / (s.a * s.c - s.bb * s.bb), 9) AS b1
        FROM s$k s CROSS JOIN b${k - 1} b
      )"""

  /** Logistic regression P(returnflag='R' | discount) fitted by two
    * unrolled IRLS/Newton iterations — distributed ML training as pure
    * SQL. The scale trick is the Kendall contingency treatment: the
    * feature is discrete (11 discount ticks), so ONE row-scale hash
    * aggregate reduces the corpus to 11 exact (x, n, Σy) cells and
    * every iteration's transcendental + linear-algebra work runs on
    * those 11 rows — at 100 TB the plan is one map-side-combined
    * shuffle, then cell-scale arithmetic (a continuous feature would
    * bin first, same shape). Determinism: coefficients and per-cell
    * sigmoids live on a 1e-9 grid, weight/gradient sums are exact
    * DECIMAL/BIGINT, and each Newton solve is one IEEE chain both
    * engines evaluate identically. Log-loss follows the perplexity
    * discipline (per-cell LN quantized to 1e-9 before the exact
    * weighted sum). */
  private val LogisticIrlsSql = """
      WITH cells AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS sy
        FROM lineitem GROUP BY CAST(ROUND(l_discount * 100) AS BIGINT)
      ),
      b0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)""" +
    irlsIter(1) + irlsIter(2) + """
      , fin AS (
        SELECT x, n, sy,
               ROUND(1.0 / (1.0 + EXP(-(b.b0 + b.b1 * x))), 9) AS p
        FROM cells CROSS JOIN b2 b
      ),
      loss AS (
        SELECT CAST(SUM(sy * CAST(ROUND(LN(p) * 1000000000.0, 0) AS BIGINT)
                   + (n - sy) * CAST(ROUND(LN(1.0 - p) * 1000000000.0, 0) AS BIGINT)) AS DOUBLE) AS l9,
               CAST(SUM(n) AS DOUBLE) AS nn
        FROM fin
      )
      SELECT CAST(loss.nn AS BIGINT) AS n_rows,
             ROUND(b.b0, 6) AS b0, ROUND(b.b1, 6) AS b1,
             ROUND(-loss.l9 / (loss.nn * 1.0E9), 6) AS log_loss
      FROM b2 b CROSS JOIN loss"""

  /** Hill estimator of the Pareto tail index over order totals — the
    * heavy-tail diagnostic (α ≈ how fast the tail decays; α < 2 means
    * infinite variance and your mean-based SLAs are lies). Exactly the
    * scale shape of a top-k: TakeOrderedAndProject delivers the 101
    * largest values (no global sort), the rank window then sees 101
    * rows only, and the 100 log-ratio terms quantize to 1e-9 integers
    * before the exact sum (LN's last-ulp engine differences sit ~8
    * orders below the quantum on 100 evaluations). x_k stays in exact
    * cents — cents/100.0 lands ON the 2-decimal grid, exactly where
    * engine ROUND half-up/half-even can disagree (the sssp lesson). */
  private val HillSql = """
      WITH top AS (
        SELECT o_totalprice, o_orderkey FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 101
      ),
      topk AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM top
      ),
      xk AS (SELECT v AS vk FROM topk WHERE rk = 101),
      terms AS (
        SELECT CAST(ROUND(LN(CAST(t.v AS DOUBLE) / CAST(x.vk AS DOUBLE))
                          * 1000000000.0) AS BIGINT) AS lq
        FROM topk t CROSS JOIN xk x WHERE t.rk <= 100
      )
      SELECT CAST(100 AS INT) AS k, x.vk AS x_k_cents,
             ROUND(100.0 * 1.0E9 / CAST(SUM(t.lq) AS DOUBLE), 6) AS hill_alpha
      FROM terms t CROSS JOIN xk x
      GROUP BY x.vk"""

  /** Two-proportion z-test — the A/B conversion-rate test (the
    * categorical sibling of stats_ttest): arms are custkey parity,
    * "conversion" is an order finishing ('F'). Everything derives from
    * four exact counts in ONE aggregate pass (map-side combined at any
    * scale); the z statistic is a single ROUNDed IEEE chain on those
    * counts with the pooled-variance spelling. */
  private val PropZSql = """
      WITH a AS (
        SELECT CAST(o_custkey % 2 AS INT) AS arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS conv
        FROM orders GROUP BY CAST(o_custkey % 2 AS INT)
      ),
      w AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n END)    AS n0,
               MAX(CASE WHEN arm = 0 THEN conv END) AS c0,
               MAX(CASE WHEN arm = 1 THEN n END)    AS n1,
               MAX(CASE WHEN arm = 1 THEN conv END) AS c1
        FROM a
      )
      SELECT n0, c0, n1, c1,
             ROUND(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
             ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
             ROUND((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
                   / SQRT((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                          * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                          * (1e0 / n0 + 1e0 / n1)), 6) AS z_stat
      FROM w"""

  /** Delta-method standard error for a RATIO metric (revenue per
    * order) across two arms — the A/B-infrastructure formula for
    * metrics whose unit of analysis (customer) differs from the
    * metric's denominator (orders): Var(Σy/Σx) ≈ (s_yy − 2R·s_xy +
    * R²·s_xx)/(n·x̄²) over per-UNIT (x, y) pairs. Per-unit rollup then
    * the five moments in one pass, both map-side combined;
    * whole-dollar revenue quantization with DECIMAL product sums
    * keeps every moment exact, and R/SE are single ROUNDed IEEE
    * chains. */
  private val DeltaMethodSql = """
      WITH u AS (
        SELECT o_custkey, CAST(o_custkey % 2 AS INT) AS arm,
               CAST(COUNT(*) AS DOUBLE) AS x,
               CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS DOUBLE) AS y
        FROM orders GROUP BY o_custkey, CAST(o_custkey % 2 AS INT)
      ),
      m AS (
        SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(18, 0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(18, 0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38, 0))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(x * y AS DECIMAL(38, 0))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(y * y AS DECIMAL(38, 0))) AS DOUBLE) AS syy
        FROM u GROUP BY arm
      ),
      k AS (
        SELECT arm, n, sy / sx AS r, sx / n AS xbar,
               (sxx - sx * sx / n) / (n - 1) AS cxx,
               (sxy - sx * sy / n) / (n - 1) AS cxy,
               (syy - sy * sy / n) / (n - 1) AS cyy
        FROM m
      )
      SELECT arm, CAST(n AS BIGINT) AS n_units,
             ROUND(r, 6) AS ratio_rev_per_order,
             ROUND(SQRT((cyy - 2.0 * r * cxy + r * r * cxx)
                        / (n * xbar * xbar)), 6) AS delta_se
      FROM k
      ORDER BY arm"""

  /** One-pass Poisson bootstrap (Chamandy, Muralidharan, Najmi &
    * Naidu, "Estimating Uncertainty for Massive Data Streams", Google
    * TR 2012; Efron 1979 for the bootstrap itself): classical
    * resampling draws B samples-with-replacement — B full passes and
    * shuffles — but for n large the multinomial row counts converge to
    * independent Poisson(1), so each row can draw its OWN per-replica
    * multiplicity from a hash and every replica aggregates in the SAME
    * single pass. The multiplicity is inverse-CDF'd from the suite's
    * engine-exact Knuth hash (thresholds are floor(CDF·2^32) integer
    * literals, tail truncated at 6, P ≈ 6e-4), so both engines draw
    * identical weights. Output is the exact integer sufficient
    * statistics (effective n, Σ weighted cents) per replica — the CI is
    * whatever quantile of the 32 replica means the caller takes,
    * driver-side on 32 rows. 100 TB shape: a 32× narrow explode into a
    * partial/final hash aggregate over 32 groups — ONE shuffle of 32
    * rows per partition, no resampling passes, no data movement. */
  private val BootstrapCase = """
               CASE WHEN u < 1580030168 THEN 0
                    WHEN u < 3160060337 THEN 1
                    WHEN u < 3950075421 THEN 2
                    WHEN u < 4213413783 THEN 3
                    WHEN u < 4279248373 THEN 4
                    WHEN u < 4292415291 THEN 5
                    ELSE 6 END"""

  private val BootstrapTail = """
      SELECT CAST(b AS INT) AS replica_id,
             CAST(SUM(w) AS BIGINT) AS n_eff,
             CAST(SUM(w * cents) AS BIGINT) AS sum_cents
      FROM w
      GROUP BY b
      ORDER BY replica_id"""

  // the deterministic quarter slice keeps the 32× explode (and the
  // median's 32 value-grid sorts) at bench-friendly volume — the
  // statistic's machinery is identical at any slice
  // REPARTITION before the 32× replica explode (the linkage-scorer
  // lesson): lineitem scans as ONE split at test scale and the
  // explode + MIX64 draw chain sits below the first exchange, so the
  // 4.8M-row multiplied stream ran on a single core — three times
  // over, since the inlined CTE chain is re-derived per reference.
  // Spark comment-hint only; DuckDB parses it as a block comment.
  private val BootstrapLi = """
      li AS (
        SELECT /*+ REPARTITION */
               l_orderkey * 8 + l_linenumber AS k,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
        WHERE l_orderkey % 4 = 0
      )"""

  // per-(row, replica) draws come from the MIX64 avalanche kernel (NOT
  // the suite's Knuth multiplicative hash: that one is a lattice —
  // equidistributed over dense keys — which collapses the resampling
  // variance from √n to O(1); Hashing.mix64's scaladoc records the
  // measurement). u = top 32 bits, thresholds = floor(Poisson(1)
  // CDF · 2^32), tail truncated at 6 (P ≈ 6e-4).
  /** Shared prefix: CTEs through `w(b, cents, w)` — the per-(row,
    * replica) multiplicity draws. */
  private def bootstrapPrefix(spark: Boolean): String =
    if (spark) s"""
      $BootstrapLi, u AS (
        SELECT b, cents,
               SHIFTRIGHT(MIX64(k, CAST(b AS BIGINT)), 32) & 4294967295 AS u
        FROM li LATERAL VIEW EXPLODE(SEQUENCE(0, 31)) r AS b
      ), w AS (
        SELECT b, cents, $BootstrapCase AS w FROM u
      )"""
    else s"""
      $BootstrapLi, b0 AS (
        SELECT k, cents,
               ${DuckHash.mulmod("CAST(k AS UBIGINT)", "11400714819323198485")} AS v0
        FROM li
      ), ${DuckHash.fmix64Ctes(from = "b0", carry = "k, cents", in = "v0",
                               prefix = "bs", out = "bb", outCol = "bu")},
      jx AS (
        SELECT cents, CAST(r.b AS BIGINT) AS b,
               xor(bu, ${DuckHash.mulmod("CAST(r.b + 1 AS UBIGINT)",
                                         "11400714819323198485")}) AS x0
        FROM bb, UNNEST(range(0, 32)) AS r(b)
      ), ${DuckHash.fmix64Ctes(from = "jx", carry = "cents, b", in = "x0",
                               prefix = "qs", out = "fx", outCol = "fu")},
      w AS (
        SELECT b, cents, $BootstrapCase AS w
        FROM (SELECT b, cents, CAST(fu >> 32 AS BIGINT) AS u FROM fx) z
      )"""

  private def bootstrapSql(spark: Boolean): String =
    s"""
      WITH ${bootstrapPrefix(spark)}$BootstrapTail"""

  /** The bootstrap where it EARNS its keep — a nonlinear statistic
    * (the median has no closed-form variance; Efron's original
    * motivating case): per-replica exact weighted LOWER median of the
    * cents distribution. Per replica the multiplicities collapse per
    * distinct value first (GROUP BY b, cents — map-side combinable),
    * then one cumulative window per replica finds the smallest value
    * with 2·cum ≥ n_eff. All-integer output; the 32 medians' spread IS
    * the CI. Scale shape: the 32× explode feeds a (replica, value)
    * partial aggregate, and each replica's window sorts its own
    * value-grid partition — 32 independent sorts, never a global one. */
  private def bootstrapMedianSql(spark: Boolean): String =
    s"""
      WITH ${bootstrapPrefix(spark)},
      g AS (
        SELECT b, cents, CAST(SUM(w) AS BIGINT) AS wv
        FROM w WHERE w > 0
        GROUP BY b, cents
      ), tot AS (
        SELECT b, CAST(SUM(wv) AS BIGINT) AS n_eff FROM g GROUP BY b
      ), cum AS (
        SELECT b, cents,
               SUM(wv) OVER (PARTITION BY b ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        FROM g
      ), med AS (
        SELECT c.b, CAST(MIN(c.cents) AS BIGINT) AS med_cents
        FROM cum c JOIN tot t ON c.b = t.b
        WHERE c.cw * 2 >= t.n_eff
        GROUP BY c.b
      )
      SELECT CAST(m.b AS INT) AS replica_id, t.n_eff, m.med_cents
      FROM med m JOIN tot t ON m.b = t.b
      ORDER BY replica_id"""

  /** Micro-unit fixed-point quotient trunc(1e6·x/d) without the x*1e6
    * BIGINT overflow, via a TWO-LEVEL split (a one-level r*1e6 split
    * overflows in turn). Level 1: |x| = q·d + r with r < d, so
    * 1e6·x/d = 1e6·q + 1e6·r/d. Level 2: 1e6·r/d = 1000·⌊1000r/d⌋ +
    * ⌊1000·((1000r) mod d)/d⌋ — exact because 1000r = q₁d + r₁ gives
    * 1e6·r = 1000·q₁·d + 1000·r₁ and both remainders are < d. Each
    * intermediate multiplies a (< d) remainder by only 1000, so the
    * split is overflow-free for any d < 9.2e15 (the one-level spelling
    * capped at 9.2e12). For the quadratic-denominator callers (Cohen's
    * kappa pe = E/n², Fleiss' P̄e over 9n², link_blocking_metrics'
    * nd·np) that admits per-group n up to ~9.6e7 (kappa) / ~3.2e7
    * (Fleiss) rows; beyond that the callers' own n*n BIGINT products
    * are the binding bound (overflow at n ≥ 3.04e9) and the honest
    * re-spelling at that scale is DECIMAL(38)/HUGEINT numerators, not
    * a deeper split — both bounds are now documented at the call
    * sites rather than claimed away. Contract: the RESULT must fit,
    * i.e. |x/d| < 9.2e12 — always true for the ratio statistics this
    * serves (shares, probabilities, kappa — all |ratio| ≤ n).
    * Truncation toward zero on NONNEGATIVE operands is identical in
    * Spark `DIV` and DuckDB `//`; the CASE re-applies the sign so
    * negative numerators (kappa < 0 is legal) never touch the
    * engines' divergent negative-division semantics. */
  private[graft] def microDiv(x: String, d: String, spark: Boolean): String = {
    val dv = if (spark) "DIV" else "//"
    // r  = ax mod d   (< d);  q1 = 1000r div d;  r1 = 1000r mod d
    def pos(ax: String) = {
      val r  = s"(($ax) % ($d))"
      val kr = s"($r * 1000)"
      s"(($ax $dv ($d)) * 1000000" +
        s" + ($kr $dv ($d)) * 1000" +
        s" + (($kr % ($d)) * 1000) $dv ($d))"
    }
    s"""CASE WHEN ($x) >= 0 THEN ${pos(s"($x)")}
             ELSE -${pos(s"(-($x))")} END"""
  }

  /** Cohen's kappa (Cohen, Educ. Psychol. Meas. 1960) — THE
    * inter-annotator agreement statistic every labeling/eval pipeline
    * reports before trusting its labels. Two deterministic binary
    * "raters" over `documents`: A = char-length >= 250, B = word-count
    * >= 40 (space counting — the corpus is single-space word soup), so
    * both engines derive byte-identical verdicts. From the 2×2 table
    * (a,b,c,d): kappa = (n(a+d) − E)/(n² − E) with
    * E = (a+b)(a+c) + (c+d)(b+d) — a pure integer rational, emitted in
    * exact micro units via the overflow-safe split divide. ONE hash
    * aggregate to 4 counts (map-side combined at any corpus size),
    * then scalar math on the 1-row frame: the 100 TB cost is the scan.
    * Scale bound (documented, not silent): the n² denominator keeps
    * the two-level microDiv exact for n < 9.6e7 documents, and the n*n
    * BIGINT product itself overflows at n ≥ 3.04e9 — past ~100M docs
    * this statistic should be re-spelled over DECIMAL(38) numerators
    * (or computed per-shard and pooled), not trusted blindly. */
  private def kappaSql(spark: Boolean): String = s"""
      WITH r AS (
        SELECT CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS ra,
               CASE WHEN LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 40
                    THEN 1 ELSE 0 END AS rb
        FROM documents
      ),
      t AS (
        SELECT CAST(SUM(ra * rb) AS BIGINT)             AS a,
               CAST(SUM(ra * (1 - rb)) AS BIGINT)       AS b,
               CAST(SUM((1 - ra) * rb) AS BIGINT)       AS c,
               CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT)                 AS n
        FROM r
      ),
      e AS (
        SELECT a, b, c, d, n,
               (a + b) * (a + c) + (c + d) * (b + d) AS exp_agree
        FROM t
      )
      SELECT a, b, c, d, n,
             ${microDiv("(a + d)", "n", spark)}                    AS po_micro,
             ${microDiv("exp_agree", "n * n", spark)}              AS pe_micro,
             ${microDiv("n * (a + d) - exp_agree", "n * n - exp_agree", spark)}
               AS kappa_micro
      FROM e"""

  /** McNemar's test (McNemar, Psychometrika 1947) — the paired
    * classifier-comparison test (same docs, two classifiers: did the
    * word-count rater flag docs the char-length rater missed beyond
    * chance?). Only the discordant cells matter: chi² = (b−c)²/(b+c),
    * plus Edwards' continuity-corrected (|b−c|−1)²/(b+c) clamped at 0.
    * Same raters (and therefore the same single-aggregate 100 TB
    * shape) as kappa; statistics in exact micro units. */
  private def mcnemarSql(spark: Boolean): String = s"""
      WITH r AS (
        SELECT CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS ra,
               CASE WHEN LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 40
                    THEN 1 ELSE 0 END AS rb
        FROM documents
      ),
      t AS (
        SELECT CAST(SUM(ra * (1 - rb)) AS BIGINT) AS b,
               CAST(SUM((1 - ra) * rb) AS BIGINT) AS c
        FROM r
      )
      SELECT b, c,
             ${microDiv("(b - c) * (b - c)", "b + c", spark)} AS chi2_micro,
             ${microDiv(
               "GREATEST(ABS(b - c) - 1, 0) * GREATEST(ABS(b - c) - 1, 0)",
               "b + c", spark)} AS chi2_cc_micro
      FROM t"""

  /** Fleiss' kappa (Fleiss, Psychol. Bull. 1971) — agreement among
    * MORE than two raters, the panel-annotation companion of Cohen's
    * kappa: three deterministic binary raters (char length, word
    * count, non-space mass — all engine-identical integer predicates).
    * With per-item category counts (n_i1, n_i0), κ reduces to the pure
    * integer rational (3N·A − 2B) / (2·(9N² − B)) where
    * A = Σ(n_i1²+n_i0²) − 3N and B = S1²+S0² (common-denominator
    * algebra of P̄ and P̄e) — emitted exactly in micro units. ONE
    * narrow scan aggregates to 3 sums; the formula runs on a 1-row
    * frame, so the 100 TB cost is the scan. */
  private def fleissSql(spark: Boolean): String = s"""
      WITH r AS (
        SELECT (CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END
              + CASE WHEN LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 40
                     THEN 1 ELSE 0 END
              + CASE WHEN LENGTH(REPLACE(text, ' ', '')) >= 200
                     THEN 1 ELSE 0 END) AS n1
        FROM documents
      ),
      t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n1) AS BIGINT) AS s1,
               CAST(SUM(3 - n1) AS BIGINT) AS s0,
               CAST(SUM(n1 * n1 + (3 - n1) * (3 - n1)) AS BIGINT) AS sq
        FROM r
      ),
      k AS (
        SELECT n, s1, s0, sq - 3 * n AS a, s1 * s1 + s0 * s0 AS b FROM t
      )
      SELECT n, s1, s0,
             ${microDiv("a", "6 * n", spark)}           AS pbar_micro,
             ${microDiv("b", "9 * n * n", spark)}       AS pbare_micro,
             ${microDiv("3 * n * a - 2 * b", "2 * (9 * n * n - b)", spark)}
               AS kappa_micro
      FROM k"""

  /** Split-conformal prediction intervals (Vovk et al. 2005; Lei et
    * al., JASA'18 — the distribution-free uncertainty wrapper modern
    * ML pipelines bolt onto any point model): a 3-way hash split of
    * the per-nation price~quantity data (fit / calibrate / test by
    * l_orderkey mod 3), OLS fitted on the fit third from exact integer
    * sums, q̂ = the ⌈0.9(n+1)⌉-th smallest absolute calibration
    * residual (an ORDER STATISTIC — selected by rank, so the only
    * float work is IEEE-identical score arithmetic both engines run on
    * identical inputs), and empirical coverage of ŷ ± q̂ counted
    * exactly on the held-out test third. At 100 TB: two aggregate
    * passes plus one per-nation rank window on the calibration third;
    * nothing global. */
  private def conformalSql(spark: Boolean): String = {
    val dv = if (spark) "DIV" else "//"
    val mdiv = microDiv(_: String, _: String, spark)
    s"""
      WITH pts AS (
        SELECT s_nationkey AS nk, l_orderkey % 3 AS fold,
               CAST(ROUND(l_quantity) AS BIGINT)      AS x,
               CAST(ROUND(l_extendedprice) AS BIGINT) AS y
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      ),
      fit AS (
        SELECT nk, COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE)     AS sx,
               CAST(SUM(y) AS DOUBLE)     AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM pts WHERE fold = 0 GROUP BY nk
      ),
      model AS (
        SELECT nk, CAST(n AS BIGINT) AS n_fit,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy * sxx - sx * sxy) / (n * sxx - sx * sx) AS a
        FROM fit
      ),
      cal AS (
        SELECT p.nk, ABS(CAST(p.y AS DOUBLE) - (m.a + m.b * p.x)) AS score
        FROM pts p JOIN model m ON p.nk = m.nk WHERE p.fold = 1
      ),
      caln AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal GROUP BY nk),
      ranked AS (
        SELECT nk, score,
               -- score-only ordering: tied scores are EQUAL values, so
               -- whichever tied row lands on rank k yields the same q̂
               CAST(ROW_NUMBER() OVER (PARTITION BY nk
                 ORDER BY score) AS BIGINT) AS rn
        FROM cal
      ),
      qhat AS (
        -- LEAST(rank, n_cal): when a calibration fold has n_cal < 9
        -- the conformal rank ceil(0.9*(n_cal+1)) exceeds n_cal; the
        -- clamp falls back to the max score (the conservative
        -- small-sample choice, q̂ = +inf truncated to the observed
        -- sup) instead of silently dropping the group via the joins
        SELECT r.nk, MIN(r.score) AS q
        FROM ranked r JOIN caln c ON r.nk = c.nk
        WHERE r.rn = LEAST((9 * (c.n_cal + 1) + 9) $dv 10, c.n_cal)
        GROUP BY r.nk
      ),
      test AS (
        SELECT p.nk,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN ABS(CAST(p.y AS DOUBLE) - (m.a + m.b * p.x))
                              <= q.q THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM pts p JOIN model m ON p.nk = m.nk JOIN qhat q ON p.nk = q.nk
        WHERE p.fold = 2
        GROUP BY p.nk
      )
      SELECT CAST(m.nk AS BIGINT) AS nation, m.n_fit, c.n_cal,
             t.n_test, t.n_covered,
             ROUND(q.q, 6) AS qhat,
             ${mdiv("t.n_covered", "t.n_test")} AS coverage_micro
      FROM model m JOIN caln c ON m.nk = c.nk
                   JOIN qhat q ON m.nk = q.nk
                   JOIN test t ON m.nk = t.nk
      ORDER BY nation"""
  }

  /** One hard-EM Dawid–Skene round (Dawid & Skene, JRSS-C 1979 — the
    * truth-inference model behind every crowd-labeling pipeline):
    * initialize labels by majority vote of the three binary raters,
    * estimate each rater's accuracy against the majority, then relabel
    * every item by the accuracy-weighted likelihood argmax. The
    * likelihood compare is EXACT integer arithmetic: per-rater weights
    * are micro-unit accuracies (bounded ≤ 1e6 regardless of corpus
    * size, so the 3-way product stays ≤ 1e18 in BIGINT at ANY scale —
    * raw agreement counts would overflow at sf≳100), and
    * Π w_j(y=1) vs Π w_j(y=0) needs no division at all. Ties keep the
    * majority label. Shape: one aggregate to 4 numbers (broadcast), a
    * narrow relabel map, one final aggregate — the full EM loop is
    * this query iterated with the same broadcast pattern. */
  private def dawidSkeneSql(spark: Boolean): String = {
    val mdiv = microDiv(_: String, _: String, spark)
    def w(v: String, acc: String, y: Int) =
      s"(CASE WHEN $v = $y THEN $acc ELSE 1000000 - $acc END)"
    def lik(y: Int) =
      s"${w("v1", "w1", y)} * ${w("v2", "w2", y)} * ${w("v3", "w3", y)}"
    s"""
      WITH r AS (
        SELECT doc_id,
               CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS v1,
               CASE WHEN LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 40
                    THEN 1 ELSE 0 END AS v2,
               -- rater 3 votes on an INDEPENDENT signal (language), so
               -- its accuracy-vs-majority is genuinely noisy and the
               -- EM reweighting has real work to do (a third length
               -- rater agreed with the majority perfectly — weight 1e6
               -- — and degenerately dictated every relabel)
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS v3
        FROM documents
      ),
      m AS (
        SELECT doc_id, v1, v2, v3,
               CASE WHEN v1 + v2 + v3 >= 2 THEN 1 ELSE 0 END AS y0
        FROM r
      ),
      acc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN v1 = y0 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
               CAST(SUM(CASE WHEN v2 = y0 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
               CAST(SUM(CASE WHEN v3 = y0 THEN 1 ELSE 0 END) AS BIGINT) AS a3
        FROM m
      ),
      wts AS (
        SELECT n, a1, a2, a3,
               ${mdiv("a1", "n")} AS w1,
               ${mdiv("a2", "n")} AS w2,
               ${mdiv("a3", "n")} AS w3
        FROM acc
      ),
      rel AS (
        SELECT m.doc_id, m.y0,
               CASE WHEN ${lik(1)} > ${lik(0)} THEN 1
                    WHEN ${lik(1)} < ${lik(0)} THEN 0
                    ELSE m.y0 END AS y1
        FROM m CROSS JOIN wts
      )
      SELECT w.n, w.a1, w.a2, w.a3, w.w1 AS acc1_micro, w.w2 AS acc2_micro,
             w.w3 AS acc3_micro,
             CAST(SUM(rel.y1) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN rel.y1 <> rel.y0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flipped
      FROM rel CROSS JOIN wts w
      GROUP BY w.n, w.a1, w.a2, w.a3, w.w1, w.w2, w.w3"""
  }

  /** Mann–Kendall trend test (Mann 1945; Kendall 1975 — the standard
    * nonparametric monotone-trend test for time series, the hypothesis
    * companion of stats_theilsen's slope): per event type, S = Σ_{i<j}
    * sign(x_j − x_i) over the daily-count series, with the
    * tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
    * / 18. S and the variance NUMERATOR are exact integers (the /18 is
    * carried exactly by emitting 18·Var — micro units would truncate);
    * the z statistic (continuity-corrected) is the one IEEE chain,
    * ROUNDed. The pairwise sum runs as a per-type self-join on the
    * DAILY grid — O(days²) per type, bounded by the calendar, never by
    * event volume; at 100 TB the daily compaction is the only
    * data-scale pass. */
  private val MannKendallSql = """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)
      ),
      s AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
        GROUP BY a.event_type
      ),
      n AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily
        GROUP BY event_type
      ),
      ties AS (
        SELECT event_type,
               CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
        FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY event_type, x) g
        WHERE t > 1
        GROUP BY event_type
      ),
      k AS (
        SELECT n.event_type, n.n, s.s_stat,
               n.n * (n.n - 1) * (2 * n.n + 5) - COALESCE(t.tie_term, 0)
                 AS var18
        FROM n JOIN s ON n.event_type = s.event_type
               LEFT JOIN ties t ON n.event_type = t.event_type
      )
      SELECT event_type, n, s_stat, var18,
             ROUND(CASE WHEN s_stat > 0
                          THEN (CAST(s_stat AS DOUBLE) - 1e0)
                               / SQRT(CAST(var18 AS DOUBLE) / 18e0)
                        WHEN s_stat < 0
                          THEN (CAST(s_stat AS DOUBLE) + 1e0)
                               / SQRT(CAST(var18 AS DOUBLE) / 18e0)
                        ELSE 0e0 END, 6) AS z_stat
      FROM k ORDER BY event_type"""

  /** Lincoln–Petersen capture–recapture (Petersen 1896; Seber's
    * estimation framework — the two-independent-samples population
    * estimator, here the cheap distinct-count audit: two INDEPENDENT
    * deterministic hash samples of the key and N̂ = n_A·n_B / n_AB).
    * Sample membership uses two different Knuth/xxhash odd multipliers
    * over the overflow-guarded (k % 2^31) reduction — the suite's
    * standard engine-identical sampling spelling — so both engines
    * draw byte-identical marks. All counts integer, N̂ and its error
    * exact micro rationals. ONE scan, two CASE-counted marks: the
    * shape that audits a 100 TB key census for the price of a count. */
  private def captureRecaptureSql(spark: Boolean): String = {
    val mdiv = microDiv(_: String, _: String, spark)
    def mark(mult: String, frac: Int) =
      s"CASE WHEN ((o_orderkey % 2147483648) * $mult) % 4294967296 < 4294967296 / $frac THEN 1 ELSE 0 END"
    s"""
      WITH m AS (
        SELECT ${mark("2654435761", 10)} AS in_a,
               ${mark("2246822519", 7)}  AS in_b
        FROM orders
      ),
      t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(SUM(in_a) AS BIGINT) AS n_a,
               CAST(SUM(in_b) AS BIGINT) AS n_b,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_ab
        FROM m
      )
      SELECT n_true, n_a, n_b, n_ab,
             ${mdiv("n_a * n_b", "n_ab")} AS n_hat_micro,
             ${mdiv("n_a * n_b", "n_ab")} - n_true * 1000000 AS err_micro
      FROM t"""
  }

  /** Wald's SPRT (Wald, Ann. Math. Stat. 1945 — the always-valid
    * sequential test modern experimentation platforms descend from):
    * weekly looks at the cumulative 'F'-status rate, testing
    * H0: p=1/4 vs H1: p=1/3 at α=β=0.05 (boundaries ±ln 19). The
    * sufficient statistics are exact integer cumulative (n, s) window
    * sums; the LLR s·ln(4/3) + (n−s)·ln(8/9) is one IEEE chain per
    * look on identical integers (ROUNDed), and the decision compare
    * happens on those bit-identical doubles. First 12 looks with the
    * first-crossing flag. 100 TB shape: one date-bucketed aggregate,
    * one tiny look-indexed window — the scan is the cost, the
    * sequential analysis is O(looks). */
  private def sprtSql(spark: Boolean): String = {
    val day =
      if (spark) "DATEDIFF(CAST(o_orderdate AS DATE), DATE '1995-01-01')"
      else "CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS INT)"
    val dv = if (spark) "DIV" else "//"
    s"""
      WITH wk AS (
        SELECT $day $dv 7 AS look,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 AS BIGINT) AS s
        FROM orders GROUP BY $day $dv 7
      ),
      cum AS (
        SELECT look,
               CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
               CAST(SUM(s) OVER w AS BIGINT) AS cum_s,
               CAST(ROW_NUMBER() OVER (ORDER BY look) AS INT) AS look_no
        FROM wk
        WINDOW w AS (ORDER BY look ROWS UNBOUNDED PRECEDING)
      ),
      scored AS (
        SELECT look_no, look, cum_n, cum_s,
               cum_s * LN(4e0 / 3e0) + (cum_n - cum_s) * LN(8e0 / 9e0) AS llr
        FROM cum WHERE look_no <= 12
      ),
      dec AS (
        SELECT look_no, look, cum_n, cum_s, llr,
               CASE WHEN llr >= LN(19e0) THEN 'accept_h1'
                    WHEN llr <= -LN(19e0) THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM scored
      ),
      firstx AS (
        SELECT MIN(look_no) AS x FROM dec WHERE decision <> 'continue'
      )
      SELECT d.look_no, CAST(d.look AS BIGINT) AS look_week,
             d.cum_n, d.cum_s,
             ROUND(d.llr, 6) AS llr, d.decision,
             CASE WHEN d.look_no = f.x THEN 1 ELSE 0 END AS is_first_crossing
      FROM dec d CROSS JOIN firstx f
      ORDER BY d.look_no"""
  }

  /** Sample-ratio-mismatch check (Fabijan et al., KDD'19 diagnoses —
    * the FIRST gate every experimentation platform runs before reading
    * a metric): arm counts vs the designed 1:1 split, overall and per
    * stratum, χ² = (n0−n1)²/(n0+n1) in exact micro units with the flag
    * at the 1-df 95% critical value (3.841459 — compared in integer
    * micro so no float enters the verdict). One conditional aggregate
    * pass; strata rows are O(groups). */
  private def srmSql(spark: Boolean): String = {
    val mdiv = microDiv(_: String, _: String, spark)
    def arm(tbl: String) = s"""
        SELECT $tbl AS stratum,
               CAST(SUM(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM orders"""
    s"""
      WITH g AS (
        ${arm("'_overall'")}
        UNION ALL
        ${arm("o_orderpriority")} GROUP BY o_orderpriority
      )
      SELECT stratum, n0, n1,
             ${mdiv("(n0 - n1) * (n0 - n1)", "n0 + n1")} AS chi2_micro,
             CASE WHEN ${mdiv("(n0 - n1) * (n0 - n1)", "n0 + n1")} > 3841459
                  THEN 1 ELSE 0 END AS srm_flag
      FROM g ORDER BY stratum"""
  }

  /** Difference-in-differences (Card & Krueger AER'94 popularized it;
    * the quasi-experimental workhorse): 2×2 cells of (pre/post ×
    * control/treat) mean order value in exact cents, DiD =
    * (post₁−pre₁) − (post₀−pre₀). Cell means are truncated micro-cent
    * rationals (split divide), so the estimator is a pure integer
    * expression both engines compute identically — on a uniform
    * assignment the true effect is 0 and the estimate lands at noise
    * scale. ONE conditional-aggregate pass to 4 cells. */
  private def didSql(spark: Boolean): String = {
    val mdiv = microDiv(_: String, _: String, spark)
    def cell(arm: Int, post: Int, what: String) = s"""
        SUM(CASE WHEN o_custkey % 2 = $arm
                 AND CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                          THEN 1 ELSE 0 END = $post
                 THEN $what ELSE 0 END)"""
    def n(a: Int, p: Int) = s"CAST(${cell(a, p, "1")} AS BIGINT)"
    def c(a: Int, p: Int) =
      s"CAST(${cell(a, p, "CAST(ROUND(o_totalprice * 100) AS BIGINT)")} AS BIGINT)"
    def mean(a: Int, p: Int) = mdiv(s"c$a$p", s"n$a$p")
    s"""
      WITH t AS (
        SELECT ${n(0, 0)} AS n00, ${c(0, 0)} AS c00,
               ${n(0, 1)} AS n01, ${c(0, 1)} AS c01,
               ${n(1, 0)} AS n10, ${c(1, 0)} AS c10,
               ${n(1, 1)} AS n11, ${c(1, 1)} AS c11
        FROM orders
      )
      SELECT n00, n01, n10, n11,
             ${mean(0, 0)} AS mean_ctrl_pre_microcents,
             ${mean(0, 1)} AS mean_ctrl_post_microcents,
             ${mean(1, 0)} AS mean_treat_pre_microcents,
             ${mean(1, 1)} AS mean_treat_post_microcents,
             (${mean(1, 1)} - ${mean(1, 0)}) - (${mean(0, 1)} - ${mean(0, 0)})
               AS did_microcents
      FROM t"""
  }

  /** Model calibration audit (reliability table + expected calibration
    * error; Guo et al. ICML'17 made ECE the standard report): the
    * fitted IRLS logistic (SAME cells/iteration chain as
    * stats_logistic_irls — single-spelling rule) scored against the
    * exact empirical rate of each discount cell. Confidence is the
    * FLOOR-quantized fitted probability, accuracy the exact integer
    * rational, ECE the n-weighted gap — all micro units; the ECE
    * window runs over the 11-row cell table. */
  private def calibrationSql(spark: Boolean): String = {
    val mdiv = microDiv(_: String, _: String, spark)
    s"""
      WITH cells AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS sy
        FROM lineitem GROUP BY CAST(ROUND(l_discount * 100) AS BIGINT)
      ),
      b0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)
      ${irlsIter(1)}${irlsIter(2)},
      fin AS (
        SELECT x, n, sy,
               CAST(FLOOR(ROUND(1.0 / (1.0 + EXP(-(b.b0 + b.b1 * x))), 9)
                    * 1000000) AS BIGINT) AS conf_micro
        FROM cells CROSS JOIN b2 b
      ),
      g AS (
        SELECT x, n, sy, conf_micro,
               ${mdiv("sy", "n")} AS acc_micro
        FROM fin
      )
      SELECT x AS discount_pct, n, sy, conf_micro, acc_micro,
             ABS(conf_micro - acc_micro) AS gap_micro,
             -- integer DIV: `/` is double division in both engines and
             -- their double->BIGINT casts disagree (trunc vs round)
             CAST(SUM(n * ABS(conf_micro - acc_micro)) OVER ()
                  ${if (spark) "DIV" else "//"} SUM(n) OVER () AS BIGINT)
               AS ece_micro
      FROM g
      ORDER BY discount_pct"""
  }

  // the queries Spark and DuckDB run as one statement (QueryModule.shared)
  private val shared = QueryModule.shared(Map(
    "stats_mann_kendall" -> MannKendallSql,
    "stats_delta_method" -> DeltaMethodSql,
    "stats_proportion_ztest" -> PropZSql,
    "stats_hill" -> HillSql,
    "stats_logistic_irls" -> LogisticIrlsSql,
    "stats_ols2" -> Ols2Sql,
    "stats_corr_matrix" -> CorrMatrixSql,
    "stats_kendall" -> KendallSql,
    "stats_cuped" -> CupedSql,
    "stats_regression" -> RegressionSql,
    "stats_chisq" -> ChisqSql,
    "stats_gini" -> GiniSql,
    "stats_ttest" -> TTestSql,
    "stats_mannwhitney" -> MannWhitneySql,
    "stats_spearman" -> SpearmanSql,
    "stats_anova" -> AnovaSql,
    "stats_ks" -> KsSql,
    "stats_kruskal" -> KruskalSql
  ))

  val queries: Map[String, Q] = shared.queries ++ Map(
    "stats_calibration" -> Tables.sql(calibrationSql(spark = true)),
    "stats_did" -> Tables.sql(didSql(spark = true)),
    "stats_srm" -> Tables.sql(srmSql(spark = true)),
    "stats_sprt" -> Tables.sql(sprtSql(spark = true)),
    "stats_capture_recapture" -> Tables.sql(captureRecaptureSql(spark = true)),
    "stats_dawid_skene" -> Tables.sql(dawidSkeneSql(spark = true)),
    "stats_conformal" -> Tables.sql(conformalSql(spark = true)),
    "stats_fleiss_kappa" -> Tables.sql(fleissSql(spark = true)),
    "stats_cohens_kappa" -> Tables.sql(kappaSql(spark = true)),
    "stats_mcnemar"      -> Tables.sql(mcnemarSql(spark = true)),
    "stats_bootstrap_poisson" -> Tables.sql(bootstrapSql(spark = true)),
    "stats_bootstrap_median" -> Tables.sql(bootstrapMedianSql(spark = true)),
    "stats_theilsen"    -> Tables.sql(theilSenSql(spark = true))
  )

  val oracle: Map[String, String] = shared.oracle ++ Map(
    "stats_calibration" -> calibrationSql(spark = false),
    "stats_did" -> didSql(spark = false),
    "stats_srm" -> srmSql(spark = false),
    "stats_sprt" -> sprtSql(spark = false),
    "stats_capture_recapture" -> captureRecaptureSql(spark = false),
    "stats_dawid_skene" -> dawidSkeneSql(spark = false),
    "stats_conformal" -> conformalSql(spark = false),
    "stats_fleiss_kappa" -> fleissSql(spark = false),
    "stats_cohens_kappa" -> kappaSql(spark = false),
    "stats_mcnemar"      -> mcnemarSql(spark = false),
    "stats_bootstrap_poisson" -> bootstrapSql(spark = false),
    "stats_bootstrap_median" -> bootstrapMedianSql(spark = false),
    "stats_theilsen"    -> theilSenSql(spark = false)
  )
}
