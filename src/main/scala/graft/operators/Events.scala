package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{QueryModule, Tables}

/** Time-window aggregation and sessionization over the `events` table.
  *
  * The reference has no stream engine (SURVEY.md §2.9) — these are batch
  * expressions of the standard event-time operations: tumbling and
  * sliding windows via Spark's `window()` grouping expression,
  * gap-based sessionization via `session_window()` and via the portable
  * lag/cumsum SQL idiom (which doubles as the DuckDB oracle shape). The
  * same expressions run unchanged under Structured Streaming
  * (`readStream` + `withWatermark`) when a real stream source exists.
  *
  * All group keys are (window, user) — shuffles partition by key and
  * scale linearly; no per-user driver-side state.
  */
object Events {

  private type Q = (SparkSession, String) => DataFrame

  // Longest same-type event streak per user — the gaps-and-islands
  // run-length idiom (rn − rn_by_type is constant within a run): two
  // rank windows on the SAME (user, ts) sort order, one aggregate, a
  // per-user argmax. One user-keyed shuffle at any scale, no driver
  // state; ts ties break on event_id so runs are deterministic. All
  // integers end to end.
  private val LongestStreakSql = """
      WITH o AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rnt
        FROM events
      ),
      runs AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS run_len
        FROM o GROUP BY user_id, event_type, rn - rnt
      ),
      sel AS (
        SELECT user_id, event_type, run_len,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY run_len DESC, event_type) AS r
        FROM runs
      )
      SELECT user_id, event_type AS streak_type, run_len AS longest_streak
      FROM sel WHERE r = 1
      ORDER BY longest_streak DESC, user_id
      LIMIT 25"""

  /** Kaplan–Meier survival curve for time-to-conversion (first 'view' →
    * first 'purchase'; users who never purchase are right-censored at
    * their last observed event) — the survival-analysis primitive
    * product analytics runs for activation/retention timing. Shape at
    * scale: one user rollup (keyed shuffle), one small grouped
    * time-table, and the risk set via a cumulative window — never a
    * per-time rescan. Determinism: durations are integer seconds; d/n
    * per step is exact; each step's log-factor quantizes to a 1e-9
    * integer (the perplexity discipline) so the RUNNING log-survival
    * `km_logq` is an exact integer — the float curve is its display
    * twin (EXP then 6-dp ROUND; a step where d = n sends the curve to
    * exactly 0 without touching LN). Dialect split on the
    * second-duration spelling only (unix_timestamp vs date_diff —
    * boundary-count equals floor-epoch difference at second grain). */
  private def kmSql(spark: Boolean): String = {
    def dur(a: String, b: String) =
      if (spark) s"UNIX_TIMESTAMP($b) - UNIX_TIMESTAMP($a)"
      else s"DATE_DIFF('second', $a, $b)"
    s"""
      WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
               MAX(ts) AS tmax
        FROM events GROUP BY user_id
      ),
      s AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL AND tp > t0 THEN 1 ELSE 0 END AS ev,
               CAST(CASE WHEN tp IS NOT NULL AND tp > t0
                         THEN ${dur("t0", "tp")}
                         ELSE ${dur("t0", "tmax")} END AS BIGINT) AS dur
        FROM f WHERE t0 IS NOT NULL
      ),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM s),
      c AS (SELECT dur, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(ev) AS BIGINT) AS d
            FROM s GROUP BY dur),
      cum AS (
        SELECT dur, cnt, d,
               SUM(cnt) OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle
        FROM c
      ),
      steps AS (
        SELECT cum.dur AS t, cum.d,
               CAST(tot.total - (cum.cle - cum.cnt) AS BIGINT) AS n_risk
        FROM cum CROSS JOIN tot WHERE cum.d > 0
      ),
      lf AS (
        SELECT t, d, n_risk,
               CASE WHEN d < n_risk
                 THEN CAST(ROUND(LN(1.0E0 - CAST(d AS DOUBLE) / n_risk)
                                 * 1000000000.0) AS BIGINT) END AS lq,
               CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS hit_zero
        FROM steps
      )
      SELECT t AS t_seconds, d AS n_events, n_risk,
             CAST(SUM(lq) OVER w AS BIGINT) AS km_logq,
             CASE WHEN MAX(hit_zero) OVER w = 1 THEN 0.0E0
                  ELSE ROUND(EXP(SUM(lq) OVER w / 1.0E9), 6) END AS km_survival
      FROM lf
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY t"""
  }

  // the queries Spark and DuckDB run as one statement (QueryModule.shared)
  private val shared = QueryModule.shared(Map(
    "events_longest_streak" -> LongestStreakSql,

    // Ordered conversion funnel (view → click → purchase): each stage
    // keeps users whose first stage-k event precedes a later stage-k+1
    // event. Three per-user MIN aggregates chained by semi-ish joins —
    // at scale each stage is one shuffle on user_id and the stage
    // tables shrink monotonically; conversion ratios are exact-integer
    // divisions at the double boundary. All counts integers → one SQL
    // text serves both engines.
    "events_funnel" -> FunnelSql,

    // Path mining: top event-type trigrams across user sequences (two
    // LEADs per row — pattern DISCOVERY, where matchpath is pattern
    // MATCHING against a given regex). Key-partitioned window + one
    // hash aggregate; counts integer-exact.
    "events_top_paths" -> TopPathsSql,

    // First-order Markov transition matrix over each user's event
    // stream: P(next | current) from LEAD pairs — the sequence
    // statistic behind funnel design and matchpath pattern choice.
    // One window pass per user (key-partitioned), two hash aggregates;
    // counts are integers and each probability is one exact integer
    // division at the double boundary. One SQL text serves both
    // engines.
    "events_markov_transitions" -> MarkovSql,

    // Exponential-decay feature over each user's event stream: a fixed
    // 4-term LAG chain (1, 1/2, 1/4, 1/8) — the window-function
    // spelling of an EWMA tap. Arithmetic is one fixed IEEE sequence
    // per row (deterministic), the frame never re-scans (4 LAGs, O(1)
    // per row — the ADVICE.md lesson from asofForward's quadratic
    // frame), and the user_id predicate pushes below the window
    // because it is the partition key.
    "events_decay_feature" -> DecaySql,

    // Cohort lifetime-value curve: customers cohorted by first-order
    // month, cumulative whole-dollar revenue per cohort age divided by
    // cohort size — the LTV complement of events_cohort_retention's
    // count matrix. Cohorting is one aggregate + one fact join on the
    // customer key; the cumulative window runs over the tiny
    // (cohort, age) matrix, never the fact.
    "events_cohort_ltv" -> CohortLtvSql,

    // Seasonality-adjusted anomaly detection: each (type, day, hour)
    // count is z-scored against the type's OWN hour-of-day profile
    // (mean/std over observed days for that wall-clock hour), so a
    // nightly lull is never flagged just for being below the daily
    // mean — the diurnal-profile upgrade of events_rate_anomaly's
    // global baseline. Profile moments are exact integer sums cast to
    // double (≪ 2^53); the z formula is one shared IEEE expression,
    // filtered UNROUNDED at |z| > 2 and rounded only for display. Two
    // hash aggregates + one (type, hour)-keyed broadcast-size join.
    "events_seasonal_anomaly" -> SeasonalAnomalySql,

    // Linear multi-touch attribution: each purchase's value splits
    // evenly across the user's click/view touches in the prior 7
    // days (the positional counterpart of events_asof_prior_view's
    // last-touch). One user-keyed equi-join with a time-band filter,
    // then per-purchase shares quantize to exact cents before the
    // channel rollup — the quantized-sum discipline keeps the final
    // SUM order-independent. Scales: the join shuffles on user_id
    // only and the 7-day band bounds per-user pair counts.
    "events_attribution" -> AttributionSql
  ))

  val queries: Map[String, Q] = shared.queries ++ Map(
    // Streaming-ingest reconciliation (Hive hcatalog/streaming
    // TransactionBatch twin, SURVEY §1.1/§2.9): the events slice is
    // ingested into an ACID table in three micro-batches via
    // Acid.merge keyed on event_id, with batch 2 REPLAYED verbatim (a
    // failed-commit retry). The merge upsert makes the replay a no-op,
    // so the table must reconcile exactly with the direct batch
    // aggregate over the source — which is precisely what the oracle
    // computes without ever seeing the ACID table. Exact integer
    // outputs (milli-quantized sum on the cents grid).
    "acid_stream_ingest" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
      spark.sql("DROP TABLE IF EXISTS graft_db.acid_ingest_q")
      val src = spark.table("events")
        .where(col("event_id") % 200 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
      src.limit(0).write.saveAsTable("graft_db.acid_ingest_q")
      for (b <- 0 to 2) {
        val batch = src.where(col("event_id") % 3 === b)
        Acid.merge(spark, "graft_db.acid_ingest_q", batch, Seq("event_id"))
        if (b == 1) // the simulated retry: same batch, applied again
          Acid.merge(spark, "graft_db.acid_ingest_q", batch, Seq("event_id"))
      }
      spark.sql("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
        FROM graft_db.acid_ingest_q
        GROUP BY event_type ORDER BY event_type""")
    }),
    "events_survival_km" -> Tables.sql(kmSql(spark = true)),
    "events_tumbling_window" -> Tables.sql("""
      SELECT window.start AS w_start, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY WINDOW(ts, '1 hour'), event_type
      ORDER BY w_start, event_type"""),

    "events_sliding_window" -> Tables.sql("""
      SELECT window.start AS w_start,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY WINDOW(ts, '1 hour', '30 minutes')
      ORDER BY w_start"""),

    // Gap-based sessions (30 min), portable lag/cumsum formulation.
    "events_sessionize" -> Tables.sql("""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), numbered AS (
        SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM flagged
      )
      SELECT user_id, sess_id,
             COUNT(*) AS n_events,
             MIN(ts) AS sess_start,
             (UNIX_MICROS(MAX(ts)) - UNIX_MICROS(MIN(ts))) AS duration_us,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM numbered
      GROUP BY user_id, sess_id
      ORDER BY user_id, sess_id"""),

    // As-of lookup: for every event, the most recent PRIOR 'view' event
    // by the same user — LAST_VALUE ... IGNORE NULLS over a trailing
    // frame (Hive's last_value(col, true); an as-of join expressed as a
    // window, so it shuffles once on user_id instead of range-joining).
    "events_asof_prior_view" -> Tables.sql("""
      SELECT event_id, user_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END) IGNORE NULLS
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_id
      FROM events
      WHERE user_id <= 30
      ORDER BY user_id, event_id"""),

    // Native session_window() operator — must agree with the lag/cumsum
    // oracle on session boundaries.
    "events_session_window" -> Tables.sql("""
      SELECT user_id,
             session_window.start AS sess_start,
             COUNT(*) AS n_events
      FROM events
      GROUP BY SESSION_WINDOW(ts, '30 minutes'), user_id
      ORDER BY user_id, sess_start"""),

    // Weekly cohort retention: users bucketed by first-activity week,
    // counted in each later week they return. The µs-epoch week bucket
    // is exact integer arithmetic (engine-specific epoch spelling,
    // otherwise identical SQL); the DISTINCT activity set and both
    // aggregates shuffle on user_id / (cohort, offset) keys only.
    "events_cohort_retention" -> Tables.sql(cohortSql(spark = true)),

    // Time-series gap filling: hourly per-user grid between each
    // user's first and last active hour, missing hours forward-filled
    // with the last observed value (LAST_VALUE IGNORE NULLS over the
    // running frame — incremental, O(1)/row). Grid explode and the
    // IGNORE NULLS spelling are engine-specific; everything else is
    // identical SQL. The grid is per-user bounded (span × users), the
    // fill window key-partitioned — linear at scale.
    "events_gap_fill" -> Tables.sql(gapFillSql(spark = true)),

    // Per-user event-rate anomaly detection: hourly activity counts
    // z-scored against the user's own baseline, flagging hours >= 3σ.
    // The hour bucket is exact µs-epoch integer arithmetic; per-user
    // moments come from exact integer sums (counts are small ints, so
    // SUM(n·n) cannot overflow and is order-independent); the z and σ
    // arithmetic is one fixed IEEE sequence. Two hash aggregates on
    // (user, hour)/user keys + one co-partitioned join — linear at
    // 100 TB.
    "events_rate_anomaly" -> Tables.sql(anomalySql(spark = true)),

    // Forecast backtest — the EVALUATION layer the forecasting ops
    // (ses_forecast/des_brown/decay_feature) feed: one-step-ahead
    // errors of the truncated half-weight EWMA predictor vs the naive
    // x_{t-1} baseline over the per-type observed-hour count series.
    // Everything rides in 16ths (weights 8+4+2+2 sum to 16), so errors
    // are exact BIGINTs and MAE/bias/skill are exact micro ratios —
    // no float ever enters. Per-type partitioned LAG windows + one
    // aggregate; hour-scale data after the first reduce.
    "events_forecast_backtest" -> Tables.sql(backtestSql(spark = true)),

    // Local-maxima peak detection over the hourly count series: a peak
    // is strictly above both ±1/±2 neighbors (strictness makes the set
    // deterministic — plateaus are not peaks) with integer PROMINENCE
    // = height above the tallest neighbor; the ≥3 floor keeps only
    // real spikes. Pure per-type LAG/LEAD windows on the hour grid —
    // integer comparisons end to end, hour-scale data after the first
    // reduce.
    "events_peaks" -> Tables.sql(peaksSql(spark = true)),

    // Lag-k autocorrelation (k = 1..7) of the daily event count — the
    // seasonality probe behind rate-anomaly thresholds. Daily counts
    // are exact integers; each lag's cross-products reduce via exact
    // BIGINT sums, and the ACF formula runs once per lag on identical
    // inputs, so both engines agree bit-for-bit. 100 TB shape: the
    // raw scan collapses to O(days) rows first; everything after is
    // days-scale (a 7×days lag join is trivial).
    "events_autocorr" -> Tables.sql(autocorrSql(spark = true)),

    // CUSUM mean-shift changepoint over the daily count series: the
    // cumulative deviation S_t = Σ(xᵢ − μ) in n-scaled integer units
    // (n·S_t = n·cumsum − t·total stays an exact BIGINT), the flagged
    // day is argmax |n·S_t|. Day-scale data after the first reduce.
    "events_changepoint" -> Tables.sql(cusumSql(spark = true)),

    // Interval-overlap join (the two-sided generalization of the
    // binned point-in-interval RangeJoin): each user's click sessions
    // against their view sessions, pairs that overlap in time with
    // the overlap duration. The join is a user-keyed equi-join with
    // the overlap band as a residual filter — per-user session counts
    // bound the pair fan-out, so the shape holds at any user count.
    "events_session_overlap" -> Tables.sql(overlapSql(spark = true)),
    "events_interval_coverage" -> Tables.sql(coverageSql(spark = true)),

    // DAU/WAU/MAU active-user rollup with the DAU/MAU stickiness
    // ratio — the product-analytics staple. The raw scan compacts to
    // DISTINCT (day, user) first; the trailing 7-/30-day distinct
    // counts are band joins against that compaction (day-keyed, the
    // distinct set bounds the fan-out), never against raw events.
    "events_active_users" -> Tables.sql(activeUsersSql(spark = true)),

    // Burst detection via gaps-and-islands: hours whose event count
    // clears 1.5× the mean hourly rate (the 2·n·nh ≥ 3·tot integer
    // cross-multiply keeps the threshold exact), grouped into maximal
    // consecutive runs by the h − ROW_NUMBER() island key. Everything
    // after the first reduce is hour-scale; per-burst stats are one
    // more hash aggregate.
    "events_bursts" -> Tables.sql(burstSql(spark = true)),

    // Inter-arrival-time distribution: per-user gaps from one LAG
    // pass (key-partitioned, O(1)/row), bucketed to hours by exact
    // integer division, reduced to a histogram with fractions as the
    // one double division per bucket. The workload-characterization
    // probe behind the sessionize gap choice.
    "events_interarrival" -> Tables.sql(interarrivalSql(spark = true)),

    // Time-weighted average (TWAP) per (event_type, day): the
    // interval-weighted mean of the value stream read as a step
    // function — exact integer arithmetic end to end (see twapSql).
    "events_twap" -> Tables.sql(twapSql(spark = true)),

    // Single exponential smoothing forecast per event_type (Brown,
    // 1956 — the one-parameter baseline every monitoring stack runs):
    // the hourly count series folds left in time order through
    // level ← α·x + (1−α)·level at α = 1/2 and 1/4. Both α values are
    // exact binary fractions and both engines fold the SAME ordered
    // list left-to-right (Spark `aggregate` seeded with x₁ over the
    // tail ≡ DuckDB `list_reduce`), so every intermediate double is
    // the same IEEE op sequence — bit-identical without quantization.
    // At 100 TB the per-key series reduce is the only data motion:
    // hourly pre-aggregation shrinks the fact first, and the fold is
    // driver-free per-key work.
    "events_ses_forecast" -> Tables.sql(sesSql(spark = true)),
    "events_des_brown" -> Tables.sql(holtSql(spark = true)),
    "events_holt_winters" -> Tables.sql(holtWintersSql(spark = true)),

    // Robust outlier days via median/MAD (the rate-anomaly twin with
    // breakdown-resistant statistics): doubled/quadrupled integer
    // medians (2·median and 4·MAD are integral for an integer series)
    // keep every comparison exact; the robust z = 0.6745·(x−med)/MAD
    // is one double formula per day.
    "events_outliers_mad" -> Tables.sql(madSql(spark = true))
  )

  /** Cohort LTV text — one spelling for both engines. Monthly revenue
    * is an exact whole-dollar integer sum; the running cumulative sum
    * over integer-valued doubles stays exact (≪ 2^53), so only the
    * closing per-customer division is IEEE work. */
  private lazy val CohortLtvSql = """
      WITH f AS (
        SELECT o_custkey, CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE) AS cohort
        FROM orders GROUP BY o_custkey
      ), n AS (
        SELECT cohort, COUNT(*) AS n_cust FROM f GROUP BY cohort
      ), r AS (
        SELECT f.cohort,
               (YEAR(o.o_orderdate) - YEAR(f.cohort)) * 12
                 + (MONTH(o.o_orderdate) - MONTH(f.cohort)) AS age,
               CAST(FLOOR(o.o_totalprice) AS BIGINT) AS d
        FROM orders o JOIN f ON o.o_custkey = f.o_custkey
      ), m AS (
        SELECT cohort, age, CAST(SUM(d) AS DOUBLE) AS rev
        FROM r GROUP BY cohort, age
      )
      SELECT m.cohort, CAST(m.age AS INT) AS age, n.n_cust,
             m.rev AS rev_month,
             ROUND(SUM(m.rev) OVER (PARTITION BY m.cohort ORDER BY m.age)
                   / n.n_cust, 6) AS ltv_per_cust
      FROM m JOIN n USING (cohort)
      ORDER BY cohort, age"""

  /** Seasonal-anomaly text — one spelling for both engines. (lazy:
    * referenced from `queries`, which is declared above this val —
    * object vals initialize in declaration order.) */
  private lazy val SeasonalAnomalySql = """
      WITH c AS (
        SELECT event_type, CAST(ts AS DATE) AS d, HOUR(ts) AS h, COUNT(*) AS cnt
        FROM events GROUP BY event_type, CAST(ts AS DATE), HOUR(ts)
      ), b AS (
        SELECT event_type, h,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(cnt) AS DOUBLE) AS s,
               CAST(SUM(cnt * cnt) AS DOUBLE) AS ss
        FROM c GROUP BY event_type, h
      ), z AS (
        SELECT c.event_type, c.d, c.h, c.cnt,
               (c.cnt - s / n) / SQRT((ss - s * s / n) / n) AS zraw
        FROM c JOIN b ON c.event_type = b.event_type AND c.h = b.h
        WHERE n >= 3 AND (ss - s * s / n) / n > 0
      )
      SELECT event_type, d, CAST(h AS INT) AS h, cnt, ROUND(zraw, 6) AS z
      FROM z WHERE ABS(zraw) > 2
      ORDER BY event_type, d, h"""

  /** SES text. Dialect split: Spark sorts the collected (hour, cnt)
    * structs and folds the tail with `aggregate` seeded by the first
    * element; DuckDB's `LIST(... ORDER BY)` + `list_reduce` is that
    * same left fold by definition (acc is the lambda's first arg —
    * probed). The lambda body text is IDENTICAL in both dialects, so
    * the IEEE op sequence matches step for step. */
  private def sesSql(spark: Boolean): String = {
    val series =
      if (spark) """
        SELECT event_type,
               TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(hh, cnt))), e -> e.cnt) AS xs
        FROM h GROUP BY event_type"""
      else """
        SELECT event_type, LIST(cnt ORDER BY hh) AS xs
        FROM h GROUP BY event_type"""
    def fold(a: String, b: String) =
      if (spark)
        s"aggregate(SLICE(xs, 2, SIZE(xs) - 1), ELEMENT_AT(xs, 1), (acc, x) -> $a * x + $b * acc)"
      else
        s"list_reduce(xs, (acc, x) -> $a * x + $b * acc)"
    val (n, last) =
      if (spark) ("CAST(SIZE(xs) AS BIGINT)", "ELEMENT_AT(xs, -1)")
      else ("LEN(xs)", "xs[-1]")
    s"""
      WITH h AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS hh,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
      ), s AS ($series)
      SELECT event_type, $n AS n_hours,
             ROUND($last, 6) AS last_cnt,
             ROUND(${fold("0.5", "0.5")}, 6) AS ses_half,
             ROUND(${fold("0.25", "0.75")}, 6) AS ses_quarter
      FROM s ORDER BY event_type"""
  }

  /** Brown's double exponential smoothing (Brown 1959, "Statistical
    * Forecasting for Inventory Control" — the trend extension of
    * events_ses_forecast): s1 = SES(x), s2 = SES(s1), level = 2·s1−s2,
    * trend = (α/(1−α))(s1−s2), forecast_h = level + h·trend, with
    * DYADIC α = 1/2 so trend = s1−s2 and every coefficient is
    * binary-exact. Built ONLY from the proven scalar-double fold shape
    * (ses_forecast's rule: identical IEEE op sequence in both engines,
    * bit-exact without quantization). A struct-accumulator Holt fold
    * was probed first and REJECTED: DuckDB 1.0's list_reduce rebinds
    * the accumulator between struct-field evaluations (the 'b' field
    * saw acc.l already overwritten with the new level), so a
    * multi-field lambda state is not engine-version-proof. The s1
    * SERIES comes from per-index prefix folds (O(n²) scalar ops per
    * key — n is bounded by the time axis, ~680 hours at sf0.1, so
    * ~half a million flops per key: trivially narrow); s2 is one more
    * scalar fold over it. Same 100 TB shape as SES: hourly
    * pre-aggregation shrinks the fact, then driver-free per-key work. */
  private def holtSql(spark: Boolean): String = {
    val series =
      if (spark) """
        SELECT event_type,
               TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(hh, cnt))), e -> e.cnt) AS xs
        FROM h GROUP BY event_type"""
      else """
        SELECT event_type, LIST(cnt ORDER BY hh) AS xs
        FROM h GROUP BY event_type"""
    // prefix-SES series: element t = fold of xs[1..t] (both spellings
    // seed with the first element and fold the rest, scalar doubles)
    val s1s =
      if (spark)
        "TRANSFORM(SEQUENCE(1, SIZE(xs)), t -> aggregate(" +
          "SLICE(xs, 2, t - 1), ELEMENT_AT(xs, 1), (acc, x) -> 0.5 * x + 0.5 * acc))"
      else
        "list_transform(range(1, LEN(xs) + 1), t -> list_reduce(" +
          "xs[1:t], (acc, x) -> 0.5 * x + 0.5 * acc))"
    def fold(arr: String) =
      if (spark)
        s"aggregate(SLICE($arr, 2, SIZE($arr) - 1), ELEMENT_AT($arr, 1), (acc, x) -> 0.5 * x + 0.5 * acc)"
      else
        s"list_reduce($arr, (acc, x) -> 0.5 * x + 0.5 * acc)"
    val n = if (spark) "CAST(SIZE(xs) AS BIGINT)" else "LEN(xs)"
    s"""
      WITH h AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS hh,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
      ), s AS ($series),
      p AS (
        SELECT event_type, $n AS n_hours, ${fold("xs")} AS s1,
               ${fold(s1s)} AS s2
        FROM s WHERE $n >= 2
      )
      SELECT event_type, n_hours,
             ROUND(2 * s1 - s2, 6) AS level,
             ROUND(s1 - s2, 6) AS trend,
             ROUND((2 * s1 - s2) + 1 * (s1 - s2), 6) AS forecast_1,
             ROUND((2 * s1 - s2) + 3 * (s1 - s2), 6) AS forecast_3
      FROM p ORDER BY event_type"""
  }

  /** Holt–Winters-class ADDITIVE SEASONAL forecast (Winters, Mgmt.
    * Sci. 1960; the classical-decomposition estimation variant): with
    * a 24-hour season, seasonal indices are hour-of-day deviations
    * from the series mean, the deseasonalized series runs through the
    * PROVEN Brown α=1/2 double-smoothing fold (events_des_brown — the
    * recursive 3-state HW update is NOT expressible as a scalar fold,
    * and multi-field lambda accumulators were rejected there for
    * DuckDB's rebinding bug), and forecast_h re-adds the target hour's
    * index: level + h·trend + s[hod(last+h)].
    *
    * Engine-exactness argument, per the suite's float rules: hourly
    * counts are exact integers in double; their SUMs stay exact
    * (order-independent below 2^53), so each seasonal index is ONE
    * IEEE division of exact operands; deseasonalization is one IEEE
    * subtract per row; the folds run in pinned sorted order. Every
    * double both engines ROUND(…,6) is produced by an identical IEEE
    * op sequence. 100 TB shape: the hour×type pre-aggregation shrinks
    * the fact table to the time axis; everything after is per-key
    * narrow work — no global sorts, no driver state. */
  private def holtWintersSql(spark: Boolean): String = {
    val series =
      if (spark) """
        SELECT event_type,
               TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(hh, ds))), e -> e.ds) AS xs,
               MAX(hh) AS last_hh
        FROM d GROUP BY event_type"""
      else """
        SELECT event_type, LIST(ds ORDER BY hh) AS xs, MAX(hh) AS last_hh
        FROM d GROUP BY event_type"""
    val s1s =
      if (spark)
        "TRANSFORM(SEQUENCE(1, SIZE(xs)), t -> aggregate(" +
          "SLICE(xs, 2, t - 1), ELEMENT_AT(xs, 1), (acc, x) -> 0.5 * x + 0.5 * acc))"
      else
        "list_transform(range(1, LEN(xs) + 1), t -> list_reduce(" +
          "xs[1:t], (acc, x) -> 0.5 * x + 0.5 * acc))"
    def fold(arr: String) =
      if (spark)
        s"aggregate(SLICE($arr, 2, SIZE($arr) - 1), ELEMENT_AT($arr, 1), (acc, x) -> 0.5 * x + 0.5 * acc)"
      else
        s"list_reduce($arr, (acc, x) -> 0.5 * x + 0.5 * acc)"
    val n = if (spark) "CAST(SIZE(xs) AS BIGINT)" else "LEN(xs)"
    s"""
      WITH h AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS hh,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
      ),
      m AS (SELECT event_type, SUM(cnt) / COUNT(*) AS mu FROM h GROUP BY event_type),
      sidx AS (
        SELECT h.event_type, EXTRACT(HOUR FROM hh) AS hd,
               SUM(cnt) / COUNT(*) - MAX(mu) AS s
        FROM h JOIN m ON h.event_type = m.event_type
        GROUP BY h.event_type, EXTRACT(HOUR FROM hh)
      ),
      d AS (
        SELECT h.event_type, hh, cnt - s AS ds
        FROM h JOIN sidx ON h.event_type = sidx.event_type
                        AND EXTRACT(HOUR FROM hh) = sidx.hd
      ),
      s AS ($series),
      p AS (
        SELECT event_type, $n AS n_hours, last_hh,
               ${fold("xs")} AS s1, ${fold(s1s)} AS s2
        FROM s WHERE $n >= 2
      )
      SELECT p.event_type, n_hours,
             ROUND(2 * s1 - s2, 6) AS level,
             ROUND(s1 - s2, 6) AS trend,
             ROUND(n1.s, 6) AS seasonal_next,
             ROUND((2 * s1 - s2) + 1 * (s1 - s2) + n1.s, 6) AS forecast_1,
             ROUND((2 * s1 - s2) + 24 * (s1 - s2) + n24.s, 6) AS forecast_24
      FROM p
      JOIN sidx n1  ON n1.event_type = p.event_type
                   AND n1.hd = EXTRACT(HOUR FROM last_hh + INTERVAL '1' HOUR)
      JOIN sidx n24 ON n24.event_type = p.event_type
                   AND n24.hd = EXTRACT(HOUR FROM last_hh)
      ORDER BY p.event_type"""
  }

  /** TWAP text (dialect split on the µs extractor only). Each event's
    * value holds until the next event of the same (type, day) — the
    * step-function reading of a metric stream — so the day's average
    * weights each value by its holding interval in µs, not by row
    * count (the mean a burst of cheap ticks would otherwise drag).
    * Values quantize to milli-units so the weighted sum is integer
    * arithmetic: vq <= 5.7e5 x Σw <= 8.64e10 (disjoint intervals never
    * exceed the day) = 4.9e16 < 2^63, exact in Spark's BIGINT sum and
    * DuckDB's HUGEINT alike; the closing quotient is exact BIGINT
    * division (Spark `DIV` / DuckDB `//`) so every projected column is
    * an integer — a ROUND(num/(1000.0*den),6) double here passed local
    * DuckDB 1.0.0 bit-exactly yet failed another build's hash compare:
    * float display columns are not engine-version-proof. twap_micro is
    * the time-weighted mean in micro-units (vq is milli, ×1000), num
    * and den ride along so any consumer can form the real-valued mean.
    * Day-final events carry no successor and therefore no weight. */
  private def twapSql(spark: Boolean): String = {
    val us = if (spark) "UNIX_MICROS" else "EPOCH_US"
    // floor(1000*num/den) without the num*1000 BIGINT overflow
    // (num <= 4.9e16, x1000 > 2^63): split as 1000*q + floor(1000*r/den)
    // with num = q*den + r; r < den <= 8.64e10 so r*1000 < 2^63. All
    // inputs non-negative (value >= 0), so Spark DIV and DuckDB //
    // (both truncating) agree exactly.
    val idiv =
      if (spark) "((num DIV den) * 1000 + ((num % den) * 1000) DIV den)"
      else "((num // den) * 1000 + ((num % den) * 1000) // den)"
    s"""
      WITH seq AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(FLOOR(value * 1000) AS BIGINT) AS vq,
               (LEAD($us(ts)) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                    ORDER BY ts, event_id) - $us(ts)) AS w
        FROM events
      ),
      agg AS (
        SELECT event_type, d,
               CAST(SUM(vq * w) AS BIGINT) AS num,
               CAST(SUM(w) AS BIGINT) AS den,
               COUNT(*) AS n_intervals
        FROM seq WHERE w IS NOT NULL GROUP BY event_type, d
      )
      SELECT event_type, d, n_intervals, num, den,
             CAST($idiv AS BIGINT) AS twap_micro
      FROM agg ORDER BY event_type, d"""
  }

  /** CUSUM text (dialect split on day numbering only). */
  private def cusumSql(spark: Boolean): String = {
    val day =
      if (spark) "DATEDIFF(CAST(ts AS DATE), DATE '1970-01-01')"
      else "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT)"
    s"""
      WITH daily AS (
        SELECT $day AS d, COUNT(*) AS x FROM events GROUP BY 1
      ),
      tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM daily
      ),
      c AS (
        SELECT d, x,
               CAST(SUM(x) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, n, s
        FROM daily CROSS JOIN tot
      ),
      k AS (SELECT d, x, n, n * cx - t * s AS sc FROM c)
      SELECT d, x, ROUND(CAST(sc AS DOUBLE) / n, 2) AS cusum,
             CASE WHEN ABS(sc) = MAX(ABS(sc)) OVER () THEN 1 ELSE 0 END
               AS is_changepoint
      FROM k ORDER BY d"""
  }

  /** Interval-overlap text (dialect split on the epoch-µs function). */
  /** Interval-union coverage (the sweep-line / segment-merge primitive
    * behind "total active time" metrics): per-user union of the
    * click/view session intervals — each interval emits (+1 at start,
    * −1 at end) deltas, a per-user cumulative window tracks open
    * intervals, and covered time is the sum of inter-point gaps while
    * any interval is open. Tie handling is provably order-free: rows
    * sharing a timestamp contribute zero-length gaps whatever their
    * within-tie permutation, and the LAST row of a tie group carries
    * both the group-total running sum and the gap to the next distinct
    * point — so the per-user totals are engine- and shuffle-order-
    * independent WITHOUT needing a unique tiebreak column. (The
    * sessionize stage upstream is a different story: its running-sum
    * window orders by (ts, event_id) — matching the flagged window —
    * so sess_id is a deterministic function of the data even when two
    * events of one (user, type) share a timestamp.) Exact µs
    * integers end to end. 100 TB shape: sessionize windows + one
    * user-partitioned sweep window + hash aggregates — all partitioned
    * by user, no global sort. */
  private def coverageSql(spark: Boolean): String = {
    val us = if (spark) "UNIX_MICROS" else "EPOCH_US"
    s"""
      WITH flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 1 DAY
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WHERE event_type IN ('click', 'view')
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      ),
      numbered AS (
        SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM flagged
      ),
      sess AS (
        SELECT user_id, event_type, sess_id,
               $us(MIN(ts)) AS s, $us(MAX(ts)) AS e
        FROM numbered GROUP BY user_id, event_type, sess_id
        HAVING MAX(ts) > MIN(ts)
      ),
      pts AS (
        SELECT user_id, s AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT user_id, e AS t, -1 AS delta FROM sess
      ),
      sweep AS (
        SELECT user_id,
               CAST(SUM(delta) OVER (PARTITION BY user_id
                 ORDER BY t, delta DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS open_after,
               t, LEAD(t) OVER (PARTITION BY user_id ORDER BY t, delta DESC) AS nxt
        FROM pts
      ),
      cov AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN open_after > 0 THEN nxt - t ELSE 0 END)
                 AS BIGINT) AS covered_us
        FROM sweep WHERE nxt IS NOT NULL
        GROUP BY user_id
      ),
      tot AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_intervals,
               CAST(SUM(e - s) AS BIGINT) AS sum_len_us,
               CAST(MAX(e) - MIN(s) AS BIGINT) AS span_us
        FROM sess GROUP BY user_id
      )
      SELECT t.user_id, t.n_intervals, t.sum_len_us, c.covered_us,
             t.sum_len_us - c.covered_us AS overlap_us, t.span_us
      FROM tot t JOIN cov c ON t.user_id = c.user_id
      ORDER BY t.user_id"""
  }

  private def overlapSql(spark: Boolean): String = {
    val us = if (spark) "UNIX_MICROS" else "EPOCH_US"
    s"""
      WITH flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 1 DAY
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WHERE event_type IN ('click', 'view')
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      ),
      numbered AS (
        SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM flagged
      ),
      sess AS (
        SELECT user_id, event_type, sess_id, MIN(ts) AS s, MAX(ts) AS e
        FROM numbered GROUP BY user_id, event_type, sess_id
      )
      SELECT c.user_id, c.sess_id AS click_sess, v.sess_id AS view_sess,
             ($us(LEAST(c.e, v.e)) - $us(GREATEST(c.s, v.s))) AS overlap_us
      FROM sess c JOIN sess v
        ON c.user_id = v.user_id
       AND c.event_type = 'click' AND v.event_type = 'view'
       AND c.s <= v.e AND v.s <= c.e
      ORDER BY c.user_id, click_sess, view_sess"""
  }

  /** DAU/WAU/MAU text (dialect split on day numbering only). */
  private def activeUsersSql(spark: Boolean): String = {
    val day =
      if (spark) "DATEDIFF(CAST(ts AS DATE), DATE '1970-01-01')"
      else "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT)"
    s"""
      WITH du AS (SELECT DISTINCT $day AS d, user_id FROM events),
      days AS (SELECT DISTINCT d FROM du),
      dau AS (SELECT d, COUNT(*) AS dau FROM du GROUP BY d),
      wau AS (
        SELECT days.d AS d, COUNT(DISTINCT du.user_id) AS wau
        FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
        GROUP BY days.d
      ),
      mau AS (
        SELECT days.d AS d, COUNT(DISTINCT du.user_id) AS mau
        FROM days JOIN du ON du.d BETWEEN days.d - 29 AND days.d
        GROUP BY days.d
      )
      SELECT dau.d AS d, dau.dau, wau.wau, mau.mau,
             ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
      FROM dau JOIN wau ON dau.d = wau.d JOIN mau ON dau.d = mau.d
      ORDER BY d"""
  }

  /** Burst (gaps-and-islands) text. */
  private def burstSql(spark: Boolean): String = {
    val us = if (spark) "UNIX_MICROS" else "EPOCH_US"
    val idiv = if (spark) "DIV" else "//"
    s"""
      WITH hourly AS (
        SELECT CAST($us(ts) $idiv 3600000000 AS BIGINT) AS h, COUNT(*) AS n
        FROM events GROUP BY 1
      ),
      t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nh, CAST(SUM(n) AS BIGINT) AS tot
        FROM hourly
      ),
      f AS (
        SELECT h, n FROM hourly CROSS JOIN t WHERE 2 * n * nh >= 3 * tot
      ),
      isl AS (
        SELECT h, n, h - ROW_NUMBER() OVER (ORDER BY h) AS grp FROM f
      )
      SELECT MIN(h) AS start_h, MAX(h) AS end_h, COUNT(*) AS n_hours,
             MAX(n) AS peak, CAST(SUM(n) AS BIGINT) AS n_events
      FROM isl GROUP BY grp ORDER BY start_h"""
  }

  /** Inter-arrival histogram text (dialect split on epoch-µs and
    * integer-division spellings). */
  private def interarrivalSql(spark: Boolean): String = {
    val us = if (spark) "UNIX_MICROS" else "EPOCH_US"
    val idiv = if (spark) "DIV" else "//"
    s"""
      WITH g AS (
        SELECT ($us(ts) - $us(LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id))) AS dus
        FROM events
      ),
      h AS (
        SELECT CAST(dus $idiv 3600000000 AS BIGINT) AS gap_hours, COUNT(*) AS n
        FROM g WHERE dus IS NOT NULL GROUP BY 1
      ),
      t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM h)
      SELECT gap_hours, n, ROUND(n / tot, 6) AS frac
      FROM h CROSS JOIN t ORDER BY gap_hours"""
  }

  /** Median/MAD outlier text. Doubled mid-ranks make the medians exact
    * integers; ties in the deviation order break by day so the rank
    * assignment is total on both engines. */
  private def madSql(spark: Boolean): String = {
    val day =
      if (spark) "DATEDIFF(CAST(ts AS DATE), DATE '1970-01-01')"
      else "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT)"
    s"""
      WITH daily AS (
        SELECT $day AS d, COUNT(*) AS x FROM events GROUP BY 1
      ),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
      rk AS (
        SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, d) AS BIGINT) AS i
        FROM daily
      ),
      med AS (
        SELECT CASE WHEN n % 2 = 1
                 THEN 2 * SUM(CASE WHEN i = (n + 1) / 2 THEN x ELSE 0 END)
                 ELSE SUM(CASE WHEN i IN (n / 2, n / 2 + 1) THEN x ELSE 0 END)
               END AS med2
        FROM rk CROSS JOIN nn GROUP BY n
      ),
      dev AS (
        SELECT d, x, ABS(2 * x - med2) AS e2 FROM daily CROSS JOIN med
      ),
      drk AS (
        SELECT e2, CAST(ROW_NUMBER() OVER (ORDER BY e2, d) AS BIGINT) AS i
        FROM dev
      ),
      mad AS (
        SELECT CASE WHEN n % 2 = 1
                 THEN 2 * SUM(CASE WHEN i = (n + 1) / 2 THEN e2 ELSE 0 END)
                 ELSE SUM(CASE WHEN i IN (n / 2, n / 2 + 1) THEN e2 ELSE 0 END)
               END AS mad4
        FROM drk CROSS JOIN nn GROUP BY n
      )
      SELECT d, x,
             ROUND(CAST(med2 AS DOUBLE) / 2, 1) AS median,
             ROUND(CAST(mad4 AS DOUBLE) / 4, 2) AS mad,
             ROUND(1.349E0 * (2 * x - med2) / mad4, 6) AS robust_z,
             CASE WHEN ABS(1.349E0 * (2 * x - med2) / mad4) > 3.5 THEN 1 ELSE 0 END
               AS is_outlier
      FROM daily CROSS JOIN med CROSS JOIN mad
      ORDER BY d"""
  }

  /** Dialect-split ACF text: day numbering and inline-VALUES syntax
    * differ; the arithmetic is byte-identical. */
  private def autocorrSql(spark: Boolean): String = {
    val day =
      if (spark) "DATEDIFF(CAST(ts AS DATE), DATE '1970-01-01')"
      else "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT)"
    val lags =
      if (spark) "VALUES (1),(2),(3),(4),(5),(6),(7) AS lags(k)"
      else "(VALUES (1),(2),(3),(4),(5),(6),(7)) AS lags(k)"
    s"""
      WITH daily AS (
        SELECT $day AS d, COUNT(*) AS x FROM events GROUP BY 1
      ),
      s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM daily
      ),
      lagged AS (
        SELECT k, COUNT(*) AS m,
               CAST(SUM(a.x * b.x) AS DOUBLE) AS sab,
               CAST(SUM(a.x) AS DOUBLE) AS sa,
               CAST(SUM(b.x) AS DOUBLE) AS sb
        FROM $lags CROSS JOIN daily a JOIN daily b ON b.d = a.d + lags.k
        GROUP BY k
      )
      SELECT k, m,
             ROUND((sab - (sx / n) * (sa + sb) + m * (sx / n) * (sx / n))
                   / (sxx - n * (sx / n) * (sx / n)), 6) AS acf
      FROM lagged CROSS JOIN s
      ORDER BY k"""
  }

  // linear attribution; DuckDB reads INTERVAL 7 DAYS as 7 DAY
  private lazy val AttributionSql = """
      WITH purch AS (
        SELECT event_id, user_id, ts,
               CAST(ROUND(value * 100) AS BIGINT) AS v_cents
        FROM events WHERE event_type = 'purchase'
      ),
      touch AS (
        SELECT user_id, event_type AS channel, ts FROM events
        WHERE event_type IN ('click', 'view')
      ),
      joined AS (
        SELECT p.event_id, p.v_cents, t.channel
        FROM purch p JOIN touch t
          ON p.user_id = t.user_id
         AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAYS
      ),
      per AS (
        SELECT event_id, v_cents, channel, COUNT(*) AS c,
               SUM(COUNT(*)) OVER (PARTITION BY event_id) AS n
        FROM joined GROUP BY event_id, v_cents, channel
      )
      SELECT channel, CAST(SUM(c) AS BIGINT) AS touches,
             ROUND(CAST(SUM(CAST(ROUND(CAST(v_cents AS DOUBLE) * c / n)
                                 AS BIGINT)) AS DOUBLE) / 100, 2) AS credit
      FROM per GROUP BY channel ORDER BY channel"""

  // one SQL text, both engines
  private lazy val FunnelSql = """
      WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
                 WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id AS user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1
            GROUP BY e.user_id),
      p AS (SELECT e.user_id AS user_id, MIN(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
            GROUP BY e.user_id)
      SELECT (SELECT COUNT(*) FROM v) AS n_view,
             (SELECT COUNT(*) FROM c) AS n_view_click,
             (SELECT COUNT(*) FROM p) AS n_view_click_purchase,
             ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM v) AS DOUBLE), 6) AS conv_click,
             ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM c) AS DOUBLE), 6) AS conv_purchase"""

  // one SQL text, both engines
  private lazy val TopPathsSql = """
      WITH s AS (
        SELECT user_id, event_type AS e1,
               LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
               LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        FROM events
      )
      SELECT e1, e2, e3, COUNT(*) AS n
      FROM s WHERE e3 IS NOT NULL
      GROUP BY e1, e2, e3
      ORDER BY n DESC, e1, e2, e3
      LIMIT 10"""

  /** Gap-fill SQL parameterized on the µs-epoch, grid-explode, and
    * IGNORE NULLS spellings (Spark: UNIX_MICROS + EXPLODE(SEQUENCE) +
    * postfix IGNORE NULLS; DuckDB: EPOCH_US + UNNEST(RANGE) + in-paren
    * IGNORE NULLS); the span/join/fill SQL is otherwise identical. */
  private def gapFillSql(spark: Boolean): String = {
    val epochUs = if (spark) "UNIX_MICROS(ts)" else "EPOCH_US(ts)"
    val grid =
      if (spark) """
        SELECT su AS user_id, h
        FROM span LATERAL VIEW EXPLODE(SEQUENCE(h0, h1)) g AS h"""
      else """
        SELECT su AS user_id, h0 + r.i AS h
        FROM span, UNNEST(RANGE(0, h1 - h0 + 1)) AS r(i)"""
    val fill =
      if (spark) """LAST_VALUE(v) IGNORE NULLS OVER (PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
      else """LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
    s"""
      WITH hr AS (
        SELECT user_id, CAST(FLOOR($epochUs / 3600000000.0) AS BIGINT) AS h,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        FROM events WHERE user_id <= 5
        GROUP BY user_id, CAST(FLOOR($epochUs / 3600000000.0) AS BIGINT)
      ), span AS (
        SELECT user_id AS su, MIN(h) AS h0, MAX(h) AS h1 FROM hr GROUP BY user_id
      ), grid AS ($grid
      ), joined AS (
        SELECT g.user_id AS user_id, g.h AS h, hr.v AS v
        FROM grid g LEFT JOIN hr ON hr.user_id = g.user_id AND hr.h = g.h
      )
      SELECT user_id, h, v, $fill AS v_filled
      FROM joined
      ORDER BY user_id, h"""
  }

  // one SQL text, both engines
  private lazy val MarkovSql = """
      WITH s AS (
        SELECT user_id, event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
      ), c AS (
        SELECT cur, nxt, COUNT(*) AS n FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt
      ), t AS (SELECT cur AS tc, SUM(n) AS tot FROM c GROUP BY cur)
      SELECT c.cur AS cur, c.nxt AS nxt, c.n AS n,
             ROUND(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
      FROM c JOIN t ON c.cur = t.tc
      ORDER BY cur, nxt"""

  /** Anomaly SQL parameterized on the µs-epoch spelling; everything
    * else is textually identical. The n_hours >= 10 floor keeps the
    * baseline meaningful and the variance guard drops constant-rate
    * users (σ = 0 would divide by zero in both engines). */
  private def anomalySql(spark: Boolean): String = {
    val epochUs = if (spark) "UNIX_MICROS(ts)" else "EPOCH_US(ts)"
    s"""
      WITH hr AS (
        SELECT user_id, CAST(FLOOR($epochUs / 3600000000.0) AS BIGINT) AS hour_id,
               COUNT(*) AS n
        FROM events
        GROUP BY user_id, CAST(FLOOR($epochUs / 3600000000.0) AS BIGINT)
      ), st AS (
        SELECT user_id AS su, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu,
               CAST(SUM(n * n) AS DOUBLE) / COUNT(*) AS musq,
               COUNT(*) AS n_hours
        FROM hr GROUP BY user_id
      )
      SELECT hr.user_id AS user_id, hr.hour_id AS hour_id, hr.n AS n,
             ROUND((CAST(hr.n AS DOUBLE) - st.mu) / SQRT(st.musq - st.mu * st.mu), 6) AS z
      FROM hr JOIN st ON hr.user_id = st.su
      WHERE st.n_hours >= 10 AND st.musq - st.mu * st.mu > 0
        AND (CAST(hr.n AS DOUBLE) - st.mu) / SQRT(st.musq - st.mu * st.mu) >= 3.0
      ORDER BY user_id, hour_id"""
  }

  /** Cohort SQL parameterized on the µs-epoch spelling (Spark
    * UNIX_MICROS ↔ DuckDB EPOCH_US — the events_sessionize pairing);
    * everything else is textually identical. */
  private def cohortSql(spark: Boolean): String = {
    val epochUs = if (spark) "UNIX_MICROS(ts)" else "EPOCH_US(ts)"
    s"""
      WITH wkv AS (SELECT user_id,
                     CAST(FLOOR($epochUs / 604800000000.0) AS BIGINT) AS wk
                   FROM events),
      f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wkv GROUP BY user_id),
      a AS (SELECT DISTINCT user_id, wk FROM wkv)
      SELECT f.cohort_wk AS cohort_wk, a.wk - f.cohort_wk AS week_offset,
             COUNT(*) AS n_users
      FROM a JOIN f ON a.user_id = f.user_id
      GROUP BY f.cohort_wk, a.wk - f.cohort_wk
      ORDER BY cohort_wk, week_offset"""
  }

  // one SQL text, both engines
  /** events_peaks text (dialect split: µs + integer div). */
  private def peaksSql(spark: Boolean): String = {
    val us = if (spark) "UNIX_MICROS" else "EPOCH_US"
    val dv = if (spark) "DIV" else "//"
    s"""
      WITH hourly AS (
        SELECT event_type, $us(ts) $dv 3600000000 AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, $us(ts) $dv 3600000000
      ),
      ctx AS (
        SELECT event_type, h, x,
               LAG(x, 1) OVER w AS l1, LAG(x, 2) OVER w AS l2,
               LEAD(x, 1) OVER w AS r1, LEAD(x, 2) OVER w AS r2
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h)
      )
      SELECT event_type, CAST(h AS BIGINT) AS hour_no, x AS height,
             x - GREATEST(l1, l2, r1, r2) AS prominence
      FROM ctx
      WHERE l1 IS NOT NULL AND l2 IS NOT NULL
        AND r1 IS NOT NULL AND r2 IS NOT NULL
        AND x > l1 AND x > l2 AND x > r1 AND x > r2
        AND x - GREATEST(l1, l2, r1, r2) >= 3
      ORDER BY event_type, hour_no"""
  }

  /** events_forecast_backtest text (dialect split: µs + integer div). */
  private def backtestSql(spark: Boolean): String = {
    val us = if (spark) "UNIX_MICROS" else "EPOCH_US"
    val dv = if (spark) "DIV" else "//"
    val mdiv = graft.operators.Statistics.microDiv(_: String, _: String, spark)
    s"""
      WITH hourly AS (
        SELECT event_type, $us(ts) $dv 3600000000 AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, $us(ts) $dv 3600000000
      ),
      lagged AS (
        SELECT event_type, x,
               LAG(x, 1) OVER w AS l1, LAG(x, 2) OVER w AS l2,
               LAG(x, 3) OVER w AS l3, LAG(x, 4) OVER w AS l4
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h)
      ),
      err AS (
        SELECT event_type,
               16 * x - (8 * l1 + 4 * l2 + 2 * l3 + 2 * l4) AS e16,
               16 * (x - l1) AS n16
        FROM lagged WHERE l4 IS NOT NULL
      ),
      agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_evals,
               CAST(SUM(ABS(e16)) AS BIGINT) AS sae16,
               CAST(SUM(e16) AS BIGINT) AS se16,
               CAST(SUM(ABS(n16)) AS BIGINT) AS snaive16
        FROM err GROUP BY event_type
      )
      SELECT event_type, n_evals,
             ${mdiv("sae16", "16 * n_evals")} AS mae_micro,
             ${mdiv("se16", "16 * n_evals")} AS bias_micro,
             ${mdiv("snaive16", "16 * n_evals")} AS naive_mae_micro,
             ${mdiv("snaive16 - sae16", "snaive16")} AS skill_micro
      FROM agg ORDER BY event_type"""
  }

  private lazy val DecaySql = """
      SELECT user_id, event_id,
             ROUND(value + 0.5 * COALESCE(l1, 0.0) + 0.25 * COALESCE(l2, 0.0)
                         + 0.125 * COALESCE(l3, 0.0), 6) AS decay_feat
      FROM (
        SELECT user_id, event_id, value,
               LAG(value, 1) OVER w AS l1,
               LAG(value, 2) OVER w AS l2,
               LAG(value, 3) OVER w AS l3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ) t
      WHERE user_id <= 30
      ORDER BY user_id, event_id"""

  val oracle: Map[String, String] = shared.oracle ++ Map(
    // the reconciliation oracle never sees the ACID table: direct
    // aggregate over the same source slice — equal iff ingest was
    // exactly-once (the replayed batch would inflate n_events/v_milli)
    "acid_stream_ingest" -> """
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
      FROM events WHERE event_id % 200 = 0
      GROUP BY event_type ORDER BY event_type""",

    "events_survival_km" -> kmSql(spark = false),
    "events_tumbling_window" -> """
      SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts) AS w_start, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY w_start, event_type""",

    "events_sliding_window" -> """
      SELECT w_start, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM (
        SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts) AS w_start, value FROM events
        UNION ALL
        SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts, INTERVAL 30 MINUTES) AS w_start, value FROM events
      ) u
      GROUP BY w_start
      ORDER BY w_start""",

    "events_sessionize" -> """
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), numbered AS (
        SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM flagged
      )
      SELECT user_id, sess_id,
             COUNT(*) AS n_events,
             MIN(ts) AS sess_start,
             CAST(EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS BIGINT) AS duration_us,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM numbered
      GROUP BY user_id, sess_id
      ORDER BY user_id, sess_id""",

    "events_asof_prior_view" -> """
      SELECT event_id, user_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_id
      FROM events
      WHERE user_id <= 30
      ORDER BY user_id, event_id""",

    "events_session_window" -> """
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), numbered AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
      )
      SELECT user_id,
             MIN(ts) AS sess_start,
             COUNT(*) AS n_events
      FROM numbered
      GROUP BY user_id, sess_id
      ORDER BY user_id, sess_start""",
    "events_cohort_retention" -> cohortSql(spark = false),
    "events_forecast_backtest" -> backtestSql(spark = false),
    "events_peaks" -> peaksSql(spark = false),
    "events_rate_anomaly" -> anomalySql(spark = false),
    "events_gap_fill" -> gapFillSql(spark = false),
    "events_autocorr" -> autocorrSql(spark = false),
    "events_changepoint" -> cusumSql(spark = false),
    "events_outliers_mad" -> madSql(spark = false),
    "events_session_overlap" -> overlapSql(spark = false),
    "events_interval_coverage" -> coverageSql(spark = false),
    "events_interarrival" -> interarrivalSql(spark = false),
    "events_twap" -> twapSql(spark = false),
    "events_ses_forecast" -> sesSql(spark = false),
    "events_des_brown" -> holtSql(spark = false),
    "events_holt_winters" -> holtWintersSql(spark = false),
    "events_bursts" -> burstSql(spark = false),
    "events_active_users" -> activeUsersSql(spark = false)
  )
}
