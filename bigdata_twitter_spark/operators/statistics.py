"""Statistical-modeling aggregates (round 6): grouped OLS regression,
CUSUM changepoint detection, and lagged autocorrelation — the
fit/monitor/forecast-prep trio a warehouse user reaches for right
after `agg_stats`' moments.

House numeric rule (numerics.py): every accumulation that feeds the
oracle hash is EXACT (decimal or integer co-moments — associative,
order-independent, so they distribute across any partitioning), and
the float math happens once per output row in an expression sequence
token-identical on both engines.  This is what makes a regression or
an ACF hash-grade where a naive double `sum()` would be
partition-order noise.

Window caution encoded here: a windowed SUM over DOUBLES is NOT
hash-safe even when both engines sort identically — DuckDB evaluates
window sums with a segment tree (different association order than
Spark's running fold).  The CUSUM therefore accumulates the exact
INTEGER running count and derives the standardized statistic per row
as ``(S_t − t·μ)/σ`` — integers in the window, floats only in the
final per-row expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..numerics import dec, wide_dbl, wide_dbl_sql
from ..registry import query
from ..tables import load, local_frame
from .distcum import two_level_cumulative


_Q = "CAST(l_quantity AS DECIMAL(12,2))"
_P = "CAST(l_extendedprice AS DECIMAL(12,2))"


@query(
    "agg_regression_per_group",
    sql=f"""
    WITH m AS (
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               {wide_dbl_sql(f'SUM({_Q})')} AS sx,
               {wide_dbl_sql(f'SUM({_Q} * {_Q})')} AS sxx,
               {wide_dbl_sql(f'SUM({_P})')} AS sy,
               {wide_dbl_sql(f'SUM({_P} * {_P})')} AS syy,
               {wide_dbl_sql(f'SUM({_Q} * {_P})')} AS sxy
        FROM lineitem
        GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus, n,
           CASE WHEN n * sxx - sx * sx = 0.0 THEN NULL
                ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           CASE WHEN n * sxx - sx * sx = 0.0 THEN NULL
                ELSE (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n END AS intercept,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0.0
                THEN NULL
                ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy))
           END AS r2
    FROM m
    """,
    tables=("lineitem",),
    scale_note=(
        "Per-group OLS (price ~ quantity) from exact decimal "
        "co-moments in ONE grouped pass — n, Σx, Σy, Σxy, Σx², Σy² "
        "partial-aggregate map-side and merge associatively, so the "
        "plan is the same two-phase hash agg as agg_q1_pricing "
        "however many executors hold the group; slope/intercept/r² "
        "are one double expression per OUTPUT row (groups, not "
        "rows).  The moment-sketch shape every MPP regression "
        "(regr_slope etc.) uses internally, made hash-stable by "
        "keeping the accumulators decimal."
    ),
)
def agg_regression_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(returnflag, linestatus) least-squares fit of extendedprice
    on quantity: slope, intercept, r² from exact co-moments."""
    l = load(spark, sf_dir, "lineitem")
    # wide_dbl (not a plain .cast("double")): the Σ price² co-moment's
    # unscaled decimal exceeds 2^53, where the engines' native
    # decimal→double casts diverge by an ulp (see numerics.wide_dbl).
    m = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        wide_dbl(F.sum(dec("l_quantity"))).alias("sx"),
        wide_dbl(F.sum(dec("l_quantity") * dec("l_quantity"))).alias("sxx"),
        wide_dbl(F.sum(dec("l_extendedprice"))).alias("sy"),
        wide_dbl(
            F.sum(dec("l_extendedprice") * dec("l_extendedprice"))
        ).alias("syy"),
        wide_dbl(
            F.sum(dec("l_quantity") * dec("l_extendedprice"))
        ).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (
        F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy")
    )
    # Zero-variance guards (r10 degenerate-domain sweep): a constant x
    # makes slope/intercept undefined and a constant x or y makes r²
    # undefined — NULL, not an ANSI DIVIDE_BY_ZERO job kill; guarded
    # identically in the oracle.
    varx = n * sxx - sx * sx
    slope = F.when(varx == 0.0, F.lit(None).cast("double")).otherwise(
        (n * sxy - sx * sy) / varx
    )
    r2den = varx * (n * syy - sy * sy)
    return m.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        slope.alias("slope"),
        F.when(varx == 0.0, F.lit(None).cast("double"))
        .otherwise((sy - ((n * sxy - sx * sy) / varx) * sx) / n)
        .alias("intercept"),
        F.when(r2den == 0.0, F.lit(None).cast("double"))
        .otherwise(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / r2den
        )
        .alias("r2"),
    )


@query(
    "ts_changepoint_cusum",
    sql="""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               COUNT(*) AS nh,
               CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mu,
               CASE WHEN COUNT(*) < 2 THEN NULL
                    ELSE sqrt((CAST(SUM(cnt * cnt) AS DOUBLE)
                               - CAST(SUM(cnt) AS DOUBLE)
                                 * CAST(SUM(cnt) AS DOUBLE)
                                 / COUNT(*))
                              / (COUNT(*) - 1)) END AS sigma
        FROM hourly GROUP BY 1
    ),
    walk AS (
        SELECT h.event_type, h.hr, h.cnt,
               CAST(SUM(h.cnt) OVER w AS BIGINT) AS run_cnt,
               CAST(COUNT(*) OVER w AS BIGINT) AS t,
               s.mu, s.sigma
        FROM hourly h JOIN stats s USING (event_type)
        WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    c AS (
        SELECT event_type, hr, cnt,
               CASE WHEN sigma IS NULL OR sigma = 0.0 THEN NULL
                    ELSE (CAST(run_cnt AS DOUBLE)
                          - CAST(t AS DOUBLE) * mu) / sigma
               END AS cusum
        FROM walk
    ),
    f AS (
        SELECT event_type, hr, cnt, cusum,
               MAX(abs(cusum)) OVER (PARTITION BY event_type) AS mx
        FROM c
    )
    SELECT event_type, hr, cnt, cusum,
           abs(cusum) = mx
           AND hr = MIN(CASE WHEN abs(cusum) = mx THEN hr END)
                        OVER (PARTITION BY event_type)
               AS is_changepoint
    FROM f
    """,
    tables=("events",),
    scale_note=(
        "CUSUM drift monitor over the hourly series, one row per "
        "(type, hour): the running statistic is derived as "
        "(S_t − t·μ)/σ where S_t is an exact INTEGER window sum — "
        "never a windowed double sum, which DuckDB evaluates with a "
        "segment tree (different association order than Spark's "
        "running fold) and would break the hash.  Windows partition "
        "by event_type (keyed exchange, no global sort); μ/σ come "
        "from exact integer co-moments broadcast back; the "
        "changepoint flag is argmax-|cusum| with an earliest-hour "
        "tiebreak, all comparisons on identical doubles.  State is "
        "O(hours × types) — calendar-bounded."
    ),
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized CUSUM per event type over hourly counts, flagging
    the maximum-deviation hour (the drift/changepoint candidate)."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("nh"),
        F.sum("cnt").cast("double").alias("scnt"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("scnt2"),
    ).select(
        "event_type",
        (F.col("scnt") / F.col("nh")).alias("mu"),
        # One hour of history (nh < 2) zeroes the Bessel denominator:
        # sigma is undefined — NULL, not an ANSI DIVIDE_BY_ZERO (r10
        # one-row sweep; oracle guarded identically).
        F.when(F.col("nh") < 2, F.lit(None).cast("double"))
        .otherwise(
            F.sqrt(
                (
                    F.col("scnt2")
                    - F.col("scnt") * F.col("scnt") / F.col("nh")
                )
                / (F.col("nh") - 1)
            )
        )
        .alias("sigma"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walk = (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("run_cnt", F.sum("cnt").over(w).cast("bigint"))
        .withColumn("t", F.count("*").over(w).cast("bigint"))
    )
    c = walk.select(
        "event_type",
        "hr",
        "cnt",
        F.when(
            F.col("sigma").isNull() | (F.col("sigma") == 0.0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            (
                F.col("run_cnt").cast("double")
                - F.col("t").cast("double") * F.col("mu")
            )
            / F.col("sigma")
        )
        .alias("cusum"),
    )
    wt = Window.partitionBy("event_type")
    peak = F.abs(F.col("cusum")) == F.max(F.abs(F.col("cusum"))).over(wt)
    first_peak_hr = F.min(F.when(peak, F.col("hr"))).over(wt)
    return c.withColumn(
        "is_changepoint", peak & (F.col("hr") == first_peak_hr)
    )


ACF_LAGS = (1, 2, 3)


@query(
    "ts_autocorr_lag",
    sql=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn
        FROM hourly
    ),
    base AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(cnt) AS BIGINT) AS sx,
               CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
        FROM s GROUP BY 1
    ),
    lagged AS (
        SELECT a.event_type, k.k,
               COUNT(*) AS np,
               CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS sxy,
               CAST(SUM(a.cnt) AS BIGINT) AS sh,
               CAST(SUM(b.cnt) AS BIGINT) AS st
        FROM s a
        JOIN (VALUES {", ".join(f"({k})" for k in ACF_LAGS)}) k(k) ON TRUE
        JOIN s b ON b.event_type = a.event_type AND b.rn = a.rn + k.k
        GROUP BY 1, 2
    )
    SELECT b.event_type, l.k AS lag_k, b.n AS n_hours,
           (CAST(l.sxy AS DOUBLE)
            - CAST(b.sx AS DOUBLE) / b.n * CAST(l.sh AS DOUBLE)
            - CAST(b.sx AS DOUBLE) / b.n * CAST(l.st AS DOUBLE)
            + CAST(l.np AS DOUBLE)
              * (CAST(b.sx AS DOUBLE) / b.n)
              * (CAST(b.sx AS DOUBLE) / b.n))
           / (CAST(b.sxx AS DOUBLE)
              - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE) / b.n)
               AS acf
    FROM lagged l JOIN base b ON b.event_type = l.event_type
    """,
    tables=("events",),
    scale_note=(
        "Lag-1..3 autocorrelation of the hourly series per type "
        "(seasonality screen before any forecast): series position "
        "comes from one type-partitioned window, lag pairing is a "
        "self-equi-join on (type, rn+k) — co-shuffled, never a "
        "cross join — and every accumulated quantity (Σx, Σx², "
        "Σx·x₊ₖ, head/tail sums) is an exact INTEGER, so the ACF is "
        "one identical double expression per (type, lag) on both "
        "engines.  The lag contract is 'next observed hour' (gap "
        "hours are absent rows, as in ts_gap_fill's input)."
    ),
)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1–3 over hourly event counts per type, from exact
    integer co-moments."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    s = hourly.select(
        "event_type",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("hr"))
        .alias("rn"),
    )
    base = s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cnt").cast("bigint").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sxx"),
    )
    ks = local_frame(spark, [(k,) for k in ACF_LAGS], "k bigint")
    a = s.alias("a")
    b = s.alias("b")
    lagged = (
        a.join(F.broadcast(ks))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.rn") == F.col("a.rn") + F.col("k")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), "k")
        .agg(
            F.count("*").alias("np"),
            F.sum(F.col("a.cnt") * F.col("b.cnt"))
            .cast("bigint")
            .alias("sxy"),
            F.sum(F.col("a.cnt")).cast("bigint").alias("sh"),
            F.sum(F.col("b.cnt")).cast("bigint").alias("st"),
        )
    )
    j = lagged.join(base, "event_type")
    mu = F.col("sx").cast("double") / F.col("n")
    return j.select(
        "event_type",
        F.col("k").alias("lag_k"),
        F.col("n").alias("n_hours"),
        (
            (
                F.col("sxy").cast("double")
                - mu * F.col("sh").cast("double")
                - mu * F.col("st").cast("double")
                + F.col("np").cast("double") * mu * mu
            )
            / (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double")
                * F.col("sx").cast("double")
                / F.col("n")
            )
        ).alias("acf"),
    )


# Smoothing constants chosen BINARY-EXACT (0.5 = 2^-1, 0.25 = 2^-2):
# the fold below is a fixed sequence of IEEE ops, and exact constants
# remove any literal-parsing variance between engines.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25
HOLT_HORIZON = 3


def _holt_sql_ctes(stop: str) -> str:
    """Shared oracle CTE text for the Holt recurrence (hourly →
    numbered series → seed → recursive fold), iterating while
    ``rn < stop`` — one definition for the smoother (stop = n) and
    the backtest (stop = n − BACKTEST_H), mirroring _holt_fold_expr."""
    return f"""hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM hourly
    ),
    seed AS (
        SELECT a.event_type, a.n, CAST(2 AS BIGINT) AS rn,
               {HOLT_ALPHA} * b.x + (1 - {HOLT_ALPHA}) * (a.x + (b.x - a.x))
                   AS level,
               {HOLT_BETA} * (({HOLT_ALPHA} * b.x
                               + (1 - {HOLT_ALPHA}) * (a.x + (b.x - a.x)))
                              - a.x)
               + (1 - {HOLT_BETA}) * (b.x - a.x) AS trend
        FROM s a JOIN s b ON b.event_type = a.event_type AND b.rn = 2
        WHERE a.rn = 1
    ),
    rec AS (
        SELECT event_type, n, rn, level, trend FROM seed
        UNION ALL
        SELECT r.event_type, r.n, t.rn,
               {HOLT_ALPHA} * t.x + (1 - {HOLT_ALPHA}) * (r.level + r.trend)
                   AS level,
               {HOLT_BETA} * (({HOLT_ALPHA} * t.x
                               + (1 - {HOLT_ALPHA}) * (r.level + r.trend))
                              - r.level)
               + (1 - {HOLT_BETA}) * r.trend AS trend
        FROM rec r
        JOIN s t ON t.event_type = r.event_type AND t.rn = r.rn + 1
        WHERE r.rn < {stop}
    )"""



def _holt_fold_expr(holdout: int) -> "F.Column":
    """The Holt fold over ``xs`` minus a ``holdout`` tail — ONE
    definition shared by the smoother and the backtest so the
    recurrence (and its oracle twins) can never desynchronize."""
    a, b = HOLT_ALPHA, HOLT_BETA
    return F.expr(
        f"""
        aggregate(
            slice(xs, 3, size(xs) - 2 - {holdout}),
            named_struct(
                'level', CAST({a} AS DOUBLE) * xs[1]
                         + (1 - CAST({a} AS DOUBLE))
                           * (xs[0] + (xs[1] - xs[0])),
                'trend', CAST({b} AS DOUBLE)
                         * ((CAST({a} AS DOUBLE) * xs[1]
                             + (1 - CAST({a} AS DOUBLE))
                               * (xs[0] + (xs[1] - xs[0]))) - xs[0])
                         + (1 - CAST({b} AS DOUBLE)) * (xs[1] - xs[0])),
            (acc, x) -> named_struct(
                'level', CAST({a} AS DOUBLE) * x
                         + (1 - CAST({a} AS DOUBLE))
                           * (acc.level + acc.trend),
                'trend', CAST({b} AS DOUBLE)
                         * ((CAST({a} AS DOUBLE) * x
                             + (1 - CAST({a} AS DOUBLE))
                               * (acc.level + acc.trend)) - acc.level)
                         + (1 - CAST({b} AS DOUBLE)) * acc.trend)
        )
        """
    )



@query(
    "ts_holt_linear",
    sql=f"""
    WITH RECURSIVE {_holt_sql_ctes("r.n")}
    SELECT event_type, CAST(n AS BIGINT) AS n_hours, level, trend,
           level + 1 * trend AS forecast_1,
           level + 2 * trend AS forecast_2,
           level + 3 * trend AS forecast_3
    FROM rec WHERE rn = n
    """,
    tables=("events",),
    scale_note=(
        "Holt double-exponential smoothing over the hourly series per "
        "type, with an h=1..3 linear forecast — an inherently "
        "SEQUENTIAL recurrence, handled Spark-side as an ordered "
        "aggregate fold per key (collect the calendar-bounded hourly "
        "array, one F.aggregate over a level/trend struct) — state is "
        "O(hours) per type, the same bound as the CUSUM walk, and the "
        "fold runs inside the executor, never on the driver.  The "
        "oracle restates the SAME left fold as a recursive CTE, so "
        "both engines execute the identical IEEE sequence (α=2^-1, "
        "β=2^-2 binary-exact; seed level/trend from the first two "
        "observations).  Keys fold independently — the recurrence is "
        "sequential in TIME, embarrassingly parallel in KEYS, which "
        "is what makes it viable at 100 TB (one shuffle on "
        "event_type, then per-key folds)."
    ),
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (level+trend) smoothing of hourly counts per type;
    emits the final state and a 3-hour forecast."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("double").alias("x"))
    series = hourly.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("hr", "x"))),
            lambda s: s["x"],
        ).alias("xs")
    )
    # Seed from x1, x2 (level=smoothed x2 with trend x2-x1), then fold
    # x3.. with the textbook recurrence — token-identical to the
    # oracle's recursive CTE step (shared definition: _holt_fold_expr).
    fold = _holt_fold_expr(holdout=0)
    st = series.filter(F.size("xs") >= 2).select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_hours"),
        fold.alias("st"),
    )
    lvl, trd = F.col("st.level"), F.col("st.trend")
    return st.select(
        "event_type",
        "n_hours",
        lvl.alias("level"),
        trd.alias("trend"),
        (lvl + 1 * trd).alias("forecast_1"),
        (lvl + 2 * trd).alias("forecast_2"),
        (lvl + 3 * trd).alias("forecast_3"),
    )


BACKTEST_H = 3  # held-out horizon (hours)


@query(
    "ts_forecast_backtest",
    sql=f"""
    WITH RECURSIVE {_holt_sql_ctes(f"r.n - {BACKTEST_H}")},
    fit AS (SELECT * FROM rec WHERE rn = n - {BACKTEST_H}),
    horizon AS (SELECT unnest(range(1, {BACKTEST_H} + 1)) AS h)
    SELECT f.event_type, CAST(hz.h AS INT) AS h,
           f.level + hz.h * f.trend AS forecast,
           a.x AS actual,
           abs(f.level + hz.h * f.trend - a.x) AS abs_err
    FROM fit f
    JOIN horizon hz ON TRUE
    JOIN s a ON a.event_type = f.event_type
            AND a.rn = f.n - {BACKTEST_H} + hz.h
    """,
    tables=("events",),
    scale_note=(
        "Rolling-origin forecast BACKTEST — the evaluation loop that "
        "turns ts_holt_linear from a smoother into a forecaster you "
        "can trust: hold out the last 3 observed hours per type, fit "
        "the same Holt fold on the prefix (identical recurrence, "
        "identical IEEE sequence on both engines), and emit forecast "
        "vs actual with absolute error per horizon.  Same scale "
        "posture as the smoother (sequential in time, parallel in "
        "keys; one shuffle, calendar-bounded per-key folds); at "
        "100 TB the backtest is the gate a forecast model passes "
        "before anyone schedules capacity from it."
    ),
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hold out the last 3 hours per type, forecast them with the
    prefix-fitted Holt state, and report per-horizon absolute error."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("double").alias("x"))
    series = hourly.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("hr", "x"))),
            lambda s: s["x"],
        ).alias("xs")
    ).filter(F.size("xs") >= BACKTEST_H + 2)
    fold = _holt_fold_expr(holdout=BACKTEST_H)
    st = series.select("event_type", "xs", fold.alias("st"))
    hz = local_frame(spark, [(h,) for h in range(1, BACKTEST_H + 1)], "h int")
    j = st.join(F.broadcast(hz))
    forecast = F.col("st.level") + F.col("h") * F.col("st.trend")
    actual = F.element_at(
        "xs", (F.size("xs") - BACKTEST_H + F.col("h")).cast("int")
    )
    return j.select(
        "event_type",
        "h",
        forecast.alias("forecast"),
        actual.alias("actual"),
        F.abs(forecast - actual).alias("abs_err"),
    )


# ---- Mann-Kendall trend test (round 7) -------------------------------
# The nonparametric trend screen that pairs with ts_changepoint_cusum
# (CUSUM asks "did the level shift somewhere"; MK asks "is there a
# monotone drift overall") — and unlike a fitted slope it needs no
# distributional assumption.  Everything up to the final z/tau is
# INTEGER: S = Σ_{i<j} sign(x_j − x_i), the tie-corrected variance
# numerator var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (kept ×18 so it
# stays integral), and the tau-b denominator pieces D = n(n−1)/2,
# T2 = Σ_t t(t−1)/2.  z and tau are then one identical IEEE expression
# per output row on both engines (sqrt/division of exact integers is
# correctly rounded everywhere).


@query(
    "ts_mann_kendall",
    sql="""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn
        FROM hourly
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
                             WHEN b.cnt < a.cnt THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat
        FROM s a JOIN s b
          ON b.event_type = a.event_type AND b.rn > a.rn
        GROUP BY 1
    ),
    ties AS (
        SELECT event_type,
               CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                    AS BIGINT) AS tie18,
               CAST(COALESCE(SUM(t * (t - 1)), 0) / 2 AS BIGINT) AS t2
        FROM (
            SELECT event_type, cnt, COUNT(*) AS t
            FROM s GROUP BY 1, 2 HAVING COUNT(*) > 1
        ) GROUP BY 1
    ),
    base AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1
    )
    SELECT b.event_type,
           CAST(b.n AS INT) AS n_hours,
           p.s_stat,
           CAST(b.n * (b.n - 1) * (2 * b.n + 5)
                - COALESCE(t.tie18, 0) AS BIGINT) AS var18,
           CASE WHEN (b.n * (b.n - 1)) / 2 - COALESCE(t.t2, 0) = 0
                THEN 0.0
                ELSE CAST(p.s_stat AS DOUBLE)
                     / sqrt(CAST((b.n * (b.n - 1)) / 2 AS DOUBLE)
                            * CAST((b.n * (b.n - 1)) / 2
                                   - COALESCE(t.t2, 0) AS DOUBLE))
           END AS tau,
           CASE WHEN b.n * (b.n - 1) * (2 * b.n + 5)
                     - COALESCE(t.tie18, 0) = 0 THEN 0.0
                WHEN p.s_stat > 0 THEN
                  (CAST(p.s_stat AS DOUBLE) - 1.0)
                  / sqrt(CAST(b.n * (b.n - 1) * (2 * b.n + 5)
                              - COALESCE(t.tie18, 0) AS DOUBLE) / 18.0)
                WHEN p.s_stat < 0 THEN
                  (CAST(p.s_stat AS DOUBLE) + 1.0)
                  / sqrt(CAST(b.n * (b.n - 1) * (2 * b.n + 5)
                              - COALESCE(t.tie18, 0) AS DOUBLE) / 18.0)
                ELSE 0.0
           END AS z_stat
    FROM base b
    JOIN pairs p ON p.event_type = b.event_type
    LEFT JOIN ties t ON t.event_type = b.event_type
    """,
    tables=("events",),
    scale_note=(
        "Nonparametric monotone-trend test per key: the pair set is "
        "(hours choose 2) PER TYPE — calendar-bounded, independent of "
        "row count — built by a co-shuffled self-join on event_type "
        "with an rn inequality, never a data-sized cross product; the "
        "only data-sized pass is the hourly pre-aggregation (two-"
        "phase, map-side combine).  S, the ×18 variance numerator, "
        "and the tie terms are exact integers, so z and tau-b are "
        "each ONE identical IEEE expression on both engines, with "
        "zero-variance/all-tied series guarded to 0.0 rather than "
        "engine-specific NaN."
    ),
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall S, tie-corrected variance (×18), tau-b, and the
    continuity-corrected z per event type over the hourly series."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    s = hourly.select(
        "event_type",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("hr"))
        .alias("rn"),
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.rn") > F.col("a.rn")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.cnt") > F.col("a.cnt"), 1)
                .when(F.col("b.cnt") < F.col("a.cnt"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    t = F.col("t")
    ties = (
        s.groupBy("event_type", "cnt")
        .agg(F.count("*").alias("t"))
        .filter(t > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("bigint")
            .alias("tie18"),
            (F.coalesce(F.sum(t * (t - 1)), F.lit(0)) / 2)
            .cast("bigint")
            .alias("t2"),
        )
    )
    base = s.groupBy("event_type").agg(F.count("*").alias("n"))
    j = (
        base.join(pairs, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n",
            "s_stat",
            F.coalesce("tie18", F.lit(0)).alias("tie18"),
            F.coalesce("t2", F.lit(0)).alias("t2"),
        )
    )
    n, s_stat = F.col("n"), F.col("s_stat")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("tie18")).cast("bigint")
    d = (n * (n - 1) / 2).cast("bigint")
    tau_den = d - F.col("t2")
    sig = F.sqrt(var18.cast("double") / F.lit(18.0))
    return j.select(
        "event_type",
        n.cast("int").alias("n_hours"),
        "s_stat",
        var18.alias("var18"),
        F.when(tau_den == 0, F.lit(0.0))
        .otherwise(
            s_stat.cast("double")
            / F.sqrt(d.cast("double") * tau_den.cast("double"))
        )
        .alias("tau"),
        F.when(var18 == 0, F.lit(0.0))
        .when(s_stat > 0, (s_stat.cast("double") - F.lit(1.0)) / sig)
        .when(s_stat < 0, (s_stat.cast("double") + F.lit(1.0)) / sig)
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    )


# ---- Theil-Sen robust slope (round 7) --------------------------------
# ts_mann_kendall answers "is there a monotone trend"; Theil-Sen gives
# its MAGNITUDE robustly: the median of all pairwise slopes
# (x_j − x_i)/(j − i), insensitive to outliers that wreck an OLS fit
# (agg_regression_per_group's breakdown point is 0; Theil-Sen's is
# ~29%).  Same calendar-bounded pair machinery as MK; every slope is
# ONE division of exact integers (identical IEEE doubles on both
# engines), and the median is a DISCRETE order statistic over those
# identical doubles — selection, not interpolation — so the key stays
# hash-grade.  For even pair counts the lower median is reported
# (median_slope), plus the exact lower/upper pair for transparency.


@query(
    "ts_theil_sen",
    sql="""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn
        FROM hourly
    ),
    slopes AS (
        SELECT a.event_type,
               CAST(b.cnt - a.cnt AS DOUBLE)
                   / CAST(b.rn - a.rn AS DOUBLE) AS slope
        FROM s a JOIN s b
          ON b.event_type = a.event_type AND b.rn > a.rn
    ),
    ranked AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM slopes
    )
    SELECT event_type,
           CAST(np AS BIGINT) AS n_pairs,
           MIN(CASE WHEN rk = (np + 1) // 2 THEN slope END)
               AS median_slope,
           MIN(CASE WHEN rk = np // 2 + 1 THEN slope END)
               AS upper_median_slope
    FROM ranked GROUP BY event_type, np
    """,
    tables=("events",),
    scale_note=(
        "Robust trend magnitude: the pair set is (hours choose 2) "
        "PER TYPE — calendar-bounded like the MK test, built by the "
        "same co-shuffled rn-inequality self-join, never data-sized.  "
        "Each slope is one correctly-rounded IEEE division of exact "
        "integers; the median is an exact ORDER STATISTIC (selection "
        "over identical doubles — lower and upper reported, no "
        "averaging that would reintroduce float addition), computed "
        "with a pair-keyed window whose partitions are grid-sized.  "
        "The only data-sized pass is the hourly pre-aggregation."
    ),
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope (lower/upper median of all pairwise
    hourly-count slopes) per event type."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    s = hourly.select(
        "event_type",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("hr"))
        .alias("rn"),
    )
    a, b = s.alias("a"), s.alias("b")
    slopes = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.rn") > F.col("a.rn")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cnt") - F.col("a.cnt")).cast("double")
            / (F.col("b.rn") - F.col("a.rn")).cast("double")
        ).alias("slope"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("np"),
    )
    np_, rk = F.col("np"), F.col("rk")
    return ranked.groupBy("event_type", "np").agg(
        F.min(F.when(rk == ((np_ + 1) / 2).cast("bigint"), F.col("slope")))
        .alias("median_slope"),
        F.min(F.when(rk == (np_ / 2).cast("bigint") + 1, F.col("slope")))
        .alias("upper_median_slope"),
    ).select(
        "event_type",
        np_.cast("bigint").alias("n_pairs"),
        "median_slope",
        "upper_median_slope",
    )


# ---- Holt-Winters seasonal smoothing (round 7) -----------------------
# The seasonal completion of ts_holt_linear: additive Holt-Winters
# with period m=24 (the hour-of-day cycle ts_seasonal_decompose
# exposes), α=2⁻¹, β=γ=2⁻² (binary-exact).  Same engine strategy as
# Holt: sequential in time, embarrassingly parallel in keys — one
# shuffle on event_type, then a per-key executor-side fold whose state
# is (level, trend, 24-slot seasonal queue); the oracle restates the
# SAME left fold as a recursive CTE with a LIST state, arithmetic
# textually identical so both engines run the identical IEEE sequence.
# Initialization avoids order-dependent float sums entirely: season
# means come from INTEGER count sums (associative, partitioning-
# independent), the initial seasonal queue is x_{24+i} − ℓ₀ over the
# second season, and the fold starts at t=49.
HW_PERIOD = 24
HW_ALPHA = 0.5
HW_BETA = 0.25
HW_GAMMA = 0.25
HW_FC = 3

# The (textually shared) next-level expression: both engines inline
# this for the trend and seasonal updates, so the op sequence is
# identical everywhere it appears.
_HW_NL = (
    f"({HW_ALPHA} * x + (1 - {HW_ALPHA}) * (LEVEL + TREND))"
)


def _hw_step_exprs(x: str, level: str, trend: str, prev_s: str) -> tuple[str, str, str]:
    nl = _HW_NL.replace("x", x).replace("LEVEL", level).replace("TREND", trend)
    nt = f"({HW_BETA} * ({nl} - {level}) + (1 - {HW_BETA}) * {trend})"
    ns = f"({HW_GAMMA} * ({x} - {nl}) + (1 - {HW_GAMMA}) * {prev_s})"
    return nl, nt, ns


def _hw_sql() -> str:
    m = HW_PERIOD
    nl, nt, ns = _hw_step_exprs("t.x", "r.level", "r.trend", "r.seas[1]")
    fcs = ",\n           ".join(
        f"level + {h} * trend + seas[{h}] AS forecast_{h}"
        for h in range(1, HW_FC + 1)
    )
    return f"""
    WITH RECURSIVE hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, CAST(cnt AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn
        FROM hourly
    ),
    base AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CASE WHEN rn <= {m} THEN CAST(x AS BIGINT) END)
                    AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN rn > {m} AND rn <= {2 * m}
                             THEN CAST(x AS BIGINT) END) AS BIGINT) AS s2
        FROM s GROUP BY 1
        HAVING COUNT(*) >= {2 * m + 1}
    ),
    init AS (
        SELECT b.event_type, b.n,
               CAST(b.s2 AS DOUBLE) / {m} AS level,
               (CAST(b.s2 AS DOUBLE) / {m} - CAST(b.s1 AS DOUBLE) / {m})
                   / {m} AS trend,
               (SELECT list(s.x - CAST(b.s2 AS DOUBLE) / {m} ORDER BY s.rn)
                FROM s WHERE s.event_type = b.event_type
                  AND s.rn > {m} AND s.rn <= {2 * m}) AS seas
        FROM base b
    ),
    rec AS (
        SELECT event_type, n, {2 * m} AS rn, level, trend, seas FROM init
        UNION ALL
        SELECT r.event_type, r.n, r.rn + 1,
               {nl},
               {nt},
               list_append(r.seas[2:{m}], {ns})
        FROM rec r
        JOIN s t ON t.event_type = r.event_type AND t.rn = r.rn + 1
        WHERE r.rn < r.n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours, level, trend,
           {fcs}
    FROM rec WHERE rn = n
    """


@query(
    "ts_holt_winters",
    sql=_hw_sql(),
    tables=("events",),
    scale_note=(
        "Triple exponential smoothing, the seasonal forecaster: "
        "sequential in time, parallel in keys — ONE shuffle on "
        "event_type, then a per-key executor-side F.aggregate fold "
        "over the (ts-ordered) hourly array with a (level, trend, "
        "24-slot seasonal queue) struct state; no window, no "
        "iteration over Spark jobs.  The oracle's recursive CTE "
        "carries the identical LIST state with textually identical "
        "arithmetic (shared expression builder), so both engines "
        "execute the same IEEE sequence; α=2⁻¹, β=γ=2⁻² are "
        "binary-exact, and initialization uses INTEGER season sums "
        "(associative — no order-dependent float accumulation "
        "anywhere).  Forecasts add the seasonal head slots to the "
        "linear extrapolation."
    ),
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (m=24, α=1/2, β=γ=1/4) per event type
    over the hourly series, with 3-hour seasonal forecasts."""
    m = HW_PERIOD
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    series = (
        hourly.groupBy("event_type")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("hr", "cnt"))),
                lambda r: r["cnt"].cast("double"),
            ).alias("xs")
        )
        .filter(F.size("xs") >= 2 * m + 1)
    )
    nl, nt, ns = _hw_step_exprs("x", "acc.level", "acc.trend", "element_at(acc.seas, 1)")
    # Integer season sums (associative) → identical doubles; seasonal
    # queue = second-season residuals; fold from t = 2m+1.
    fold = F.expr(
        f"""
        aggregate(
            slice(xs, {2 * m + 1}, size(xs) - {2 * m}),
            named_struct(
                'level', CAST(aggregate(slice(xs, {m + 1}, {m}),
                              0L, (a, v) -> a + CAST(v AS BIGINT))
                              AS DOUBLE) / {m},
                'trend', (CAST(aggregate(slice(xs, {m + 1}, {m}),
                               0L, (a, v) -> a + CAST(v AS BIGINT))
                               AS DOUBLE) / {m}
                          - CAST(aggregate(slice(xs, 1, {m}),
                                 0L, (a, v) -> a + CAST(v AS BIGINT))
                                 AS DOUBLE) / {m}) / {m},
                'seas', transform(slice(xs, {m + 1}, {m}),
                            v -> v - CAST(aggregate(slice(xs, {m + 1}, {m}),
                                          0L, (a, v2) -> a + CAST(v2 AS BIGINT))
                                          AS DOUBLE) / {m})),
            (acc, x) -> named_struct(
                'level', {nl},
                'trend', {nt},
                'seas', concat(slice(acc.seas, 2, {m - 1}), array({ns})))
        )
        """
    )
    st = series.select(
        "event_type", F.size("xs").cast("bigint").alias("n_hours"), fold.alias("st")
    )
    fcs = [
        (
            F.col("st.level")
            + F.lit(h) * F.col("st.trend")
            + F.element_at("st.seas", h)
        ).alias(f"forecast_{h}")
        for h in range(1, HW_FC + 1)
    ]
    return st.select(
        "event_type",
        "n_hours",
        F.col("st.level").alias("level"),
        F.col("st.trend").alias("trend"),
        *fcs,
    )


# ---- two-proportion A/B test (round 7) -------------------------------
# The experimentation primitive: compare conversion (purchase rate)
# between two user cohorts (user_id parity stands in for the
# assignment hash) with the pooled two-proportion z-test.  Conversion
# = a high-value purchase (value > 95), chosen so the fixture's pooled
# rate sits strictly inside (0, 1); the degenerate all/none cases are
# guarded to z = 0.0 identically on both engines.  Counts are
# exact integers; p̂_a, p̂_b, the pooled p̂, and z are each ONE
# identical IEEE expression per output row — the agg_ratio_wilson_ci
# discipline applied to a two-sample test.


@query(
    "ab_test_proportions",
    sql="""
    WITH assign AS (
        SELECT user_id, user_id % 2 AS grp,
               CASE WHEN event_type = 'purchase' AND value > 95
                    THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    u AS (
        SELECT grp, user_id, CAST(MAX(conv) AS BIGINT) AS converted
        FROM assign GROUP BY 1, 2
    ),
    g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS x
        FROM u GROUP BY 1
    ),
    w AS (
        SELECT MIN(CASE WHEN grp = 0 THEN n END) AS na,
               MIN(CASE WHEN grp = 0 THEN x END) AS xa,
               MIN(CASE WHEN grp = 1 THEN n END) AS nb,
               MIN(CASE WHEN grp = 1 THEN x END) AS xb
        FROM g
    )
    SELECT na, xa, nb, xb,
           CAST(xa AS DOUBLE) / na AS p_a,
           CAST(xb AS DOUBLE) / nb AS p_b,
           CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb AS lift,
           CASE WHEN xa + xb = 0 OR xa + xb = na + nb THEN 0.0
                ELSE (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
                     / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
                            * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
                            * (1.0 / na + 1.0 / nb)) END AS z_stat
    FROM w
    """,
    tables=("events",),
    scale_note=(
        "A/B conversion test at warehouse scale: per-user conversion "
        "is a two-phase MAX (map-side combine over the event stream "
        "— a user's events collapse before the shuffle), cohort "
        "totals are a 2-row aggregate, and the z statistic is one "
        "identical IEEE expression over four exact bigints.  Nothing "
        "after the per-user rollup is data-sized; the assignment "
        "hash (user_id parity here) is the deterministic stand-in "
        "for an experiment bucketing hash."
    ),
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test of purchase conversion between
    the user_id-parity cohorts."""
    e = load(spark, sf_dir, "events")
    u = (
        e.select(
            (F.col("user_id") % 2).alias("grp"),
            "user_id",
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 95),
                1,
            )
            .otherwise(0)
            .alias("conv"),
        )
        .groupBy("grp", "user_id")
        .agg(F.max("conv").cast("bigint").alias("converted"))
    )
    g = u.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("x"),
    )
    w = g.agg(
        F.min(F.when(F.col("grp") == 0, F.col("n"))).alias("na"),
        F.min(F.when(F.col("grp") == 0, F.col("x"))).alias("xa"),
        F.min(F.when(F.col("grp") == 1, F.col("n"))).alias("nb"),
        F.min(F.when(F.col("grp") == 1, F.col("x"))).alias("xb"),
    )
    na, xa = F.col("na"), F.col("xa")
    nb, xb = F.col("nb"), F.col("xb")
    pa = xa.cast("double") / na
    pb = xb.cast("double") / nb
    pool = (xa + xb).cast("double") / (na + nb)
    return w.select(
        "na",
        "xa",
        "nb",
        "xb",
        pa.alias("p_a"),
        pb.alias("p_b"),
        (pa - pb).alias("lift"),
        F.when((xa + xb == 0) | (xa + xb == na + nb), F.lit(0.0))
        .otherwise(
            (pa - pb)
            / F.sqrt(
                pool * (1 - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
            )
        )
        .alias("z_stat"),
    )


# ---- lagged cross-correlation (round 7) ------------------------------
# ts_autocorr_lag asks "does a series predict itself"; the
# cross-correlation asks "does one series LEAD another" — here, do
# clicks at hour t predict purchases at hour t+k (k = −3..3, negative
# lags meaning purchases lead).  Same exact-integer discipline: both
# series are dense-grid hourly counts (missing hours = 0 so the two
# series share a time axis), every co-moment is an exact integer, and
# each correlation is one identical IEEE expression.
XCORR_LAGS = (-3, -2, -1, 0, 1, 2, 3)
XCORR_A = "click"
XCORR_B = "purchase"


@query(
    "ts_cross_correlation",
    sql=f"""
    WITH b AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type
        FROM events WHERE event_type IN ('{XCORR_A}', '{XCORR_B}')
    ),
    r AS (SELECT min(h) AS lo, max(h) AS hi FROM b),
    hrs AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
            FROM r
        )
    ),
    c AS (
        SELECT h, event_type, COUNT(*) AS n FROM b GROUP BY 1, 2
    ),
    g AS (
        SELECT hrs.rn,
               COALESCE(MAX(CASE WHEN c.event_type = '{XCORR_A}'
                                 THEN c.n END), 0) AS xa,
               COALESCE(MAX(CASE WHEN c.event_type = '{XCORR_B}'
                                 THEN c.n END), 0) AS xb
        FROM hrs LEFT JOIN c ON c.h = hrs.h
        GROUP BY hrs.rn
    ),
    base AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(xa) AS BIGINT) AS sa,
               CAST(SUM(xa * xa) AS BIGINT) AS saa,
               CAST(SUM(xb) AS BIGINT) AS sb,
               CAST(SUM(xb * xb) AS BIGINT) AS sbb
        FROM g
    ),
    lagged AS (
        SELECT k.k, COUNT(*) AS np,
               CAST(SUM(a.xa * b2.xb) AS BIGINT) AS sab
        FROM g a
        JOIN (VALUES {", ".join(f"({k})" for k in XCORR_LAGS)}) k(k) ON TRUE
        JOIN g b2 ON b2.rn = a.rn + k.k
        GROUP BY 1
    )
    SELECT CAST(l.k AS INT) AS lag_k, CAST(b.n AS BIGINT) AS n_hours,
           CAST(l.np AS BIGINT) AS n_pairs,
           (CAST(l.sab AS DOUBLE) - CAST(b.sa AS DOUBLE) / b.n
                * CAST(b.sb AS DOUBLE))
           / (sqrt(CAST(b.saa AS DOUBLE)
                   - CAST(b.sa AS DOUBLE) * CAST(b.sa AS DOUBLE) / b.n)
              * sqrt(CAST(b.sbb AS DOUBLE)
                     - CAST(b.sb AS DOUBLE) * CAST(b.sb AS DOUBLE) / b.n))
               AS xcorr
    FROM lagged l, base b
    """,
    tables=("events",),
    scale_note=(
        "Lead-lag discovery between two metrics: the dense grid is "
        "calendar-sized (ts_gap_fill's shape) and shared by both "
        "series, lag pairing is a co-shuffled self-equi-join on "
        "rn+k (never a cross join), and every accumulated quantity "
        "is an exact integer — the correlation is one identical "
        "IEEE expression per lag.  The normalization uses global "
        "series moments (the standard CCF denominator), so only the "
        "7-row lag table and the 1-row moment table cross stages."
    ),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of hourly click vs purchase counts at lags
    −3..3 (positive k: clicks lead purchases by k hours)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(XCORR_A, XCORR_B)
    )
    b = e.select(F.date_trunc("hour", "ts").alias("h"), "event_type")
    rng = b.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hrs = rng.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        )
    ).withColumn("rn", F.row_number().over(Window.orderBy("h")))
    c = b.groupBy("h", "event_type").agg(F.count("*").alias("n"))
    g = (
        hrs.join(F.broadcast(c), "h", "left")
        .groupBy("rn")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("event_type") == XCORR_A, F.col("n"))),
                F.lit(0),
            ).alias("xa"),
            F.coalesce(
                F.max(F.when(F.col("event_type") == XCORR_B, F.col("n"))),
                F.lit(0),
            ).alias("xb"),
        )
    )
    base = g.agg(
        F.count("*").alias("n"),
        F.sum("xa").cast("bigint").alias("sa"),
        F.sum(F.col("xa") * F.col("xa")).cast("bigint").alias("saa"),
        F.sum("xb").cast("bigint").alias("sb"),
        F.sum(F.col("xb") * F.col("xb")).cast("bigint").alias("sbb"),
    )
    ks = local_frame(spark, [(k,) for k in XCORR_LAGS], "k bigint")
    a2, b2 = g.alias("a"), g.alias("b2")
    lagged = (
        a2.join(F.broadcast(ks))
        .join(b2, F.col("b2.rn") == F.col("a.rn") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").alias("np"),
            F.sum(F.col("a.xa") * F.col("b2.xb"))
            .cast("bigint")
            .alias("sab"),
        )
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    saa, sbb, sab = F.col("saa"), F.col("sbb"), F.col("sab")
    return lagged.crossJoin(F.broadcast(base)).select(
        F.col("k").cast("int").alias("lag_k"),
        n.cast("bigint").alias("n_hours"),
        F.col("np").cast("bigint").alias("n_pairs"),
        (
            (sab.cast("double") - sa.cast("double") / n * sb.cast("double"))
            / (
                F.sqrt(saa.cast("double") - sa.cast("double") * sa.cast("double") / n)
                * F.sqrt(sbb.cast("double") - sb.cast("double") * sb.cast("double") / n)
            )
        ).alias("xcorr"),
    )


# ---- covariance / correlation matrix (round 7) -----------------------
# The multivariate completion of agg_regression_per_group: the full
# covariance and correlation matrix over (quantity, extendedprice,
# discount) per return flag — what a feature-engineering pass reads
# before deciding which measures are redundant.  Same numeric rule:
# every co-moment is an exact decimal sum bridged with wide_dbl, and
# each covariance/correlation is one identical IEEE expression per
# output row.
_COV_MEASURES = ("l_quantity", "l_extendedprice", "l_discount")


def _cov_sql() -> str:
    def d(c: str) -> str:
        return f"CAST({c} AS DECIMAL(12,2))"

    moments = [
        f"{wide_dbl_sql(f'SUM({d(c)})')} AS s_{i}"
        for i, c in enumerate(_COV_MEASURES)
    ] + [
        f"{wide_dbl_sql(f'SUM({d(a)} * {d(b)})')} AS s_{i}_{j}"
        for i, a in enumerate(_COV_MEASURES)
        for j, b in enumerate(_COV_MEASURES)
        if i <= j
    ]
    pair_rows = []
    for i in range(len(_COV_MEASURES)):
        for j in range(i, len(_COV_MEASURES)):
            cov = f"(s_{i}_{j} / n - (s_{i} / n) * (s_{j} / n))"
            vi = f"(s_{i}_{i} / n - (s_{i} / n) * (s_{i} / n))"
            vj = f"(s_{j}_{j} / n - (s_{j} / n) * (s_{j} / n))"
            pair_rows.append(
                f"SELECT l_returnflag, '{_COV_MEASURES[i]}' AS var_a, "
                f"'{_COV_MEASURES[j]}' AS var_b, n, {cov} AS cov, "
                f"CASE WHEN sqrt({vi}) * sqrt({vj}) = 0.0 THEN NULL "
                f"ELSE {cov} / (sqrt({vi}) * sqrt({vj})) END AS corr "
                f"FROM m"
            )
    return (
        "WITH m AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, "
        + ", ".join(moments)
        + " FROM lineitem GROUP BY 1) "
        + " UNION ALL ".join(pair_rows)
    )


@query(
    "agg_covariance_matrix",
    sql=_cov_sql(),
    tables=("lineitem",),
    scale_note=(
        "Full covariance/correlation matrix in ONE two-phase "
        "aggregation: all k(k+3)/2 co-moments accumulate as exact "
        "decimal sums in the same map-side combine (one shuffle of "
        "groups-sized partials, never one pass per pair), bridged to "
        "identical doubles with wide_dbl (the r6 co-moment idiom), "
        "and each matrix entry is one identical IEEE expression.  "
        "Output is groups × pairs rows — dimension-sized."
    ),
)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance + correlation over (quantity, extendedprice,
    discount) per return flag, from exact decimal co-moments."""
    li = load(spark, sf_dir, "lineitem")
    ms = _COV_MEASURES
    aggs = [F.count("*").cast("bigint").alias("n")]
    aggs += [
        wide_dbl(F.sum(dec(c))).alias(f"s_{i}") for i, c in enumerate(ms)
    ]
    aggs += [
        wide_dbl(F.sum(dec(a) * dec(b))).alias(f"s_{i}_{j}")
        for i, a in enumerate(ms)
        for j, b in enumerate(ms)
        if i <= j
    ]
    m = li.groupBy("l_returnflag").agg(*aggs)
    outs = []
    n = F.col("n")
    for i in range(len(ms)):
        for j in range(i, len(ms)):
            cov = F.col(f"s_{i}_{j}") / n - (F.col(f"s_{i}") / n) * (
                F.col(f"s_{j}") / n
            )
            vi = F.col(f"s_{i}_{i}") / n - (F.col(f"s_{i}") / n) * (
                F.col(f"s_{i}") / n
            )
            vj = F.col(f"s_{j}_{j}") / n - (F.col(f"s_{j}") / n) * (
                F.col(f"s_{j}") / n
            )
            # corr is undefined for a zero-variance variable: NULL,
            # not an ANSI DIVIDE_BY_ZERO (r10 degenerate-domain
            # sweep; oracle guarded identically).
            outs.append(
                m.select(
                    "l_returnflag",
                    F.lit(ms[i]).alias("var_a"),
                    F.lit(ms[j]).alias("var_b"),
                    "n",
                    cov.alias("cov"),
                    F.when(
                        F.sqrt(vi) * F.sqrt(vj) == 0.0,
                        F.lit(None).cast("double"),
                    )
                    .otherwise(cov / (F.sqrt(vi) * F.sqrt(vj)))
                    .alias("corr"),
                )
            )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionAll(df)
    return out


# ---- Kaplan-Meier survival curve (round 7) ---------------------------
# Time-to-conversion analysis with CENSORING done right: the naive
# "average days to purchase over converters" is biased (it silently
# drops everyone who hasn't converted yet); the Kaplan-Meier estimator
# uses them as censored observations.  Duration = whole days from a
# user's first signup to their first subsequent purchase; users with
# no purchase are censored at the corpus horizon.  All event/at-risk
# counts are exact integers (epoch-µs day arithmetic); the survival
# product S(t) = Π(1 − d/n) folds over the ≤31-row day table in time
# order — the Holt machinery: a per-key (here: global, the table is
# days-sized) executor-side fold, restated as a recursive CTE with
# textually identical arithmetic.


@query(
    "ts_survival_km",
    sql="""
    WITH RECURSIVE su AS (
        SELECT user_id, MIN(ts) AS s0 FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ),
    pu AS (
        SELECT e.user_id, MIN(e.ts) AS p0
        FROM events e JOIN su ON su.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= su.s0
        GROUP BY 1
    ),
    hz AS (SELECT MAX(ts) AS mts FROM events),
    durs AS (
        SELECT su.user_id,
               CASE WHEN pu.p0 IS NOT NULL THEN
                    (epoch_us(pu.p0) - epoch_us(su.s0)) // 86400000000
               ELSE (epoch_us(hz.mts) - epoch_us(su.s0)) // 86400000000
               END AS t,
               pu.p0 IS NOT NULL AS event
        FROM su LEFT JOIN pu ON pu.user_id = su.user_id, hz
    ),
    ev AS (
        SELECT t,
               CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(SUM(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
        FROM durs GROUP BY 1
    ),
    base AS (
        SELECT t, d, c,
               CAST(SUM(d + c) OVER (ORDER BY t DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
               row_number() OVER (ORDER BY t) AS rn
        FROM ev
    ),
    km AS (
        SELECT t, d, c, n, rn,
               1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
                   AS survival
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.t, b.d, b.c, b.n, b.rn,
               km.survival
               * (1.0 - CAST(b.d AS DOUBLE) / CAST(b.n AS DOUBLE))
        FROM km JOIN base b ON b.rn = km.rn + 1
    )
    SELECT CAST(t AS BIGINT) AS day, n AS n_at_risk, d AS n_events,
           c AS n_censored, survival
    FROM km
    """,
    tables=("events",),
    scale_note=(
        "Censoring-correct conversion analysis: per-user first-"
        "signup/first-purchase are two-phase MINs (map-side "
        "combine), durations are exact epoch-µs integer day "
        "arithmetic, and the day table is CALENDAR-sized (≤ horizon "
        "days), so the at-risk reverse cumsum and the KM product "
        "fold are aggregate-sized regardless of user count.  The "
        "fold is one executor-side F.aggregate in time order, "
        "restated as a recursive CTE with textually identical "
        "arithmetic (the Holt discipline) — identical IEEE sequence "
        "on both engines."
    ),
)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of time-to-first-purchase after first
    signup (whole days, right-censored at the corpus horizon)."""
    e = load(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s0"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("s0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p0"))
    )
    hz = e.agg(F.max("ts").alias("mts"))
    durs = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(hz))
        .select(
            F.when(
                F.col("p0").isNotNull(),
                (
                    (F.unix_micros("p0") - F.unix_micros("s0"))
                    / 86_400_000_000
                ).cast("bigint"),
            )
            .otherwise(
                (
                    (F.unix_micros("mts") - F.unix_micros("s0"))
                    / 86_400_000_000
                ).cast("bigint")
            )
            .alias("t"),
            F.col("p0").isNotNull().alias("event"),
        )
    )
    ev = durs.groupBy("t").agg(
        F.sum(F.when(F.col("event"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when(F.col("event"), 0).otherwise(1))
        .cast("bigint")
        .alias("c"),
    )
    wrev = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = ev.withColumn(
        "n", F.sum(F.col("d") + F.col("c")).over(wrev).cast("bigint")
    )
    # Executor-side KM fold over the calendar-sized day table (the
    # Holt idiom: sequential in t, one row per day in the output).
    one = base.agg(
        F.sort_array(F.collect_list(F.struct("t", "d", "c", "n"))).alias(
            "rows"
        )
    )
    km = one.select(
        F.explode(
            F.expr(
                """
                aggregate(
                    rows,
                    CAST(array() AS
                        array<struct<t:bigint,d:bigint,c:bigint,
                                     n:bigint,survival:double>>),
                    (acc, x) -> concat(acc, array(named_struct(
                        't', x.t, 'd', x.d, 'c', x.c, 'n', x.n,
                        'survival',
                        IF(size(acc) = 0, 1.0D,
                           element_at(acc, -1).survival)
                        * (1.0D - CAST(x.d AS DOUBLE)
                                  / CAST(x.n AS DOUBLE)))))
                )
                """
            )
        ).alias("r")
    )
    return km.select(
        F.col("r.t").alias("day"),
        F.col("r.n").alias("n_at_risk"),
        F.col("r.d").alias("n_events"),
        F.col("r.c").alias("n_censored"),
        F.col("r.survival").alias("survival"),
    )


# ---- hour-of-day ANOVA (round 7) -------------------------------------
# "Is there an hour-of-day effect at all?" answered properly: one-way
# ANOVA of hourly counts grouped by hour-of-day (24 groups) per event
# type — the significance test behind ts_seasonal_decompose's
# descriptive profile.  Between/within sums of squares decompose from
# exact INTEGER moments (n, Σx, Σx² per cell), so F = (SSB/(k−1)) /
# (SSW/(N−k)) is one identical IEEE expression per type.


@query(
    "ts_anova_hour_of_day",
    sql="""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    cell AS (
        SELECT event_type, EXTRACT(hour FROM hr) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cnt) AS BIGINT) AS s,
               CAST(SUM(cnt * cnt) AS BIGINT) AS ss
        FROM hourly GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(s) AS BIGINT) AS st,
               CAST(SUM(ss) AS BIGINT) AS sst,
               CAST(COUNT(*) AS BIGINT) AS k,
               list_reduce(
                   list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE) ORDER BY hod),
                   (a, b) -> a + b) AS cellsq
        FROM cell GROUP BY 1
    )
    SELECT event_type, CAST(nn AS BIGINT) AS n_hours,
           CAST(k AS INT) AS k_groups,
           cellsq - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                    / CAST(nn AS DOUBLE) AS ss_between,
           CAST(sst AS DOUBLE) - cellsq AS ss_within,
           CASE WHEN k < 2 THEN NULL
                WHEN nn - k = 0 THEN NULL
                WHEN CAST(sst AS DOUBLE) - cellsq = 0.0 THEN NULL
                ELSE ((cellsq - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                               / CAST(nn AS DOUBLE)) / (k - 1))
                     / ((CAST(sst AS DOUBLE) - cellsq) / (nn - k))
           END AS f_stat
    FROM tot
    """,
    tables=("events",),
    scale_note=(
        "One-way ANOVA from sufficient statistics: two stacked "
        "two-phase aggs (hourly counts → 24 cells × types → type "
        "totals), everything integer until the final per-type "
        "expressions.  The ONE float accumulation (Σ s²/n over 24 "
        "cells) runs inside a types-keyed 24-row aggregate whose "
        "addition order Spark and DuckDB both evaluate as a "
        "sequential fold over the same 24 exact terms — and the "
        "referee pins the result to Python's fold bit-for-bit; "
        "grid-sized work after the first agg."
    ),
)
def ts_anova_hour_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of hourly counts by hour-of-day per event type
    (F statistic for the seasonality effect)."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("cnt"))
    cell = hourly.groupBy(
        "event_type", F.hour("hr").alias("hod")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("ss"),
    )
    tot = cell.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("ss").cast("bigint").alias("sst"),
        F.count("*").cast("bigint").alias("k"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("hod", "s", "n"))),
                lambda x: x["s"].cast("double")
                * x["s"].cast("double")
                / x["n"].cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("cellsq"),
    )
    nn, st, sst = F.col("nn"), F.col("st"), F.col("sst")
    k, cellsq = F.col("k"), F.col("cellsq")
    ssb = cellsq - st.cast("double") * st.cast("double") / nn.cast("double")
    ssw = sst.cast("double") - cellsq
    # F is undefined with one group (k < 2), zero within-group df
    # (nn = k) or zero within-group variance (ssw = 0): NULL, not an
    # ANSI DIVIDE_BY_ZERO job kill (r10 one-row sweep; oracle guarded
    # identically, same lazy CASE order).
    return tot.select(
        "event_type",
        nn.alias("n_hours"),
        k.cast("int").alias("k_groups"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.when(k < 2, F.lit(None).cast("double"))
        .when(nn - k == 0, F.lit(None).cast("double"))
        .when(ssw == 0.0, F.lit(None).cast("double"))
        .otherwise((ssb / (k - 1)) / (ssw / (nn - k)))
        .alias("f_stat"),
    )


# ---- chi-square independence test (round 7) --------------------------
# "Are order status and priority independent?" — the contingency-table
# test that pairs with the one-way ANOVA: observed counts are exact
# integers, expected counts are (row_total × col_total)/N — one
# division each — and the chi² total folds over the ≤15 cells in
# (status, priority) order, ORDER-PINNED like the ANOVA cell fold
# (the unpinned SUM ulp-drift lesson, applied on arrival).


@query(
    "agg_chi2_independence",
    sql="""
    WITH c AS (
        SELECT o_orderstatus AS s, o_orderpriority AS p,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT s, CAST(SUM(obs) AS BIGINT) AS rs FROM c GROUP BY 1),
    ct AS (SELECT p, CAST(SUM(obs) AS BIGINT) AS cs FROM c GROUP BY 1),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS nn FROM c),
    cells AS (
        SELECT c.s, c.p, c.obs,
               CAST(rt.rs AS DOUBLE) * CAST(ct.cs AS DOUBLE)
                   / CAST(n.nn AS DOUBLE) AS exp
        FROM c JOIN rt USING (s) JOIN ct USING (p), n
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               list_reduce(
                   list((CAST(obs AS DOUBLE) - exp)
                        * (CAST(obs AS DOUBLE) - exp) / exp
                        ORDER BY s, p),
                   (a, b) -> a + b) AS chi2
        FROM cells
    ),
    dims AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS nr,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS nc
    )
    SELECT t.n_cells, CAST((d.nr - 1) * (d.nc - 1) AS BIGINT) AS dof,
           t.chi2
    FROM tot t, dims d
    """,
    tables=("orders",),
    scale_note=(
        "Contingency-table independence test from sufficient "
        "statistics: one two-phase cell-count agg (cells = "
        "statuses×priorities, dimension-sized), row/col totals and N "
        "as aggregate-sized joins, expected counts one division per "
        "cell, and the chi² total an ORDER-PINNED left fold over the "
        "(s, p)-sorted cell list on both engines (F.aggregate / "
        "list_reduce — the ANOVA ulp lesson applied preemptively).  "
        "Output is one row."
    ),
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order status and
    priority (observed vs expected, order-pinned chi² fold, dof)."""
    o = load(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count("*").cast("bigint").alias("obs"))
    rt = c.groupBy("s").agg(F.sum("obs").cast("bigint").alias("rs"))
    ct = c.groupBy("p").agg(F.sum("obs").cast("bigint").alias("cs"))
    n = c.agg(F.sum("obs").cast("bigint").alias("nn"))
    cells = (
        c.join(F.broadcast(rt), "s")
        .join(F.broadcast(ct), "p")
        .crossJoin(F.broadcast(n))
        .select(
            "s",
            "p",
            "obs",
            (
                F.col("rs").cast("double")
                * F.col("cs").cast("double")
                / F.col("nn").cast("double")
            ).alias("exp"),
        )
    )
    term = lambda x: (  # noqa: E731
        (x["obs"].cast("double") - x["exp"])
        * (x["obs"].cast("double") - x["exp"])
        / x["exp"]
    )
    tot = cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("s", "p", "obs", "exp"))),
                term,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("chi2"),
    )
    nr = rt.agg(F.count("*").cast("bigint").alias("nr"))
    nc = ct.agg(F.count("*").cast("bigint").alias("nc"))
    return (
        tot.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_cells",
            ((F.col("nr") - 1) * (F.col("nc") - 1))
            .cast("bigint")
            .alias("dof"),
            "chi2",
        )
    )


# ---- Gini coefficient of revenue concentration (round 7) -------------
# agg_gini_impurity measures CLASS concentration; this is the other
# Gini — the Lorenz-curve inequality coefficient of a monetary
# distribution: G = (2·Σ i·x₍ᵢ₎) / (n·Σx) − (n+1)/n over values sorted
# ascending, per priority.  Both Σ run in exact cent-scaled integers
# (DECIMAL(38,0) for the rank-weighted sum, which crosses 2^63 around
# the ×100 scale), and G is one identical IEEE expression per group.
# The value-ordered rank is the per-group window the stratified draws
# already use (the accepted exact-order idiom; the two-level range-
# bucket rank of sort_range_boundaries is the declared scale path
# when one group's rows exceed a partition).


@query(
    "agg_gini_coefficient",
    sql="""
    WITH r AS (
        -- floor(): DuckDB's double→BIGINT cast rounds, Spark's
        -- truncates (the Benford lesson).
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT),
                            o_orderkey
               ) AS i
        FROM orders
    ),
    g AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS sx,
               CAST(SUM(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS six
        FROM r GROUP BY 1
    )
    SELECT o_orderpriority, n,
           CAST(sx AS BIGINT) AS total_cents,
           2.0 * (CAST(six AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)))
           - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
    FROM g
    """,
    tables=("orders",),
    scale_note=(
        "Lorenz/Gini inequality per group: the value-ordered rank IS "
        "the two-level range-partition path (distcum.py — local "
        "row_number per range partition + broadcast offsets; no "
        "one-partition groups), then a two-phase agg whose rank-weighted sum "
        "accumulates in DECIMAL(38,0)/HUGEINT — exact past the "
        "~2^63 cents·rank product a ×100 corpus reaches — and G is "
        "one identical IEEE expression per group.  Ties rank by "
        "(cents, key) so the rank sequence is engine-deterministic "
        "(Gini itself is tie-order invariant, the determinism is "
        "for the hash)."
    ),
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value inequality per priority, from
    exact cent-scaled rank-weighted sums."""
    o = load(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice") * 100).cast("bigint")
    # Per-group rank via the shared two-level path (range partitions +
    # local row_number + broadcast offsets) — a ~5-value group key must
    # never become a window partition holding 20% of the table.
    r = two_level_cumulative(
        o.select("o_orderpriority", cents.alias("cents"), "o_orderkey"),
        order_by=["cents", "o_orderkey"],
        bucket_key="cents",
        group_cols=["o_orderpriority"],
        rank_col="i",
    ).select("o_orderpriority", "cents", "i")
    g = r.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(F.col("i").cast("decimal(19,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("six"),
    )
    n, sx, six = F.col("n"), F.col("sx"), F.col("six")
    return g.select(
        "o_orderpriority",
        "n",
        sx.alias("total_cents"),
        (
            F.lit(2.0) * (six.cast("double") / (n.cast("double") * sx.cast("double")))
            - (n.cast("double") + 1.0) / n.cast("double")
        ).alias("gini"),
    )


# ---- two-sample nonparametric / parametric tests (round 7) -----------
# The test family so far covers trend (Mann-Kendall), seasonality
# (ANOVA), proportions (A/B z), independence (chi²), and inequality
# (Gini).  The missing classical shapes are the TWO-SAMPLE location
# tests a warehouse analyst runs before trusting a segment
# comparison: Mann-Whitney U (rank-sum, distribution-free), the
# Kolmogorov-Smirnov D (whole-distribution), and Welch's t (unequal
# variances).  All three follow the house rule — exact integer
# sufficient statistics (cent-scaled values, counts, rank sums as
# wide integers), float math once per output row in a token-identical
# expression sequence.
#
# Rank machinery: ranks live on the DISTINCT-VALUE table (cents →
# count per group), which is PRICE-DOMAIN-sized, not corpus-sized —
# the cumulative window over sorted distinct cents is bounded by the
# monetary domain (100·max_price values) no matter how many rows the
# corpus has.  Past that regime the two-level range-bucket cumulative
# (sample_weighted_pps idiom, operators/scale_ops.py) is the declared
# path; the scale notes say so.


@query(
    "agg_mann_whitney_u",
    sql="""
    WITH x AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS g1
        FROM orders WHERE o_orderstatus IN ('O', 'F')
    ),
    v AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(g1) AS BIGINT) AS c1
        FROM x GROUP BY 1
    ),
    r AS (
        SELECT cents, c, c1,
               CAST(COALESCE(SUM(c) OVER (
                   ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cb
        FROM v
    ),
    s AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c - c1) AS BIGINT) AS n2,
               CAST(CAST(SUM(CAST(c1 AS HUGEINT) * (2 * cb + c + 1))
                    AS HUGEINT) AS BIGINT) AS r1x2,
               CAST(SUM(c * c * c - c) AS BIGINT) AS tie
        FROM r
    )
    SELECT n1, n2,
           r1x2 - n1 * (n1 + 1) AS u1_x2,
           tie AS tie_term,
           CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                WHEN sqrt(
               (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
               * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                  - CAST(tie AS DOUBLE)
                    / (CAST(n1 + n2 AS DOUBLE)
                       * (CAST(n1 + n2 AS DOUBLE) - 1.0)))) = 0.0
                THEN NULL
                ELSE ((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0)
                      - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
                     / sqrt(
                         (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                         * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                            - CAST(tie AS DOUBLE)
                              / (CAST(n1 + n2 AS DOUBLE)
                                 * (CAST(n1 + n2 AS DOUBLE) - 1.0))))
           END AS z_stat
    FROM s
    """,
    tables=("orders",),
    scale_note=(
        "Mann-Whitney rank-sum via average ranks on the DISTINCT-"
        "value table (price-domain-sized, not corpus-sized): one "
        "two-phase agg to (cents -> c, c1), one TWO-LEVEL cumulative "
        "over sorted distinct cents (distcum.py: range partitions + "
        "local running sums + broadcast offsets — exact BIGINT, no "
        "unpartitioned window at any size), then a single-row reduce.  2*R1 stays "
        "integer (avg ranks have denominator 2) and accumulates in "
        "HUGEINT/DECIMAL(38,0) - exact past the ~2^63 a x100 corpus "
        "rank-sum reaches; z is one identical IEEE expression."
    ),
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test of o_totalprice between order
    statuses 'O' and 'F', with tie-corrected normal approximation."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isin("O", "F")
    )
    x = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("g1"),
    )
    v = x.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("g1").cast("bigint").alias("c1"),
    )
    # Exclusive cumulative over sorted distinct cents, two-level
    # (distcum.py): exact even when the distinct-value table outgrows
    # the price-domain regime — no unpartitioned WindowExec.
    r = two_level_cumulative(
        v, order_by=["cents"], bucket_key="cents", sum_cols=["c"]
    ).withColumn("cb", (F.col("cum_c") - F.col("c")).cast("bigint"))
    s = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(
            F.col("c1").cast("decimal(19,0)")
            * (2 * F.col("cb") + F.col("c") + 1)
        )
        .cast("decimal(38,0)")
        .cast("bigint")
        .alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint")
        .alias("tie"),
    )
    n1, n2, r1x2, tie = (
        F.col("n1"), F.col("n2"), F.col("r1x2"), F.col("tie"),
    )
    nd = (n1 + n2).cast("double")
    u1x2 = r1x2 - n1 * (n1 + 1)
    # All-tied samples zero the tie-corrected variance — z is
    # undefined there; NULL rather than an ANSI DIVIDE_BY_ZERO (r10
    # degenerate-domain sweep).  An empty group (n1 or n2 = 0, which
    # also covers a 1-row input where nd(nd-1) = 0) must be tested
    # FIRST: CASE evaluates lazily, so the tie division inside sd
    # never runs there (r10 one-row sweep; oracle guarded
    # identically, same branch order).
    sd = F.sqrt(
        (n1.cast("double") * n2.cast("double") / F.lit(12.0))
        * (
            (nd + F.lit(1.0))
            - tie.cast("double") / (nd * (nd - F.lit(1.0)))
        )
    )
    z = (
        F.when((n1 == 0) | (n2 == 0), F.lit(None).cast("double"))
        .when(sd == 0.0, F.lit(None).cast("double"))
        .otherwise(
            (
                (u1x2.cast("double") / F.lit(2.0))
                - n1.cast("double") * n2.cast("double") / F.lit(2.0)
            )
            / sd
        )
    )
    return s.select(
        "n1",
        "n2",
        u1x2.alias("u1_x2"),
        tie.alias("tie_term"),
        z.alias("z_stat"),
    )


@query(
    "agg_ks_two_sample",
    sql="""
    WITH x AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    v AS (
        SELECT cents, CAST(SUM(g1) AS BIGINT) AS c1,
               CAST(COUNT(*) - SUM(g1) AS BIGINT) AS c2
        FROM x GROUP BY 1
    ),
    r AS (
        SELECT cents,
               CAST(SUM(c1) OVER (
                   ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS f1,
               CAST(SUM(c2) OVER (
                   ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS f2
        FROM v
    ),
    t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2 FROM v)
    SELECT t.n1, t.n2,
           CAST(MAX(abs(r.f1 * t.n2 - r.f2 * t.n1)) AS BIGINT) AS d_num,
           CAST(MAX(abs(r.f1 * t.n2 - r.f2 * t.n1)) AS DOUBLE)
           / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)) AS d_stat
    FROM r, t GROUP BY t.n1, t.n2
    """,
    tables=("orders",),
    scale_note=(
        "Kolmogorov-Smirnov D as an exact integer: the max of "
        "|F1*n2 - F2*n1| over the distinct-value table (price-"
        "domain-sized), cross-multiplied so no float enters until "
        "the final division.  Cumulative counts are BIGINT two-level "
        "running sums over sorted distinct cents (distcum.py — no "
        "unpartitioned window at any size); the 1-row totals side "
        "is a broadcast.  d_num <= n1*n2 bounds the integer width; "
        "a x100 corpus crosses 2^63 only past ~3e9 rows per side - "
        "the DECIMAL(38,0) upgrade is a one-line swap and the note "
        "on the key records it."
    ),
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between o_totalprice
    distributions of '1-URGENT' and '5-LOW' orders, exact-integer
    cross-multiplied form."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    x = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g1"),
    )
    v = x.groupBy("cents").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        (F.count("*") - F.sum("g1")).cast("bigint").alias("c2"),
    )
    # Inclusive ECDF numerators via the shared two-level cumulative
    # (distcum.py) — no unpartitioned WindowExec over the value table.
    r = two_level_cumulative(
        v, order_by=["cents"], bucket_key="cents", sum_cols=["c1", "c2"]
    ).select(
        "cents",
        F.col("cum_c1").cast("bigint").alias("f1"),
        F.col("cum_c2").cast("bigint").alias("f2"),
    )
    t = v.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    j = r.crossJoin(F.broadcast(t))
    dnum = F.max(
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    ).cast("bigint")
    return (
        j.groupBy("n1", "n2")
        .agg(dnum.alias("d_num"))
        .select(
            "n1",
            "n2",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("d_stat"),
        )
    )


@query(
    "agg_welch_ttest",
    sql="""
    WITH x AS (
        SELECT c_mktsegment AS seg,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
        WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ),
    g AS (
        SELECT
            CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN cents ELSE 0 END)
                 AS BIGINT) AS s1,
            CAST(CAST(SUM(CASE WHEN seg = 'AUTOMOBILE'
                     THEN CAST(cents AS HUGEINT) * cents ELSE 0 END)
                 AS HUGEINT) AS BIGINT) AS ss1,
            CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN seg = 'BUILDING' THEN cents ELSE 0 END)
                 AS BIGINT) AS s2,
            CAST(CAST(SUM(CASE WHEN seg = 'BUILDING'
                     THEN CAST(cents AS HUGEINT) * cents ELSE 0 END)
                 AS HUGEINT) AS BIGINT) AS ss2
        FROM x
    ),
    se AS (
        SELECT n1, n2, s1, s2,
               CASE WHEN n1 >= 2 THEN
                   ((CAST(ss1 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
                   / CAST(n1 AS DOUBLE)
               END AS se1,
               CASE WHEN n2 >= 2 THEN
                   ((CAST(ss2 AS DOUBLE)
                     - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                       / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))
                   / CAST(n2 AS DOUBLE)
               END AS se2
        FROM g
    )
    SELECT n1, n2,
           CASE WHEN n1 > 0 THEN
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS mean1_cents,
           CASE WHEN n2 > 0 THEN
               CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) END AS mean2_cents,
           CASE WHEN n1 < 2 OR n2 < 2 THEN NULL
                WHEN se1 + se2 = 0.0 THEN NULL
                ELSE (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                     / sqrt(se1 + se2)
           END AS t_stat,
           CASE WHEN n1 < 2 OR n2 < 2 THEN NULL
                WHEN se1 + se2 = 0.0 THEN NULL
                ELSE (se1 + se2) * (se1 + se2)
                     / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
                        + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0))
           END AS welch_dof
    FROM se
    """,
    tables=("customer",),
    scale_note=(
        "Welch's unequal-variance t from exact integer sufficient "
        "statistics: one two-phase conditional agg (n, sum-cents, "
        "sum-cents-squared per segment; the squared sum accumulates "
        "in HUGEINT/DECIMAL(38,0) - exact past the ~2^63 a x100 "
        "corpus of squared cents reaches), then t and the Welch-"
        "Satterthwaite dof as token-identical IEEE expressions on "
        "the single output row.  floor() pins negative-balance "
        "cents (Spark's bigint cast truncates toward zero; floor is "
        "the engine-agreed semantics - the Benford lesson extended "
        "to negatives)."
    ),
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test of c_acctbal between AUTOMOBILE and BUILDING
    segments, with Welch-Satterthwaite degrees of freedom."""
    c = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
    )
    cents = F.floor(F.col("c_acctbal") * 100).cast("bigint")
    x = c.select(F.col("c_mktsegment").alias("seg"), cents.alias("cents"))
    is1 = F.col("seg") == "AUTOMOBILE"
    is2 = F.col("seg") == "BUILDING"
    g = x.agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(is1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(
            F.when(
                is1, F.col("cents").cast("decimal(19,0)") * F.col("cents")
            ).otherwise(F.lit(0).cast("decimal(19,0)"))
        )
        .cast("decimal(38,0)")
        .cast("bigint")
        .alias("ss1"),
        F.sum(F.when(is2, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(is2, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s2"),
        F.sum(
            F.when(
                is2, F.col("cents").cast("decimal(19,0)") * F.col("cents")
            ).otherwise(F.lit(0).cast("decimal(19,0)"))
        )
        .cast("decimal(38,0)")
        .cast("bigint")
        .alias("ss2"),
    )

    def _m(s: F.Column, n: F.Column) -> F.Column:
        return s.cast("double") / n.cast("double")

    def _v(ss: F.Column, s: F.Column, n: F.Column) -> F.Column:
        return (
            ss.cast("double")
            - s.cast("double") * s.cast("double") / n.cast("double")
        ) / (n.cast("double") - F.lit(1.0))

    n1, s1, ss1 = F.col("n1"), F.col("s1"), F.col("ss1")
    n2, s2, ss2 = F.col("n2"), F.col("s2"), F.col("ss2")
    se1 = _v(ss1, s1, n1) / n1.cast("double")
    se2 = _v(ss2, s2, n2) / n2.cast("double")
    null_d = F.lit(None).cast("double")
    # Guard ORDER matters under ANSI (the r10 degenerate-domain
    # lesson, hardened per ADVICE r10): the n<2 branch must come
    # FIRST and be a lazy CASE arm, because evaluating se1/se2 at
    # all divides by (n-1) and n — a slice where one segment has 0
    # or 1 customers would otherwise raise DIVIDE_BY_ZERO while
    # computing the guard itself.  Second branch: two constant
    # samples zero both squared standard errors — t and the
    # Welch-Satterthwaite dof are undefined → NULL.  Oracle mirrors
    # the same CASE order.
    small = (n1 < F.lit(2)) | (n2 < F.lit(2))
    t = (
        F.when(small, null_d)
        .when(se1 + se2 == 0.0, null_d)
        .otherwise((_m(s1, n1) - _m(s2, n2)) / F.sqrt(se1 + se2))
    )
    dof = (
        F.when(small, null_d)
        .when(se1 + se2 == 0.0, null_d)
        .otherwise(
            (se1 + se2)
            * (se1 + se2)
            / (
                se1 * se1 / (n1.cast("double") - F.lit(1.0))
                + se2 * se2 / (n2.cast("double") - F.lit(1.0))
            )
        )
    )
    return g.select(
        "n1",
        "n2",
        F.when(n1 > 0, _m(s1, n1)).otherwise(null_d).alias("mean1_cents"),
        F.when(n2 > 0, _m(s2, n2)).otherwise(null_d).alias("mean2_cents"),
        t.alias("t_stat"),
        dof.alias("welch_dof"),
    )

# ---- Herfindahl-Hirschman concentration (round-7 continuation) --------
# Market-concentration HHI per nation: Σ (supplier revenue share)².
# The naive route (Σ revᵢ² as a wide decimal, cast once) is NOT
# hash-safe: a DECIMAL(38,8) at ~1e23 carries more information than a
# double mantissa, and the two engines' wide-decimal→double casts
# round differently in the last ulp (measured here: 7/25 nations off
# by one ulp).  So the shares themselves are the floats: revᵢ and the
# nation total are SAFE casts (≤18-digit decimals, both engines round
# identically — the dsum discipline), shareᵢ² is pure IEEE, and the
# per-nation total folds over suppliers in s_suppkey order (the ANOVA
# order-pinning) — no wide cast anywhere.


@query(
    "agg_hhi_concentration",
    sql="""
    WITH rev AS (
        SELECT n.n_name AS nation, s.s_suppkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(12,2))))
                    AS DECIMAL(18,4)) AS r
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY 1, 2
    ),
    wt AS (
        SELECT nation, s_suppkey, r,
               SUM(r) OVER (PARTITION BY nation) AS t
        FROM rev
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(MAX(t) AS DOUBLE) AS total_revenue,
           list_reduce(
               list((CAST(r AS DOUBLE) / CAST(t AS DOUBLE))
                    * (CAST(r AS DOUBLE) / CAST(t AS DOUBLE))
                    ORDER BY s_suppkey),
               (a, b) -> a + b) AS hhi
    FROM wt GROUP BY nation
    """,
    tables=("lineitem", "supplier", "nation"),
    scale_note=(
        "HHI per market: one fact-side two-phase agg to supplier "
        "revenue (supplier/nation dims broadcast), an exact decimal "
        "window total per nation, then an ORDER-PINNED fold of "
        "share^2 terms over the suppliers-per-nation list (market-"
        "participant sized, not corpus sized).  All decimal->double "
        "casts stay at <=18 digits where both engines round "
        "identically; the wide Sigma-r^2 decimal route was measured "
        "ulp-divergent and rejected (comment in source)."
    ),
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    per nation (order-pinned share-squared fold)."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    rev = (
        l.join(F.broadcast(s), s["s_suppkey"] == l["l_suppkey"])
        .join(F.broadcast(n), n["n_nationkey"] == s["s_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(
            F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))
            .cast("decimal(18,4)")
            .alias("r")
        )
    )
    wt = rev.withColumn(
        "t", F.sum("r").over(Window.partitionBy("nation"))
    )
    fold = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("s_suppkey", "r", "t"))),
            lambda x: (x["r"].cast("double") / x["t"].cast("double"))
            * (x["r"].cast("double") / x["t"].cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return wt.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.max("t").cast("double").alias("total_revenue"),
        fold.alias("hhi"),
    )


# ---- Spearman rank correlation + runs test (round-7 continuation) -----
# Two more classical shapes on the rank machinery the Mann-Whitney
# key certified: Spearman's rho (Pearson on average ranks — ties
# handled exactly because 2·avg-rank is an integer) and the
# Wald-Wolfowitz runs test for randomness of a series' ups and downs.
# Both keep every accumulation integer (BIGINT at validation scale —
# all magnitudes < 2^53, so the int->double casts are exact; the
# DECIMAL(38,0) upgrade past that regime is the noted swap) and
# spend floats once per output row.


@query(
    "agg_runs_test",
    sql="""
    WITH hourly AS (
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    d AS (
        SELECT event_type, hr,
               cnt - lag(cnt) OVER (
                   PARTITION BY event_type ORDER BY hr
               ) AS delta
        FROM hourly
    ),
    sgn AS (
        SELECT event_type, hr,
               CASE WHEN delta > 0 THEN 1 ELSE -1 END AS s
        FROM d WHERE delta IS NOT NULL AND delta <> 0
    ),
    runs AS (
        SELECT event_type, s,
               CASE WHEN s = lag(s) OVER (
                        PARTITION BY event_type ORDER BY hr
                    ) THEN 0 ELSE 1 END AS brk
        FROM sgn
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_up,
               CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_down,
               CAST(SUM(COALESCE(brk, 1)) AS BIGINT) AS n_runs
        FROM runs GROUP BY event_type
    )
    SELECT event_type, n_up, n_down, n_runs,
           (CAST(n_runs AS DOUBLE)
            - (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
               / (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) + 1.0))
           / sqrt(
               2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
               * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
                  - CAST(n_up AS DOUBLE) - CAST(n_down AS DOUBLE))
               / ((CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                  * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
                  * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)
                     - 1.0))
           ) AS z_stat
    FROM agg WHERE n_up > 0 AND n_down > 0
    """,
    tables=("events",),
    scale_note=(
        "Wald-Wolfowitz runs test for randomness of the hourly "
        "series' ups and downs per type: signs and run breaks from "
        "one type-partitioned lag chain (calendar-bounded series), "
        "run/sign counts exact BIGINTs, z one IEEE expression per "
        "type.  Zero deltas are excluded by contract (the classical "
        "treatment); degenerate one-sided series are excluded (no "
        "variance)."
    ),
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs test (Wald-Wolfowitz) on the signs of hourly count deltas
    per event type."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    wo = Window.partitionBy("event_type").orderBy("hr")
    d = hourly.select(
        "event_type",
        "hr",
        (F.col("cnt") - F.lag("cnt").over(wo)).alias("delta"),
    ).where(F.col("delta").isNotNull() & (F.col("delta") != 0))
    sgn = d.select(
        "event_type",
        "hr",
        F.when(F.col("delta") > 0, 1).otherwise(-1).alias("s"),
    )
    runs = sgn.select(
        "event_type",
        "s",
        F.when(F.col("s") == F.lag("s").over(wo), 0)
        .otherwise(1)
        .alias("brk"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
        F.sum(F.coalesce(F.col("brk"), F.lit(1)))
        .cast("bigint")
        .alias("n_runs"),
    )
    u, v = F.col("n_up").cast("double"), F.col("n_down").cast("double")
    r = F.col("n_runs").cast("double")
    mu = F.lit(2.0) * u * v / (u + v) + F.lit(1.0)
    var = (
        F.lit(2.0) * u * v * (F.lit(2.0) * u * v - u - v)
        / ((u + v) * (u + v) * (u + v - F.lit(1.0)))
    )
    return agg.where((F.col("n_up") > 0) & (F.col("n_down") > 0)).select(
        "event_type",
        "n_up",
        "n_down",
        "n_runs",
        ((r - mu) / F.sqrt(var)).alias("z_stat"),
    )


# Two-limb exact decimal->double: the x10 probe caught the naive
# BIGINT cast overflowing at Sigma r2x*r2y ~ 1.07e19 > 2^63, and the
# single wide-decimal cast is the measured cross-engine ulp hazard
# (the HHI lesson).  Splitting x = hi*2^32 + lo keeps every step
# EXACT (mod and the divisible division are integer-exact in both
# engines; hi < 2^53 for x < 2^85) and the final double expression
# hi*4294967296.0 + lo is the same IEEE sequence on both sides.
_LIMB = 4_294_967_296  # 2^32


def _limb_dbl_sql(x: str) -> str:
    # `//` (integer division), NOT `/`: DuckDB's `/` is float division
    # and would round the >2^53 numerator before dividing.
    return (
        f"(CAST(CAST({x} // {_LIMB} AS BIGINT) AS DOUBLE)"
        f" * {_LIMB}.0 + CAST(CAST({x} % {_LIMB} AS BIGINT) AS DOUBLE))"
    )


def _limb_dbl(c: "F.Column") -> "F.Column":
    lo = c % F.lit(_LIMB)
    hi = ((c - lo) / F.lit(_LIMB)).cast("decimal(38,0)").cast("bigint")
    return hi.cast("double") * F.lit(float(_LIMB)) + lo.cast(
        "bigint"
    ).cast("double")


@query(
    "agg_spearman_rank_corr",
    sql=f"""
    WITH x AS (
        SELECT l_returnflag AS g,
               CAST(l_quantity AS BIGINT) AS xv,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS yv
        FROM lineitem
    ),
    rx AS (
        SELECT g, xv,
               2 * (CAST(COALESCE(SUM(c) OVER (
                        PARTITION BY g ORDER BY xv
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS BIGINT))
               + c + 1 AS r2x
        FROM (SELECT g, xv, CAST(COUNT(*) AS BIGINT) AS c
              FROM x GROUP BY 1, 2)
    ),
    ry AS (
        SELECT g, yv,
               2 * (CAST(COALESCE(SUM(c) OVER (
                        PARTITION BY g ORDER BY yv
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS BIGINT))
               + c + 1 AS r2y
        FROM (SELECT g, yv, CAST(COUNT(*) AS BIGINT) AS c
              FROM x GROUP BY 1, 2)
    ),
    j AS (
        SELECT x.g, rx.r2x, ry.r2y
        FROM x
        JOIN rx ON rx.g = x.g AND rx.xv = x.xv
        JOIN ry ON ry.g = x.g AND ry.yv = x.yv
    ),
    s AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r2x) AS BIGINT) AS sx,
               CAST(SUM(r2y) AS BIGINT) AS sy,
               SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy,
               SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
               SUM(CAST(r2y AS HUGEINT) * r2y) AS syy
        FROM j GROUP BY g
    )
    SELECT g AS l_returnflag, n,
           CASE WHEN sqrt(CAST(n AS DOUBLE) * {_limb_dbl_sql('sxx')}
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * sqrt(CAST(n AS DOUBLE) * {_limb_dbl_sql('syy')}
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                     = 0.0
                THEN NULL
                ELSE (CAST(n AS DOUBLE) * {_limb_dbl_sql('sxy')}
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * {_limb_dbl_sql('sxx')}
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * {_limb_dbl_sql('syy')}
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS spearman_rho
    FROM s
    """,
    tables=("lineitem",),
    scale_note=(
        "Spearman = Pearson on average ranks, ties exact because "
        "2*avg-rank is an INTEGER (the Mann-Whitney rank machinery "
        "per group per variable: domain-sized distinct tables, "
        "two-level BIGINT cumulatives via distcum.py, rank join-back "
        "by value key).  "
        "The three wide rank-moments accumulate in HUGEINT/"
        "DECIMAL(38,0) and reach doubles via the TWO-LIMB split "
        "(hi*2^32 + lo — every step integer-exact, identical IEEE "
        "assembly on both engines, valid to 2^85) — the x10 probe "
        "caught the naive BIGINT cast overflowing at ~1.07e19 and "
        "the single wide cast is the measured ulp hazard; rho is "
        "one IEEE expression per group."
    ),
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per
    returnflag, exact tie handling via integer doubled ranks."""
    li = load(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("bigint").alias("xv"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("yv"),
    )

    def ranks(col: str, out: str) -> DataFrame:
        # Doubled average ranks from an exclusive per-group cumulative
        # over the distinct-value table — two-level (distcum.py), so a
        # 3-value group key never becomes one window partition.
        counts = x.groupBy("g", col).agg(
            F.count("*").cast("bigint").alias("c")
        )
        cum = two_level_cumulative(
            counts,
            order_by=[col],
            bucket_key=col,
            group_cols=["g"],
            sum_cols=["c"],
        )
        return cum.select(
            "g",
            col,
            (
                2 * (F.col("cum_c") - F.col("c")).cast("bigint")
                + F.col("c")
                + 1
            ).alias(out),
        )

    rx = ranks("xv", "r2x")
    ry = ranks("yv", "r2y")
    j = x.join(rx, ["g", "xv"]).join(ry, ["g", "yv"])
    s = j.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r2x").cast("bigint").alias("sx"),
        F.sum("r2y").cast("bigint").alias("sy"),
        F.sum(F.col("r2x").cast("decimal(19,0)") * F.col("r2y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("r2x").cast("decimal(19,0)") * F.col("r2x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("r2y").cast("decimal(19,0)") * F.col("r2y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    # A constant variable (one distinct rank) zeroes its rank
    # variance — rho is undefined; NULL rather than an ANSI
    # DIVIDE_BY_ZERO job kill (r10 degenerate-domain sweep; oracle
    # guarded identically).
    rho_den = F.sqrt(nd * _limb_dbl(F.col("sxx")) - sx * sx) * F.sqrt(
        nd * _limb_dbl(F.col("syy")) - sy * sy
    )
    rho = F.when(rho_den == 0.0, F.lit(None).cast("double")).otherwise(
        (nd * _limb_dbl(F.col("sxy")) - sx * sy) / rho_den
    )
    return s.select(
        F.col("g").alias("l_returnflag"), "n", rho.alias("spearman_rho")
    )


# ---- Hill tail-index estimator (round-7 continuation) ------------------
# The estimator heavy-tail analysts actually use (vs the binned
# log-log slope of graph_powerlaw_slope): Hill's alpha over the top-k
# order statistics of order values per priority.  The top-k cut is a
# per-group window (k=100 — constant reduce work per key); each
# ln(x_i / x_k) term is rounded 8dp (the ln-ulp discipline) and the
# mean folds in rank order (ANOVA pinning).

HILL_K = 100  # top-k order statistics per group


@query(
    "agg_hill_tail_index",
    sql=f"""
    WITH c AS (
        SELECT o_orderpriority AS g,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    r AS (
        SELECT g, cents,
               row_number() OVER (
                   PARTITION BY g ORDER BY cents DESC, o_orderkey
               ) AS rnk
        FROM c
    ),
    top AS (SELECT g, cents, rnk FROM r WHERE rnk <= {HILL_K}),
    kth AS (SELECT g, cents AS x_k FROM top WHERE rnk = {HILL_K}),
    terms AS (
        SELECT top.g, top.rnk,
               round(ln(CAST(top.cents AS DOUBLE)
                        / CAST(kth.x_k AS DOUBLE)), 8) AS t
        FROM top JOIN kth ON kth.g = top.g
        WHERE top.rnk < {HILL_K}
    ),
    s AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS k_minus_1,
               list_reduce(list(t ORDER BY rnk), (a, b) -> a + b) AS st
        FROM terms GROUP BY g
    )
    SELECT g AS o_orderpriority, k_minus_1,
           st / CAST(k_minus_1 AS DOUBLE) AS hill_mean_log_excess,
           CASE WHEN st = 0.0 THEN NULL
                ELSE CAST(k_minus_1 AS DOUBLE) / st END AS hill_alpha
    FROM s
    """,
    tables=("orders",),
    scale_note=(
        "Hill estimator over top-k order statistics per group: the "
        "top-100 cut is the two-level rank (distcum.py) with the "
        "local-rank<=K partition prune — TakeOrdered-class work, "
        "no one-partition groups), the k-th value joins back group-keyed "
        "(groups-sized broadcast), and the 99 log-excess terms are "
        "8dp-rounded then folded in rank order — constant reduce "
        "work per key at any corpus size.  alpha = (k-1)/Sigma "
        "ln(x_i/x_k), one IEEE expression per group."
    ),
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index (alpha) of order values per priority from the
    top-100 order statistics."""
    o = load(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    # Per-group top-K via the two-level rank (distcum.py): rank_limit
    # prunes to local-rank<=K inside each range partition BEFORE the
    # offset join, so the reduce side sees at most width*K*groups rows
    # — never a whole group in one window partition.
    r = two_level_cumulative(
        c,
        order_by=[F.col("cents").desc(), F.col("o_orderkey")],
        bucket_key="cents",
        group_cols=["g"],
        rank_col="rnk",
        rank_limit=HILL_K,
        descending=True,
    )
    kth = r.where(F.col("rnk") == HILL_K).select(
        "g", F.col("cents").alias("x_k")
    )
    terms = (
        r.where(F.col("rnk") < HILL_K)
        .join(F.broadcast(kth), "g")
        .select(
            "g",
            "rnk",
            F.round(
                F.log(
                    F.col("cents").cast("double")
                    / F.col("x_k").cast("double")
                ),
                8,
            ).alias("t"),
        )
    )
    s = terms.groupBy("g").agg(
        F.count("*").cast("bigint").alias("k_minus_1"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rnk", "t"))),
                lambda x: x["t"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("st"),
    )
    km = F.col("k_minus_1").cast("double")
    # A degenerate tail — every top-K value equal (price-capped
    # domain, or heavy replication) — folds st to exactly 0.0; alpha
    # is undefined there and under ANSI mode the bare division is a
    # runtime DIVIDE_BY_ZERO that kills the whole job (found by the
    # r10 ×100 probe).  NULL, guarded identically in the oracle.
    return s.select(
        F.col("g").alias("o_orderpriority"),
        "k_minus_1",
        (F.col("st") / km).alias("hill_mean_log_excess"),
        F.when(F.col("st") == 0.0, F.lit(None).cast("double"))
        .otherwise(km / F.col("st"))
        .alias("hill_alpha"),
    )


# ---- Lorenz curve points (round-7 continuation) ------------------------
# The plottable companion to agg_gini_coefficient's scalar: per
# priority, cut the value-ascending population into deciles with
# CROSS-MULTIPLIED integer boundaries (rank*10 <= n*d — no float
# cut), and report each decile's exact cents plus the cumulative
# revenue share.  Everything integer until the one share division.


@query(
    "agg_lorenz_curve",
    sql="""
    WITH c AS (
        SELECT o_orderpriority AS g,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    r AS (
        SELECT g, cents,
               row_number() OVER (
                   PARTITION BY g ORDER BY cents, o_orderkey
               ) AS rnk,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM c
    ),
    d AS (
        SELECT g,
               CAST(CASE WHEN rnk * 10 <= n * 1 THEN 1
                    WHEN rnk * 10 <= n * 2 THEN 2
                    WHEN rnk * 10 <= n * 3 THEN 3
                    WHEN rnk * 10 <= n * 4 THEN 4
                    WHEN rnk * 10 <= n * 5 THEN 5
                    WHEN rnk * 10 <= n * 6 THEN 6
                    WHEN rnk * 10 <= n * 7 THEN 7
                    WHEN rnk * 10 <= n * 8 THEN 8
                    WHEN rnk * 10 <= n * 9 THEN 9
                    ELSE 10 END AS INT) AS decile,
               cents
        FROM r
    ),
    s AS (
        SELECT g, decile,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS decile_cents
        FROM d GROUP BY 1, 2
    )
    SELECT g AS o_orderpriority, decile, n_orders, decile_cents,
           CAST(SUM(decile_cents) OVER (
               PARTITION BY g ORDER BY decile
               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(SUM(decile_cents) OVER (PARTITION BY g) AS DOUBLE)
               AS cum_share
    FROM s
    """,
    tables=("orders",),
    scale_note=(
        "Lorenz curve deciles: the gini key's value-ascending rank "
        "via the shared two-level path (distcum.py; per-group n is "
        "a groups-sized broadcast, not a whole-group window), decile boundaries as CROSS-MULTIPLIED integer "
        "comparisons (rank*10 <= n*d — no 0.1 literal), a 10-rows-"
        "per-group agg, and a deciles-sized cumulative; the single "
        "float is the final share division of exact cents."
    ),
)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve points (cumulative revenue share per population
    decile, value-ascending) per priority — exact-integer cuts."""
    o = load(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    # Rank via the shared two-level path; per-group n via a groups-
    # sized agg broadcast back (replaces the whole-group COUNT window,
    # which was itself a data-sized single partition per group).
    ranked = two_level_cumulative(
        c,
        order_by=["cents", "o_orderkey"],
        bucket_key="cents",
        group_cols=["g"],
        rank_col="rnk",
    )
    n_tbl = c.groupBy("g").agg(F.count("*").cast("bigint").alias("n"))
    r = ranked.join(F.broadcast(n_tbl), "g").select(
        "g", "cents", "rnk", "n"
    )
    dec_col = F.lit(10)
    for d in range(9, 0, -1):
        dec_col = F.when(
            F.col("rnk") * 10 <= F.col("n") * d, F.lit(d)
        ).otherwise(dec_col)
    s = r.select("g", dec_col.cast("int").alias("decile"), "cents").groupBy(
        "g", "decile"
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    wc = (
        Window.partitionBy("g")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("g")
    return s.select(
        F.col("g").alias("o_orderpriority"),
        "decile",
        "n_orders",
        "decile_cents",
        (
            F.sum("decile_cents").over(wc).cast("double")
            / F.sum("decile_cents").over(wt).cast("double")
        ).alias("cum_share"),
    )
