"""Data-profiling operators (SURVEY.md §2.N extras): per-column table
profiles and distribution quantiles — the "look before you leap" pass a
training-data pipeline runs on every new 100-TB corpus drop before any
curation query is written.

Reference parity: the reference genre eyeballs its tweet corpus with
ad-hoc counts (SURVEY.md §0.3; checkout empty — §0.1); these operators
make that a first-class, oracle-checked surface.

Scale posture: the profile is ONE aggregation pass (no per-column
jobs); exact quantiles sort within groups only.  At 100 TB the exact
count-distinct per column becomes the HLL-sketch plan
(``agg_hll_sketch``) and exact percentiles become ``percentile_approx``
(``agg_approx_percentile`` below) — both registered here so the switch
is a key rename, not new code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, local_frame

# Profiled columns of the events table.  All profile metrics are
# BIGINT counts — engine-neutral by construction (no float/timestamp
# formatting can drift between Spark and DuckDB).
PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "profile_table",
    sql="""
    SELECT * FROM (
    """
    + "\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               COUNT(*) - COUNT({c}) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM events
        """
        for c in PROFILE_COLS
    )
    + ")",
    tables=("events",),
    scale_note=(
        "Whole-table profile in ONE aggregation job: per-column "
        "null/distinct counts fold into a single agg (Catalyst plans the "
        "multi-distinct via one Expand), then unpivot to (column, metric) "
        "rows driver-free. At 100 TB swap exact distincts for the "
        "mergeable HLL sketches of agg_hll_sketch — same output schema."
    ),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of events: rows, nulls, distincts — one pass."""
    e = load(spark, sf_dir, "events")
    wide = e.agg(
        F.count("*").alias("n_rows"),
        *[
            x
            for c in PROFILE_COLS
            for x in (
                (F.count("*") - F.count(c)).alias(f"nulls_{c}"),
                F.count_distinct(F.col(c)).alias(f"dist_{c}"),
            )
        ],
    )
    # Unpivot: one output row per profiled column.  stack() is pure
    # projection — no extra shuffle, no driver loop.
    stack_args = ", ".join(
        f"'{c}', nulls_{c}, dist_{c}" for c in PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_args}) AS (col_name, n_nulls, n_distinct)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct")


@query(
    "agg_percentiles",
    sql="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.50) AS p50,
           quantile_cont(o_totalprice, 0.90) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    tables=("orders",),
    scale_note=(
        "Exact interpolated percentiles per group (Spark `percentile` ≡ "
        "DuckDB `quantile_cont`, identical linear interpolation — "
        "verified repr-equal). Exact quantiles buffer each group; at "
        "100 TB per-group cardinality makes this the t-digest plan "
        "(agg_approx_percentile) — the exact twin stays as the oracle "
        "at validation scale."
    ),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value p50/p90/p99 per order priority (exact)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.50)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.90)").alias("p90"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
        F.count("*").alias("n"),
    )


@query(
    "agg_approx_percentile",
    sql=None,  # approx sketch has no DuckDB twin; the local suite pins
    # each estimate within 1% relative error of the exact quantile.
    tables=("orders",),
    scale_note=(
        "percentile_approx (GK/t-digest-style sketch, accuracy 10000): "
        "bounded-memory mergeable summaries — the 100-TB path where "
        "exact per-group sorts stop being affordable. Shuffle carries "
        "one sketch per (partition × group), not the values."
    ),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 per order priority (mergeable sketch)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_approx(o_totalprice, array(0.50D, 0.90D, 0.99D), 10000)"
        ).alias("ps"),
        F.count("*").alias("n"),
    ).select(
        "o_orderpriority",
        F.col("ps")[0].alias("p50"),
        F.col("ps")[1].alias("p90"),
        F.col("ps")[2].alias("p99"),
        "n",
    )


N_HIST_BINS = 10


@query(
    "agg_histogram",
    sql=f"""
    WITH m AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
    b AS (
        SELECT CASE WHEN vmax = vmin THEN 0
                    ELSE least(CAST(floor((value - vmin)
                                          / ((vmax - vmin) / {N_HIST_BINS}))
                               AS BIGINT),
                               {N_HIST_BINS - 1}) END AS bin,
               vmin, vmax
        FROM events, m
    )
    SELECT bin,
           vmin + bin * ((vmax - vmin) / {N_HIST_BINS}) AS bin_lo,
           vmin + (bin + 1) * ((vmax - vmin) / {N_HIST_BINS}) AS bin_hi,
           COUNT(*) AS n
    FROM b GROUP BY bin, vmin, vmax
    """,
    tables=("events",),
    scale_note=(
        "Fixed-width histogram in two passes: a scalar min/max agg "
        "(bytes) broadcast back onto the scan, then bin assignment as a "
        "pure codegen expression feeding one two-phase count agg — "
        "shuffle carries one row per bin. The profile primitive behind "
        "quality-score threshold tuning at 100 TB; identical float ops "
        "on both engines keep bin edges bit-equal."
    ),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bin fixed-width histogram of events.value (exact counts,
    deterministic bin edges from a broadcast min/max pass)."""
    e = load(spark, sf_dir, "events")
    m = e.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    width = (F.col("vmax") - F.col("vmin")) / F.lit(N_HIST_BINS)
    # A constant domain (vmax == vmin) makes the bin width 0 — under
    # ANSI the bin division is a runtime DIVIDE_BY_ZERO job kill; the
    # graceful histogram is one bin 0 holding everything (bin_lo =
    # bin_hi = vmin), guarded identically in the oracle (r10
    # degenerate-domain sweep).
    binned = e.join(F.broadcast(m)).select(
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0).cast("bigint"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin")) / width
                ).cast("bigint"),
                F.lit(N_HIST_BINS - 1),
            )
        )
        .alias("bin"),
        "vmin",
        "vmax",
    )
    return binned.groupBy("bin", "vmin", "vmax").agg(
        F.count("*").alias("n")
    ).select(
        "bin",
        (F.col("vmin") + F.col("bin") * width).alias("bin_lo"),
        (F.col("vmin") + (F.col("bin") + 1) * width).alias("bin_hi"),
        "n",
    )


@query(
    "agg_mode_per_group",
    sql="""
    WITH c AS (
        SELECT event_type, user_id, COUNT(*) AS n
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id AS modal_user, n FROM (
        SELECT event_type, user_id, n,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY n DESC, user_id
               ) AS rk
        FROM c
    ) WHERE rk = 1
    """,
    tables=("events",),
    scale_note=(
        "Exact per-group mode with a deterministic tiebreak (smallest "
        "key wins): two-phase count agg on the (group, candidate) pair "
        "key, then a rank window whose input is already aggregate-sized. "
        "No collect, no unordered first(). At 100 TB the (group × "
        "candidate) cardinality is the only memory driver — when that "
        "explodes, the sketch path is a count-min top-k per group, with "
        "this exact plan as its validation twin."
    ),
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most active user per event type (exact mode, smallest-id tiebreak)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    c = e.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    rk = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    return (
        c.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("user_id").alias("modal_user"), "n")
    )


SKEW_TOP_K = 10


@query(
    "profile_join_skew",
    sql=f"""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(n_rows) AS BIGINT) AS total_rows
        FROM c
    )
    SELECT rk, user_id, n_rows, n_keys, total_rows,
           round(n_rows / (CAST(total_rows AS DOUBLE) / n_keys), 6)
               AS skew_vs_mean,
           round(100.0 * n_rows / total_rows, 6) AS share_pct
    FROM (
        SELECT c.*, s.n_keys, s.total_rows,
               row_number() OVER (ORDER BY n_rows DESC, user_id) AS rk
        FROM c, s
    ) WHERE rk <= {SKEW_TOP_K}
    """,
    tables=("events",),
    scale_note=(
        "The diagnostic that DECIDES the join strategy: heavy-hitter "
        "profile of a join key (top-K keys, per-key rows, skew factor "
        "vs the mean key). skew_vs_mean >> 1 on the probe output means "
        "salt the key (join_skew_salted) or rely on AQE skew-join "
        "splitting; ~1 means a plain keyed shuffle is fine. Plan: one "
        "two-phase count agg on the key (map-side combine), a "
        "broadcast of the 1-row global stats, and a TakeOrdered-then-"
        "rank top-K cut (orderBy().limit(K) compiles to "
        "TakeOrderedAndProject; the rank window sees only K rows — "
        "key cardinality is user-sized at 100 TB, so the key-agg "
        "table itself is never a single window partition) — this "
        "runs as a cheap pre-pass or on a hash-sample of the fact "
        "table."
    ),
)
def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heavy-hitter join keys on events.user_id with per-key
    row counts, share of table, and skew factor vs the mean key."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n_rows"))
    s = c.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
    )
    rk = Window.orderBy(F.col("n_rows").desc(), F.col("user_id"))
    # TakeOrdered-then-rank (VERDICT r8 #4): orderBy().limit(K) cuts
    # the key-aggregate table to K rows via TakeOrderedAndProject
    # (per-partition top-K + K-row driver merge) BEFORE the rank
    # window — key cardinality is user-sized at 100 TB, so the
    # unpartitioned window may only ever see the K-row result.
    top = c.orderBy(F.col("n_rows").desc(), F.col("user_id")).limit(
        SKEW_TOP_K
    )
    return (
        top.join(F.broadcast(s))
        .withColumn("rk", F.row_number().over(rk))
        .select(
            "rk", "user_id", "n_rows", "n_keys", "total_rows",
            F.round(
                F.col("n_rows")
                / (F.col("total_rows").cast("double") / F.col("n_keys")),
                6,
            ).alias("skew_vs_mean"),
            F.round(
                F.lit(100.0) * F.col("n_rows") / F.col("total_rows"), 6
            ).alias("share_pct"),
        )
    )


# z for a 95% Wilson interval; stated as the exact double literal so
# both engines fold the same constant.
WILSON_Z = 1.96


@query(
    "agg_ratio_wilson_ci",
    sql=f"""
    WITH c AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events
        GROUP BY event_type
    )
    SELECT event_type, n, k,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
           ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
            + {WILSON_Z} * {WILSON_Z} / (2.0 * CAST(n AS DOUBLE))
            - {WILSON_Z} * sqrt(
                ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 + {WILSON_Z} * {WILSON_Z} / (4.0 * CAST(n AS DOUBLE)))
                / CAST(n AS DOUBLE)))
           / (1.0 + {WILSON_Z} * {WILSON_Z} / CAST(n AS DOUBLE))
               AS ci_lo,
           ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
            + {WILSON_Z} * {WILSON_Z} / (2.0 * CAST(n AS DOUBLE))
            + {WILSON_Z} * sqrt(
                ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 + {WILSON_Z} * {WILSON_Z} / (4.0 * CAST(n AS DOUBLE)))
                / CAST(n AS DOUBLE)))
           / (1.0 + {WILSON_Z} * {WILSON_Z} / CAST(n AS DOUBLE))
               AS ci_hi
    FROM c
    """,
    tables=("events",),
    scale_note=(
        "Proportion monitoring with UNCERTAINTY — the Wilson 95% "
        "interval per group, the right band for rates near 0/1 where "
        "the normal approximation lies.  One two-phase count agg "
        "(exact BIGINT n, k); the interval arithmetic is a fixed "
        "IEEE expression over those two integers, identical token "
        "for token on both engines (sqrt is correctly rounded), so "
        "even the float bounds hash-match.  At 100 TB this is the "
        "per-segment data-quality gate: alert when a segment's CI "
        "excludes the fleet rate, not when a point estimate wiggles."
    ),
)
def agg_ratio_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rate of high-value events with a Wilson 95% CI."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 50.0, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    z2 = WILSON_Z * WILSON_Z
    center = p + F.lit(z2) / (2.0 * n)
    half = WILSON_Z * F.sqrt(
        (p * (F.lit(1.0) - p) + F.lit(z2) / (4.0 * n)) / n
    )
    denom = F.lit(1.0) + F.lit(z2) / n
    return c.select(
        "event_type",
        "n",
        "k",
        p.alias("p_hat"),
        ((center - half) / denom).alias("ci_lo"),
        ((center + half) / denom).alias("ci_hi"),
    )


PCTL_BINS = 128


@query(
    "agg_percentile_binned",
    sql=f"""
    WITH v AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS v100
        FROM orders
    ),
    g AS (
        SELECT o_orderpriority, MIN(v100) AS lo, MAX(v100) AS hi,
               COUNT(*) AS n
        FROM v GROUP BY 1
    ),
    b AS (
        SELECT v.o_orderpriority,
               ((v.v100 - g.lo) * {PCTL_BINS}) // (g.hi - g.lo + 1) AS bin,
               g.lo, g.hi, g.n
        FROM v JOIN g USING (o_orderpriority)
    ),
    h AS (
        SELECT o_orderpriority, bin, lo, hi, n, COUNT(*) AS c
        FROM b GROUP BY 1, 2, 3, 4, 5
    ),
    cum AS (
        SELECT *,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY bin
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cc
        FROM h
    ),
    pick AS (
        SELECT o_orderpriority, p.p, lo, hi, n, MIN(bin) AS bin
        FROM cum
        JOIN (VALUES (50), (90), (99)) p(p) ON TRUE
        WHERE cc >= (n * p.p + 99) // 100
        GROUP BY 1, 2, 3, 4, 5
    ),
    est AS (
        SELECT o_orderpriority, p, n,
               CAST(lo + (CAST(bin AS DOUBLE) + 0.5)
                         * (CAST(hi - lo + 1 AS DOUBLE) / {PCTL_BINS})
                    AS DOUBLE) / 100 AS e
        FROM pick
    )
    SELECT o_orderpriority,
           MIN(CASE WHEN p = 50 THEN e END) AS p50,
           MIN(CASE WHEN p = 90 THEN e END) AS p90,
           MIN(CASE WHEN p = 99 THEN e END) AS p99,
           CAST(MIN(n) AS BIGINT) AS n
    FROM est GROUP BY 1
    """,
    tables=("orders",),
    scale_note=(
        "The PORTABLE hash-grade twin of agg_approx_percentile (the "
        "same role the md5 twins play for the MinHash/SimHash/HLL "
        "families): percentile estimation from a 128-bin equal-width "
        "histogram whose bin assignment is EXACT integer arithmetic "
        "on cent-scaled values — ((v−lo)·B) div (hi−lo+1) — so the "
        "sketch is deterministic on both engines at any scale.  Bin "
        "counts are mergeable ints partial-aggregated map-side "
        "(shuffle = bins × groups rows, the same bounded-memory "
        "contract as the t-digest path); the rank threshold ceil(p·n) "
        "is integer; only the final bin-midpoint estimate is float, "
        "from identical ints.  Error ≤ half a bin width (~0.4% of the "
        "group range), pinned against the exact percentile locally."
    ),
)
def agg_percentile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 per order priority from a deterministic 128-bin
    integer histogram sketch (mergeable, engine-portable)."""
    from ..numerics import dec

    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (dec("o_totalprice") * 100).cast("bigint").alias("v100"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.min("v100").alias("lo"),
        F.max("v100").alias("hi"),
        F.count("*").alias("n"),
    )
    b = o.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderpriority",
        F.expr(f"((v100 - lo) * {PCTL_BINS}) div (hi - lo + 1)").alias("bin"),
        "lo",
        "hi",
        "n",
    )
    h = b.groupBy("o_orderpriority", "bin", "lo", "hi", "n").agg(
        F.count("*").alias("c")
    )
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.withColumn("cc", F.sum("c").over(wcum).cast("bigint"))
    ps = local_frame(spark, [(50,), (90,), (99,)], "p int")
    pick = (
        cum.join(F.broadcast(ps))
        .filter(F.col("cc") >= F.expr("(n * p + 99) div 100"))
        .groupBy("o_orderpriority", "p", "lo", "hi", "n")
        .agg(F.min("bin").alias("bin"))
    )
    est = pick.select(
        "o_orderpriority",
        "p",
        "n",
        (
            (
                F.col("lo")
                + (F.col("bin").cast("double") + 0.5)
                * ((F.col("hi") - F.col("lo") + 1).cast("double") / PCTL_BINS)
            ).cast("double")
            / 100
        ).alias("e"),
    )
    return est.groupBy("o_orderpriority").agg(
        F.min(F.when(F.col("p") == 50, F.col("e"))).alias("p50"),
        F.min(F.when(F.col("p") == 90, F.col("e"))).alias("p90"),
        F.min(F.when(F.col("p") == 99, F.col("e"))).alias("p99"),
        F.min("n").cast("bigint").alias("n"),
    )


# ---- categorical concentration profile (round 7) ---------------------
# The "how skewed is this dimension" profiler: Gini impurity, the
# Herfindahl-Hirschman index, and the top-class share of a categorical
# column per group — what a data curator reads before deciding whether
# a stratified sample or a skew-salted join is warranted.  Everything
# accumulates as exact integers (class counts, their squares); each
# index is then ONE division of exact integers per output row, so the
# key is hash-grade with no float accumulation anywhere.


@query(
    "agg_gini_impurity",
    sql="""
    WITH c AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    g AS (
        SELECT o_orderpriority,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(COUNT(*) AS INT) AS n_classes,
               CAST(SUM(cnt * cnt) AS BIGINT) AS sumsq,
               CAST(MAX(cnt) AS BIGINT) AS top_cnt
        FROM c GROUP BY 1
    )
    SELECT o_orderpriority, n, n_classes,
           CAST(n * n - sumsq AS DOUBLE) / CAST(n * n AS DOUBLE)
               AS gini_impurity,
           CAST(sumsq AS DOUBLE) / CAST(n * n AS DOUBLE) AS hhi,
           CAST(top_cnt AS DOUBLE) / CAST(n AS DOUBLE) AS top_share
    FROM g
    """,
    tables=("orders",),
    scale_note=(
        "Two stacked two-phase hash aggregations (orders → class "
        "counts → per-group moments), both with map-side combine; "
        "shuffle rows = groups × classes then groups — dimension-"
        "sized, never data-sized.  Class counts and their squares are "
        "exact bigints, so Gini/HHI/top-share are each one correctly-"
        "rounded IEEE division per output row, identical on both "
        "engines at any scale and any partitioning."
    ),
)
def agg_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity, HHI, and top-class share of the order-status
    distribution per order priority, from exact integer counts."""
    o = load(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("cnt")
    )
    g = c.groupBy("o_orderpriority").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count("*").cast("int").alias("n_classes"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sumsq"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    n, sumsq = F.col("n"), F.col("sumsq")
    return g.select(
        "o_orderpriority",
        "n",
        "n_classes",
        ((n * n - sumsq).cast("double") / (n * n).cast("double")).alias(
            "gini_impurity"
        ),
        (sumsq.cast("double") / (n * n).cast("double")).alias("hhi"),
        (F.col("top_cnt").cast("double") / n.cast("double")).alias(
            "top_share"
        ),
    )


# ---- Benford first-digit screen (round 7) ----------------------------
# The forensic-accounting profile: the leading-digit distribution of
# a naturally-generated monetary column follows Benford's law
# (P(d) = log10(1 + 1/d)); a synthetic or manipulated column does
# not.  Digit extraction is exact string arithmetic on the cent-
# scaled integer; the expected rates are LITERAL constants (identical
# doubles in both engines by construction), and each digit's chi²
# contribution is one identical IEEE expression — no cross-row float
# aggregation anywhere.
_BENFORD_RATES = {
    1: 0.30102999566398120,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def _benford_rate_sql() -> str:
    # Exponent-suffixed literals: DuckDB types a bare decimal literal
    # as DECIMAL (overflow in the chi² square, and the DECIMAL→DOUBLE
    # hop can round the last ulp differently than a direct parse);
    # '…e0' parses as DOUBLE straight from the text, matching
    # Python/Java literal parsing bit-for-bit.
    return (
        "CASE first_digit "
        + " ".join(
            f"WHEN {d} THEN {r!r}e0" for d, r in _BENFORD_RATES.items()
        )
        + " END"
    )


@query(
    "agg_benford_digits",
    sql=f"""
    WITH d AS (
        -- floor, not CAST: DuckDB's double→BIGINT cast ROUNDS while
        -- Spark's truncates; floor() pins identical cents on both.
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS first_digit
        FROM orders WHERE o_totalprice > 0
    ),
    c AS (
        SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS observed
        FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM c)
    SELECT c.first_digit, c.observed,
           {_benford_rate_sql()} AS benford_rate,
           t.n * ({_benford_rate_sql()}) AS expected,
           (c.observed - t.n * ({_benford_rate_sql()}))
           * (c.observed - t.n * ({_benford_rate_sql()}))
           / (t.n * ({_benford_rate_sql()})) AS chi2_contrib
    FROM c, t
    """,
    tables=("orders",),
    scale_note=(
        "One two-phase digit-count aggregation (9-row output) plus a "
        "1-row total join; digit extraction is exact integer/string "
        "arithmetic on cent-scaled values (no float log in the "
        "extraction path), Benford rates are shared LITERALS (the "
        "same decimal text parses to the same double in both "
        "engines), and each chi² contribution is one identical IEEE "
        "expression per output row.  Nothing after the count is "
        "data-sized."
    ),
)
def agg_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of o_totalprice vs Benford's law,
    with per-digit chi² contributions."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            (F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("first_digit")
    )
    c = d.groupBy("first_digit").agg(
        F.count("*").cast("bigint").alias("observed")
    )
    t = c.agg(F.sum("observed").cast("bigint").alias("n"))
    rate = F.lit(None).cast("double")
    expr = None
    for dig, r in _BENFORD_RATES.items():
        expr = (
            F.when(F.col("first_digit") == dig, F.lit(r))
            if expr is None
            else expr.when(F.col("first_digit") == dig, F.lit(r))
        )
    rate = expr
    j = c.crossJoin(F.broadcast(t))
    obs, n = F.col("observed"), F.col("n")
    exp = n * rate
    return j.select(
        "first_digit",
        "observed",
        rate.alias("benford_rate"),
        exp.alias("expected"),
        ((obs - exp) * (obs - exp) / exp).alias("chi2_contrib"),
    )


# ---- Tukey-fence outlier profile (round-7 continuation) ---------------
# The box-plot outlier rule over the exact-percentile machinery
# agg_percentiles already certifies: per priority, Q1/Q3 by linear
# interpolation (Spark `percentile` == DuckDB `quantile_cont`,
# repr-equal — the agg_percentiles finding), fences at 1.5 IQR, and
# the outlier counts from one second pass against the broadcast
# group-fence table.  Fence arithmetic is token-identical IEEE on
# repr-equal quantiles, so the comparisons classify identically.


@query(
    "agg_tukey_fences",
    sql="""
    WITH f AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.25) AS q1,
               quantile_cont(o_totalprice, 0.75) AS q3
        FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           f.q1, f.q3,
           f.q1 - 1.5 * (f.q3 - f.q1) AS lo_fence,
           f.q3 + 1.5 * (f.q3 - f.q1) AS hi_fence,
           CAST(SUM(CASE WHEN o.o_totalprice
                              < f.q1 - 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN o.o_totalprice
                              > f.q3 + 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM orders o JOIN f ON f.o_orderpriority = o.o_orderpriority
    GROUP BY 1, 3, 4
    """,
    tables=("orders",),
    scale_note=(
        "Box-plot outlier screen: exact interpolated Q1/Q3 per group "
        "(the agg_percentiles plan — t-digest twin past the exact "
        "regime), fences as token-identical IEEE arithmetic on "
        "repr-equal quantiles, then ONE second scan with the "
        "groups-sized fence table broadcast and a conditional "
        "two-phase count.  Two scans total, no corpus-sized "
        "intermediate."
    ),
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey 1.5-IQR outlier profile of order values per priority
    (exact quantiles, broadcast fences, conditional counts)."""
    o = load(spark, sf_dir, "orders")
    f = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    j = o.join(F.broadcast(f), "o_orderpriority")
    return j.groupBy("o_orderpriority", "q1", "q3").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_totalprice") < lo, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low"),
        F.sum(F.when(F.col("o_totalprice") > hi, 1).otherwise(0))
        .cast("bigint")
        .alias("n_high"),
    ).select(
        "o_orderpriority",
        "n",
        "q1",
        "q3",
        lo.alias("lo_fence"),
        hi.alias("hi_fence"),
        "n_low",
        "n_high",
    )
