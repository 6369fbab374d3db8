"""Semantic invariants for the round-6 additions (oracle parity is
covered by test_parity.py).

The headline claim under test: ``sim_pairs_bucket_jobs`` shards the
similarity job loop by LSH band-bucket, so cross-shard jobs are
provably empty and the job count is LINEAR in the shard count S —
measured here against the mod-shard loop's S(S+1)/2 — while the mined
pair set stays equal to the exact all-pairs answer at fixture scale
(VERDICT r5 "Next round" #5).
"""

from __future__ import annotations

import glob
import os

import pytest

from bigdata_twitter_spark.registry import load_all_operators


@pytest.fixture(scope="module")
def specs():
    return load_all_operators()


def test_bucket_jobs_equals_exact_miner_and_runs_linear_jobs(
    specs, spark, sf_dir
):
    """Same pair set (ids AND 6dp cosines) as the exact all-pairs
    miner, with ≤ S jobs on disk where mod-sharding needs S(S+1)/2."""
    from bigdata_twitter_spark import obs, scratch
    from bigdata_twitter_spark.llm import bucketjobs as bj

    mined = {
        (r["a_id"], r["b_id"], r["cosine"])
        for r in specs["sim_pairs_bucket_jobs"].fn(spark, sf_dir).collect()
    }
    exact = {
        (r["a_id"], r["b_id"], r["cosine"])
        for r in specs["sim_pairs_threshold"].fn(spark, sf_dir).collect()
    }
    assert mined == exact
    assert mined, "fixture should contain pairs at the threshold"
    audit = obs.last("sim_pairs_bucket_jobs")
    assert audit["shards"] == bj.BUCKET_JOB_SHARDS
    assert audit["jobs_run"] <= bj.BUCKET_JOB_SHARDS
    assert audit["mod_shard_jobs"] == (
        bj.BUCKET_JOB_SHARDS * (bj.BUCKET_JOB_SHARDS + 1) // 2
    )
    job_dirs = glob.glob(os.path.join(scratch.path("bucketjobs"), "job_*"))
    assert len(job_dirs) == audit["jobs_run"]


def test_bucket_jobs_job_count_measured_linear_in_shard_count(
    spark, sf_dir, tmp_path
):
    """The sub-quadratic measurement: as S grows, jobs_run stays ≤ S
    (cross-shard jobs never materialize) while the mod-shard loop's
    job count grows as S(S+1)/2 — and the mined pair set is invariant
    in S (sharding partitions buckets, never drops one)."""
    from bigdata_twitter_spark import obs
    from bigdata_twitter_spark.llm.bucketjobs import run_bucket_jobs

    pair_sets = []
    for s_count in (2, 4, 8, 16):
        run_dir = str(tmp_path / f"s{s_count}")
        os.makedirs(run_dir)
        job_dirs = run_bucket_jobs(spark, sf_dir, run_dir, s_count)
        audit = obs.last("sim_pairs_bucket_jobs")
        assert audit["jobs_run"] == len(job_dirs) <= s_count
        assert audit["mod_shard_jobs"] == (
            s_count * (s_count + 1) // 2
        )
        pair_sets.append(
            {
                (r["a_id"], r["b_id"], r["cosine"])
                for r in spark.read.parquet(*job_dirs).distinct().collect()
            }
        )
    assert all(p == pair_sets[0] for p in pair_sets[1:])


def test_bucket_jobs_resume_recomputes_only_missing(spark, sf_dir, tmp_path):
    """_SUCCESS-marked jobs are never recomputed; a torn job (marker
    removed) is — the same handoff contract as sim_pairs_sharded_jobs."""
    from bigdata_twitter_spark.llm.bucketjobs import run_bucket_jobs

    run_dir = str(tmp_path / "resume")
    os.makedirs(run_dir)
    job_dirs = run_bucket_jobs(spark, sf_dir, run_dir, 4)
    assert len(job_dirs) >= 2, "fixture should fill at least two shards"
    mtimes = {d: os.path.getmtime(os.path.join(d, "_SUCCESS")) for d in job_dirs}
    # Tear ONE job (drop its commit marker) and resume.
    torn = job_dirs[0]
    os.remove(os.path.join(torn, "_SUCCESS"))
    again = run_bucket_jobs(spark, sf_dir, run_dir, 4)
    assert again == job_dirs
    for d in job_dirs[1:]:
        assert os.path.getmtime(os.path.join(d, "_SUCCESS")) == mtimes[d]
    assert os.path.getmtime(os.path.join(torn, "_SUCCESS")) != mtimes[torn]


def test_bucket_jobs_hot_cap_fires_visibly(
    spark, tmp_path, monkeypatch, caplog
):
    """Buckets over the hot cap lose their pairs (the contract shared
    with sim_pairs_bucketed) and are counted in the run record and
    logged, never dropped silently; normal corpora report zero drops."""
    from bigdata_twitter_spark import obs
    from bigdata_twitter_spark.llm import bucketjobs as bj

    n_dup, n_ok = 12, 6
    rows = [(i, [1.0] * 64) for i in range(n_dup)]  # identical block
    for j in range(n_ok):
        v = [0.0] * 64
        v[j] = 1.0
        v[(j + 7) % 64] = -1.0
        rows.append((1000 + j, v))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    block = {(a, b) for a in range(n_dup) for b in range(a + 1, n_dup)}

    monkeypatch.setattr(bj, "HOT_BUCKET_CAP", n_dup - 1)
    pairs = {
        (r["a_id"], r["b_id"])
        for r in bj.sim_pairs_bucket_jobs(spark, sf_dir).collect()
    }
    assert not pairs & block, pairs
    audit = obs.last("sim_pairs_bucket_jobs")
    assert audit["dropped_groups"] > 0
    assert audit["dropped_rows"] >= n_dup
    assert "sim_pairs_bucket_jobs: hot-group cap" in caplog.text

    caplog.clear()
    monkeypatch.setattr(bj, "HOT_BUCKET_CAP", 10_000)
    pairs = {
        (r["a_id"], r["b_id"])
        for r in bj.sim_pairs_bucket_jobs(spark, sf_dir).collect()
    }
    assert block <= pairs
    audit = obs.last("sim_pairs_bucket_jobs")
    assert (audit["dropped_groups"], audit["dropped_rows"]) == (0, 0)
    assert "hot-group cap" not in caplog.text


def test_bucket_jobs_oracle_regime_guard(spark, sf_dir, monkeypatch):
    """Past the plane-literal regime (bits_for(n) > ORACLE_BITS_MAX)
    the operator must fail fast under declared exact-oracle intent and
    the parity harness must downgrade to rows-only — the same contract
    as dedup_embedding's guard."""
    from bigdata_twitter_spark.llm import bucketjobs as bj
    from bigdata_twitter_spark.llm.embdedup import (
        EXPECT_EXACT_ORACLE_ENV,
        ExactOracleRegimeExceeded,
    )

    from .parity import check_query

    monkeypatch.setattr(bj, "ORACLE_BITS_MAX", 1)  # force the regime edge
    monkeypatch.setenv(EXPECT_EXACT_ORACLE_ENV, "1")
    with pytest.raises(ExactOracleRegimeExceeded):
        bj.sim_pairs_bucket_jobs(spark, sf_dir)
    monkeypatch.delenv(EXPECT_EXACT_ORACLE_ENV)
    # without declared intent the operator runs the normal path
    assert bj.sim_pairs_bucket_jobs(spark, sf_dir).count() >= 0
    # and the harness downgrades instead of reporting a bogus mismatch
    check_query(spark, sf_dir, "sim_pairs_bucket_jobs")
    assert EXPECT_EXACT_ORACLE_ENV not in os.environ


def test_jpeg_codec_roundtrip_all_fixtures():
    """The entropy layer must be LOSSLESS: Huffman-decoding the real
    file bytes recovers exactly the quantized coefficients the forward
    DCT route produced, for every fixture id — the property the
    multimodal_jpeg_decode oracle stands on."""
    from bigdata_twitter_spark import binfixtures as bf

    for i in range(bf.N_FILES):
        data = bf.jpeg_bytes(i)
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        w, h, blocks = bf.decode_jpeg_coeffs(data)
        assert (w, h) == (bf.jpeg_width(i), bf.jpeg_height(i))
        assert blocks == bf.jpeg_quant_blocks(i), f"doc {i}"
        n_blocks, dc_sum, ac_nonzero = bf.jpeg_coeff_stats(i)
        assert n_blocks == len(blocks) == ((w + 7) // 8) * ((h + 7) // 8)
        assert dc_sum == sum(b[0] for b in blocks)
        assert ac_nonzero == sum(1 for b in blocks for c in b[1:] if c)


def test_jpeg_entropy_stream_is_marker_clean():
    """Byte stuffing must keep every 0xFF inside the entropy stream
    followed by 0x00 — otherwise a real decoder would read a bogus
    marker mid-scan (the spec rule the stuffing exists for)."""
    from bigdata_twitter_spark import binfixtures as bf

    for i in (0, 3, 17, 99):
        data = bf.jpeg_bytes(i)
        sos = data.index(b"\xff\xda")
        seglen = int.from_bytes(data[sos + 2 : sos + 4], "big")
        scan = data[sos + 2 + seglen : -2]  # strip EOI
        j = 0
        while j < len(scan):
            if scan[j] == 0xFF:
                assert scan[j + 1] == 0x00, f"unstuffed 0xFF at {j} in doc {i}"
                j += 2
            else:
                j += 1


def test_jpeg_decoder_rejects_structural_corruption():
    """Structural damage must raise, never silently yield a frame:
    truncation mid-entropy-stream, a progressive SOF, or a broken
    signature.  (Unlike PNG, baseline JPEG carries NO integrity check
    — a flipped ENTROPY byte can legally decode to different
    coefficients, which is exactly why the oracle pins sha-256 over
    the bytes alongside the coefficient facts.)"""
    from bigdata_twitter_spark import binfixtures as bf

    good = bf.jpeg_bytes(5)
    # 1. truncation: cut mid-stream (drop EOI + tail of the scan)
    with pytest.raises(ValueError):
        bf.decode_jpeg_coeffs(good[:-12])
    # 2. progressive SOF marker (0xC2) — outside the baseline subset
    prog = bytearray(good)
    prog[bytes(good).index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError):
        bf.decode_jpeg_coeffs(bytes(prog))
    # 3. broken signature
    with pytest.raises(ValueError):
        bf.decode_jpeg_coeffs(b"\x00" + good[1:])


def test_regression_matches_builtin_estimators(specs, spark, sf_dir):
    """The exact-co-moment OLS must agree with Spark's builtin
    regr_slope/regr_intercept/corr (float-accumulating, hence not
    oracle-safe, but fine as an independent 1e-9-relative referee)."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    got = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in specs["agg_regression_per_group"].fn(spark, sf_dir).collect()
    }
    ref = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("regr_slope(l_extendedprice, l_quantity)").alias("s"),
            F.expr("regr_intercept(l_extendedprice, l_quantity)").alias("i"),
            F.corr("l_quantity", "l_extendedprice").alias("c"),
        )
        .collect()
    )
    assert len(ref) == len(got) > 0
    for r in ref:
        g = got[(r["l_returnflag"], r["l_linestatus"])]
        assert abs(g["slope"] - r["s"]) <= 1e-9 * max(1.0, abs(r["s"]))
        assert abs(g["intercept"] - r["i"]) <= 1e-9 * max(1.0, abs(r["i"]))
        assert abs(g["r2"] - r["c"] ** 2) <= 1e-9


def test_cusum_flags_exactly_one_changepoint_per_type(specs, spark, sf_dir):
    """Exactly one flagged hour per type (argmax with earliest-hour
    tiebreak), and the cusum at the final hour returns to ~0 — the
    telescoping identity Σ(x_i − μ) = 0 over the full series."""
    rows = specs["ts_changepoint_cusum"].fn(spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert by_type
    for t, series in by_type.items():
        flags = [r for r in series if r["is_changepoint"]]
        assert len(flags) == 1, (t, len(flags))
        last = max(series, key=lambda r: r["hr"])
        # (S_n − n·μ)/σ with μ = S_n/n is 0 up to float cancellation
        assert abs(last["cusum"]) < 1e-6, (t, last["cusum"])


def test_autocorr_is_bounded_and_complete(specs, spark, sf_dir):
    """One row per (type, lag 1..3); every ACF in [−1, 1]; and the
    hourly fixture (heavily diurnal) shows nonzero lag-1 structure."""
    rows = specs["ts_autocorr_lag"].fn(spark, sf_dir).collect()
    from bigdata_twitter_spark.operators.statistics import ACF_LAGS

    keys = {(r["event_type"], r["lag_k"]) for r in rows}
    types = {t for t, _ in keys}
    assert keys == {(t, k) for t in types for k in ACF_LAGS}
    for r in rows:
        assert -1.0 - 1e-9 <= r["acf"] <= 1.0 + 1e-9, r
    assert any(abs(r["acf"]) > 0.01 for r in rows if r["lag_k"] == 1)


def test_weighted_pps_allocates_exactly_k_slots(specs, spark, sf_dir):
    """Systematic PPS invariants: every group allocates EXACTLY k
    slots (Σ n_slots = k — the last cumulative crossing is W·k/W = k),
    and selection is weight-biased (the mean sampled weight exceeds
    the population mean)."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.operators.scale_ops import SAMPLE_PPS_K
    from bigdata_twitter_spark.tables import load

    rows = specs["sample_weighted_pps"].fn(spark, sf_dir).collect()
    slots: dict = {}
    for r in rows:
        slots[r["o_orderpriority"]] = slots.get(r["o_orderpriority"], 0) + r["n_slots"]
        assert r["n_slots"] >= 1 and r["weight"] > 0
    assert slots and all(v == SAMPLE_PPS_K for v in slots.values()), slots
    pop_mean = (
        load(spark, sf_dir, "orders").agg(F.avg("o_totalprice")).collect()[0][0]
    )
    sample_mean = sum(r["weight"] for r in rows) / len(rows)
    assert sample_mean > pop_mean, (sample_mean, pop_mean)


def test_holt_linear_matches_python_fold_exactly(specs, spark, sf_dir):
    """The executor-side F.aggregate fold must equal an independent
    Python reimplementation BIT-FOR-BIT (both are the same left-fold
    IEEE sequence; α/β binary-exact) — the referee that pins the
    recurrence itself, not just Spark-vs-DuckDB agreement."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.operators.statistics import (
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from bigdata_twitter_spark.tables import load

    series = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").cast("double").alias("x"))
        .collect()
    )
    by_type: dict = {}
    for r in series:
        by_type.setdefault(r["event_type"], []).append((r["hr"], r["x"]))
    got = {
        r["event_type"]: r
        for r in specs["ts_holt_linear"].fn(spark, sf_dir).collect()
    }
    assert set(got) == {t for t, s in by_type.items() if len(s) >= 2}
    for t, s in by_type.items():
        if len(s) < 2:
            continue
        xs = [x for _, x in sorted(s)]
        a, b = HOLT_ALPHA, HOLT_BETA
        level = a * xs[1] + (1 - a) * (xs[0] + (xs[1] - xs[0]))
        trend = b * (level - xs[0]) + (1 - b) * (xs[1] - xs[0])
        for x in xs[2:]:
            new_level = a * x + (1 - a) * (level + trend)
            trend = b * (new_level - level) + (1 - b) * trend
            level = new_level
        assert got[t]["level"] == level, t
        assert got[t]["trend"] == trend, t
        assert got[t]["forecast_3"] == level + 3 * trend, t


def test_percentile_binned_within_half_bin_of_order_stat(specs, spark, sf_dir):
    """The binned estimate targets the ceil(p·n)-th ORDER STATISTIC
    (the sketch's rank contract — `percentile()`'s interpolated value
    can sit several bins away across a sparse tail gap, so it is the
    wrong referee).  That order statistic lies INSIDE the picked bin,
    so the midpoint estimate must be within half a bin width of it."""
    import math

    from bigdata_twitter_spark.operators.profiling import PCTL_BINS
    from bigdata_twitter_spark.tables import load

    est = {
        r["o_orderpriority"]: r
        for r in specs["agg_percentile_binned"].fn(spark, sf_dir).collect()
    }
    vals: dict = {}
    for r in load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect():
        vals.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    assert set(est) == set(vals) and est
    for g, e in est.items():
        xs = sorted(vals[g])
        n = len(xs)
        # cent-scaled integer half-plus-edge bound, mirroring the
        # operator's (hi-lo+1)/B integer bin width
        width = (int(round(xs[-1] * 100)) - int(round(xs[0] * 100)) + 1) / PCTL_BINS
        for p, col in ((50, "p50"), (90, "p90"), (99, "p99")):
            order_stat = xs[math.ceil(n * p / 100) - 1]
            assert abs(e[col] * 100 - order_stat * 100) <= width / 2 + 1, (
                g, col, e[col], order_stat,
            )


def test_funnel_sequence_matches_bruteforce_chain_search(specs, spark, sf_dir):
    """The linear-scan plan rests on a completeness lemma (latest prior
    click dominates); referee it against the DEFINITION — brute-force
    ∃(click < view < purchase ≤ click+2h) in (ts, event_id) order —
    recomputed in Python per user, including first_completion."""
    import datetime as dt

    from bigdata_twitter_spark.operators.timeseries import (
        FUNNEL_WINDOW_HOURS,
    )
    from bigdata_twitter_spark.tables import load

    events = (
        load(spark, sf_dir, "events")
        .filter("event_type in ('click','view','purchase')")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user: dict = {}
    for r in events:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    got = {
        r["user_id"]: (r["matched"], r["first_completion"])
        for r in specs["ts_funnel_sequence"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_user)
    window = dt.timedelta(hours=FUNNEL_WINDOW_HOURS)
    n_matched = 0
    for u, evs in by_user.items():
        evs.sort()
        first = None
        for k, (pts, _, ptype) in enumerate(evs):
            if ptype != "purchase":
                continue
            ok = any(
                ctype == "click" and pts <= cts + window
                and any(
                    vtype == "view"
                    for (vts, vid, vtype) in evs[i + 1 : k]
                )
                for i, (cts, cid, ctype) in enumerate(evs[:k])
            )
            if ok:
                first = pts
                break
        assert got[u][0] == (first is not None), u
        assert got[u][1] == first, u
        n_matched += first is not None
    assert n_matched > 0, "fixture should contain completed funnels"


def test_cms_one_sided_guarantee_and_merge(specs, spark, sf_dir):
    """CMS invariants: every probe estimate ≥ its true count (the
    one-sided guarantee), and the estimate for a present user is at
    most true + e/width·N (the classic bound, generous at this N)."""
    import math

    from pyspark.sql import functions as F

    from bigdata_twitter_spark.operators.scale_ops import CMS_WIDTH
    from bigdata_twitter_spark.tables import load

    rows = specs["agg_heavy_hitters_cms"].fn(spark, sf_dir).collect()
    assert rows
    n_total = load(spark, sf_dir, "events").count()
    bound = math.e / CMS_WIDTH * n_total
    for r in rows:
        assert r["never_underestimates"], r
        assert r["cms_est"] >= r["true_n"], r
        assert r["cms_est"] - r["true_n"] <= 3 * bound, r


def test_pca_power_exact_recovers_eigh_top_component(specs, spark, sf_dir):
    """The rounded 200-step power iteration must recover numpy eigh's
    top eigenvector of the SAME quantized covariance to cosine ≥ 0.999
    with Rayleigh quotient ≥ 0.9999·λmax — the algorithm-level referee
    the hash-grade oracle alone can't provide (it proves both engines
    run the same iteration, not that the iteration found the
    principal axis)."""
    import numpy as np

    from bigdata_twitter_spark.llm.pcapower import SCALE, power_iterate
    from bigdata_twitter_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("embedding").collect()
    x = np.array([r["embedding"] for r in emb], dtype="float64")
    q = np.floor(x * SCALE + 0.5).astype(np.int64)
    n = q.shape[0]
    v = np.array(
        power_iterate(n, q.sum(axis=0).tolist(), (q.T @ q).ravel().tolist())
    )
    c = np.cov(q.T)
    ev, evec = np.linalg.eigh(c)
    top = evec[:, np.argmax(ev)]
    cos = abs(float(v @ top)) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos >= 0.999, cos
    rq = float(v @ c @ v) / float(v @ v)
    assert rq >= 0.9999 * ev.max(), (rq, ev.max())
    # and the registered operator's projections use exactly this axis
    rows = specs["embed_pca_power_exact"].fn(spark, sf_dir).collect()
    assert len(rows) == n
    mu = q.mean(axis=0)
    want = np.round((q - mu) @ v / SCALE, 4)
    got = np.array(
        [r["pc1"] for r in sorted(rows, key=lambda r: r["vec_id"])]
    )
    assert np.allclose(np.round(got, 4), want, atol=2e-4)


def test_deletion_vectors_never_rewrite_data_files(specs, spark, sf_dir):
    """The merge-on-read contract: the DELETE leaves every data file
    byte-identical (same file set), the sidecar carries exactly the
    deleted positions, and sidecar bytes ≪ table bytes — the
    O(deleted) not O(table) property deletion vectors exist for."""
    from bigdata_twitter_spark import obs, scratch
    from bigdata_twitter_spark.sources.deletionvectors import (
        DV_DELETE_MOD,
        DV_DELETE_RESIDUE,
    )
    from bigdata_twitter_spark.tables import load

    out = specs["table_deletion_vectors"].fn(spark, sf_dir)
    survivors = out.count()
    e = load(spark, sf_dir, "events")
    n_total = e.count()
    n_deleted = e.filter(
        f"event_id % {DV_DELETE_MOD} = {DV_DELETE_RESIDUE}"
    ).count()
    assert n_deleted > 0 and survivors == n_total - n_deleted
    info = obs.last("table_deletion_vectors")
    assert info["data_files_untouched"]
    sidecar = scratch.path(f"dv_sidecar_{scratch.tag(sf_dir)}")
    assert spark.read.parquet(sidecar).count() == n_deleted
    # O(deleted) not O(table): sidecar cost is a bounded number of
    # bytes PER DELETED ROW (a table-size ratio is meaningless at toy
    # scale, where parquet per-file overhead dominates both sides).
    assert info["sidecar_bytes"] / n_deleted <= 64


def test_manifest_pruning_reads_fraction_of_files(specs, spark, sf_dir):
    """The planner must hand Spark a pruned file list: files_read ≪
    files_total for the selective probe, with the answer equal to the
    unpruned filter (covered by oracle parity; here re-checked against
    a direct computation to keep the invariant local)."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark import obs
    from bigdata_twitter_spark.sources.layout import MANIFEST_PROBE_USERS
    from bigdata_twitter_spark.tables import load

    got = {
        r["user_id"]: r["n"]
        for r in specs["scan_manifest_pruned"].fn(spark, sf_dir).collect()
    }
    info = obs.last("scan_manifest_pruned")
    assert info["files_total"] >= 8
    # strict pruning; at fixture scale the probe touches ≤ half the
    # files (16→1 at sf0.01; user cardinality bounds it at sf0.001)
    assert info["files_read"] <= info["files_total"] // 2
    want = {
        r["user_id"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .filter(F.col("user_id").between(*MANIFEST_PROBE_USERS))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and got


def test_forecast_backtest_matches_python_prefix_fold(specs, spark, sf_dir):
    """The backtest must fit on EXACTLY the prefix (series minus the
    3-hour holdout) with the same fold as ts_holt_linear, and report
    |forecast − actual| per horizon — referee'd bit-for-bit by an
    independent Python fold on the truncated series."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.operators.statistics import (
        BACKTEST_H,
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from bigdata_twitter_spark.tables import load

    series = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").cast("double").alias("x"))
        .collect()
    )
    by_type: dict = {}
    for r in series:
        by_type.setdefault(r["event_type"], []).append((r["hr"], r["x"]))
    got: dict = {}
    for r in specs["ts_forecast_backtest"].fn(spark, sf_dir).collect():
        got[(r["event_type"], r["h"])] = r
    a, b = HOLT_ALPHA, HOLT_BETA
    n_rows = 0
    for t, s in by_type.items():
        xs = [x for _, x in sorted(s)]
        if len(xs) < BACKTEST_H + 2:
            continue
        train = xs[: len(xs) - BACKTEST_H]
        level = a * train[1] + (1 - a) * (train[0] + (train[1] - train[0]))
        trend = b * (level - train[0]) + (1 - b) * (train[1] - train[0])
        for x in train[2:]:
            nl = a * x + (1 - a) * (level + trend)
            trend = b * (nl - level) + (1 - b) * trend
            level = nl
        for h in range(1, BACKTEST_H + 1):
            r = got[(t, h)]
            fc = level + h * trend
            actual = xs[len(xs) - BACKTEST_H + h - 1]
            assert r["forecast"] == fc, (t, h)
            assert r["actual"] == actual, (t, h)
            assert r["abs_err"] == abs(fc - actual), (t, h)
            n_rows += 1
    assert n_rows and len(got) == n_rows


def test_khop_bfs_layers_are_consistent(specs, spark, sf_dir):
    """BFS invariants: the source sits at hop 0; the bipartite graph
    alternates vertex spaces by hop parity (odd = parts, even =
    customers); and every hop-k vertex has a hop-(k−1) neighbor."""
    from bigdata_twitter_spark.operators.graph import (
        KHOP_K,
        KHOP_SOURCE,
        PART_OFFSET,
        copurchase_edges,
    )

    rows = specs["graph_khop_reach"].fn(spark, sf_dir).collect()
    hops = {r["vertex"]: r["hops"] for r in rows}
    assert hops[KHOP_SOURCE] == 0
    assert set(hops.values()) == set(range(KHOP_K + 1))
    for v, h in hops.items():
        assert (v >= PART_OFFSET) == (h % 2 == 1), (v, h)
    adj: dict = {}
    for e in copurchase_edges(spark, sf_dir).collect():
        adj.setdefault(e["src"], set()).add(e["dst"])
    for v, h in hops.items():
        if h == 0:
            continue
        assert any(
            hops.get(u) == h - 1 for u in adj for x in [None]
            if v in adj[u]
        ), (v, h)


# ---- hypothesis fuzz for the clean-room JPEG codec ------------------
# The 100 deterministic fixtures exercise one pixel formula; the fuzz
# drives ARBITRARY images through encode→decode and checks the
# entropy-lossless property holds for every coefficient pattern the
# random pixels produce (long zero runs → ZRL chains, high-frequency
# noise → deep AC categories, flat blocks → EOB-only blocks).

from hypothesis import HealthCheck, given, settings as hyp_settings
from hypothesis import strategies as st


@hyp_settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31),
    mode=st.sampled_from(["random", "flat", "stripes", "extreme"]),
)
def test_jpeg_roundtrip_fuzz(w, h, seed, mode):
    """encode(pixels) → Huffman-decode == forward-quantized
    coefficients, for ARBITRARY dimensions (incl. non-multiple-of-8
    and 1-pixel edges) and pixel patterns: random noise (deep AC
    categories), flat fields (EOB-only blocks), stripes (ZRL runs),
    and 0/255 checkerboards (max AC energy) — driven through the
    image-level codec entry points, not the fixture formula."""
    import random

    from bigdata_twitter_spark import binfixtures as bf

    rng = random.Random(seed)
    if mode == "random":
        px = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
    elif mode == "flat":
        v = rng.randrange(256)
        px = [[v] * w for _ in range(h)]
    elif mode == "stripes":
        period = rng.randrange(1, 4)
        px = [[255 * ((x // period) % 2) for x in range(w)]
              for _ in range(h)]
    else:  # extreme: checkerboard of 0/255 — max AC energy
        px = [[255 * ((x + y) % 2) for x in range(w)] for y in range(h)]

    img = bf.padded_image(lambda x, y: px[y][x], w, h)
    blocks = bf.quant_blocks_of(img)
    data = bf.jpeg_bytes_of(blocks, w, h)
    dw, dh, decoded = bf.decode_jpeg_coeffs(data)
    assert (dw, dh) == (w, h)
    assert decoded == blocks


def _wide_dbl_py(units: int) -> float:
    """Python emulation of numerics.wide_dbl on a value with 4 fraction
    digits given as scaled units: hi = floor as int→double (one
    correctly-rounded conversion), lo = ≤4-digit fraction (one
    correctly-rounded conversion), one final add."""
    from decimal import Decimal

    v = Decimal(units) / (10**4)
    import math

    hi_int = math.floor(v)
    lo = v - hi_int
    return float(hi_int) + float(lo)


@hyp_settings(max_examples=60, deadline=None)
@given(
    # domain: integer part must fit BIGINT (documented in wide_dbl)
    units=st.integers(min_value=-(9 * 10**22), max_value=9 * 10**22),
)
def test_wide_dbl_matches_duckdb_and_stays_accurate(units):
    """numerics.wide_dbl's claim, property-tested: the split cast
    computed by DuckDB's SQL twin over a true DECIMAL value equals the
    Python emulation for ANY decimal(…,4) magnitude in the documented
    domain (incl. far past 2^53, where the engines' NATIVE casts
    diverge), and stays within ~1 ulp of the INTEGER PART (the
    documented accuracy bound — tiny negatives cancel)."""
    import duckdb
    from decimal import Decimal

    from bigdata_twitter_spark.numerics import wide_dbl_sql

    exact = Decimal(units) / (10**4)
    # a true DECIMAL literal — a division expression would come back
    # DOUBLE in DuckDB and short-circuit the split under test
    expr = wide_dbl_sql(f"CAST('{exact}' AS DECIMAL(38,4))")
    duck = duckdb.sql(f"SELECT {expr} AS v").fetchone()[0]
    py = _wide_dbl_py(units)
    assert duck == py, (units, duck, py)
    import math

    hi = math.floor(exact)
    bound = Decimal(max(abs(float(hi)), 1.0)) * Decimal(2) ** -50
    assert abs(Decimal(repr(duck)) - exact) <= bound, (units, duck)


def test_wide_dbl_spark_side_matches_emulation(spark):
    """The Spark column twin on adversarial values: the measured
    round-6 divergence case (Σ price² co-moment) plus 2^53-boundary
    neighbors — Spark's split cast must equal the Python emulation
    (and hence DuckDB's, by the property above) bit for bit."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.numerics import wide_dbl

    cases = [
        36792986450733467,  # the measured divergence (3679298645073.3467)
        (1 << 53) * 10**4 + 7,
        (1 << 53) * 10**4 - 3,
        (1 << 60) + 12345,
        -36792986450733467,
        12345,
        0,
    ]
    from decimal import Decimal

    df = spark.createDataFrame(
        [(Decimal(u),) for u in cases], "units decimal(38,0)"
    ).select(
        F.col("units"),
        wide_dbl((F.col("units") / 10000).cast("decimal(38,4)")).alias("v"),
    )
    got = {int(r["units"]): r["v"] for r in df.collect()}
    for u in cases:
        assert got[u] == _wide_dbl_py(u), (u, got[u], _wide_dbl_py(u))
