"""Semantic invariants for the round-5 additions (oracle parity is
covered by test_parity.py)."""

from __future__ import annotations

import glob
import os

import pytest

from bigdata_twitter_spark.registry import load_all_operators


@pytest.fixture(scope="module")
def specs():
    return load_all_operators()


def test_sharded_jobs_equals_single_job_exact_miner(specs, spark, sf_dir):
    """The union of shard-pair jobs must equal the single-job exact
    all-pairs answer BITWISE (ids and 6dp cosines), and the parquet
    handoff must show one directory per shard-pair job."""
    from bigdata_twitter_spark import scratch
    from bigdata_twitter_spark.llm.orchestration import N_SHARDS

    sharded = {
        (r["a_id"], r["b_id"], r["cosine"])
        for r in specs["sim_pairs_sharded_jobs"].fn(spark, sf_dir).collect()
    }
    exact = {
        (r["a_id"], r["b_id"], r["cosine"])
        for r in specs["sim_pairs_threshold"].fn(spark, sf_dir).collect()
    }
    assert sharded == exact
    assert sharded, "fixture should contain pairs at the threshold"
    # Handoff layout: S(S+1)/2 independent job directories in the run dir.
    job_dirs = glob.glob(os.path.join(scratch.path("shardjobs"), "job_*_*"))
    assert len(job_dirs) == N_SHARDS * (N_SHARDS + 1) // 2, job_dirs
    # Each unordered pair must land in exactly ONE job (no dedup step):
    # re-read every job dir separately and check disjointness.
    seen: set[tuple[int, int]] = set()
    for d in sorted(job_dirs):
        rows = spark.read.parquet(d).collect()
        ids = {(r["a_id"], r["b_id"]) for r in rows}
        assert not (ids & seen), f"pair duplicated across jobs: {d}"
        seen |= ids
    assert seen == {(a, b) for a, b, _ in exact}


def test_decode_error_channel_quarantines_not_kills(specs, spark, sf_dir):
    """10 of the 100 mixed PNGs are deterministically corrupted; the
    decode pass must survive, quarantine exactly those ids with a CRC
    triage message, and decode the rest for real."""
    from bigdata_twitter_spark.binfixtures import (
        N_FILES, is_corrupt, pixel, png_height, png_width,
    )

    out = specs["multimodal_decode_errors"].fn(spark, sf_dir).toPandas()
    assert len(out) == N_FILES
    by_id = out.set_index("doc_id")
    for i in range(N_FILES):
        row = by_id.loc[i]
        if is_corrupt(i):
            assert row.status == "corrupt" and "CRC" in row.error
            assert row.pixel_sum is None or row.isna().pixel_sum
        else:
            assert row.status == "ok"
            w, h = png_width(i), png_height(i)
            assert (row.src_width, row.src_height) == (w, h)
            want = sum(
                pixel(x, y, i) for x in range(w) for y in range(h)
            )
            assert int(row.pixel_sum) == want
    assert (out.status == "corrupt").sum() == N_FILES // 10


def test_sharded_jobs_resume_recomputes_only_missing(spark, sf_dir, tmp_path):
    """Kill one job of a completed run and resume: only that job may be
    recomputed (completed jobs' outputs untouched — checked by file
    mtimes), and the resumed union equals the original answer."""
    import shutil
    import time

    from bigdata_twitter_spark.llm.orchestration import run_shard_jobs

    run_dir = str(tmp_path / "run")
    run_shard_jobs(spark, sf_dir, run_dir)
    before = {
        r["a_id"]: r
        for r in spark.read.parquet(f"{run_dir}/job_*_*").collect()
    }
    mtimes = {
        d: os.path.getmtime(os.path.join(run_dir, d, "_SUCCESS"))
        for d in os.listdir(run_dir)
    }
    shutil.rmtree(os.path.join(run_dir, "job_1_2"))
    time.sleep(0.05)
    run_shard_jobs(spark, sf_dir, run_dir)  # resume
    for d, old in mtimes.items():
        got = os.path.getmtime(os.path.join(run_dir, d, "_SUCCESS"))
        if d == "job_1_2":
            assert got > old  # recomputed
        else:
            assert got == old, d  # never touched
    after = {
        r["a_id"]: r
        for r in spark.read.parquet(f"{run_dir}/job_*_*").collect()
    }
    assert set(before) == set(after)


def test_stream_upsert_versioned_exactly_once_replay(specs, spark, sf_dir):
    """A replayed micro-batch (same batchId, at-least-once delivery)
    must be a NO-OP: its delta is already committed in some manifest,
    so table state and the version chain are unchanged — idempotent
    commit + at-least-once = exactly-once."""
    import json

    from bigdata_twitter_spark.streaming.ops import LAST_UPSERT_INFO

    first = (
        specs["stream_upsert_versioned"].fn(spark, sf_dir)
        .toPandas().sort_values("user_id").reset_index(drop=True)
    )
    info = dict(LAST_UPSERT_INFO)
    man_dir, committed = info["man_dir"], info["committed"]
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(man_dir) if f.endswith(".json")
    )
    assert versions == list(range(len(versions)))  # dense CAS chain
    assert len(committed) == len(versions)  # one delta per commit
    # Replay batch 0 with a POISONED frame: if the replay branch ever
    # writes, the poison rows would corrupt the table.
    poison = spark.createDataFrame(
        [(999999, 999999, None, 1e9)],
        "user_id bigint, event_id bigint, ts timestamp, value double",
    )
    info["write_batch"](poison, 0)
    after_versions = sorted(
        int(f[1:-5]) for f in os.listdir(man_dir) if f.endswith(".json")
    )
    assert after_versions == versions  # no new commit
    for f in os.listdir(man_dir):
        if f.endswith(".json"):
            with open(os.path.join(man_dir, f)) as fh:
                assert json.load(fh)["files"][0] in committed
    # A fresh batch id DOES commit (the branch is id-keyed, not frozen).
    info["write_batch"](poison, len(versions) + 100)
    n_manifests = len(
        [f for f in os.listdir(man_dir) if f.endswith(".json")]
    )
    assert n_manifests == len(versions) + 1


def test_bloom_prefilter_prunes_without_false_negatives(specs, spark, sf_dir):
    """The Bloom pre-filter must drop a meaningful share of the fact
    side BEFORE the join and must never drop a truly-matching row."""
    import pyspark.sql.functions as F

    from bigdata_twitter_spark.operators.bloomjoin import (
        bloom_bitmap, prune_by_bloom,
    )
    from bigdata_twitter_spark.tables import load

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    bm = bloom_bitmap(c.select("c_custkey"), "c_custkey")
    bf = spark.createDataFrame([(bm,)], "bf array<bigint>")
    pruned_keys = {
        r["o_custkey"]
        for r in prune_by_bloom(o.crossJoin(F.broadcast(bf)), "o_custkey")
        .select("o_custkey").collect()
    }
    true_keys = {r["c_custkey"] for r in c.select("c_custkey").collect()}
    fact_keys = [r["o_custkey"] for r in o.select("o_custkey").collect()]
    matching = {k for k in fact_keys if k in true_keys}
    assert matching <= pruned_keys  # no false negatives, ever
    assert len(pruned_keys) < len(set(fact_keys))  # actually prunes


def test_span_dedup_rewrite_reassembles_survivors_in_order(specs, spark, sf_dir):
    """clean_text must be the original span sequence minus exactly the
    corpus-duplicated spans, in original order."""
    from bigdata_twitter_spark.llm.curation import (
        SPAN_DUP_MIN_DOCS, SPAN_TOKENS,
    )
    from bigdata_twitter_spark.tables import load

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").collect()
    }

    def spans_of(text):
        toks = [t for t in text.lower().split(" ") if t]
        return [
            " ".join(toks[i : i + SPAN_TOKENS])
            for i in range(0, len(toks), SPAN_TOKENS)
        ]

    from collections import Counter

    doc_spans = {d: spans_of(t) for d, t in docs.items()}
    df = Counter()
    for sp in doc_spans.values():
        df.update(set(sp))
    dup = {s for s, n in df.items() if n >= SPAN_DUP_MIN_DOCS}

    out = specs["text_span_dedup"].fn(spark, sf_dir).collect()
    assert len(out) == len(docs)
    removed_total = 0
    for r in out:
        sp = doc_spans[r["doc_id"]]
        expect = [s for s in sp if s not in dup]
        assert r["n_spans"] == len(sp)
        assert r["clean_text"] == " ".join(expect)
        assert r["n_removed"] == len(sp) - len(expect)
        removed_total += r["n_removed"]
    assert removed_total > 0, "fixture should contain duplicated spans"


def test_weighted_median_matches_naive(specs, spark, sf_dir):
    """Bucket-localized search must equal the naive sort-and-scan
    weighted median (computed in exact Decimal arithmetic)."""
    from decimal import Decimal

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    by_flag: dict = {}
    for r in rows:
        by_flag.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], Decimal(str(round(r["l_quantity"], 2))))
        )
    expect = {}
    for flag, vals in by_flag.items():
        # price-level weights, cumulated in ascending price order
        agg: dict = {}
        for p, w in vals:
            agg[p] = agg.get(p, Decimal(0)) + w
        tot = sum(agg.values())
        cum = Decimal(0)
        for p in sorted(agg):
            cum += agg[p]
            if 2 * cum >= tot:
                expect[flag] = p
                break
    got = {
        r["l_returnflag"]: r["weighted_median_price"]
        for r in specs["agg_weighted_median"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_change_feed_channels_disjoint_and_complete(specs, spark, sf_dir):
    """Feed rows must cover each delta channel exactly once with the
    right classification."""
    from bigdata_twitter_spark.sources.versioned import (
        DELTA_MOD, FEED_DELETE_MOD, FEED_DELETE_REM, FEED_INSERT_REM,
    )
    from bigdata_twitter_spark.tables import load

    ids = [
        r["event_id"]
        for r in load(spark, sf_dir, "events").select("event_id").collect()
    ]
    n_del = sum(1 for i in ids if i % FEED_DELETE_MOD == FEED_DELETE_REM)
    n_upd = sum(
        1
        for i in ids
        if i % DELTA_MOD == 0 and i % FEED_DELETE_MOD != FEED_DELETE_REM
    )
    n_ins = sum(1 for i in ids if i % FEED_DELETE_MOD == FEED_INSERT_REM)
    out = specs["table_change_feed"].fn(spark, sf_dir).collect()
    by_type: dict = {}
    for r in out:
        by_type[r["change_type"]] = by_type.get(r["change_type"], 0) + r["n"]
    assert by_type == {"delete": n_del, "update": n_upd, "insert": n_ins}
    # deletes are tombstones: their value contribution must be zero
    assert all(
        r["sum_value"] == 0.0 for r in out if r["change_type"] == "delete"
    )


def test_fn_url_roundtrip_components(specs, spark, sf_dir):
    """parse_url must recover each component of the constructed URL."""
    out = specs["fn_url"].fn(spark, sf_dir).collect()
    assert out
    for r in out[:50]:
        assert r["host"].endswith(".example.com")
        assert r["path"].startswith("/docs/")
        assert r["q_lang"] and f"lang={r['q_lang']}" in r["query"]
        assert r["fragment"].startswith("s")
        assert r["url"].startswith("https://") and "#" in r["url"]


def test_seasonal_residuals_sum_to_zero_per_profile(specs, spark, sf_dir):
    """sum(n - mean) over each (type, hod) profile is identically zero
    in exact arithmetic; float evaluation must stay within rounding."""
    rows = specs["ts_seasonal_decompose"].fn(spark, sf_dir).collect()
    acc: dict = {}
    for r in rows:
        k = (r["event_type"], r["hod"])
        s, n = acc.get(k, (0.0, 0))
        acc[k] = (s + r["residual"], n + r["n"])
    assert acc
    for (t, hod), (s, n) in acc.items():
        assert abs(s) < 1e-6 * max(n, 1), (t, hod, s)


def test_bitwise_matches_python_semantics(specs, spark, sf_dir):
    """Spark's bigint bit ops must agree with Python's arbitrary-
    precision ints masked to 64-bit two's complement."""

    def to_i64(x):
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= 1 << 63 else x

    for r in specs["fn_bitwise"].fn(spark, sf_dir).collect()[:200]:
        i = r["event_id"]
        assert r["band"] == i & 255
        assert r["bor"] == i | 4096
        assert r["shl"] == to_i64((i & 255) << 3)
        assert r["shr"] == i >> 4
        assert r["nbits"] == bin(i & ((1 << 64) - 1)).count("1")
        assert r["bnot"] == to_i64(~(i & 1023))


def test_vacuum_preserves_youngest_version(specs, spark, sf_dir):
    """Before/after rows must agree on (n_rows, sum_value) while the
    manifest and data-dir counts collapse to 1."""
    rows = {
        r["phase"]: r
        for r in specs["table_vacuum_versioned"].fn(spark, sf_dir).collect()
    }
    b, a = rows["before"], rows["after"]
    assert (b["n_rows"], b["sum_value"]) == (a["n_rows"], a["sum_value"])
    assert (b["n_manifests"], b["n_data_dirs"]) == (3, 3)
    assert (a["n_manifests"], a["n_data_dirs"]) == (1, 1)


def test_temperature_mixture_upweights_small_sources(specs, spark, sf_dir):
    """Keep-rates must be monotone DECREASING in source share, rates
    must respect the cap, and realized keep fractions must track the
    md5-threshold within binomial noise."""
    import math

    from bigdata_twitter_spark.llm.sharding import MIXTURE_TARGET_FRAC
    from bigdata_twitter_spark.tables import load

    d = load(spark, sf_dir, "documents")
    chars = {
        r["source"]: r["cs"]
        for r in d.groupBy("source").agg(
            __import__("pyspark.sql.functions", fromlist=["sum"]).sum(
                "n_chars"
            ).alias("cs")
        ).collect()
    }
    total = sum(chars.values())
    out = specs["sample_temperature_mixture"].fn(spark, sf_dir).collect()
    rates = {}
    kept = {}
    for r in out:
        rates[r["source"]] = r["rate"]
        kept[r["source"]] = kept.get(r["source"], 0) + 1
    for s, rate in rates.items():
        expect = min(1.0, MIXTURE_TARGET_FRAC / math.sqrt(chars[s] / total))
        assert abs(rate - expect) < 1e-12
    # monotone: larger share -> smaller (or equal, if capped) rate
    by_share = sorted(rates, key=lambda s: chars[s])
    for a, b in zip(by_share, by_share[1:]):
        assert rates[a] >= rates[b] - 1e-12


def test_asof_nearest_prefers_closer_and_breaks_ties_earlier(specs, spark, sf_dir):
    """Brute-force the nearest click per user from the raw table and
    compare (including the ties-to-earlier rule)."""
    from bigdata_twitter_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    clicks: dict = {}
    for r in ev:
        if r["event_type"] == "click":
            clicks.setdefault(r["user_id"], []).append(r["ts"])
    got = {
        r["event_id"]: r["nearest_click_ts"]
        for r in specs["join_asof_nearest"].fn(spark, sf_dir).collect()
    }
    checked = 0
    for r in ev[:500]:
        cand = clicks.get(r["user_id"], [])
        if not cand:
            assert got[r["event_id"]] is None
            continue
        best = min(
            cand, key=lambda c: (abs((c - r["ts"]).total_seconds()), c)
        )
        assert got[r["event_id"]] == best, (r, best)
        checked += 1
    assert checked > 0


def test_degree_distribution_covers_every_vertex_once(specs, spark, sf_dir):
    """Bucket populations must sum to the vertex count, and bucket
    bounds must respect the log2 bucketing."""
    rows = specs["graph_degree_distribution"].fn(spark, sf_dir).collect()
    from bigdata_twitter_spark.operators.graph import copurchase_edges
    import pyspark.sql.functions as F

    deg = (
        copurchase_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count("*").alias("deg"))
    )
    n_vertices = deg.count()
    assert sum(r["n_vertices"] for r in rows) == n_vertices
    for r in rows:
        assert 2 ** r["bucket"] <= r["min_deg"] <= r["max_deg"]
        assert r["max_deg"] < 2 ** (r["bucket"] + 1)


def test_kmv_estimate_within_sketch_error(specs, spark, sf_dir):
    """KMV at k=64 has relative stddev ~1/sqrt(k-2) ≈ 13%; assert the
    estimate lands within 4 sigma of exact, and that below-k groups
    report exactly."""
    import pyspark.sql.functions as F

    from bigdata_twitter_spark.operators.scale_ops import KMV_K
    from bigdata_twitter_spark.tables import load

    exact = {
        r["event_type"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in specs["agg_kmv_distinct"].fn(spark, sf_dir).collect():
        ex = exact[r["event_type"]]
        if ex < KMV_K:
            assert r["est_users"] == float(ex)
        else:
            assert abs(r["est_users"] - ex) / ex < 0.55


def test_embed_pipeline_ranks_are_dense_and_cell_restricted(specs, spark, sf_dir):
    """Per query: ranks dense from 1, dots non-increasing, and every
    neighbor shares the query's label (the cell restriction)."""
    from bigdata_twitter_spark.tables import load

    labels = {
        r["vec_id"]: r["label"]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    rows = specs["embed_pipeline_e2e"].fn(spark, sf_dir).collect()
    assert rows
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        dots = [r["dot"] for r in rs]
        assert dots == sorted(dots, reverse=True)
        for r in rs:
            assert labels[r["corpus_id"]] == labels[qid]


def test_bitmap_distinct_is_exact(specs, spark, sf_dir):
    """The bitmap popcount path must equal exact COUNT(DISTINCT) per
    group — the oracle mirrors the bitmap, so exactness needs its own
    independent pin."""
    import pyspark.sql.functions as F

    from bigdata_twitter_spark.tables import load

    exact = {
        r["event_type"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = {
        r["event_type"]: r["n_users"]
        for r in specs["agg_bitmap_distinct"].fn(spark, sf_dir).collect()
    }
    assert got == exact


def test_kmv_overlap_estimates_track_exact(specs, spark, sf_dir):
    """Union/intersection estimates must land within KMV sketch error
    of the exact audience-overlap numbers."""
    import pyspark.sql.functions as F

    from bigdata_twitter_spark.tables import load

    f = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("a"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("b"),
        )
    )
    uni = f.filter((F.col("a") == 1) | (F.col("b") == 1)).count()
    inter = f.filter((F.col("a") == 1) & (F.col("b") == 1)).count()
    row = specs["agg_kmv_union_intersect"].fn(spark, sf_dir).collect()[0]
    assert abs(row["est_union"] - uni) / max(uni, 1) < 0.55
    assert abs(row["est_intersect"] - inter) / max(inter, 1) < 0.6
    assert 0.0 <= row["jaccard_est"] <= 1.0


def test_sliding_kmv_merge_is_lossless(specs, spark, sf_dir):
    """Union-then-truncate of hourly pane k-mins must equal the k-min
    of the window's raw distinct hash set (the KMV merge theorem),
    checked via an independent Python recomputation per window."""
    import hashlib
    from collections import defaultdict

    from bigdata_twitter_spark.operators.scale_ops import (
        KMV_SPACE, PANE_K, SLIDE_HOURS,
    )
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select("ts", "user_id").collect()
    by_hour = defaultdict(set)
    for r in rows:
        hr = r["ts"].replace(minute=0, second=0, microsecond=0)
        by_hour[hr].add(
            hashlib.md5(str(r["user_id"]).encode()).hexdigest()
        )
    import datetime as dt

    got = {
        r["win_end"]: (r["n_seen"], r["est_users"])
        for r in specs["ts_sliding_distinct_kmv"].fn(spark, sf_dir).collect()
    }
    assert got
    for win_end, (n_seen, est) in got.items():
        raw = set()
        for back in range(SLIDE_HOURS):
            raw |= by_hour.get(win_end - dt.timedelta(hours=back), set())
        mins = sorted(raw)[:PANE_K]
        assert n_seen == len(mins)
        if len(raw) < PANE_K:
            assert est == float(len(raw))  # exact below k
        else:
            kth = int(mins[-1][:15], 16)
            assert abs(est - (PANE_K - 1) / (kth / KMV_SPACE)) < 1e-6


def test_wilson_ci_brackets_p_hat_within_unit_interval(specs, spark, sf_dir):
    """The Wilson interval must bracket the point estimate and stay
    inside [0, 1] (the property the normal approximation violates)."""
    rows = specs["agg_ratio_wilson_ci"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ci_lo"] <= r["p_hat"] <= r["ci_hi"] <= 1.0
        assert r["ci_hi"] - r["ci_lo"] < 1.0


def test_pit_scd2_multiplicity_and_prehistory(specs, spark, sf_dir):
    """Every purchase must appear EXACTLY once (interval tiling), and
    null states only for purchases before the user's first non-
    purchase event."""
    from collections import Counter

    from bigdata_twitter_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    first_state: dict = {}
    n_purch = 0
    for r in ev:
        if r["event_type"] != "purchase":
            u = r["user_id"]
            if u not in first_state or r["ts"] < first_state[u]:
                first_state[u] = r["ts"]
        else:
            n_purch += 1
    out = specs["join_pit_scd2"].fn(spark, sf_dir).collect()
    counts = Counter(r["purchase_id"] for r in out)
    assert len(out) == n_purch and all(v == 1 for v in counts.values())
    for r in out:
        if r["state_at_purchase"] is None:
            fs = first_state.get(r["user_id"])
            assert fs is None or r["purchase_ts"] < fs
        else:
            assert r["state_since"] <= r["purchase_ts"]
