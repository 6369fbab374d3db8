"""Semantic invariants for the round-7 RAG-chunking pair (oracle
parity is covered by test_parity.py; these pin the properties a
downstream RAG/embedding pipeline actually relies on).

- ``text_chunk_sliding``: exact provenance — every chunk's text is the
  literal token slice at (start_offset, n_chunk_tokens) of its source
  doc; full coverage — every token of every doc lands in ≥1 chunk;
  the overlap geometry (stride, window, tail) matches the W/S spec.
- ``embed_chunk_pool``: pooled values are exactly what re-deriving
  them from text_chunk_sliding's chunks gives (the two keys must
  agree on chunk geometry forever); mean is exact-integer-sum ÷ count.
- Plan pins: chunking is shuffle-free codegen; pooling has exactly
  one (doc_id, pos)-keyed exchange with map-side partial aggregation.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pytest

from bigdata_twitter_spark.registry import load_all_operators
from bigdata_twitter_spark.text import chunking as ck


@pytest.fixture(scope="module")
def specs():
    return load_all_operators()


def _committed_manifests(root: str) -> dict[int, list[str]]:
    """{version: files} of every manifest committed under ``root``."""
    import glob
    import json
    import os

    out = {}
    for f in glob.glob(os.path.join(root, "_manifests", "v*.json")):
        with open(f) as fh:
            m = json.load(fh)
        out[m["version"]] = m["files"]
    return out


def _py_tokens(text: str) -> list[str]:
    return [t for t in text.lower().split(" ") if t]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from bigdata_twitter_spark.tables import load

    return {
        r["doc_id"]: _py_tokens(r["text"])
        for r in load(spark, sf_dir, "documents").collect()
    }


@pytest.fixture(scope="module")
def chunks(specs, spark, sf_dir):
    return specs["text_chunk_sliding"].fn(spark, sf_dir).collect()


def test_chunk_provenance_is_exact(docs, chunks):
    """chunk_text == the source doc's token slice at the declared
    (start_offset, n_chunk_tokens) — offsets are real, not decorative."""
    assert chunks
    for r in chunks:
        toks = docs[r["doc_id"]]
        lo = r["start_offset"]
        want = toks[lo : lo + r["n_chunk_tokens"]]
        assert r["chunk_text"] == " ".join(want), r
        # Every chunk is full-window except possibly the tail.
        assert r["n_chunk_tokens"] == min(
            ck.CHUNK_WINDOW, len(toks) - lo
        ), r


def test_chunk_geometry_covers_every_token(docs, chunks):
    """W/S sliding geometry: chunk_id k starts at k*S; chunk count is
    the minimal count whose windows cover the doc; union of windows
    covers [0, n)."""
    per_doc = defaultdict(list)
    for r in chunks:
        per_doc[r["doc_id"]].append(r)
    for doc_id, toks in docs.items():
        rows = sorted(per_doc[doc_id], key=lambda r: r["chunk_id"])
        n = len(toks)
        if n == 0:
            assert not rows
            continue
        want_chunks = (
            1
            if n <= ck.CHUNK_WINDOW
            else (n - ck.CHUNK_WINDOW + ck.CHUNK_STRIDE - 1)
            // ck.CHUNK_STRIDE
            + 1
        )
        assert [r["chunk_id"] for r in rows] == list(range(want_chunks))
        assert all(
            r["start_offset"] == r["chunk_id"] * ck.CHUNK_STRIDE
            for r in rows
        )
        covered = set()
        for r in rows:
            covered.update(
                range(r["start_offset"], r["start_offset"] + r["n_chunk_tokens"])
            )
        assert covered == set(range(n)), doc_id
        # Last window reaches the final token; no window is empty.
        last = rows[-1]
        assert last["start_offset"] + last["n_chunk_tokens"] == n
        assert all(r["n_chunk_tokens"] > 0 for r in rows)


def test_pool_rederives_from_chunks(specs, spark, sf_dir, chunks):
    """embed_chunk_pool == pooling recomputed in pure Python from
    text_chunk_sliding's own output — the two keys share one chunk
    geometry and one encoder definition."""
    pooled = specs["embed_chunk_pool"].fn(spark, sf_dir).collect()
    assert pooled

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[0], 16)

    sums: dict[tuple[int, int], int] = defaultdict(int)
    maxes: dict[tuple[int, int], int] = defaultdict(int)
    counts: dict[int, int] = defaultdict(int)
    for r in chunks:
        counts[r["doc_id"]] += 1
        vec = [0] * ck.POOL_DIMS
        for tok in _py_tokens(r["chunk_text"]):
            vec[bucket(tok)] += 1
        for j, v in enumerate(vec):
            sums[(r["doc_id"], j)] += v
            maxes[(r["doc_id"], j)] = max(maxes[(r["doc_id"], j)], v)

    assert len(pooled) == len(counts) * ck.POOL_DIMS
    for r in pooled:
        key = (r["doc_id"], r["pos"])
        assert r["n_chunks"] == counts[r["doc_id"]], r
        assert r["max_val"] == maxes[key], r
        assert r["mean_val"] == round(
            sums[key] / counts[r["doc_id"]], 6
        ), r


def test_chunk_plan_is_shuffle_free_codegen(specs, spark, sf_dir):
    df = specs["text_chunk_sliding"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # Codegen spans render as "*(n)" stage markers in toString().
    assert "*(1)" in plan and "*(2)" in plan, plan
    # Only doc_id + text leave the scan (column pruning).
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert read_schema.count(":") == 2, read_schema


def test_pool_plan_has_one_partial_agged_exchange(specs, spark, sf_dir):
    df = specs["embed_chunk_pool"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial" in plan.lower(), plan


def test_phash_band_join_is_complete_and_exact(specs, spark, sf_dir):
    """dedup_image_phash == brute-force all-pairs hamming ≤ 7 over the
    per-image hashes (pigeonhole: ≤7 differing bits cannot touch all 8
    bands, so band-equality candidates lose no qualifying pair)."""
    import itertools

    from bigdata_twitter_spark.llm import phash as ph

    hashes = {
        r["doc_id"]: r["phash"]
        for r in specs["multimodal_image_phash"].fn(spark, sf_dir).collect()
    }
    mined = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in specs["dedup_image_phash"].fn(spark, sf_dir).collect()
    }
    mask = (1 << 64) - 1
    brute = {
        (a, b, bin((hashes[a] ^ hashes[b]) & mask).count("1"))
        for a, b in itertools.combinations(sorted(hashes), 2)
        if bin((hashes[a] ^ hashes[b]) & mask).count("1")
        <= ph.PHASH_MAX_HAMMING
    }
    assert mined == brute
    assert mined, "fixture corpus should contain near-dup images"


def test_lpa_matches_python_reference(specs, spark, sf_dir):
    """graph_label_propagation == a brute-force Python synchronous LPA
    (most-frequent neighbor label, min-label tie-break) over the same
    collected edge set — algorithm-level referee independent of both
    engines' SQL."""
    from collections import Counter, defaultdict

    from bigdata_twitter_spark.operators.graph import (
        LPA_ITERATIONS,
        PART_OFFSET,
        copurchase_edges,
    )

    edges = defaultdict(list)
    for r in copurchase_edges(spark, sf_dir).collect():
        edges[r["dst"]].append(r["src"])
    labels = {v: v for v in edges}
    for _ in range(LPA_ITERATIONS):
        nxt = {}
        for v, nbrs in edges.items():
            cnt = Counter(labels[u] for u in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        labels = nxt
    want = {
        (v - PART_OFFSET if v >= PART_OFFSET else v, v >= PART_OFFSET): lab
        for v, lab in labels.items()
    }
    got = {
        (r["vertex"], r["is_part"]): r["community"]
        for r in specs["graph_label_propagation"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # Voting actually merged vertices into communities (not identity).
    assert len(set(got.values())) < len(got)


def test_vad_matches_python_reference(specs, spark, sf_dir):
    """multimodal_audio_vad == a pure-Python recomputation from the
    generator closed form (frames, mean-energy gate, longest run)."""
    from bigdata_twitter_spark import binfixtures as bf
    from bigdata_twitter_spark.llm.audio import VAD_FRAME

    got = {
        r["doc_id"]: (
            r["n_frames"], r["n_active"], r["longest_run"],
            r["active_ratio"],
        )
        for r in specs["multimodal_audio_vad"].fn(spark, sf_dir).collect()
    }
    assert len(got) == bf.N_FILES
    for d in range(bf.N_FILES):
        n = bf.wav_n_samples(d)
        energies = []
        for s in range(0, n, VAD_FRAME):
            frame = [bf.wav_sample(i, d) for i in range(s, min(s + VAD_FRAME, n))]
            energies.append(sum(v * v for v in frame))
        te, nf = sum(energies), len(energies)
        active = [e * nf > te for e in energies]
        longest = run = 0
        for a in active:
            run = run + 1 if a else 0
            longest = max(longest, run)
        assert got[d] == (
            nf, sum(active), longest, round(sum(active) / nf, 6)
        ), d


def test_mmr_trajectory_matches_greedy_replay(specs, spark, sf_dir):
    """embed_mmr_diverse's selection sequence == a Python replay of
    the greedy over ENGINE-produced cosines (pairwise 6dp cosine
    matrix computed by the same Spark fold), so the referee checks the
    argmax trajectory without re-deriving floats in Python."""
    from bigdata_twitter_spark.llm import mmr as mm
    from bigdata_twitter_spark.llm.vectors import spark_cosine
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    got = sorted(
        (
            (r["rank"], r["vec_id"], r["relevance"], r["mmr_score"])
            for r in specs["embed_mmr_diverse"].fn(spark, sf_dir).collect()
        )
    )
    assert [r[0] for r in got] == list(range(1, mm.MMR_K + 1))

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == mm.MMR_QUERY_ID).select(
        F.col("embedding").alias("qv")
    )
    rel_rows = (
        e.filter(F.col("vec_id") != mm.MMR_QUERY_ID)
        .join(F.broadcast(q))
        .select("vec_id", spark_cosine("embedding", "qv").alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(mm.MMR_POOL)
        .collect()
    )
    rel = {r["vec_id"]: r["rel"] for r in rel_rows}
    pool_ids = sorted(rel)
    p = e.filter(F.col("vec_id").isin(pool_ids))
    a, b = p.alias("a"), p.alias("b")
    sims = {
        (r["ai"], r["bi"]): r["c"]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ai"),
            F.col("b.vec_id").alias("bi"),
            spark_cosine("a.embedding", "b.embedding").alias("c"),
        )
        .collect()
    }

    def cos(x, y):
        return sims[(x, y) if x < y else (y, x)]

    sel = [min(rel, key=lambda v: (-rel[v], v))]
    scores = [rel[sel[0]]]
    while len(sel) < mm.MMR_K:
        best, best_score = None, None
        for d in pool_ids:
            if d in sel:
                continue
            s = (rel[d] - max(cos(d, s0) for s0 in sel)) / 2
            if best is None or (s, -d) > (best_score, -best):
                best, best_score = d, s
        sel.append(best)
        scores.append(best_score)
    def round_half_up(x: float) -> float:
        # Spark/DuckDB round() is HALF_UP over the shortest decimal
        # repr; Python's built-in is banker's — emulate the engines
        # (this referee actually hit the 0.1692455 boundary).
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        )

    for k, (rank, vid, r_rel, r_score) in enumerate(got):
        assert vid == sel[k], (got, sel)
        assert r_rel == rel[vid]
        assert abs(r_score - round_half_up(scores[k])) < 1e-9
    # Diversification actually kicked in: MMR order differs from the
    # pure-relevance order somewhere in the top-K.
    by_rel = sorted(rel, key=lambda v: (-rel[v], v))[: mm.MMR_K]
    assert sel != by_rel or len(set(scores)) > 1


def test_binary_quantize_shortlist_is_true_hamming_topk(specs, spark, sf_dir):
    """embed_binary_quantize's shortlist == the true top-10 by
    (hamming, vec_id) over sign-bit codes recomputed in Python from
    the raw embeddings (pure integer referee)."""
    from bigdata_twitter_spark.llm.quantize import BINQ_QUERY_ID, BINQ_TOPK
    from bigdata_twitter_spark.tables import load

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in load(spark, sf_dir, "embeddings").collect()
    }

    def code(v):
        c = 0
        for i, x in enumerate(v):
            if x > 0:
                c |= 1 << i
        return c

    qc = code(vecs[BINQ_QUERY_ID])
    ham = {
        vid: bin(code(v) ^ qc).count("1")
        for vid, v in vecs.items()
        if vid != BINQ_QUERY_ID
    }
    want = sorted(ham, key=lambda v: (ham[v], v))[:BINQ_TOPK]
    got = {
        r["vec_id"]: r["hamming"]
        for r in specs["embed_binary_quantize"].fn(spark, sf_dir).collect()
    }
    assert sorted(got) == sorted(want)
    assert all(got[v] == ham[v] for v in got)


def test_burst_hysteresis_matches_python_state_machine(specs, spark, sf_dir):
    """ts_burst_hysteresis == a direct Python replay of the Schmitt-
    trigger state machine over the dense hourly series (open at
    count > 2·mean, close at count < mean, hold otherwise)."""
    import datetime as dt
    from collections import defaultdict

    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    hourly = defaultdict(dict)
    rows = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    for r in rows:
        hourly[r["event_type"]][r["h"]] = r["n"]
    lo = min(h for d in hourly.values() for h in d)
    hi = max(h for d in hourly.values() for h in d)
    grid = []
    h = lo
    while h <= hi:
        grid.append(h)
        h += dt.timedelta(hours=1)

    want = set()
    for et, counts in hourly.items():
        series = [counts.get(h, 0) for h in grid]
        tot, nh = sum(series), len(series)
        state, episodes = 0, []
        for h, n in zip(grid, series):
            if n * nh > 2 * tot:
                state = 1
            elif n * nh < tot:
                state = 0
            if state == 1:
                if episodes and episodes[-1][1] == h - dt.timedelta(hours=1):
                    episodes[-1][1] = h
                    episodes[-1][2] += 1
                    episodes[-1][3] = max(episodes[-1][3], n)
                else:
                    episodes.append([h, h, 1, n])
        for i, (s, e, cnt, peak) in enumerate(episodes, 1):
            want.add((et, i, s, e, cnt, peak))

    got = {
        (r["event_type"], r["burst_id"], r["start_hour"], r["end_hour"],
         r["n_hours"], r["peak"])
        for r in specs["ts_burst_hysteresis"].fn(spark, sf_dir).collect()
    }
    assert got == want
    assert got, "fixture series should contain at least one burst"


def test_kcore_is_converged_fixpoint(specs, spark, sf_dir):
    """graph_kcore_peel == the true k-core computed by peel-to-
    fixpoint in Python over the same edges; the fixed 6-round budget
    must have CONVERGED at fixture scale (one more round changes
    nothing), so the operator reports the k-core, not a prefix."""
    from collections import defaultdict

    from bigdata_twitter_spark.operators.graph import (
        KCORE_K,
        PART_OFFSET,
        copurchase_edges,
    )

    adj = defaultdict(set)
    for r in copurchase_edges(spark, sf_dir).collect():
        adj[r["src"]].add(r["dst"])
    alive = set(adj)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    want = {
        (
            v - PART_OFFSET if v >= PART_OFFSET else v,
            v >= PART_OFFSET,
        ): len(adj[v] & alive)
        for v in alive
    }
    got = {
        (r["vertex"], r["is_part"]): r["core_degree"]
        for r in specs["graph_kcore_peel"].fn(spark, sf_dir).collect()
    }
    assert got == want
    assert got, "fixture graph should have a non-empty 3-core"
    # Peeling removed something (the operator is not an identity).
    assert len(alive) < len(adj)


def test_phash_decode_route_equals_forward_route(specs, spark, sf_dir):
    """The Spark-side hash (real PNG bytes → decode → hash) equals the
    generator-closed-form hash for every file — the disjoint-route
    decode certification, independently of the oracle machinery."""
    from bigdata_twitter_spark import binfixtures as bf
    from bigdata_twitter_spark.llm import phash as ph

    got = {
        r["doc_id"]: (r["width"], r["height"], r["phash"], r["n_ones"])
        for r in specs["multimodal_image_phash"].fn(spark, sf_dir).collect()
    }
    assert len(got) == bf.N_FILES
    for d in range(bf.N_FILES):
        w, h = bf.png_width(d), bf.png_height(d)
        hv, ones = ph.phash64(w, h, lambda x, y, d=d: bf.pixel(x, y, d))
        assert got[d] == (w, h, hv, ones), d


def test_mann_kendall_matches_python_bruteforce(specs, spark, sf_dir):
    """ts_mann_kendall == a direct O(T²) Python computation of S, the
    tie-corrected variance, tau-b, and the continuity-corrected z from
    the same hourly series (math.sqrt, not Spark/DuckDB)."""
    import math
    from collections import Counter

    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["hr"], r["cnt"]))
    got = {
        r["event_type"]: r
        for r in specs["ts_mann_kendall"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(series)
    for et, pts in series.items():
        xs = [c for _, c in sorted(pts)]
        n = len(xs)
        s = sum(
            (0 if xs[j] == xs[i] else (1 if xs[j] > xs[i] else -1))
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie = Counter(xs)
        tie18 = sum(t * (t - 1) * (2 * t + 5) for t in tie.values() if t > 1)
        t2 = sum(t * (t - 1) for t in tie.values() if t > 1) // 2
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        d = n * (n - 1) // 2
        tau = s / math.sqrt(d * (d - t2)) if d - t2 else 0.0
        if var18 == 0:
            z = 0.0
        elif s > 0:
            z = (s - 1.0) / math.sqrt(var18 / 18.0)
        elif s < 0:
            z = (s + 1.0) / math.sqrt(var18 / 18.0)
        else:
            z = 0.0
        r = got[et]
        assert r["n_hours"] == n and r["s_stat"] == s, et
        assert r["var18"] == var18, et
        assert r["tau"] == pytest.approx(tau, abs=1e-12), et
        assert r["z_stat"] == pytest.approx(z, abs=1e-12), et


def test_gini_matches_python_counts(specs, spark, sf_dir):
    """agg_gini_impurity == Python-computed Gini/HHI/top-share from
    raw (priority, status) counts."""
    from collections import Counter

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    ).collect()
    by_pri: dict[str, Counter] = defaultdict(Counter)
    for r in rows:
        by_pri[r["o_orderpriority"]][r["o_orderstatus"]] += 1
    got = {
        r["o_orderpriority"]: r
        for r in specs["agg_gini_impurity"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_pri)
    for pri, cnts in by_pri.items():
        n = sum(cnts.values())
        sumsq = sum(c * c for c in cnts.values())
        r = got[pri]
        assert r["n"] == n and r["n_classes"] == len(cnts)
        assert r["gini_impurity"] == pytest.approx(
            (n * n - sumsq) / (n * n), abs=1e-15
        )
        assert r["hhi"] == pytest.approx(sumsq / (n * n), abs=1e-15)
        assert r["top_share"] == pytest.approx(
            max(cnts.values()) / n, abs=1e-15
        )


def test_jaccard_neighbors_matches_bruteforce(specs, spark, sf_dir):
    """graph_jaccard_neighbors == Python brute force over buyer sets:
    exact candidate completeness (every pair with a common buyer) and
    exact (jaccard, n_common, other) ranking."""
    from bigdata_twitter_spark.operators.graph import (
        ALSO_BOUGHT_DEGREE_CAP,
        JACCARD_NEIGH_K,
    )
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .collect()
    )
    by_cust: dict[int, set] = defaultdict(set)
    for r in cp:
        by_cust[r["c"]].add(r["p"])
    neigh: dict[int, set] = defaultdict(set)
    for c, parts in by_cust.items():
        if len(parts) <= ALSO_BOUGHT_DEGREE_CAP:
            for p in parts:
                neigh[p].add(c)
    common: dict[tuple, int] = defaultdict(int)
    for c, parts in by_cust.items():
        if len(parts) > ALSO_BOUGHT_DEGREE_CAP:
            continue
        sp = sorted(parts)
        for i, p1 in enumerate(sp):
            for p2 in sp[i + 1 :]:
                common[(p1, p2)] += 1
    want: dict[int, list] = defaultdict(list)
    for (p1, p2), nc in common.items():
        j = nc / (len(neigh[p1]) + len(neigh[p2]) - nc)
        want[p1].append((-j, -nc, p2))
        want[p2].append((-j, -nc, p1))
    got_rows = specs["graph_jaccard_neighbors"].fn(spark, sf_dir).collect()
    got: dict[int, list] = defaultdict(list)
    for r in got_rows:
        got[r["part"]].append(r)
    assert set(got) == set(want)
    for part, cands in want.items():
        cands.sort()
        rows = sorted(got[part], key=lambda r: r["rnk"])
        assert len(rows) == min(JACCARD_NEIGH_K, len(cands))
        for rnk, (negj, negc, other) in enumerate(
            cands[: len(rows)], start=1
        ):
            r = rows[rnk - 1]
            assert (r["other"], r["n_common"]) == (other, -negc), (part, rnk)
            assert r["jaccard"] == pytest.approx(-negj, abs=1e-15)
            assert r["deg_part"] == len(neigh[part])
            assert r["deg_other"] == len(neigh[other])


def test_vocab_growth_matches_python_scan(specs, spark, sf_dir):
    """text_vocab_growth == a single-threaded Python pass over docs in
    doc_id order (first-occurrence vocabulary, cumulative tokens,
    decile checkpoint geometry)."""
    from bigdata_twitter_spark.tables import load
    from bigdata_twitter_spark.text.analysis import VOCAB_DECILES

    docs = sorted(
        (r["doc_id"], [t for t in r["text"].lower().split(" ") if t])
        for r in load(spark, sf_dir, "documents").collect()
    )
    seen: set = set()
    cumtok = 0
    want = {}
    n = len(docs)
    for pos, (doc_id, toks) in enumerate(docs, start=1):
        cumtok += len(toks)
        seen |= set(toks)
        if (pos * VOCAB_DECILES) // n > ((pos - 1) * VOCAB_DECILES) // n:
            want[(pos * VOCAB_DECILES) // n] = (
                pos, doc_id, cumtok, len(seen)
            )
    got = {
        r["decile"]: r
        for r in specs["text_vocab_growth"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(want) and len(got) == VOCAB_DECILES
    for dec, (pos, doc_id, cumtok, vocab) in want.items():
        r = got[dec]
        assert (
            r["doc_position"], r["doc_id"], r["cum_tokens"], r["vocab_size"]
        ) == (pos, doc_id, cumtok, vocab), dec
        assert r["type_token_ratio"] == pytest.approx(
            vocab / cumtok, abs=1e-15
        )


def test_pq_adc_matches_python_replay(specs, spark, sf_dir):
    """embed_pq_adc_topk == a full single-threaded Python replay of
    the PQ pipeline: int-scaling, codeword assignment (ties to lowest
    k), per-query LUTs, ADC sums, (adc, vec_id) ranking, exact dists."""
    import math

    from bigdata_twitter_spark.llm.pq import (
        PQ_K, PQ_M, PQ_NQ, PQ_SCALE, PQ_SUB, PQ_TOPK,
    )
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "embeddings").collect()
    iv = {
        r["vec_id"]: [math.floor(float(x) * PQ_SCALE + 0.5) for x in r["embedding"]]
        for r in rows
    }
    ids = sorted(iv)
    cb_ids, q_ids = ids[:PQ_K], ids[PQ_K : PQ_K + PQ_NQ]

    def sub(v, m):
        return v[m * PQ_SUB : (m + 1) * PQ_SUB]

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    codes = {
        vid: [
            min(
                range(PQ_K),
                key=lambda k: (sq(sub(v, m), sub(iv[cb_ids[k]], m)), k),
            )
            for m in range(PQ_M)
        ]
        for vid, v in iv.items()
    }
    want = []
    for qid in q_ids:
        lut = [
            [sq(sub(iv[qid], m), sub(iv[cb_ids[k]], m)) for k in range(PQ_K)]
            for m in range(PQ_M)
        ]
        scored = sorted(
            (sum(lut[m][codes[vid][m]] for m in range(PQ_M)), vid)
            for vid in iv
        )
        for rnk, (adc, vid) in enumerate(scored[:PQ_TOPK], start=1):
            want.append((qid, rnk, vid, adc, sq(iv[qid], iv[vid])))
    got = sorted(
        (
            r["query_id"], r["rnk"], r["vec_id"], r["adc_dist"],
            r["exact_dist"],
        )
        for r in specs["embed_pq_adc_topk"].fn(spark, sf_dir).collect()
    )
    assert got == sorted(want)


def test_pq_adc_plan_is_broadcast_scored(specs, spark, sf_dir):
    """The ADC scoring pass must join the corpus code table against
    BROADCAST luts/codebook — no sort-merge join anywhere in the
    plan (that would be the corpus×queries shuffle the scale note
    forbids)."""
    plan = (
        specs["embed_pq_adc_topk"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_pruning_reads_fewer_files_no_false_negatives(
    specs, spark, sf_dir
):
    """scan_bloom_pruned: the audit shows real pruning (present keys
    pass ≥1 file, files_read < files_total), results equal the plain
    lookup, and no false negative is possible (every present probe's
    rows are returned)."""
    from bigdata_twitter_spark import obs
    from bigdata_twitter_spark.sources import layout
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    rows = specs["scan_bloom_pruned"].fn(spark, sf_dir).collect()
    info = obs.last("scan_bloom_pruned")
    assert info["files_total"] == layout.N_BLOOM_FILES
    assert 1 <= info["files_read"] < info["files_total"]
    e = load(spark, sf_dir, "events")
    lohi = e.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).collect()[0]
    want = {
        (r["event_id"], r["user_id"], r["event_type"])
        for r in e.filter(
            F.col("event_id").isin([lohi["lo"], lohi["hi"]])
        ).collect()
    }
    got = {(r["event_id"], r["user_id"], r["event_type"]) for r in rows}
    assert got == want and want
    # A present key must pass at least one file; the absent key may
    # false-positive but never forces a wrong row (no absent id rows).
    assert info["per_probe_files"][lohi["lo"]] >= 1
    assert info["per_probe_files"][lohi["hi"]] >= 1
    assert all(r["event_id"] != lohi["hi"] + 1 for r in rows)


def test_rolling_median_matches_python_window(specs, spark, sf_dir):
    """ts_rolling_median == Python sliding-window order statistics
    over the same hourly series."""
    from bigdata_twitter_spark.operators.timeseries import ROLL_MED_W
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["hr"], r["cnt"]))
    want = {}
    for et, pts in series.items():
        pts.sort()
        for i, (hr, cnt) in enumerate(pts):
            win = sorted(c for _, c in pts[max(0, i - ROLL_MED_W + 1) : i + 1])
            n = len(win)
            want[(et, hr)] = (
                cnt, n, win[(n + 1) // 2 - 1],
                win[-(-n * 9 // 10) - 1],  # ceil(0.9n)-th smallest
            )
    got = specs["ts_rolling_median"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        cnt, n, med, p90 = want[(r["event_type"], r["hr"])]
        assert (r["cnt"], r["n_win"], r["med"], r["p90"]) == (
            cnt, n, med, p90,
        ), (r["event_type"], r["hr"])


def test_quarantine_split_routes_exactly(specs, spark, sf_dir):
    """stream_quarantine_split: good route carries EVERY event exactly
    once, the dead-letter route carries exactly the injected lines —
    counts and checksums match a Python computation over events."""
    from bigdata_twitter_spark.streaming.ops import QUAR_MOD
    from bigdata_twitter_spark.tables import load

    ids = [
        r["event_id"]
        for r in load(spark, sf_dir, "events").select("event_id").collect()
    ]
    rows = {
        r["bucket"]: r
        for r in specs["stream_quarantine_split"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"good", "quarantine"}
    assert rows["good"]["n_rows"] == len(ids)
    assert rows["good"]["id_checksum"] == sum(ids)
    bad = [i for i in ids if i % QUAR_MOD == 0]
    assert rows["quarantine"]["n_rows"] == len(bad) > 0
    assert rows["quarantine"]["id_checksum"] == sum(bad)


def test_attribution_matches_python_replay(specs, spark, sf_dir):
    """ts_attribution_last_touch == a per-user Python replay of the
    last-click state machine with the exact 2h/µs lookback."""
    import json
    from decimal import Decimal

    from bigdata_twitter_spark.operators.timeseries import (
        ATTR_CHANNELS,
        ATTR_LOOKBACK_US,
    )
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value", "props", "event_id"
    ).collect()
    by_user: dict[int, list] = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    stats: dict[int, list] = defaultdict(lambda: [0, Decimal(0)])
    for evs in by_user.values():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        last_click = None
        for r in evs:
            if r["event_type"] == "purchase":
                ch = -1
                if last_click is not None:
                    dt = (r["ts"] - last_click[0]).total_seconds() * 1e6
                    if dt <= ATTR_LOOKBACK_US:
                        ch = last_click[1] % ATTR_CHANNELS
                st = stats[ch]
                st[0] += 1
                st[1] += Decimal(str(r["value"])).quantize(Decimal("0.01"))
            if r["event_type"] == "click":
                last_click = (r["ts"], json.loads(r["props"])["k"])
    got = {
        r["channel"]: r
        for r in specs["ts_attribution_last_touch"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(stats)
    for ch, (n, total) in stats.items():
        assert got[ch]["n_purchases"] == n, ch
        assert got[ch]["attributed_value"] == pytest.approx(
            float(total), abs=1e-9
        ), ch


def test_ivfpq_matches_python_replay(specs, spark, sf_dir):
    """embed_ivfpq_topk == a full Python replay of the IVFADC
    pipeline: coarse assignment, residual encoding against the shared
    codebook, 2-probe LUT scoring, (adc, vec_id) ranking."""
    import math

    from bigdata_twitter_spark.llm.ivfpq import (
        IVFPQ_CELLS, IVFPQ_K, IVFPQ_M, IVFPQ_NQ, IVFPQ_PROBES, IVFPQ_TOPK,
    )
    from bigdata_twitter_spark.llm.pq import PQ_SCALE, PQ_SUB
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "embeddings").collect()
    iv = {
        r["vec_id"]: [math.floor(float(x) * PQ_SCALE + 0.5) for x in r["embedding"]]
        for r in rows
    }
    ids = sorted(iv)
    cells = [iv[i] for i in ids[:IVFPQ_CELLS]]
    cb_ids = ids[IVFPQ_CELLS : IVFPQ_CELLS + IVFPQ_K]
    q_ids = ids[
        IVFPQ_CELLS + IVFPQ_K : IVFPQ_CELLS + IVFPQ_K + IVFPQ_NQ
    ]

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def cell_of(v):
        return min(range(IVFPQ_CELLS), key=lambda c: (sq(v, cells[c]), c))

    def residual(v):
        c = cell_of(v)
        return c, [x - y for x, y in zip(v, cells[c])]

    def sub(v, m):
        return v[m * PQ_SUB : (m + 1) * PQ_SUB]

    cw = {
        (m, k): sub(residual(iv[cb_ids[k]])[1], m)
        for k in range(IVFPQ_K)
        for m in range(IVFPQ_M)
    }
    enc = {}
    for vid, v in iv.items():
        c, rv = residual(v)
        enc[vid] = (
            c,
            [
                min(
                    range(IVFPQ_K),
                    key=lambda k: (sq(sub(rv, m), cw[(m, k)]), k),
                )
                for m in range(IVFPQ_M)
            ],
        )
    want = []
    for qid in q_ids:
        probed = sorted(
            range(IVFPQ_CELLS), key=lambda c: (sq(iv[qid], cells[c]), c)
        )[:IVFPQ_PROBES]
        luts = {}
        for c in probed:
            qr = [x - y for x, y in zip(iv[qid], cells[c])]
            luts[c] = [
                [sq(sub(qr, m), cw[(m, k)]) for k in range(IVFPQ_K)]
                for m in range(IVFPQ_M)
            ]
        scored = sorted(
            (
                sum(
                    luts[enc[vid][0]][m][enc[vid][1][m]]
                    for m in range(IVFPQ_M)
                ),
                vid,
            )
            for vid in iv
            if enc[vid][0] in luts
        )
        for rnk, (adc, vid) in enumerate(scored[:IVFPQ_TOPK], start=1):
            want.append((qid, rnk, vid, adc, sq(iv[qid], iv[vid])))
    got = sorted(
        (
            r["query_id"], r["rnk"], r["vec_id"], r["adc_dist"],
            r["exact_dist"],
        )
        for r in specs["embed_ivfpq_topk"].fn(spark, sf_dir).collect()
    )
    assert got == sorted(want) and len(got) == IVFPQ_NQ * IVFPQ_TOPK


def test_partition_evolution_prunes_each_spec_at_its_grain(
    specs, spark, sf_dir
):
    """scan_partition_evolution: v1 (day spec) reads only the
    straddling days; v2 (day/hour spec) reads strictly fewer dirs per
    day than v1 would (hour pruning happened at planning time)."""
    from bigdata_twitter_spark import obs
    from bigdata_twitter_spark.sources import layout

    specs["scan_partition_evolution"].fn(spark, sf_dir).collect()
    info = obs.last("scan_partition_evolution")
    # v1 half holds ~15 day dirs; only the ≤ split..split+? straddle
    # intersects (≤ EVO_SPAN_DAYS of them are v1-side days).
    assert 1 <= info["v1_dirs_read"] <= layout.EVO_SPAN_DAYS
    assert info["v1_dirs_read"] < info["v1_dirs_total"]
    # v2 pruning is (day AND hour): dirs_read ≤ days_in_range × 7 hours
    hours = layout.EVO_HOURS[1] - layout.EVO_HOURS[0] + 1
    assert 1 <= info["v2_dirs_read"] <= (layout.EVO_SPAN_DAYS + 1) * hours
    assert info["v2_dirs_read"] < info["v2_dirs_total"]
    # The v2 spec prunes hours; a day-grain spec would have read every
    # hour dir of the matching days.
    assert info["v2_dirs_read"] <= info["v2_dirs_total"] * hours // 24


def test_neyman_allocation_matches_python(specs, spark, sf_dir):
    """sample_stratified_neyman: allocation == Python-computed Neyman
    n_h ∝ N_h·σ_h with the same cent-quantized round-half-up integer
    arithmetic, and the draw == md5-rank selection replayed in Python."""
    import hashlib
    import math
    from decimal import Decimal

    from bigdata_twitter_spark.operators.scale_ops import NEYMAN_N
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    strata: dict[str, list] = defaultdict(list)
    for r in rows:
        strata[r["o_orderpriority"]].append(
            (r["o_orderkey"], Decimal(str(r["o_totalprice"])).quantize(Decimal("0.01")))
        )
    wq, sig, ssz = {}, {}, {}
    for pri, rs in strata.items():
        n = len(rs)
        sx = float(sum(tp for _, tp in rs))
        sxx = float(sum(tp * tp for _, tp in rs))
        sigma = math.sqrt(n * sxx - sx * sx) / n
        sig[pri], ssz[pri] = sigma, n
        wq[pri] = math.floor(n * sigma * 100 + 0.5)
    wtot = sum(wq.values())
    alloc = {
        pri: (2 * NEYMAN_N * w + wtot) // (2 * wtot) for pri, w in wq.items()
    }
    got = {
        r["o_orderpriority"]: r
        for r in specs["sample_stratified_neyman"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(strata)
    for pri, rs in strata.items():
        r = got[pri]
        assert r["n_pop"] == ssz[pri] and r["n_alloc"] == alloc[pri]
        assert r["sigma"] == pytest.approx(sig[pri], rel=1e-12)
        drawn = sorted(
            rs,
            key=lambda t: (
                hashlib.md5(str(t[0]).encode()).hexdigest(), t[0],
            ),
        )[: alloc[pri]]
        assert r["n_sampled"] == len(drawn)
        assert r["id_checksum"] == sum(k for k, _ in drawn)
        assert r["sample_total"] == pytest.approx(
            float(sum(tp for _, tp in drawn)), abs=1e-9
        )
    # Neyman sanity: allocations differ across strata unless σ·N ties.
    assert len(set(alloc.values())) > 1 or len(alloc) == 1


def test_sequence_regex_matches_python_re(specs, spark, sf_dir):
    """ts_sequence_regex_match == Python re.findall over the same
    capped, (ts, event_id)-ordered initial sequences."""
    import re

    from bigdata_twitter_spark.operators.timeseries import (
        SEQ_REGEX_CAP,
        SEQ_REGEX_PATTERN,
    )
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user: dict[int, list] = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"][0]))
    want = {}
    for uid, evs in by_user.items():
        evs.sort()
        seq = "".join(i for _, _, i in evs[:SEQ_REGEX_CAP])
        m = len(re.findall(SEQ_REGEX_PATTERN, seq))
        if m > 0:
            want[uid] = (len(seq), m)
    got = {
        r["user_id"]: (r["seq_len"], r["n_matches"])
        for r in specs["ts_sequence_regex_match"].fn(spark, sf_dir).collect()
    }
    assert got == want and want


def test_curriculum_schedule_matches_python(specs, spark, sf_dir):
    """train_curriculum_schedule == Python-computed stages and
    (stage, md5, doc_id)-ordered positions over the raw corpus."""
    import hashlib

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    docs = []
    for r in rows:
        toks = [t for t in r["text"].lower().split(" ") if t]
        n_tok, n_uniq = len(toks), len(set(toks))
        n_chars = sum(len(t) for t in toks)
        pts = (
            (50 <= n_tok <= 1000)
            + (3 * n_tok <= n_chars <= 8 * n_tok)
            + (2 * n_uniq >= n_tok)
        )
        docs.append(
            (
                3 - pts,
                hashlib.md5(str(r["doc_id"]).encode()).hexdigest(),
                r["doc_id"],
            )
        )
    docs.sort()
    want, per_stage = {}, defaultdict(int)
    for gpos, (stage, _, doc_id) in enumerate(docs):
        want[doc_id] = (stage, per_stage[stage], gpos)
        per_stage[stage] += 1
    got = {
        r["doc_id"]: (r["stage"], r["pos_in_stage"], r["global_pos"])
        for r in specs["train_curriculum_schedule"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # Curriculum sanity: multiple stages are populated on the fixture.
    assert len(per_stage) >= 2


def test_contamination_threshold_is_exact_cosine(specs, spark, sf_dir):
    """embed_contamination_eval == Python brute force with EXACT
    rational cosine threshold (Fraction arithmetic — no float ever
    decides membership), and the reported best hit matches."""
    import math
    from fractions import Fraction

    from bigdata_twitter_spark.llm.embpipeline import (
        CONTAM_EVAL_MOD,
        CONTAM_TAU_DEN,
        CONTAM_TAU_NUM,
    )
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "embeddings").collect()
    iv = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000 + 0.5) for x in r["embedding"]]
        for r in rows
    }
    ev = {k: v for k, v in iv.items() if k % CONTAM_EVAL_MOD == 0}
    cp = {k: v for k, v in iv.items() if k % CONTAM_EVAL_MOD != 0}
    tau2 = Fraction(CONTAM_TAU_NUM**2, CONTAM_TAU_DEN**2)
    want = {}
    for vid, v in cp.items():
        nv = sum(x * x for x in v)
        hits = []
        for eid, e in ev.items():
            dot = sum(a * b for a, b in zip(v, e))
            if dot > 0 and Fraction(dot * dot, nv * sum(x * x for x in e)) >= tau2:
                cos = dot / (math.sqrt(nv) * math.sqrt(sum(x * x for x in e)))
                hits.append((-cos, eid))
        if hits:
            hits.sort()
            want[vid] = (len(hits), hits[0][1], -hits[0][0])
    got = {
        r["vec_id"]: (r["n_eval_hits"], r["best_eval_id"], r["best_cos"])
        for r in specs["embed_contamination_eval"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(want) and want
    for vid, (n, beid, bcos) in want.items():
        assert got[vid][0] == n and got[vid][1] == beid, vid
        assert got[vid][2] == pytest.approx(bcos, abs=1e-14), vid


def test_theil_sen_matches_python_bruteforce(specs, spark, sf_dir):
    """ts_theil_sen == O(T²) Python pairwise slopes with exact
    lower/upper median selection."""
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["hr"], r["cnt"]))
    got = {
        r["event_type"]: r
        for r in specs["ts_theil_sen"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(series)
    for et, pts in series.items():
        xs = [c for _, c in sorted(pts)]
        slopes = sorted(
            (xs[j] - xs[i]) / (j - i)
            for i in range(len(xs))
            for j in range(i + 1, len(xs))
        )
        n = len(slopes)
        r = got[et]
        assert r["n_pairs"] == n
        assert r["median_slope"] == slopes[(n + 1) // 2 - 1], et
        assert r["upper_median_slope"] == slopes[n // 2], et


def test_random_walk_matches_python_replay(specs, spark, sf_dir):
    """graph_random_walk_deterministic == a Python walk over the same
    adjacency with the same md5 successor rule — every step of every
    walker, and walks never leave the edge set."""
    import hashlib

    from bigdata_twitter_spark.operators.graph import (
        PART_OFFSET,
        WALK_START_MOD,
        WALK_STEPS,
        copurchase_edges,
    )

    adj: dict[int, list] = defaultdict(list)
    for r in copurchase_edges(spark, sf_dir).collect():
        adj[r["src"]].append(r["dst"])
    walkers = sorted(
        u
        for u in adj
        if u >= PART_OFFSET and (u - PART_OFFSET) % WALK_START_MOD == 0
    )
    want = {}
    for u in walkers:
        v = u
        want[(u - PART_OFFSET, 0)] = v
        for t in range(WALK_STEPS):
            v = min(
                adj[v],
                key=lambda d: hashlib.md5(
                    f"{v}/{d}/{t}".encode()
                ).hexdigest(),
            )
            want[(u - PART_OFFSET, t + 1)] = v
    got = {}
    for r in (
        specs["graph_random_walk_deterministic"].fn(spark, sf_dir).collect()
    ):
        v = r["vertex"] + (PART_OFFSET if r["is_part"] else 0)
        got[(r["walker_part"], r["step"])] = v
    assert got == want and len(want) == len(walkers) * (WALK_STEPS + 1)


def test_holt_winters_matches_python_fold(specs, spark, sf_dir):
    """ts_holt_winters == an independent Python implementation of the
    additive HW recurrence (bit-for-bit: same init, same fold order,
    binary-exact α/β/γ)."""
    from bigdata_twitter_spark.operators.statistics import (
        HW_ALPHA, HW_BETA, HW_FC, HW_GAMMA, HW_PERIOD,
    )
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    m = HW_PERIOD
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["hr"], r["cnt"]))
    got = {
        r["event_type"]: r
        for r in specs["ts_holt_winters"].fn(spark, sf_dir).collect()
    }
    expected_keys = {et for et, pts in series.items() if len(pts) >= 2 * m + 1}
    assert set(got) == expected_keys and expected_keys
    for et in expected_keys:
        xs = [float(c) for _, c in sorted(series[et])]
        s1 = sum(int(x) for x in xs[:m])
        s2 = sum(int(x) for x in xs[m : 2 * m])
        level = s2 / m
        trend = (s2 / m - s1 / m) / m
        seas = [x - s2 / m for x in xs[m : 2 * m]]
        for x in xs[2 * m :]:
            prev_s = seas[0]
            nl = HW_ALPHA * x + (1 - HW_ALPHA) * (level + trend)
            nt = HW_BETA * (nl - level) + (1 - HW_BETA) * trend
            ns = HW_GAMMA * (x - nl) + (1 - HW_GAMMA) * prev_s
            seas = seas[1:] + [ns]
            level, trend = nl, nt
        r = got[et]
        assert r["n_hours"] == len(xs)
        assert r["level"] == level and r["trend"] == trend, et
        for h in range(1, HW_FC + 1):
            assert r[f"forecast_{h}"] == level + h * trend + seas[h - 1], (
                et, h,
            )


def test_ab_test_matches_python(specs, spark, sf_dir):
    """ab_test_proportions == Python-computed cohort counts and the
    pooled z expression."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    conv: dict[int, int] = defaultdict(int)
    for r in rows:
        if r["event_type"] == "purchase" and r["value"] > 95:
            conv[r["user_id"]] = 1
        else:
            conv.setdefault(r["user_id"], 0)
    na = sum(1 for u in conv if u % 2 == 0)
    xa = sum(c for u, c in conv.items() if u % 2 == 0)
    nb = len(conv) - na
    xb = sum(conv.values()) - xa
    [r] = specs["ab_test_proportions"].fn(spark, sf_dir).collect()
    assert (r["na"], r["xa"], r["nb"], r["xb"]) == (na, xa, nb, xb)
    assert 0 < xa + xb < na + nb  # the test actually discriminates
    pool = (xa + xb) / (na + nb)
    z = (xa / na - xb / nb) / math.sqrt(
        pool * (1 - pool) * (1.0 / na + 1.0 / nb)
    )
    assert r["p_a"] == xa / na and r["p_b"] == xb / nb
    assert r["z_stat"] == pytest.approx(z, abs=1e-14)


def test_markov_and_decay_match_python(specs, spark, sf_dir):
    """ts_markov_transitions and trending_decayed_topk == Python
    replays (ordered lag pairs; exact dyadic decay scores)."""
    from bigdata_twitter_spark.operators.timeseries import (
        DECAY_HALFLIFE_US,
        DECAY_MAX_SHIFT,
        DECAY_TOPK,
    )
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user: dict[int, list] = defaultdict(list)
    mts = max(r["ts"] for r in rows)
    for r in rows:
        by_user[r["user_id"]].append(r)
    trans: dict[tuple, int] = defaultdict(int)
    score: dict[int, int] = defaultdict(int)
    nev: dict[int, int] = defaultdict(int)
    for uid, evs in by_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        for prev, cur in zip(evs, evs[1:]):
            trans[(prev["event_type"], cur["event_type"])] += 1
        for r in evs:
            age_us = int((mts - r["ts"]).total_seconds() * 1e6)
            k = min(age_us // DECAY_HALFLIFE_US, DECAY_MAX_SHIFT)
            score[uid] += 1 << (DECAY_MAX_SHIFT - k)
            nev[uid] += 1
    got_t = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p"])
        for r in specs["ts_markov_transitions"].fn(spark, sf_dir).collect()
    }
    row_tot: dict[str, int] = defaultdict(int)
    for (p_, _), n in trans.items():
        row_tot[p_] += n
    assert set(got_t) == set(trans)
    for key, n in trans.items():
        assert got_t[key][0] == n
        assert got_t[key][1] == n / row_tot[key[0]]
    want_top = sorted(score, key=lambda u: (-score[u], u))[:DECAY_TOPK]
    got_d = sorted(
        specs["trending_decayed_topk"].fn(spark, sf_dir).collect(),
        key=lambda r: r["rnk"],
    )
    assert [r["user_id"] for r in got_d] == want_top
    for r in got_d:
        assert r["score"] == score[r["user_id"]]
        assert r["n_events"] == nev[r["user_id"]]


def test_cross_correlation_matches_python(specs, spark, sf_dir):
    """ts_cross_correlation == Python CCF over the same dense grid."""
    import math
    from datetime import timedelta

    from bigdata_twitter_spark.operators.timeseries import SESSION_GAP_US  # noqa: F401
    from bigdata_twitter_spark.operators.statistics import (
        XCORR_A, XCORR_B, XCORR_LAGS,
    )
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    rows = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(XCORR_A, XCORR_B))
        .select(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .collect()
    )
    counts: dict = defaultdict(int)
    for r in rows:
        counts[(r["h"], r["event_type"])] += 1
    hours = sorted({h for h, _ in counts})
    lo, hi = hours[0], hours[-1]
    grid = []
    h = lo
    while h <= hi:
        grid.append((counts.get((h, XCORR_A), 0), counts.get((h, XCORR_B), 0)))
        h += timedelta(hours=1)
    n = len(grid)
    sa = sum(a for a, _ in grid)
    sb = sum(b for _, b in grid)
    saa = sum(a * a for a, _ in grid)
    sbb = sum(b * b for _, b in grid)
    den = math.sqrt(saa - sa * sa / n) * math.sqrt(sbb - sb * sb / n)
    got = {
        r["lag_k"]: r
        for r in specs["ts_cross_correlation"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(XCORR_LAGS)
    for k in XCORR_LAGS:
        pairs = [
            (grid[i][0], grid[i + k][1])
            for i in range(n)
            if 0 <= i + k < n
        ]
        sab = sum(a * b for a, b in pairs)
        want = (sab - sa / n * sb) / den
        r = got[k]
        assert r["n_hours"] == n and r["n_pairs"] == len(pairs)
        assert r["xcorr"] == pytest.approx(want, abs=1e-12), k


def test_mad_anomalies_match_python(specs, spark, sf_dir):
    """ts_anomaly_mad == Python-computed lower medians / MAD flags;
    at the driver scale (sf0.01) the screen is known to flag rows, so
    this referee also runs there explicitly."""
    from bigdata_twitter_spark.operators.timeseries import (
        MAD_CONSISTENCY,
        MAD_K,
    )
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    for d in {sf_dir, "/root/testdata/sf0.01"}:
        hourly = (
            load(spark, d, "events")
            .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        series: dict[str, list] = defaultdict(list)
        for r in hourly:
            series[r["event_type"]].append((r["hr"], r["cnt"]))
        want = {}
        for et, pts in series.items():
            by_cnt = sorted(pts, key=lambda t: (t[1], t[0]))
            n = len(by_cnt)
            med = by_cnt[(n + 1) // 2 - 1][1]
            devs = sorted(
                (abs(c - med), hr) for hr, c in pts
            )
            mad = devs[(n + 1) // 2 - 1][0]
            if mad == 0:
                continue
            for hr, c in pts:
                if abs(float(c - med)) > MAD_K * (MAD_CONSISTENCY * mad):
                    want[(et, hr)] = (
                        c, med, mad, (c - med) / (MAD_CONSISTENCY * mad),
                    )
        got = {
            (r["event_type"], r["hr"]): (
                r["cnt"], r["series_median"], r["mad"], r["robust_z"],
            )
            for r in specs["ts_anomaly_mad"].fn(spark, d).collect()
        }
        assert set(got) == set(want)
        for key, (c, med, mad, z) in want.items():
            assert got[key][:3] == (c, med, mad), key
            assert got[key][3] == pytest.approx(z, abs=1e-14), key
        if d.endswith("sf0.01"):
            assert want  # the screen bites at the driver scale


def test_covariance_matrix_matches_python(specs, spark, sf_dir):
    """agg_covariance_matrix == Python exact-Decimal co-moments and
    the same float expression sequence."""
    import math
    from decimal import Decimal

    from bigdata_twitter_spark.operators.statistics import _COV_MEASURES
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", *_COV_MEASURES
    ).collect()
    by_flag: dict[str, list] = defaultdict(list)
    q = Decimal("0.01")
    for r in rows:
        by_flag[r["l_returnflag"]].append(
            [Decimal(str(r[c])).quantize(q) for c in _COV_MEASURES]
        )
    got = {
        (r["l_returnflag"], r["var_a"], r["var_b"]): r
        for r in specs["agg_covariance_matrix"].fn(spark, sf_dir).collect()
    }
    k = len(_COV_MEASURES)
    assert len(got) == len(by_flag) * k * (k + 1) // 2
    for flag, vecs in by_flag.items():
        n = len(vecs)
        s = [float(sum(v[i] for v in vecs)) for i in range(k)]
        ss = {
            (i, j): float(sum(v[i] * v[j] for v in vecs))
            for i in range(k)
            for j in range(i, k)
        }
        for i in range(k):
            for j in range(i, k):
                cov = ss[(i, j)] / n - (s[i] / n) * (s[j] / n)
                vi = ss[(i, i)] / n - (s[i] / n) * (s[i] / n)
                vj = ss[(j, j)] / n - (s[j] / n) * (s[j] / n)
                r = got[(flag, _COV_MEASURES[i], _COV_MEASURES[j])]
                assert r["n"] == n
                assert r["cov"] == pytest.approx(cov, rel=1e-12)
                assert r["corr"] == pytest.approx(
                    cov / (math.sqrt(vi) * math.sqrt(vj)), rel=1e-12
                )


def test_backfill_union_legs_are_both_real(specs, spark, sf_dir):
    """stream_backfill_union: the result equals the single batch
    query AND both legs contributed rows (the tail is nonempty and
    the cutoff-straddling hour merges two partials)."""
    import datetime

    from bigdata_twitter_spark.streaming.ops import BACKFILL_TAIL_HOURS
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("m")).collect()[0]["m"]
    cutoff = mx - datetime.timedelta(hours=BACKFILL_TAIL_HOURS)
    n_tail = e.filter(F.col("ts") >= F.lit(cutoff)).count()
    n_hist = e.filter(F.col("ts") < F.lit(cutoff)).count()
    assert n_tail > 0 and n_hist > 0
    got = specs["stream_backfill_union"].fn(spark, sf_dir).collect()
    want = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    gm = {(r["hour"], r["event_type"]): r["n"] for r in got}
    wm = {(r["hour"], r["event_type"]): r["n"] for r in want}
    assert gm == wm
    # The straddling hour exists: cutoff is not on an hour boundary
    # for the fixture, so at least one (hour, type) group has events
    # on both sides.
    straddle = e.filter(
        F.date_trunc("hour", "ts") == F.date_trunc("hour", F.lit(cutoff))
    ).count()
    assert straddle > 0


def test_benford_matches_python(specs, spark, sf_dir):
    """agg_benford_digits == Python digit counts and chi² terms."""
    import math

    from bigdata_twitter_spark.tables import load

    prices = [
        r["o_totalprice"]
        for r in load(spark, sf_dir, "orders").select("o_totalprice").collect()
        if r["o_totalprice"] > 0
    ]
    counts: dict[int, int] = defaultdict(int)
    for p_ in prices:
        counts[int(str(int(p_ * 100))[0])] += 1
    n = sum(counts.values())
    got = {
        r["first_digit"]: r
        for r in specs["agg_benford_digits"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(counts)
    for d, obs in counts.items():
        rate = math.log10(1 + 1 / d)
        r = got[d]
        assert r["observed"] == obs
        assert r["benford_rate"] == pytest.approx(rate, abs=1e-15)
        exp = n * r["benford_rate"]
        assert r["expected"] == pytest.approx(exp, rel=1e-14)
        assert r["chi2_contrib"] == pytest.approx(
            (obs - exp) ** 2 / exp, rel=1e-12
        )


def test_debezium_apply_matches_python(specs, spark, sf_dir):
    """cdc_debezium_apply == Python-applied c/u/d over orders, and the
    JSON envelope round-trip is lossless."""
    from decimal import Decimal

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).collect()
    q = Decimal("0.01")
    agg: dict[str, list] = defaultdict(lambda: [0, Decimal(0)])
    for r in rows:
        k = r["o_orderkey"] % 10
        if k == 1:
            continue
        price = r["o_totalprice"] + 1 if k == 0 else r["o_totalprice"]
        st = agg[r["o_orderstatus"]]
        st[0] += 1
        st[1] += Decimal(str(price)).quantize(q)
    got = {
        r["o_orderstatus"]: r
        for r in specs["cdc_debezium_apply"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(agg)
    for status, (n, total) in agg.items():
        assert got[status]["n_rows"] == n
        assert got[status]["total_price"] == pytest.approx(
            float(total), abs=1e-9
        )


def test_balanced_classes_matches_python(specs, spark, sf_dir):
    """sample_balanced_classes == Python md5-rank draw with the
    data-derived minority quota; every class exactly balanced."""
    import hashlib

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select(
        "event_id", "event_type"
    ).collect()
    by_cls: dict[str, list] = defaultdict(list)
    for r in rows:
        by_cls[r["event_type"]].append(r["event_id"])
    k = min(len(v) for v in by_cls.values())
    got = {
        r["event_type"]: r
        for r in specs["sample_balanced_classes"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_cls)
    for cls, ids in by_cls.items():
        drawn = sorted(
            ids,
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )[:k]
        assert got[cls]["n_sampled"] == k
        assert got[cls]["id_checksum"] == sum(drawn)


def test_image_tiles_cover_and_match_decode(specs, spark, sf_dir):
    """multimodal_image_tiles: the tile grid covers exactly
    (h//16)×(w//16) tiles per image and each tile's stats equal a
    direct Python computation over the closed-form pixels."""
    from bigdata_twitter_spark.binfixtures import (
        N_FILES,
        pixel,
        png_height,
        png_width,
    )
    from bigdata_twitter_spark.llm.tiles import TILE

    got = defaultdict(dict)
    for r in specs["multimodal_image_tiles"].fn(spark, sf_dir).collect():
        got[r["doc_id"]][(r["tile_row"], r["tile_col"])] = (
            r["pix_sum"], r["pix_min"], r["pix_max"],
        )
    assert set(got) == set(range(N_FILES))
    for d in range(N_FILES):
        w, h = png_width(d), png_height(d)
        assert len(got[d]) == (h // TILE) * (w // TILE) >= 1
        for (tr, tc), stats in got[d].items():
            vals = [
                pixel(x, y, d)
                for y in range(tr * TILE, (tr + 1) * TILE)
                for x in range(tc * TILE, (tc + 1) * TILE)
            ]
            assert stats == (sum(vals), min(vals), max(vals)), (d, tr, tc)


def test_fuzzy_levenshtein_blocking_is_complete(specs, spark, sf_dir):
    """join_fuzzy_levenshtein == Python brute force over the DISTINCT
    name dictionary (the block key loses no pair at this threshold:
    referee checks all-pairs, not just blocked pairs, for any missed
    match with a shared last token... and asserts no cross-block pair
    could qualify on this fixture's name shape)."""
    from collections import Counter

    from bigdata_twitter_spark.operators.joins import FUZZY_MAX_LEV
    from bigdata_twitter_spark.tables import load

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    counts = Counter(
        r["p_name"]
        for r in load(spark, sf_dir, "part").select("p_name").collect()
    )
    names = sorted(counts)
    want = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            if a.split(" ")[-1] != b.split(" ")[-1]:
                continue
            d = lev(a, b)
            if d <= FUZZY_MAX_LEV:
                want[(a, b)] = (d, counts[a], counts[b])
    got = {
        (r["name_a"], r["name_b"]): (r["lev"], r["n_parts_a"], r["n_parts_b"])
        for r in specs["join_fuzzy_levenshtein"].fn(spark, sf_dir).collect()
    }
    assert got == want and want


def test_range_boundaries_are_balanced(specs, spark, sf_dir):
    """sort_range_boundaries: 16 buckets exist, they partition the
    table exactly, bucket ranges are disjoint and ordered, and every
    bucket lands within ±40% of n/16 (the sampling-error balance
    contract a global sort relies on)."""
    from bigdata_twitter_spark.operators.sort_limit import RANGE_BUCKETS
    from bigdata_twitter_spark.tables import load

    n_total = load(spark, sf_dir, "orders").count()
    rows = sorted(
        specs["sort_range_boundaries"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in rows] == list(range(RANGE_BUCKETS))
    assert sum(r["n_rows"] for r in rows) == n_total
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"]
    target = n_total / RANGE_BUCKETS
    for r in rows:
        assert 0.6 * target <= r["n_rows"] <= 1.4 * target, r


def test_hits_matches_python_iteration(specs, spark, sf_dir):
    """graph_hits_topk == a Python replay of 3 integer HITS rounds
    with exact scores and (score desc, id) ranking."""
    from bigdata_twitter_spark.operators.graph import (
        HITS_ROUNDS,
        HITS_TOPK,
    )
    from bigdata_twitter_spark.tables import load

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = {
        (r["o_custkey"], r["l_partkey"])
        for r in l.join(o, l["l_orderkey"] == o["o_orderkey"]).collect()
    }
    h = {c: 1 for c, _ in edges}
    for _ in range(HITS_ROUNDS):
        a: dict[int, int] = defaultdict(int)
        for c, p in edges:
            a[p] += h.get(c, 0)
        h = defaultdict(int)
        for c, p in edges:
            h[c] += a[p]
    want = set()
    for rnk, (p, s) in enumerate(
        sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOPK], 1
    ):
        want.add(("authority", p, s, rnk))
    for rnk, (c, s) in enumerate(
        sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOPK], 1
    ):
        want.add(("hub", c, s, rnk))
    got = {
        (r["side"], r["vertex"], r["score"], r["rnk"])
        for r in specs["graph_hits_topk"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_q5_plan_broadcasts_dims_and_pushes_date(specs, spark, sf_dir):
    """agg_q5_local_supplier's physical plan broadcasts the three
    dimension tables and pushes the order-date filter to the scan."""
    plan = (
        specs["agg_q5_local_supplier"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters" in plan or "pushedFilters" in plan.lower()


def test_q18_having_prunes_before_join(specs, spark, sf_dir):
    """agg_q18_large_orders: every returned order's recomputed
    quantity exceeds the threshold, and the count matches a direct
    HAVING query."""
    from bigdata_twitter_spark.operators.joins import Q18_MIN_QTY
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    rows = specs["agg_q18_large_orders"].fn(spark, sf_dir).collect()
    want = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > Q18_MIN_QTY)
        .count()
    )
    assert len(rows) == want > 0
    assert all(r["total_qty"] > Q18_MIN_QTY for r in rows)


def test_survival_km_matches_python(specs, spark, sf_dir):
    """ts_survival_km == a Python Kaplan-Meier computation (exact
    day durations, censoring, at-risk counts, IEEE product fold)."""
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    ).collect()
    su: dict[int, object] = {}
    pu: dict[int, object] = {}
    mts = max(r["ts"] for r in rows)
    for r in rows:
        if r["event_type"] == "signup":
            if r["user_id"] not in su or r["ts"] < su[r["user_id"]]:
                su[r["user_id"]] = r["ts"]
    for r in rows:
        if (
            r["event_type"] == "purchase"
            and r["user_id"] in su
            and r["ts"] >= su[r["user_id"]]
        ):
            if r["user_id"] not in pu or r["ts"] < pu[r["user_id"]]:
                pu[r["user_id"]] = r["ts"]
    days: dict[int, list] = defaultdict(lambda: [0, 0])
    for uid, s0 in su.items():
        if uid in pu:
            t = int((pu[uid] - s0).total_seconds() * 1e6) // 86_400_000_000
            days[t][0] += 1
        else:
            t = int((mts - s0).total_seconds() * 1e6) // 86_400_000_000
            days[t][1] += 1
    total = len(su)
    got = sorted(
        specs["ts_survival_km"].fn(spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert [r["day"] for r in got] == sorted(days)
    s = 1.0
    at_risk = total
    for r in got:
        d, c = days[r["day"]]
        assert (r["n_events"], r["n_censored"]) == (d, c)
        assert r["n_at_risk"] == at_risk
        s = s * (1.0 - d / r["n_at_risk"])
        assert r["survival"] == s, r["day"]
        at_risk -= d + c
    assert got[0]["n_at_risk"] == total and got[-1]["survival"] >= 0.0


def test_anova_matches_python_fold(specs, spark, sf_dir):
    """ts_anova_hour_of_day == a Python one-way ANOVA with the same
    hod-ordered left fold for the cell term (bit-exact)."""
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    cells: dict[tuple, list] = defaultdict(lambda: [0, 0, 0])
    for r in hourly:
        c = cells[(r["event_type"], r["hr"].hour)]
        c[0] += 1
        c[1] += r["cnt"]
        c[2] += r["cnt"] * r["cnt"]
    got = {
        r["event_type"]: r
        for r in specs["ts_anova_hour_of_day"].fn(spark, sf_dir).collect()
    }
    types = {et for et, _ in cells}
    assert set(got) == types
    for et in types:
        hods = sorted(h for e2, h in cells if e2 == et)
        nn = sum(cells[(et, h)][0] for h in hods)
        st = sum(cells[(et, h)][1] for h in hods)
        sst = sum(cells[(et, h)][2] for h in hods)
        k = len(hods)
        cellsq = 0.0
        for h in hods:
            n, s, _ = cells[(et, h)]
            cellsq = cellsq + float(s) * float(s) / float(n)
        ssb = cellsq - float(st) * float(st) / float(nn)
        ssw = float(sst) - cellsq
        r = got[et]
        assert (r["n_hours"], r["k_groups"]) == (nn, k)
        assert r["ss_between"] == ssb and r["ss_within"] == ssw, et
        assert r["f_stat"] == (ssb / (k - 1)) / (ssw / (nn - k)), et


def test_wma_matches_python_window(specs, spark, sf_dir):
    """ts_weighted_moving_avg == Python linear-weighted windows over
    the hourly series (exact numerator, single division)."""
    from bigdata_twitter_spark.operators.timeseries import WMA_DEN, WMA_W
    from bigdata_twitter_spark.tables import load
    from pyspark.sql import functions as F

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["hr"], r["cnt"]))
    want = {}
    for et, pts in series.items():
        pts.sort()
        for i in range(WMA_W - 1, len(pts)):
            winvals = [c for _, c in pts[i - WMA_W + 1 : i + 1]]
            num = sum((j + 1) * x for j, x in enumerate(winvals))
            want[(et, pts[i][0])] = (pts[i][1], num, num / WMA_DEN)
    got = {
        (r["event_type"], r["hr"]): (r["cnt"], r["wma_num"], r["wma"])
        for r in specs["ts_weighted_moving_avg"].fn(spark, sf_dir).collect()
    }
    assert got == want and want


def test_chi2_matches_python_fold(specs, spark, sf_dir):
    """agg_chi2_independence == Python contingency computation with
    the same (s, p)-ordered chi² fold (bit-exact)."""
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).collect()
    obs: dict[tuple, int] = defaultdict(int)
    for r in rows:
        obs[(r["o_orderstatus"], r["o_orderpriority"])] += 1
    rs: dict[str, int] = defaultdict(int)
    cs: dict[str, int] = defaultdict(int)
    for (s, p_), n in obs.items():
        rs[s] += n
        cs[p_] += n
    nn = sum(obs.values())
    chi2 = 0.0
    for s, p_ in sorted(obs):
        exp = float(rs[s]) * float(cs[p_]) / float(nn)
        d = float(obs[(s, p_)]) - exp
        chi2 = chi2 + d * d / exp
    [r] = specs["agg_chi2_independence"].fn(spark, sf_dir).collect()
    assert r["n_cells"] == len(obs)
    assert r["dof"] == (len(rs) - 1) * (len(cs) - 1)
    assert r["chi2"] == chi2


def test_gini_coefficient_matches_python(specs, spark, sf_dir):
    """agg_gini_coefficient == Python exact rank-weighted Gini."""
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    by_pri: dict[str, list] = defaultdict(list)
    for r in rows:
        by_pri[r["o_orderpriority"]].append(
            (int(r["o_totalprice"] * 100), r["o_orderkey"])
        )
    got = {
        r["o_orderpriority"]: r
        for r in specs["agg_gini_coefficient"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_pri)
    for pri, vals in by_pri.items():
        vals.sort()
        n = len(vals)
        sx = sum(c for c, _ in vals)
        six = sum(i * c for i, (c, _) in enumerate(vals, start=1))
        gini = 2.0 * (float(six) / (float(n) * float(sx))) - (
            float(n) + 1.0
        ) / float(n)
        r = got[pri]
        assert (r["n"], r["total_cents"]) == (n, sx)
        assert r["gini"] == gini, pri
        assert 0.0 <= r["gini"] < 1.0


# ---- two-sample test family (round-7 continuation) --------------------


def test_mann_whitney_matches_python(specs, spark, sf_dir):
    """agg_mann_whitney_u == Python exact rank-sum with tie correction."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = (
        load(spark, sf_dir, "orders")
        .where("o_orderstatus IN ('O','F')")
        .select("o_orderstatus", "o_totalprice")
        .collect()
    )
    by_val: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for r in rows:
        cents = math.floor(r["o_totalprice"] * 100)
        by_val[cents][0] += 1
        by_val[cents][1] += r["o_orderstatus"] == "O"
    n1 = sum(v[1] for v in by_val.values())
    n2 = sum(v[0] - v[1] for v in by_val.values())
    cb = 0
    r1x2 = 0
    tie = 0
    for cents in sorted(by_val):
        c, c1 = by_val[cents]
        r1x2 += c1 * (2 * cb + c + 1)
        tie += c * c * c - c
        cb += c
    u1x2 = r1x2 - n1 * (n1 + 1)
    nd = float(n1 + n2)
    z = ((u1x2 / 2.0) - float(n1) * float(n2) / 2.0) / math.sqrt(
        (float(n1) * float(n2) / 12.0)
        * ((nd + 1.0) - float(tie) / (nd * (nd - 1.0)))
    )
    [got] = specs["agg_mann_whitney_u"].fn(spark, sf_dir).collect()
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert got["u1_x2"] == u1x2
    assert got["tie_term"] == tie
    assert got["z_stat"] == z


def test_ks_two_sample_matches_python(specs, spark, sf_dir):
    """agg_ks_two_sample == Python exact cross-multiplied D."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = (
        load(spark, sf_dir, "orders")
        .where("o_orderpriority IN ('1-URGENT','5-LOW')")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    by_val: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for r in rows:
        cents = math.floor(r["o_totalprice"] * 100)
        g = 0 if r["o_orderpriority"] == "1-URGENT" else 1
        by_val[cents][g] += 1
    n1 = sum(v[0] for v in by_val.values())
    n2 = sum(v[1] for v in by_val.values())
    f1 = f2 = 0
    d_num = 0
    for cents in sorted(by_val):
        c1, c2 = by_val[cents]
        f1 += c1
        f2 += c2
        d_num = max(d_num, abs(f1 * n2 - f2 * n1))
    [got] = specs["agg_ks_two_sample"].fn(spark, sf_dir).collect()
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert got["d_num"] == d_num
    assert got["d_stat"] == float(d_num) / (float(n1) * float(n2))
    # D is a probability distance: 0 <= D <= 1.
    assert 0.0 <= got["d_stat"] <= 1.0


def test_welch_ttest_matches_python(specs, spark, sf_dir):
    """agg_welch_ttest == Python exact-moment Welch t and dof."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = (
        load(spark, sf_dir, "customer")
        .where("c_mktsegment IN ('AUTOMOBILE','BUILDING')")
        .select("c_mktsegment", "c_acctbal")
        .collect()
    )
    stats = {"AUTOMOBILE": [0, 0, 0], "BUILDING": [0, 0, 0]}
    for r in rows:
        cents = math.floor(r["c_acctbal"] * 100)
        s = stats[r["c_mktsegment"]]
        s[0] += 1
        s[1] += cents
        s[2] += cents * cents
    n1, s1, ss1 = stats["AUTOMOBILE"]
    n2, s2, ss2 = stats["BUILDING"]

    def var(ss: int, s: int, n: int) -> float:
        return (float(ss) - float(s) * float(s) / float(n)) / (
            float(n) - 1.0
        )

    se1 = var(ss1, s1, n1) / float(n1)
    se2 = var(ss2, s2, n2) / float(n2)
    t = (float(s1) / float(n1) - float(s2) / float(n2)) / math.sqrt(
        se1 + se2
    )
    dof = (
        (se1 + se2)
        * (se1 + se2)
        / (se1 * se1 / (float(n1) - 1.0) + se2 * se2 / (float(n2) - 1.0))
    )
    [got] = specs["agg_welch_ttest"].fn(spark, sf_dir).collect()
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert got["mean1_cents"] == float(s1) / float(n1)
    assert got["mean2_cents"] == float(s2) / float(n2)
    assert got["t_stat"] == t
    assert got["welch_dof"] == dof
    # negative-balance cents must have used floor(), not trunc():
    # at least one customer balance is negative in every fixture SF.
    assert any(r["c_acctbal"] < 0 for r in rows)


# ---- finance indicator trio (round-7 continuation) ---------------------


def test_bollinger_matches_python(specs, spark, sf_dir):
    """ts_bollinger_bands == Python exact-integer window statistics."""
    import math

    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .count()
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["hr"], r["count"]))
    want = {}
    for et, rows in series.items():
        rows.sort()
        for i in range(7, len(rows)):
            win = [c for _, c in rows[i - 7 : i + 1]]
            s, ss = sum(win), sum(c * c for c in win)
            mid = float(s) / 8.0
            sig = math.sqrt((float(ss) - float(s) * float(s) / 8.0) / 8.0)
            want[(et, rows[i][0])] = (
                rows[i][1], mid, mid + 2.0 * sig, mid - 2.0 * sig,
            )
    got = specs["ts_bollinger_bands"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        cnt, mid, up, lo = want[(r["event_type"], r["hr"])]
        assert r["cnt"] == cnt
        assert r["mid"] == mid
        assert r["upper_band"] == up
        assert r["lower_band"] == lo


def test_rsi_wilder_matches_python(specs, spark, sf_dir):
    """ts_rsi_wilder == Python replay of the seed mean + recurrence."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.sum(F.col("value").cast("decimal(12,2)")).alias("v"))
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["hr"], float(Decimal(r["v"]))))
    got = {
        r["event_type"]: r
        for r in specs["ts_rsi_wilder"].fn(spark, sf_dir).collect()
    }
    n_checked = 0
    for et, rows in series.items():
        rows.sort()
        xs = [v for _, v in rows]
        ds = [xs[i] - xs[i - 1] for i in range(1, len(xs))]
        if len(ds) < 15:
            assert et not in got
            continue
        ag = al = 0.0
        for d in ds[:14]:
            ag = ag + max(d, 0.0)
            al = al + max(-d, 0.0)
        ag, al = ag / 14.0, al / 14.0
        for d in ds[14:]:
            ag = (ag * 13.0 + max(d, 0.0)) / 14.0
            al = (al * 13.0 + max(-d, 0.0)) / 14.0
        rsi = 100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al)
        r = got[et]
        assert r["n_deltas"] == len(ds)
        assert r["avg_gain"] == ag
        assert r["avg_loss"] == al
        assert r["rsi"] == rsi
        n_checked += 1
    assert n_checked == len(got) and n_checked > 0


def test_drawdown_matches_python(specs, spark, sf_dir):
    """ts_drawdown_max == Python exact-Decimal running-peak drawdown."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(12,2)")).alias("v"))
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["day"], Decimal(r["v"])))
    got = {
        r["event_type"]: r
        for r in specs["ts_drawdown_max"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(series)
    for et, rows in series.items():
        rows.sort()
        cum = Decimal(0)
        peak = None
        dd = Decimal(0)
        for _, v in rows:
            cum += v
            peak = cum if peak is None else max(peak, cum)
            dd = max(dd, peak - cum)
        assert got[et]["n_days"] == len(rows)
        assert got[et]["max_drawdown"] == float(dd)
        # drawdown is nonnegative by construction
        assert got[et]["max_drawdown"] >= 0.0


# ---- basket rules + clustering coefficient (round-7 continuation) ------


def _copurchase_edges(spark, sf_dir):
    from bigdata_twitter_spark.tables import load

    rows = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets: dict[int, set] = defaultdict(set)
    for r in rows:
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    edges = set()
    for items in baskets.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                edges.add((s[i], s[j]))
    return baskets, edges


def test_assoc_rules_matches_python(specs, spark, sf_dir):
    """graph_assoc_rules_lift == Python exact basket counting."""
    baskets, _ = _copurchase_edges(spark, sf_dir)
    n_baskets = len(baskets)
    item_c: dict[int, int] = defaultdict(int)
    pair_c: dict[tuple, int] = defaultdict(int)
    for items in baskets.values():
        s = sorted(items)
        for p in s:
            item_c[p] += 1
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                pair_c[(s[i], s[j])] += 1
    want = {k: v for k, v in pair_c.items() if v >= 2}
    got = specs["graph_assoc_rules_lift"].fn(spark, sf_dir).collect()
    assert {(r["part_a"], r["part_b"]) for r in got} == set(want)
    for r in got:
        a, b = r["part_a"], r["part_b"]
        cab, ca, cb = want[(a, b)], item_c[a], item_c[b]
        assert (r["n_both"], r["n_a"], r["n_b"]) == (cab, ca, cb)
        assert r["n_baskets"] == n_baskets
        assert r["conf_ab"] == float(cab) / float(ca)
        assert r["conf_ba"] == float(cab) / float(cb)
        assert r["lift"] == float(n_baskets) * float(cab) / (
            float(ca) * float(cb)
        )


def test_clustering_coeff_matches_python(specs, spark, sf_dir):
    """graph_clustering_coeff == Python naive triangle/degree cc."""
    _, edges = _copurchase_edges(spark, sf_dir)
    adj: dict[int, set] = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tri: dict[int, int] = defaultdict(int)
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c: count each triangle once per vertex
                tri[a] += 1
                tri[b] += 1
                tri[c] += 1
    got = {
        r["p_partkey"]: r
        for r in specs["graph_clustering_coeff"].fn(spark, sf_dir).collect()
    }
    want = {v for v, ns in adj.items() if len(ns) >= 2}
    assert set(got) == want
    for v in want:
        d, t = len(adj[v]), tri.get(v, 0)
        r = got[v]
        assert r["degree"] == d
        assert r["n_triangles"] == t
        assert r["clustering_coeff"] == 2.0 * float(t) / (
            float(d) * (float(d) - 1.0)
        )
        assert 0.0 <= r["clustering_coeff"] <= 1.0


# ---- readability + entropy (round-7 continuation) ----------------------


def test_flesch_matches_python(specs, spark, sf_dir):
    """text_readability_flesch == Python regex counting per lang."""
    import re

    from bigdata_twitter_spark.tables import load

    docs = (
        load(spark, sf_dir, "documents").select("lang", "text").collect()
    )
    agg: dict[str, list] = defaultdict(lambda: [0, 0, 0, 0, 0])
    vg = re.compile(r"[aeiouy]+")
    st = re.compile(r"[.!?]+")
    for r in docs:
        text = r["text"]
        words = [t for t in text.split(" ") if t]
        low = text.lower()
        a = agg[r["lang"]]
        a[0] += 1
        a[1] += len(words)
        a[2] += max(len(st.findall(text)), 1)
        a[3] += len(vg.findall(low))
        a[4] += sum(1 for t in low.split(" ") if len(vg.findall(t)) >= 3)
    got = {
        r["lang"]: r
        for r in specs["text_readability_flesch"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(agg)
    for lang, (nd, nw, ns, nsyl, npoly) in agg.items():
        r = got[lang]
        assert r["n_docs"] == nd
        assert r["n_words"] == nw
        assert r["n_sentences"] == ns
        assert r["n_syllables"] == nsyl
        assert r["n_polysyllables"] == npoly
        assert r["flesch"] == 206.835 - 1.015 * (
            float(nw) / float(ns)
        ) - 84.6 * (float(nsyl) / float(nw))


def test_entropy_daily_matches_python(specs, spark, sf_dir):
    """ts_entropy_daily == Python order-pinned rounded-term fold."""
    import math

    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    cells = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .count()
        .collect()
    )
    by_day: dict = defaultdict(dict)
    for r in cells:
        by_day[r["day"]][r["event_type"]] = r["count"]
    got = {
        r["day"]: r
        for r in specs["ts_entropy_daily"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_day)

    def round_half_up_8(x: float) -> float:
        # Spark's ROUND on doubles is BigDecimal HALF_UP; replay it.
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(Decimal("1e-8"), ROUND_HALF_UP)
        )

    for day, cell in by_day.items():
        n = sum(cell.values())
        h = 0.0
        for et in sorted(cell):
            p = float(cell[et]) / float(n)
            h = h + round_half_up_8(-p * math.log(p))
        r = got[day]
        assert r["n_events"] == n
        assert r["k_types"] == len(cell)
        assert r["entropy"] == h + 0.0
        assert 0.0 <= r["entropy"] <= math.log(len(cell)) + 1e-6


# ---- TPC-H Q7/Q10 analogs (round-7 continuation) -----------------------


def test_q7_nation_volume_matches_python(specs, spark, sf_dir):
    """agg_q7_nation_volume == Python exact-Decimal recompute."""
    import datetime
    from decimal import Decimal

    from bigdata_twitter_spark.tables import load

    o = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load(spark, sf_dir, "orders").collect()
    }
    cnat = {
        r["c_custkey"]: r["c_nationkey"]
        for r in load(spark, sf_dir, "customer").collect()
    }
    snat = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in load(spark, sf_dir, "supplier").collect()
    }
    nname = {
        r["n_nationkey"]: r["n_name"]
        for r in load(spark, sf_dir, "nation").collect()
    }
    want: dict[tuple, list] = defaultdict(lambda: [Decimal(0), 0])
    lo, hi = datetime.datetime(1995, 1, 1), datetime.datetime(1997, 1, 1)
    for r in load(spark, sf_dir, "lineitem").collect():
        if not (lo <= r["l_shipdate"] < hi):
            continue
        sn = nname[snat[r["l_suppkey"]]]
        cn = nname[cnat[o[r["l_orderkey"]]]]
        if {sn, cn} != {"NATION_1", "NATION_2"}:
            continue
        key = (sn, cn, r["l_shipdate"].year)
        ep = Decimal(str(round(r["l_extendedprice"], 2)))
        dc = Decimal(str(round(r["l_discount"], 2)))
        want[key][0] += ep * (1 - dc)
        want[key][1] += 1
    got = {
        (r["supp_nation"], r["cust_nation"], r["l_year"]): r
        for r in specs["agg_q7_nation_volume"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for key, (rev, n) in want.items():
        assert got[key]["revenue"] == float(rev)
        assert got[key]["n_lineitems"] == n


def test_q10_returned_topk_matches_python(specs, spark, sf_dir):
    """agg_q10_returned_topk == Python recompute of the exact top-20."""
    import datetime
    from decimal import Decimal

    from bigdata_twitter_spark.tables import load

    lo, hi = datetime.datetime(1998, 10, 1), datetime.datetime(1999, 1, 1)
    okeys = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load(spark, sf_dir, "orders").collect()
        if lo <= r["o_orderdate"] < hi
    }
    cust = {
        r["c_custkey"]: (r["c_name"], r["c_nationkey"])
        for r in load(spark, sf_dir, "customer").collect()
    }
    nname = {
        r["n_nationkey"]: r["n_name"]
        for r in load(spark, sf_dir, "nation").collect()
    }
    rev: dict[int, list] = defaultdict(lambda: [Decimal(0), 0])
    for r in load(spark, sf_dir, "lineitem").collect():
        ck = okeys.get(r["l_orderkey"])
        if ck is None or r["l_returnflag"] != "R":
            continue
        ep = Decimal(str(round(r["l_extendedprice"], 2)))
        dc = Decimal(str(round(r["l_discount"], 2)))
        rev[ck][0] += ep * (1 - dc)
        rev[ck][1] += 1
    ranked = sorted(
        rev.items(), key=lambda kv: (-float(kv[1][0]), kv[0])
    )[:20]
    got = specs["agg_q10_returned_topk"].fn(spark, sf_dir).collect()
    assert [r["c_custkey"] for r in got] == [ck for ck, _ in ranked]
    for r, (ck, (rv, n)) in zip(got, ranked):
        assert r["revenue"] == float(rv)
        assert r["n_lineitems"] == n
        assert (r["c_name"], r["nation"]) == (
            cust[ck][0], nname[cust[ck][1]],
        )


# ---- centroid confusion + skyline (round-7 continuation) ---------------


def test_centroid_confusion_matches_python(specs, spark, sf_dir):
    """embed_centroid_confusion == Python centroid argmax replay."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "embeddings").collect()
    by_label: dict[int, list] = defaultdict(list)
    for r in rows:
        by_label[r["label"]].append(r["embedding"])
    cents = {}
    for lbl, vecs in by_label.items():
        dims = len(vecs[0])
        cents[lbl] = [
            round(
                sum(float(v[i]) for v in vecs) / len(vecs), 6
            )  # loose: avg replay below is order-sensitive, see assert
            for i in range(dims)
        ]
    want: dict[tuple, int] = defaultdict(int)
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        nv = math.sqrt(sum(x * x for x in v))
        best = None
        for lbl in sorted(cents):
            c = cents[lbl]
            nc = math.sqrt(sum(x * x for x in c))
            cos = sum(a * b for a, b in zip(v, c)) / (nv * nc)
            if best is None or cos > best[0] + 1e-12:
                best = (cos, lbl)
        want[(r["label"], best[1])] += 1
    got = {
        (r["label"], r["predicted"]): r
        for r in specs["embed_centroid_confusion"].fn(spark, sf_dir).collect()
    }
    # cell totals must cover every vector exactly once
    assert sum(r["n"] for r in got.values()) == len(rows)
    # diagonal bookkeeping is internally consistent
    for (lbl, pred), r in got.items():
        assert r["n_correct"] == (r["n"] if lbl == pred else 0)
    # Python replay agrees on the cell set and counts (float avg replay
    # matches because centroid values are rounded to 6dp before scoring)
    assert got.keys() == want.keys()
    for k, n in want.items():
        assert got[k]["n"] == n


def test_skyline_matches_naive_python(specs, spark, sf_dir):
    """agg_skyline_pareto == Python quadratic domination check."""
    import math

    from bigdata_twitter_spark.tables import load

    parts = [
        (
            r["p_partkey"],
            math.floor(r["p_retailprice"] * 100),
            r["p_size"],
        )
        for r in load(spark, sf_dir, "part").collect()
    ]
    levels = [(c, s) for _, c, s in parts]

    def dominated(c, s):
        return any(
            qc <= c and qs >= s and (qc < c or qs > s) for qc, qs in levels
        )

    want = {pk for pk, c, s in parts if not dominated(c, s)}
    got = specs["agg_skyline_pareto"].fn(spark, sf_dir).collect()
    assert {r["p_partkey"] for r in got} == want
    # front is a strict staircase over its distinct price levels:
    # strictly cheaper level => strictly larger size never violated
    lv = sorted({(r["price_cents"], r["p_size"]) for r in got})
    for (c1, s1), (c2, s2) in zip(lv, lv[1:]):
        if c1 < c2:
            assert s1 < s2


def test_restore_version_semantics(specs, spark, sf_dir):
    """table_restore_version: v2 == v0 exactly, v1 differs, metadata-only."""
    import os

    from bigdata_twitter_spark import scratch

    rows = {
        r["version"]: r
        for r in specs["table_restore_version"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {0, 1, 2}
    v0, v1, v2 = rows[0], rows[1], rows[2]
    # restore resolves byte-identically to the restored-to version
    assert (v2["n_rows"], v2["sum_value"], v2["n_from_delta"]) == (
        v0["n_rows"], v0["sum_value"], v0["n_from_delta"],
    )
    # the bad version differs and stays readable (history preserved)
    assert v1["sum_value"] != v0["sum_value"]
    assert v1["n_from_delta"] > 0
    root = scratch.path("events_restore")
    manifests = _committed_manifests(root)
    assert sorted(manifests) == [0, 1, 2]
    assert manifests[2] == manifests[0]
    # metadata-only: the restore commit wrote no data dir
    data_dirs = sorted(d for d in os.listdir(root) if d != "_manifests")
    assert data_dirs == ["base", "delta1"]


# ---- HHI + Zipf + audio ZCR (round-7 continuation) ---------------------


def test_hhi_matches_python(specs, spark, sf_dir):
    """agg_hhi_concentration == Python pinned share-squared fold."""
    from decimal import Decimal

    from bigdata_twitter_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    ).collect()
    snat = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in load(spark, sf_dir, "supplier").collect()
    }
    nname = {
        r["n_nationkey"]: r["n_name"]
        for r in load(spark, sf_dir, "nation").collect()
    }
    rev: dict[tuple, Decimal] = defaultdict(Decimal)
    for r in li:
        nat = nname[snat[r["l_suppkey"]]]
        ep = Decimal(str(round(r["l_extendedprice"], 2)))
        dc = Decimal(str(round(r["l_discount"], 2)))
        rev[(nat, r["l_suppkey"])] += ep * (1 - dc)
    by_nat: dict[str, list] = defaultdict(list)
    for (nat, sk), rv in rev.items():
        by_nat[nat].append((sk, rv))
    got = {
        r["nation"]: r
        for r in specs["agg_hhi_concentration"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_nat)
    for nat, sup in by_nat.items():
        sup.sort()
        t = sum(rv for _, rv in sup)
        h = 0.0
        for _, rv in sup:
            share = float(rv) / float(t)
            h = h + share * share
        r = got[nat]
        assert r["n_suppliers"] == len(sup)
        assert r["total_revenue"] == float(t)
        assert r["hhi"] == h
        assert 1.0 / len(sup) - 1e-9 <= r["hhi"] <= 1.0


def test_zipf_fit_matches_python(specs, spark, sf_dir):
    """text_zipf_fit == Python OLS over rounded log rank/count."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from bigdata_twitter_spark.tables import load

    def r8(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-8"), ROUND_HALF_UP)
        )

    docs = load(spark, sf_dir, "documents").select("lang", "text").collect()
    counts: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    for r in docs:
        for t in r["text"].split(" "):
            if t:
                counts[r["lang"]][t] += 1
    got = {
        r["lang"]: r
        for r in specs["text_zipf_fit"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(counts)
    for lang, tc in counts.items():
        top = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
        n = len(top)
        sx = sy = sxy = sxx = 0.0
        for rnk, (_, cnt) in enumerate(top, start=1):
            x, y = r8(math.log(float(rnk))), r8(math.log(float(cnt)))
            sx, sy = sx + x, sy + y
            sxy, sxx = sxy + x * y, sxx + x * x
        slope = (float(n) * sxy - sx * sy) / (float(n) * sxx - sx * sx)
        r = got[lang]
        assert r["n_terms"] == n
        assert r["zipf_slope"] == slope
        assert r["zipf_intercept"] == (sy - slope * sx) / float(n)
        assert r["zipf_slope"] < 0  # frequency decreases with rank


def test_audio_zcr_matches_decode(specs, spark, sf_dir):
    """multimodal_audio_zcr == Python replay over REAL decoded WAVs."""
    from bigdata_twitter_spark.binfixtures import (
        N_FILES,
        decode_wav,
        wav_bytes,
    )

    got = {
        (r["doc_id"], r["frame_idx"]): r
        for r in specs["multimodal_audio_zcr"].fn(spark, sf_dir).collect()
    }
    n_frames = 0
    for doc_id in range(N_FILES):
        _rate, n, samples = decode_wav(wav_bytes(doc_id))
        nonneg = [s >= 0 for s in samples]
        for i in range(0, (n + 399) // 400):
            lo, hi = i * 400, min(i * 400 + 400, n)
            want = sum(
                1
                for j in range(lo + 1, hi)
                if nonneg[j] != nonneg[j - 1]
            )
            r = got[(doc_id, i)]
            assert r["frame_len"] == hi - lo
            assert r["n_crossings"] == want
            n_frames += 1
    assert n_frames == len(got)


# ---- power-law, packing QA, share-of-parent (round-7 continuation) -----


def test_powerlaw_slope_matches_python(specs, spark, sf_dir):
    """graph_powerlaw_slope == Python OLS over the histogram points."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def r8(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-8"), ROUND_HALF_UP)
        )

    hist = specs["graph_degree_distribution"].fn(spark, sf_dir).collect()
    pts: dict[bool, list] = defaultdict(list)
    for r in hist:
        pts[r["is_part"]].append((r["bucket"], r["n_vertices"]))
    got = {
        r["is_part"]: r
        for r in specs["graph_powerlaw_slope"].fn(spark, sf_dir).collect()
    }
    want_sides = {side for side, p in pts.items() if len(p) >= 2}
    assert set(got) == want_sides
    for side in want_sides:
        p = sorted(pts[side])
        n = float(len(p))
        sx = sy = sxy = sxx = 0.0
        for bucket, nv in p:
            x = r8(math.log(math.pow(2.0, float(bucket))))
            y = r8(math.log(float(nv)))
            sx, sy = sx + x, sy + y
            sxy, sxx = sxy + x * y, sxx + x * x
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert got[side]["n_buckets"] == len(p)
        assert got[side]["powerlaw_slope"] == slope


def test_packing_efficiency_invariants(specs, spark, sf_dir):
    """train_packing_efficiency: exact replay + packer invariants."""
    packed = specs["pack_token_budget"].fn(spark, sf_dir).collect()
    by_seq: dict[int, list] = defaultdict(list)
    for r in packed:
        by_seq[r["seq_id"]].append((r["start_offset"], r["n_tokens"]))
    got = {
        r["seq_id"]: r
        for r in specs["train_packing_efficiency"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_seq)
    budget = 512
    for seq, docs in by_seq.items():
        r = got[seq]
        end = max(o + t for o, t in docs)
        assert r["n_docs"] == len(docs)
        assert r["tokens_assigned"] == sum(t for _, t in docs)
        assert r["spill_tokens"] == max(end - (seq + 1) * budget, 0)
        assert r["fill_rate"] == float(
            min(end - seq * budget, budget)
        ) / float(budget)
        assert 0.0 < r["fill_rate"] <= 1.0
    # non-terminal sequences are exactly full (concatenate-then-chunk)
    last = max(by_seq)
    for seq in by_seq:
        if seq != last:
            assert got[seq]["fill_rate"] == 1.0


def test_share_of_parent_matches_python(specs, spark, sf_dir):
    """agg_share_of_parent == Python exact-Decimal hierarchy shares."""
    from decimal import Decimal

    from bigdata_twitter_spark.tables import load

    o2c = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load(spark, sf_dir, "orders").collect()
    }
    cnat = {
        r["c_custkey"]: r["c_nationkey"]
        for r in load(spark, sf_dir, "customer").collect()
    }
    nat = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in load(spark, sf_dir, "nation").collect()
    }
    reg = {
        r["r_regionkey"]: r["r_name"]
        for r in load(spark, sf_dir, "region").collect()
    }
    rev: dict[tuple, Decimal] = defaultdict(Decimal)
    for r in load(spark, sf_dir, "lineitem").collect():
        nk = cnat[o2c[r["l_orderkey"]]]
        nname, rk = nat[nk]
        ep = Decimal(str(round(r["l_extendedprice"], 2)))
        dc = Decimal(str(round(r["l_discount"], 2)))
        rev[(reg[rk], nname)] += ep * (1 - dc)
    tot = sum(rev.values())
    by_reg: dict[str, Decimal] = defaultdict(Decimal)
    for (rg, _), v in rev.items():
        by_reg[rg] += v
    got = {
        (r["region"], r["nation"]): r
        for r in specs["agg_share_of_parent"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(rev)
    for key, v in rev.items():
        r = got[key]
        assert r["revenue"] == float(v)
        assert r["share_of_region"] == float(v) / float(by_reg[key[0]])
        assert r["share_of_total"] == float(v) / float(tot)
    # shares sum to 1 within each region up to fold noise
    for rg in by_reg:
        s = sum(
            r["share_of_region"] for k, r in got.items() if k[0] == rg
        )
        assert abs(s - 1.0) < 1e-9


def test_image_histogram_matches_decode(specs, spark, sf_dir):
    """multimodal_image_histogram == Python replay over real decodes."""
    from bigdata_twitter_spark.binfixtures import (
        N_FILES,
        decode_png,
        png_bytes,
    )

    got = {
        (r["doc_id"], r["bin"]): r["n_pixels"]
        for r in specs["multimodal_image_histogram"].fn(spark, sf_dir).collect()
    }
    n_cells = 0
    for doc_id in range(N_FILES):
        w, h, pix = decode_png(png_bytes(doc_id))
        want: dict[int, int] = defaultdict(int)
        for b in pix:
            want[b >> 4] += 1
        for b, n in want.items():
            assert got[(doc_id, b)] == n
            n_cells += 1
        # bins sum to the full pixel count — nothing dropped
        assert sum(want.values()) == w * h
    assert n_cells == len(got)


def test_lsh_recall_eval_matches_composed_keys(specs, spark, sf_dir):
    """dedup_lsh_recall_eval == direct recomposition of its two sides."""
    truth = {
        (r["a_id"], r["b_id"])
        for r in specs["dedup_fuzzy_jaccard"].fn(spark, sf_dir).collect()
    }
    cand = {
        (r["a_id"], r["b_id"])
        for r in specs["dedup_minhash_md5"].fn(spark, sf_dir).collect()
    }
    [got] = specs["dedup_lsh_recall_eval"].fn(spark, sf_dir).collect()
    hit = truth & cand
    assert got["n_true"] == len(truth)
    assert got["n_cand"] == len(cand)
    assert got["n_hit"] == len(hit)
    assert got["recall"] == (
        1.0 if not truth else float(len(hit)) / float(len(truth))
    )
    assert got["precision_at_tau"] == (
        1.0 if not cand else float(len(hit)) / float(len(cand))
    )
    # the banded scheme must surface every true pair at this scale
    # (b=4, r=4: P(collision) at j>=0.8 is ~92% per band family —
    # and the fixture's near-dup pairs are j ~= 1, collision ~100%)
    assert got["recall"] == 1.0


def test_rolling_correlation_matches_python(specs, spark, sf_dir):
    """ts_rolling_correlation == Python exact-integer window replay."""
    import math

    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    hourly = (
        load(spark, sf_dir, "events")
        .where("event_type IN ('click','purchase')")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .alias("y"),
        )
        .collect()
    )
    series = sorted((r["hr"], r["x"], r["y"]) for r in hourly)
    got = {
        r["hr"]: r
        for r in specs["ts_rolling_correlation"].fn(spark, sf_dir).collect()
    }
    assert len(got) == max(0, len(series) - 23)
    for i in range(23, len(series)):
        win = series[i - 23 : i + 1]
        sx = sum(x for _, x, _ in win)
        sy = sum(y for _, _, y in win)
        sxy = sum(x * y for _, x, y in win)
        sxx = sum(x * x for _, x, _ in win)
        syy = sum(y * y for _, _, y in win)
        r = got[series[i][0]]
        assert (r["x"], r["y"]) == (series[i][1], series[i][2])
        vx, vy = 24 * sxx - sx * sx, 24 * syy - sy * sy
        if vx > 0 and vy > 0:
            want = (24.0 * float(sxy) - float(sx) * float(sy)) / (
                math.sqrt(24.0 * float(sxx) - float(sx) * float(sx))
                * math.sqrt(24.0 * float(syy) - float(sy) * float(sy))
            )
            assert r["rolling_corr"] == want
            assert -1.0 - 1e-12 <= r["rolling_corr"] <= 1.0 + 1e-12
        else:
            assert r["rolling_corr"] is None


def test_tukey_fences_matches_python(specs, spark, sf_dir):
    """agg_tukey_fences == Python interpolated-quantile replay."""
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    by_pri: dict[str, list] = defaultdict(list)
    for r in rows:
        by_pri[r["o_orderpriority"]].append(r["o_totalprice"])

    def q(vals: list, p: float) -> float:
        # replay the engines' interpolation: lower*(1-frac)+upper*frac
        s = sorted(vals)
        pos = p * (len(s) - 1)
        lo = int(pos)
        frac = pos - lo
        if lo + 1 < len(s):
            return s[lo] * (1.0 - frac) + s[lo + 1] * frac
        return s[lo]

    got = {
        r["o_orderpriority"]: r
        for r in specs["agg_tukey_fences"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_pri)
    for pri, vals in by_pri.items():
        r = got[pri]
        q1, q3 = q(vals, 0.25), q(vals, 0.75)
        lo = q1 - 1.5 * (q3 - q1)
        hi = q3 + 1.5 * (q3 - q1)
        assert r["n"] == len(vals)
        assert r["q1"] == q1 and r["q3"] == q3
        assert r["lo_fence"] == lo and r["hi_fence"] == hi
        assert r["n_low"] == sum(1 for v in vals if v < lo)
        assert r["n_high"] == sum(1 for v in vals if v > hi)


def test_bounce_rate_matches_sessionize(specs, spark, sf_dir):
    """ts_bounce_rate_daily == replay over the certified session key."""
    sessions = specs["ts_sessionize_batch"].fn(spark, sf_dir).collect()
    by_day: dict = defaultdict(lambda: [0, 0])
    for s in sessions:
        day = s["session_start"].replace(
            hour=0, minute=0, second=0, microsecond=0
        )
        by_day[day][0] += 1
        by_day[day][1] += s["n_events"] == 1
    got = {
        r["day"]: r
        for r in specs["ts_bounce_rate_daily"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_day)
    for day, (n, b) in by_day.items():
        r = got[day]
        assert r["n_sessions"] == n
        assert r["n_bounces"] == b
        assert r["bounce_rate"] == float(b) / float(n)


def test_abc_classification_matches_python(specs, spark, sf_dir):
    """agg_abc_classification == Python exact-integer cumulative cuts."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    by_pri: dict[str, list] = defaultdict(list)
    for r in rows:
        by_pri[r["o_orderpriority"]].append(
            (math.floor(r["o_totalprice"] * 100), r["o_orderkey"])
        )
    want: dict[tuple, list] = defaultdict(lambda: [0, 0])
    for pri, vals in by_pri.items():
        vals.sort(key=lambda t: (-t[0], t[1]))
        total = sum(c for c, _ in vals)
        cum = 0
        for c, _ in vals:
            cum += c
            cls = "A" if cum * 100 <= total * 80 else (
                "B" if cum * 100 <= total * 95 else "C"
            )
            want[(pri, cls)][0] += 1
            want[(pri, cls)][1] += c
    got = {
        (r["o_orderpriority"], r["abc_class"]): r
        for r in specs["agg_abc_classification"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for key, (n, cents) in want.items():
        assert got[key]["n_orders"] == n
        assert got[key]["class_cents"] == cents
    # the A class must carry the plurality of value in every group
    for pri in by_pri:
        a = got.get((pri, "A"))
        c = got.get((pri, "C"))
        assert a is not None and (c is None or a["class_cents"] > c["class_cents"])


def test_modularity_matches_python(specs, spark, sf_dir):
    """graph_modularity_eval == Python exact-integer recompute."""
    from bigdata_twitter_spark.tables import load

    PART_OFFSET = 1_000_000_000
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load(spark, sf_dir, "orders").collect()
    }
    und = {
        (orders[r["l_orderkey"]], r["l_partkey"] + PART_OFFSET)
        for r in li
    }
    labs = {}
    for r in specs["graph_label_propagation"].fn(spark, sf_dir).collect():
        v = r["vertex"] + PART_OFFSET if r["is_part"] else r["vertex"]
        labs[v] = r["community"]
    m = len(und)
    deg: dict[int, int] = defaultdict(int)
    e_c: dict[int, int] = defaultdict(int)
    for c, p in und:
        deg[c] += 1
        deg[p] += 1
        if labs[c] == labs[p]:
            e_c[labs[c]] += 1
    d_c: dict[int, int] = defaultdict(int)
    for v, d in deg.items():
        d_c[labs[v]] += d
    q_num = sum(4 * m * e_c.get(cm, 0) - dd * dd for cm, dd in d_c.items())
    [got] = specs["graph_modularity_eval"].fn(spark, sf_dir).collect()
    assert got["m"] == m
    assert got["n_communities"] == len(d_c)
    assert got["q_num"] == q_num
    assert got["modularity"] == float(q_num) / (4.0 * float(m) * float(m))
    assert -1.0 <= got["modularity"] <= 1.0


def test_silhouette_matches_knn_join(specs, spark, sf_dir):
    """embed_silhouette_centroid == replay over sim_knn_join ranks."""
    knn = specs["sim_knn_join"].fn(spark, sf_dir).collect()
    by_vec: dict[int, dict] = defaultdict(dict)
    for r in knn:
        by_vec[r["vec_id"]][r["rnk"]] = r
    got = {
        r["vec_id"]: r
        for r in specs["embed_silhouette_centroid"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_vec)
    for vid, ranks in by_vec.items():
        a = 1.0 - ranks[1]["cosine"]
        b = 1.0 - ranks[2]["cosine"]
        r = got[vid]
        assert r["assigned"] == ranks[1]["clabel"]
        assert r["a_dist"] == a and r["b_dist"] == b
        want = 0.0 if max(a, b) == 0.0 else (b - a) / max(a, b)
        assert r["silhouette"] == want
        assert -1.0 - 1e-12 <= r["silhouette"] <= 1.0 + 1e-12


def test_new_vs_returning_matches_python(specs, spark, sf_dir):
    """ts_new_vs_returning_daily == Python first-seen replay."""
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select("user_id", "ts").collect()
    first: dict[int, object] = {}
    active: dict = defaultdict(set)
    for r in rows:
        day = r["ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        active[day].add(r["user_id"])
        if r["user_id"] not in first or day < first[r["user_id"]]:
            first[r["user_id"]] = day
    got = {
        r["day"]: r
        for r in specs["ts_new_vs_returning_daily"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(active)
    total_new = 0
    for day, users in active.items():
        n_new = sum(1 for u in users if first[u] == day)
        r = got[day]
        assert r["n_active"] == len(users)
        assert r["n_new"] == n_new
        assert r["n_returning"] == len(users) - n_new
        assert r["new_share"] == float(n_new) / float(len(users))
        total_new += n_new
    # every user is new exactly once
    assert total_new == len(first)


def test_running_distinct_matches_python(specs, spark, sf_dir):
    """win_running_distinct == Python first-occurrence replay."""
    from bigdata_twitter_spark.tables import load

    o = {
        r["o_orderkey"]: (r["o_custkey"], r["o_orderdate"])
        for r in load(spark, sf_dir, "orders").collect()
    }
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    ).collect()
    by_cust: dict[int, list] = defaultdict(list)
    for r in li:
        c, od = o[r["l_orderkey"]]
        by_cust[c].append((od, r["l_orderkey"], r["l_linenumber"], r["l_partkey"]))
    want = {}
    for c, rows in by_cust.items():
        rows.sort()
        seen: set[int] = set()
        per_order: dict[tuple, int] = defaultdict(int)
        order_seq = []
        for od, ok, _ln, p in rows:
            if (od, ok) not in per_order:
                order_seq.append((od, ok))
            if p not in seen:
                seen.add(p)
                per_order[(od, ok)] += 1
            else:
                per_order.setdefault((od, ok), 0)
        cum = 0
        for od, ok in order_seq:
            cum += per_order[(od, ok)]
            want[(c, ok)] = (per_order[(od, ok)], cum)
    got = {
        (r["o_custkey"], r["o_orderkey"]): r
        for r in specs["win_running_distinct"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for key, (n_new, cum) in want.items():
        assert got[key]["n_new_parts"] == n_new
        assert got[key]["cum_distinct_parts"] == cum


def test_burstiness_matches_python(specs, spark, sf_dir):
    """text_burstiness_dispersion == Python exact-moment replay."""
    from bigdata_twitter_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    n = len(docs)
    per_term: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    for r in docs:
        for t in r["text"].split(" "):
            if t:
                per_term[t][r["doc_id"]] += 1
    stats = {
        t: (sum(cs.values()), sum(c * c for c in cs.values()), len(cs))
        for t, cs in per_term.items()
    }
    top = sorted(stats.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    got = {
        r["term"]: r
        for r in specs["text_burstiness_dispersion"].fn(spark, sf_dir).collect()
    }
    assert [r for r, _ in top] == sorted(got, key=lambda t: (-got[t]["total_count"], t))
    for term, (s, ss, ndc) in top:
        r = got[term]
        assert r["total_count"] == s
        assert r["n_docs_containing"] == ndc
        vmr = ((float(ss) - float(s) * float(s) / float(n)) / (float(n) - 1.0)) / (
            float(s) / float(n)
        )
        assert r["vmr"] == vmr
        assert r["vmr"] > 0.0


def test_cohort_ltv_matches_python(specs, spark, sf_dir):
    """ts_cohort_ltv == Python exact-cents cohort replay."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    ).collect()
    first: dict[int, object] = {}
    for r in rows:
        m0 = r["o_orderdate"].replace(
            day=1, hour=0, minute=0, second=0, microsecond=0
        )
        if r["o_custkey"] not in first or m0 < first[r["o_custkey"]]:
            first[r["o_custkey"]] = m0
    grid: dict[tuple, list] = defaultdict(lambda: [0, 0])
    for r in rows:
        cm = first[r["o_custkey"]]
        om = r["o_orderdate"]
        age = (om.year - cm.year) * 12 + (om.month - cm.month)
        g = grid[(cm, age)]
        g[0] += 1
        g[1] += math.floor(r["o_totalprice"] * 100)
    got = {
        (r["cohort_month"], r["age_months"]): r
        for r in specs["ts_cohort_ltv"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(grid)
    cum_check: dict[object, int] = defaultdict(int)
    for cm, age in sorted(grid):
        n, cents = grid[(cm, age)]
        cum_check[cm] += cents
        r = got[(cm, age)]
        assert r["n_orders"] == n
        assert r["revenue_cents"] == cents
        assert r["cum_revenue_cents"] == cum_check[cm]


def test_schema_evolution_versioned_semantics(specs, spark, sf_dir):
    """table_schema_evolution_versioned: v0 untouched, v1 null-fills."""
    import math
    import os

    from bigdata_twitter_spark import scratch
    from bigdata_twitter_spark.tables import load

    events = load(spark, sf_dir, "events").select(
        "event_id", "value"
    ).collect()
    n = len(events)
    scored = [r for r in events if r["event_id"] % 4 == 0]
    want_sum = sum(
        math.floor(r["value"] * 100) + 1000 for r in scored
    )
    rows = {
        r["version"]: r
        for r in specs["table_schema_evolution_versioned"].fn(
            spark, sf_dir
        ).collect()
    }
    assert rows[0]["n_rows"] == n and rows[1]["n_rows"] == n
    assert rows[0]["n_scored"] == 0 and rows[0]["sum_score_cents"] == 0
    assert rows[1]["n_scored"] == len(scored)
    assert rows[1]["sum_score_cents"] == want_sum
    # v0's files never carry the new column; only v1's delta does, so
    # v1's base rows resolve to NULL (n_scored < n_rows above).
    root = scratch.path("events_evolve")
    assert _committed_manifests(root) == {0: ["base"], 1: ["base", "delta1"]}
    base = spark.read.parquet(os.path.join(root, "base")).columns
    delta = spark.read.parquet(os.path.join(root, "delta1")).columns
    assert "score_cents" not in base and "score_cents" in delta


def test_stream_distinct_users_matches_batch(specs, spark, sf_dir):
    """stream_distinct_users_window == batch distinct over closed set."""
    import datetime

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select("ts", "user_id").collect()
    max_ts = max(r["ts"] for r in rows)
    cutoff = max_ts - datetime.timedelta(minutes=10)
    per_hour: dict = defaultdict(set)
    for r in rows:
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        per_hour[h].add(r["user_id"])
    want = {
        h: len(us)
        for h, us in per_hour.items()
        if h + datetime.timedelta(hours=1) <= cutoff
    }
    got = {
        r["window_start"]: r["n_users"]
        for r in specs["stream_distinct_users_window"].fn(spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0


def test_dataset_card_matches_python(specs, spark, sf_dir):
    """train_dataset_card == Python replay of each certified number."""
    from bigdata_twitter_spark.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "lang", "text", "n_chars"
    ).collect()
    n_docs = len(docs)
    n_tokens = 0
    langs = set()
    n_pass = 0
    text_counts: dict[str, int] = defaultdict(int)
    for r in docs:
        toks_all = r["text"].split(" ")
        toks = [t for t in toks_all if t]
        n_tokens += len(toks)
        langs.add(r["lang"])
        uniq_ratio = len(set(toks_all)) / len(toks_all)
        stop_ratio = sum(1 for t in toks_all if t in ("the", "a")) / len(
            toks_all
        )
        q = (
            (1 if 50 <= r["n_chars"] <= 5000 else 0)
            + (1 if uniq_ratio > 0.2 else 0)
            + (1 if stop_ratio < 0.5 else 0)
        )
        n_pass += q >= 2
        text_counts[r["text"]] += 1
    dup_groups = sum(1 for c in text_counts.values() if c > 1)
    redundant = sum(c - 1 for c in text_counts.values() if c > 1)
    [got] = specs["train_dataset_card"].fn(spark, sf_dir).collect()
    assert got["n_docs"] == n_docs
    assert got["n_tokens"] == n_tokens
    assert got["n_langs"] == len(langs)
    assert got["n_quality_pass"] == n_pass
    assert got["n_dup_groups"] == dup_groups
    assert got["n_redundant_docs"] == redundant
    assert got["mean_doc_tokens"] == float(n_tokens) / float(n_docs)
    assert got["quality_pass_rate"] == float(n_pass) / float(n_docs)
    assert got["redundancy_rate"] == float(redundant) / float(n_docs)


def test_spearman_matches_python(specs, spark, sf_dir):
    """agg_spearman_rank_corr == Python doubled-average-rank replay."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    by_g: dict[str, list] = defaultdict(list)
    for r in rows:
        by_g[r["l_returnflag"]].append(
            (int(r["l_quantity"]), math.floor(r["l_extendedprice"] * 100))
        )

    def rank2(vals: list) -> dict:
        from collections import Counter

        c = Counter(vals)
        out, cb = {}, 0
        for v in sorted(c):
            out[v] = 2 * cb + c[v] + 1
            cb += c[v]
        return out

    got = {
        r["l_returnflag"]: r
        for r in specs["agg_spearman_rank_corr"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_g)
    for g, pairs in by_g.items():
        rx = rank2([x for x, _ in pairs])
        ry = rank2([y for _, y in pairs])
        n = len(pairs)
        sx = sum(rx[x] for x, _ in pairs)
        sy = sum(ry[y] for _, y in pairs)
        sxy = sum(rx[x] * ry[y] for x, y in pairs)
        sxx = sum(rx[x] * rx[x] for x, _ in pairs)
        syy = sum(ry[y] * ry[y] for _, y in pairs)
        rho = (float(n) * float(sxy) - float(sx) * float(sy)) / (
            math.sqrt(float(n) * float(sxx) - float(sx) * float(sx))
            * math.sqrt(float(n) * float(syy) - float(sy) * float(sy))
        )
        r = got[g]
        assert r["n"] == n
        assert r["spearman_rho"] == rho
        assert -1.0 - 1e-12 <= rho <= 1.0 + 1e-12


def test_runs_test_matches_python(specs, spark, sf_dir):
    """agg_runs_test == Python sign-sequence replay."""
    import math

    from pyspark.sql import functions as F

    from bigdata_twitter_spark.tables import load

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .count()
        .collect()
    )
    series: dict[str, list] = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["hr"], r["count"]))
    got = {
        r["event_type"]: r
        for r in specs["agg_runs_test"].fn(spark, sf_dir).collect()
    }
    for et, rows in series.items():
        rows.sort()
        signs = []
        for (_, a), (_, b) in zip(rows, rows[1:]):
            if b != a:
                signs.append(1 if b > a else -1)
        n_up = signs.count(1)
        n_down = signs.count(-1)
        if n_up == 0 or n_down == 0:
            assert et not in got
            continue
        n_runs = 1 + sum(
            1 for a, b in zip(signs, signs[1:]) if a != b
        )
        u, v = float(n_up), float(n_down)
        mu = 2.0 * u * v / (u + v) + 1.0
        var = (
            2.0 * u * v * (2.0 * u * v - u - v)
            / ((u + v) * (u + v) * (u + v - 1.0))
        )
        r = got[et]
        assert (r["n_up"], r["n_down"], r["n_runs"]) == (
            n_up, n_down, n_runs,
        )
        assert r["z_stat"] == (float(n_runs) - mu) / math.sqrt(var)


def test_hill_tail_index_matches_python(specs, spark, sf_dir):
    """agg_hill_tail_index == Python top-k order-statistics replay."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from bigdata_twitter_spark.tables import load

    def r8(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-8"), ROUND_HALF_UP)
        )

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    by_g: dict[str, list] = defaultdict(list)
    for r in rows:
        by_g[r["o_orderpriority"]].append(
            (math.floor(r["o_totalprice"] * 100), r["o_orderkey"])
        )
    got = {
        r["o_orderpriority"]: r
        for r in specs["agg_hill_tail_index"].fn(spark, sf_dir).collect()
    }
    for g, vals in by_g.items():
        vals.sort(key=lambda t: (-t[0], t[1]))
        top = [c for c, _ in vals[:100]]
        if len(top) < 100:
            assert g not in got
            continue
        xk = top[-1]
        st = 0.0
        for c in top[:-1]:
            st = st + r8(math.log(float(c) / float(xk)))
        r = got[g]
        assert r["k_minus_1"] == 99
        assert r["hill_mean_log_excess"] == st / 99.0
        assert r["hill_alpha"] == 99.0 / st
        assert r["hill_alpha"] > 0


def test_hill_tail_index_degenerate_tail_is_null_not_crash(
    specs, spark, tmp_path
):
    """A group whose entire top-K is ONE value (price-capped domain;
    the r10 ×100 replication probe hit it) folds st to exactly 0.0 —
    hill_alpha must come back NULL, not raise ANSI DIVIDE_BY_ZERO and
    kill the job."""
    import datetime as dt

    rows = [
        (i, "1-URGENT", "O", 5000.0, dt.datetime(2024, 1, 1), "x")
        for i in range(120)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderpriority string, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = specs["agg_hill_tail_index"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["k_minus_1"] == 99
    assert r["hill_mean_log_excess"] == 0.0
    assert r["hill_alpha"] is None


def test_jsd_langs_matches_python(specs, spark, sf_dir):
    """text_js_divergence_langs == Python shared-support replay."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from bigdata_twitter_spark.tables import load

    def r8(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-8"), ROUND_HALF_UP)
        )

    docs = load(spark, sf_dir, "documents").select("lang", "text").collect()
    tc: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    glob: dict[str, int] = defaultdict(int)
    for r in docs:
        for t in r["text"].split(" "):
            if t:
                tc[r["lang"]][t] += 1
                glob[t] += 1
    top = [
        t for t, _ in sorted(glob.items(), key=lambda kv: (-kv[1], kv[0]))[:64]
    ]
    langs = sorted(tc)
    dist = {}
    for lg in langs:
        n = sum(tc[lg].values())
        d = {s: tc[lg].get(s, 0) / n for s in top}
        d["\x7f_other"] = (n - sum(tc[lg].get(s, 0) for s in top)) / n
        dist[lg] = d
    got = {
        (r["lang_a"], r["lang_b"]): r["jsd_nats"]
        for r in specs["text_js_divergence_langs"].fn(spark, sf_dir).collect()
    }
    assert len(got) == len(langs) * (len(langs) - 1) // 2
    slots = sorted(top + ["\x7f_other"])
    for i, a in enumerate(langs):
        for b in langs[i + 1 :]:
            js = 0.0
            for s in slots:
                p, q = dist[a][s], dist[b][s]
                m = (p + q) / 2.0
                t = -(m * math.log(m) if m > 0.0 else 0.0) + (
                    (p * math.log(p) if p > 0.0 else 0.0)
                    + (q * math.log(q) if q > 0.0 else 0.0)
                ) / 2.0
                js = js + r8(t)
            assert got[(a, b)] == js + 0.0
            assert -1e-9 <= got[(a, b)] <= math.log(2.0) + 1e-9


def test_lorenz_curve_matches_python(specs, spark, sf_dir):
    """agg_lorenz_curve == Python exact decile-cut replay."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    by_g: dict[str, list] = defaultdict(list)
    for r in rows:
        by_g[r["o_orderpriority"]].append(
            (math.floor(r["o_totalprice"] * 100), r["o_orderkey"])
        )
    got = {
        (r["o_orderpriority"], r["decile"]): r
        for r in specs["agg_lorenz_curve"].fn(spark, sf_dir).collect()
    }
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        per_dec: dict[int, list] = defaultdict(lambda: [0, 0])
        for rnk, (cents, _) in enumerate(vals, start=1):
            d = next(dd for dd in range(1, 11) if rnk * 10 <= n * dd or dd == 10)
            per_dec[d][0] += 1
            per_dec[d][1] += cents
        total = sum(c for _, c in per_dec.values())
        cum = 0
        for d in sorted(per_dec):
            cnt, cents = per_dec[d]
            cum += cents
            r = got[(g, d)]
            assert r["n_orders"] == cnt
            assert r["decile_cents"] == cents
            assert r["cum_share"] == float(cum) / float(total)
        # Lorenz curve ends at exactly 1 and is convex-increasing
        assert got[(g, max(per_dec))]["cum_share"] == 1.0


def test_trimmed_mean_matches_python(specs, spark, sf_dir):
    """agg_trimmed_mean == Python exact rank-trim replay."""
    import math

    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    by_g: dict[str, list] = defaultdict(list)
    for r in rows:
        by_g[r["o_orderpriority"]].append(
            (math.floor(r["o_totalprice"] * 100), r["o_orderkey"])
        )
    got = {
        r["o_orderpriority"]: r
        for r in specs["agg_trimmed_mean"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(by_g)
    for g, vals in by_g.items():
        vals.sort()
        n = len(vals)
        kept = [
            c
            for rnk, (c, _) in enumerate(vals, start=1)
            if rnk * 20 > n and rnk * 20 <= 19 * n
        ]
        r = got[g]
        assert r["n_total"] == n
        assert r["n_kept"] == len(kept)
        assert r["kept_cents"] == sum(kept)
        assert r["trimmed_mean_cents"] == float(sum(kept)) / float(
            len(kept)
        )
        # robustness: trimmed mean sits inside the kept range
        assert kept[0] <= r["trimmed_mean_cents"] <= kept[-1]


def test_dow_hod_heatmap_matches_python(specs, spark, sf_dir):
    """ts_dow_hod_heatmap == Python calendar replay (Spark dow conv)."""
    from bigdata_twitter_spark.tables import load

    rows = load(spark, sf_dir, "events").select("ts", "event_type").collect()
    n = len(rows)
    grid: dict[tuple, int] = defaultdict(int)
    for r in rows:
        # Spark dayofweek: 1=Sunday..7; Python isoweekday: 1=Mon..7=Sun
        dow = r["ts"].isoweekday() % 7 + 1
        grid[(dow, r["ts"].hour, r["event_type"])] += 1
    got = {
        (r["dow"], r["hod"], r["event_type"]): r
        for r in specs["ts_dow_hod_heatmap"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(grid)
    for key, cnt in grid.items():
        assert got[key]["n_events"] == cnt
        assert got[key]["share_of_total"] == float(cnt) / float(n)
    assert sum(r["n_events"] for r in got.values()) == n
