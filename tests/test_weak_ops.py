"""Cross-validation for operators without a DuckDB oracle.

The driver only checks rows>=0 for these; here we pin their semantics:
- MinHash-LSH candidates must cover every exact-Jaccard pair ≥ 0.9
  (with 8 bands × 4 rows, P(miss | jac=.98) < 1e-9).
- SimHash candidates must cover the planted near-identical pairs too
  (hamming ≤ 6 at ~99% token overlap).
- approx_count_distinct must land within 3×rsd of the exact count.
"""

from __future__ import annotations

from bigdata_twitter_spark.registry import load_all_operators

SPECS = load_all_operators()

# VERDICT r4 #8: the 7 contract-weak (rows-only) keys' exactness/recall
# pins run at BOTH harness scales, so a bound that only holds on the
# tiny fixture (or only on the bigger one) cannot silently pass.
import pytest as _pytest


@_pytest.fixture(
    params=["/root/testdata/sf0.001", "/root/testdata/sf0.01"],
    ids=["sf0.001", "sf0.01"],
    scope="module",
)
def weak_sf_dir(request):
    return request.param


def _pairs(df, a="a_id", b="b_id") -> set[tuple[int, int]]:
    return {(r[a], r[b]) for r in df.collect()}


def test_lsh_covers_exact_jaccard_pairs(spark, weak_sf_dir):
    exact = SPECS["dedup_fuzzy_jaccard"].fn(spark, weak_sf_dir)
    high = _pairs(exact.filter("jaccard >= 0.9"))
    assert high, "fixture should contain planted near-dup pairs"
    candidates = _pairs(SPECS["dedup_minhash_lsh"].fn(spark, weak_sf_dir))
    missed = high - candidates
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_md5_minhash_twin_covers_exact_jaccard_pairs(spark, weak_sf_dir):
    """The hash-grade md5 twin (16 seeds, 4x4 bands) must keep the
    same planted-pair recall as the 32-seed fast path."""
    exact = SPECS["dedup_fuzzy_jaccard"].fn(spark, weak_sf_dir)
    high = _pairs(exact.filter("jaccard >= 0.9"))
    assert high
    candidates = _pairs(SPECS["dedup_minhash_md5"].fn(spark, weak_sf_dir))
    missed = high - candidates
    assert not missed, f"md5 LSH twin missed high-jaccard pairs: {missed}"


def test_simhash_covers_planted_pairs(spark, weak_sf_dir):
    exact = SPECS["dedup_fuzzy_jaccard"].fn(spark, weak_sf_dir)
    high = _pairs(exact.filter("jaccard >= 0.95"))
    sim = _pairs(SPECS["dedup_simhash"].fn(spark, weak_sf_dir))
    missed = high - sim
    assert not missed, f"simhash missed near-identical pairs: {missed}"


def _py_md5_simhash(text: str) -> int:
    """Independent Python reimplementation of the md5 simhash (same
    bit-extraction convention as the operator and its oracle)."""
    import hashlib

    votes = [0] * 64
    for tok in text.lower().split(" "):
        h = hashlib.md5(tok.encode()).hexdigest()[:16]
        for b in range(64):
            v = int(h[b // 4], 16)
            bit = (v >> (b % 4)) & 1
            votes[b] += 1 if bit else -1
    out = 0
    for b in range(64):
        if votes[b] > 0:
            out |= 1 << b
    return out - (1 << 64) if out >= 1 << 63 else out


def test_md5_simhash_twin_misses_only_beyond_banding_contract(
    spark, weak_sf_dir
):
    """A jaccard>=0.95 pair the twin misses must sit at hamming > 7
    under the md5 family (the 8x8 banding contract excludes it — a
    family-boundary effect, not a pipeline bug), verified against an
    independent Python reimplementation; in-contract recall must be
    perfect and overall recall high."""
    from bigdata_twitter_spark.tables import load

    exact = SPECS["dedup_fuzzy_jaccard"].fn(spark, weak_sf_dir)
    high = _pairs(exact.filter("jaccard >= 0.95"))
    assert high
    sim = _pairs(SPECS["dedup_simhash_md5"].fn(spark, weak_sf_dir))
    missed = high - sim
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, weak_sf_dir, "documents").collect()
    }
    for a, b in missed:
        d = bin(
            (_py_md5_simhash(texts[a]) ^ _py_md5_simhash(texts[b]))
            & ((1 << 64) - 1)
        ).count("1")
        assert d > 7, (a, b, d, "in-contract pair missed: real bug")
    assert len(missed) <= max(1, len(high) // 5), (
        f"recall too low: missed {len(missed)} of {len(high)}"
    )


def test_bucketed_pairs_cover_exact_pairs(spark, weak_sf_dir):
    """SRP-LSH bucketed mining must (a) never invent a pair the exact
    O(n²) baseline lacks and (b) recall every pair at τ + margin
    (16 bands × 2 bits ⇒ per-pair miss ≈ 3e-4 at cosine 0.4)."""
    exact = SPECS["sim_pairs_threshold"].fn(spark, weak_sf_dir)
    exact_all = _pairs(exact)
    exact_high = _pairs(exact.filter("cosine >= 0.45"))
    assert exact_all, "fixture should contain pairs at cosine >= 0.4"
    bucketed = _pairs(SPECS["sim_pairs_bucketed"].fn(spark, weak_sf_dir))
    assert not (bucketed - exact_all), "bucketed invented pairs"
    missed = exact_high - bucketed
    assert not missed, f"bucketed missed high-cosine pairs: {missed}"


def test_shingles_short_doc_guard(spark):
    """Docs with <3 tokens must yield empty shingle arrays (Spark's
    sequence(1, size-2) would otherwise DESCEND and crash on
    element_at(toks, 0)), mirroring the oracle's empty range()."""
    from pyspark.sql import functions as F

    from bigdata_twitter_spark.llm.dedup import _shingles_expr

    df = spark.createDataFrame(
        [("",), ("a",), ("a b",), ("a b c",), ("a b c d",)], ["text"]
    ).withColumn("toks", F.split(F.lower(F.col("text")), " "))
    lens = [len(r["sh"]) for r in df.select(_shingles_expr().alias("sh")).collect()]
    assert lens == [0, 0, 0, 1, 2]


def test_ivf_recall_vs_exact_topk(spark, sf_dir):
    """IVF probing is exact w.r.t. its oracle by construction; this
    pins the *quality* claim: the probed search must recover a
    non-trivial share of the exact brute-force top-10 (near-random
    fixture vectors put only a soft floor on recall@10)."""
    exact = {
        r["vec_id"]
        for r in SPECS["sim_cosine_topk"].fn(spark, sf_dir).collect()
    }
    ivf = {
        r["vec_id"] for r in SPECS["sim_ivf_topk"].fn(spark, sf_dir).collect()
    }
    assert len(ivf) == 10
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.2, f"IVF recall@10 collapsed: {recall}"


def test_components_cover_all_paired_docs(spark, sf_dir):
    """Every doc in a Jaccard pair lands in exactly one component whose
    keeper is the component's minimum doc_id."""
    pairs = SPECS["dedup_fuzzy_jaccard"].fn(spark, sf_dir).collect()
    paired = {r["a_id"] for r in pairs} | {r["b_id"] for r in pairs}
    comp = SPECS["dedup_components"].fn(spark, sf_dir).collect()
    assert {r["doc_id"] for r in comp} == paired
    by_comp: dict[int, list[int]] = {}
    for r in comp:
        by_comp.setdefault(r["component_id"], []).append(r["doc_id"])
        assert r["is_keeper"] == (r["doc_id"] == r["component_id"])
    for cid, members in by_comp.items():
        assert cid == min(members)


def test_hll_sketch_close_to_exact(spark, weak_sf_dir):
    """The merged daily HLL sketches must estimate per-type distinct
    users within standard HLL error (lgK=12 ⇒ rsd ≈ 1.6%; allow 5%)."""
    exact = {
        r["event_type"]: r["n_users"]
        for r in SPECS["agg_count_distinct"].fn(spark, weak_sf_dir).collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in SPECS["agg_hll_sketch"].fn(spark, weak_sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n), (k, n, approx[k])


def test_embedding_dedup_matches_exact_pairs(spark, sf_dir):
    """dedup_embedding's keep/drop decisions derived from the bucketed
    miner must equal the decisions derived from the exact O(n²) pair
    baseline (possible because the miner's pair set == exact pair set
    at this threshold, pinned above)."""
    pairs = _pairs(SPECS["sim_pairs_threshold"].fn(spark, sf_dir))
    neigh: dict[int, set[int]] = {}
    for a, b in pairs:
        neigh.setdefault(a, set()).add(b)
        neigh.setdefault(b, set()).add(a)
    got = SPECS["dedup_embedding"].fn(spark, sf_dir).collect()
    assert len(got) == len({r["doc_id"] for r in got})
    for r in got:
        nb = neigh.get(r["doc_id"], set())
        assert r["n_dups"] == len(nb)
        expect_keep = not nb or min(nb) > r["doc_id"]
        assert r["is_kept"] == expect_keep, (r, sorted(nb))
    dropped = sum(1 for r in got if not r["is_kept"])
    assert dropped > 0, "fixture should force at least one drop"


def test_approx_distinct_close_to_exact(spark, weak_sf_dir):
    exact = {
        r["event_type"]: r["n_users"]
        for r in SPECS["agg_count_distinct"].fn(spark, weak_sf_dir).collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in SPECS["agg_approx_count_distinct"].fn(spark, weak_sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.06 * n), (k, n, approx[k])


def test_approx_percentile_close_to_exact(spark, weak_sf_dir):
    """percentile_approx's guarantee is a RANK bound: the returned value
    is an actual group element whose rank is within n/accuracy (+1 for
    the exact quantile's interpolation between two neighbors) of the
    target rank.  Assert exactly that, per group and percentile."""
    from collections import defaultdict

    from bigdata_twitter_spark.tables import load

    vals = defaultdict(list)
    for r in load(spark, weak_sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect():
        vals[r[0]].append(r[1])
    approx = {
        r["o_orderpriority"]: (r["p50"], r["p90"], r["p99"])
        for r in SPECS["agg_approx_percentile"].fn(spark, weak_sf_dir).collect()
    }
    assert set(vals) == set(approx)
    for grp, xs in vals.items():
        xs.sort()
        n = len(xs)
        max_rank_err = n / 10000 + 1
        for p, a in zip((0.50, 0.90, 0.99), approx[grp]):
            assert a in xs, (grp, p, a)
            rank = xs.index(a)
            assert abs(rank - p * (n - 1)) <= max_rank_err, (grp, p, a, rank, n)


def test_pagerank_matches_numpy_power_iteration(spark, sf_dir):
    """Every Spark PageRank value must match an exact numpy power
    iteration over the same co-purchase graph (same damping, same
    iteration count) within float tolerance."""
    import numpy as np

    from bigdata_twitter_spark.operators.graph import (
        DAMPING,
        ITERATIONS,
        PART_OFFSET,
        copurchase_edges,
    )

    edges = [
        (r["src"], r["dst"])
        for r in copurchase_edges(spark, sf_dir).collect()
    ]
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    deg = np.zeros(n)
    for s, _ in edges:
        deg[idx[s]] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(ITERATIONS):
        nxt = np.full(n, (1.0 - DAMPING) / n)
        contrib = rank / deg
        for s, d in edges:
            nxt[idx[d]] += DAMPING * contrib[idx[s]]
        rank = nxt
    got = SPECS["graph_pagerank"].fn(spark, sf_dir).collect()
    assert len(got) == n
    for r in got:
        v = r["vertex"] + (PART_OFFSET if r["is_part"] else 0)
        expect = rank[idx[v]]
        assert abs(r["rank"] - expect) <= 1e-9 * max(1.0, abs(expect)) + 1e-12, (
            v, r["rank"], expect,
        )
    # Sanity: ranks form a probability distribution (no lost mass).
    assert abs(sum(r["rank"] for r in got) - 1.0) < 1e-6


def test_pca_matches_numpy_exact(spark, weak_sf_dir):
    """Every projected coordinate from the distributed moment-fold PCA
    must match an exact numpy PCA over the same rows (same mean
    centering, same sign canonicalization) to tight float tolerance."""
    import numpy as np

    from bigdata_twitter_spark.llm.pca import N_COMPONENTS
    from bigdata_twitter_spark.tables import load

    rows = (
        load(spark, weak_sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r["vec_id"] for r in rows]
    x = np.array([r["embedding"] for r in rows], dtype="float64")
    mu = x.mean(axis=0)
    cov = np.cov(x, rowvar=False)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:N_COMPONENTS]
    comps = eigvecs[:, order]
    for j in range(comps.shape[1]):
        pivot = comps[np.argmax(np.abs(comps[:, j])), j]
        if pivot < 0:
            comps[:, j] = -comps[:, j]
    expect = {i: (x[k] - mu) @ comps for k, i in enumerate(ids)}

    got = SPECS["embed_pca_project"].fn(spark, weak_sf_dir).collect()
    assert len(got) == len(ids)
    for r in got:
        e = expect[r["vec_id"]]
        for j in range(N_COMPONENTS):
            assert abs(r[f"pc{j + 1}"] - e[j]) <= 1e-6 * max(1.0, abs(e[j])), (
                r["vec_id"], j, r[f"pc{j + 1}"], e[j],
            )
    # The top component must actually carry more variance than the 2nd.
    p1 = np.array([r["pc1"] for r in got])
    p2 = np.array([r["pc2"] for r in got])
    assert p1.var() >= p2.var()


def _det_mean_np(members):
    """Exact replica of the engine's order-independent centroid mean:
    per-dimension sorted left-fold sum (IEEE double, ascending order)
    divided by the member count — bit-identical to Spark's
    aggregate(array_sort(collect_list(val)), 0.0, +) / count."""
    import numpy as np

    out = np.empty(members.shape[1])
    for p in range(members.shape[1]):
        s = 0.0
        for v in sorted(members[:, p].tolist()):
            s += v
        out[p] = s / members.shape[0]
    return out


def test_kmeans_matches_numpy_lloyd(spark, sf_dir):
    """Spark's deterministic Lloyd assignment must equal an exact numpy
    re-run of the identical algorithm (same init, same iteration count,
    same smallest-cid tiebreak, same sorted-fold centroid mean);
    distances agree to float tolerance."""
    import numpy as np

    from bigdata_twitter_spark.llm.kmeans import ITERS, k_for
    from bigdata_twitter_spark.tables import load

    rows = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    K = k_for(len(ids))
    cent = X[:K].copy()
    for _ in range(ITERS):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # argmin takes the first (smallest cid)
        for c in range(K):
            members = X[assign == c]
            if len(members):
                cent[c] = _det_mean_np(members)
    d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    best = d.min(axis=1)
    expect = {v: (int(a), float(b)) for v, a, b in zip(ids, assign, best)}

    got = SPECS["cluster_kmeans_lloyd"].fn(spark, sf_dir).collect()
    assert len(got) == len(ids)
    for r in got:
        ea, eb = expect[r["vec_id"]]
        assert r["cluster"] == ea, (r["vec_id"], r["cluster"], ea)
        assert abs(r["dist6"] - round(eb, 6)) <= 1e-6, (r["vec_id"],)


def test_semantic_dedup_matches_numpy(spark, sf_dir):
    """dedup_semantic_cluster must equal a numpy re-run of the full
    pipeline: identical Lloyd clustering, in-cluster cosine pairs at
    the shared threshold, keep-first rule."""
    import numpy as np

    from bigdata_twitter_spark.llm.kmeans import ITERS, k_for
    from bigdata_twitter_spark.llm.vectors import PAIR_COSINE_THRESHOLD
    from bigdata_twitter_spark.tables import load

    rows = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    K = k_for(len(ids))
    cent = X[:K].copy()
    for _ in range(ITERS):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(K):
            members = X[assign == c]
            if len(members):
                cent[c] = _det_mean_np(members)
    d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)

    norms = np.sqrt((X**2).sum(axis=1))
    cos = (X @ X.T) / np.outer(norms, norms)
    n = len(ids)
    n_dups = np.zeros(n, dtype=int)
    min_nb = np.full(n, np.inf)
    for i in range(n):
        for j in range(i + 1, n):
            if assign[i] != assign[j]:
                continue
            # Match the engine exactly: cosine rounded to 6dp
            # (llm/vectors.py convention) before thresholding.
            if round(cos[i, j], 6) >= PAIR_COSINE_THRESHOLD:
                n_dups[i] += 1
                n_dups[j] += 1
                min_nb[i] = min(min_nb[i], ids[j])
                min_nb[j] = min(min_nb[j], ids[i])
    expect = {
        int(ids[i]): (
            int(assign[i]),
            int(n_dups[i]),
            bool(np.isinf(min_nb[i]) or min_nb[i] > ids[i]),
        )
        for i in range(n)
    }

    got = SPECS["dedup_semantic_cluster"].fn(spark, sf_dir).collect()
    assert len(got) == n
    for r in got:
        ec, en, ek = expect[r["vec_id"]]
        assert (r["cluster"], r["n_sem_dups"], r["is_kept"]) == (ec, en, ek), (
            r["vec_id"], (r["cluster"], r["n_sem_dups"], r["is_kept"]), (ec, en, ek),
        )


def test_kmeans_two_tier_matches_numpy(spark, tmp_path, monkeypatch):
    """Past the flat clamp (k_total > K_MAX) the two-tier path must
    equal an exact numpy replica — coarse router, per-cell first-K
    init, sorted-fold means, smallest-sub tiebreak — and cluster
    occupancy must stay bounded ≈ TARGET (the r3 clamp quadratic is
    gone).  TARGET is shrunk so the regime flips at test-sized n."""
    import numpy as np

    from bigdata_twitter_spark.llm import kmeans as km

    monkeypatch.setattr(km, "TARGET_CLUSTER_SIZE", 25)
    n = 3300
    rng = np.random.default_rng(7)
    Xf = rng.standard_normal((n, km.DIM)).astype(np.float32)
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, [float(x) for x in Xf[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    X = Xf.astype(np.float64)
    k_total = km.k_total_for(n)
    assert k_total > km.K_MAX  # must exercise the two-tier path
    k1 = min(km.K_MAX, max(km.K_MIN, int(round(k_total**0.5))))
    cent = X[:k1].copy()
    for _ in range(km.ITERS):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(k1):
            m = X[a == c]
            if len(m):
                cent[c] = _det_mean_np(m)
    cell = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)

    model: dict[tuple[int, int], object] = {}
    for c in np.unique(cell):
        idx = np.where(cell == c)[0]  # vec_id ascending (ids are 0..n-1)
        kc = min(km.K_MAX, max(1, -(-len(idx) // km.TARGET_CLUSTER_SIZE)))
        for s in range(min(kc, len(idx))):
            model[(int(c), s)] = X[idx[s]].copy()

    def _cell_assign():
        sub = np.empty(n, dtype=int)
        dist = np.empty(n)
        for c in np.unique(cell):
            idx = np.where(cell == c)[0]
            subs = sorted(s for (cc, s) in model if cc == int(c))
            C = np.array([model[(int(c), s)] for s in subs])
            d = ((X[idx][:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            best = d.argmin(axis=1)  # first min → smallest sub
            sub[idx] = np.array(subs)[best]
            dist[idx] = d[np.arange(len(idx)), best]
        return sub, dist

    for _ in range(km.ITERS):
        sub, _ = _cell_assign()
        for (c, s) in list(model):
            m = X[(cell == c) & (sub == s)]
            if len(m):
                model[(c, s)] = _det_mean_np(m)
    sub, dist = _cell_assign()
    expect = {
        i: (int(cell[i]) * km.K_MAX + int(sub[i]), float(dist[i]))
        for i in range(n)
    }

    got = km.cluster_kmeans_lloyd(spark, sf_dir).collect()
    assert len(got) == n
    sizes: dict[int, int] = {}
    for r in got:
        ec, ed = expect[r["vec_id"]]
        assert r["cluster"] == ec, (r["vec_id"], r["cluster"], ec)
        assert abs(r["dist6"] - round(ed, 6)) <= 1e-6, (r["vec_id"],)
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
    # The point of the fix: occupancy stays ≈ TARGET, never n/K_MAX-free.
    assert max(sizes.values()) <= 8 * km.TARGET_CLUSTER_SIZE


def test_hot_bucket_cap_fires_visibly(
    spark, tmp_path, monkeypatch, caplog
):
    """A >cap group of identical vectors must (a) lose its pairs — the
    documented contract — and (b) be COUNTED in the run record and
    logged, never dropped silently; normal corpora report zero drops."""
    from bigdata_twitter_spark import obs
    from bigdata_twitter_spark.llm import bucketed as bk

    n_dup, n_ok = 12, 6
    rows = [(i, [1.0] * 64) for i in range(n_dup)]  # identical block
    # A few well-separated singletons (orthogonal-ish, non-colliding).
    for j in range(n_ok):
        v = [0.0] * 64
        v[j] = 1.0
        v[(j + 7) % 64] = -1.0
        rows.append((1000 + j, v))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    monkeypatch.setattr(bk, "HOT_BUCKET_CAP", n_dup - 1)
    got = bk.sim_pairs_bucketed(spark, sf_dir)
    # VERDICT r14 item 1: hot buckets are keep-filtered BEFORE the
    # payload shuffle (anti-join in the plan), so a degenerate bucket
    # never materializes as one Arrow group in a Python worker.
    assert "LeftAnti" in got._jdf.queryExecution().executedPlan().toString()
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    # The identical block shares EVERY band bucket at >cap occupancy,
    # so none of its pairs can be mined ...
    assert not any(a < n_dup and b < n_dup for a, b in pairs), pairs
    # ... and the audit must say exactly that.
    audit = obs.last("sim_pairs_bucketed")
    assert audit["dropped_groups"] > 0
    assert audit["dropped_rows"] >= n_dup
    assert "sim_pairs_bucketed: hot-group cap" in caplog.text
    # Cap off again: pairs return and the audit resets to zero; the
    # clean path stays join-free (no anti-join on normal corpora).
    caplog.clear()
    monkeypatch.setattr(bk, "HOT_BUCKET_CAP", 10_000)
    got = bk.sim_pairs_bucketed(spark, sf_dir)
    assert (
        "LeftAnti" not in got._jdf.queryExecution().executedPlan().toString()
    )
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    assert {(a, b) for a in range(n_dup) for b in range(a + 1, n_dup)} <= pairs
    assert obs.last("sim_pairs_bucketed") == {
        "dropped_groups": 0, "dropped_rows": 0
    }
    assert "hot-group cap" not in caplog.text


def test_round6_parity_spark_vs_python_emulation(spark):
    """Pin the claim in llm/bucketed.py that the Python
    repr→Decimal(HALF_UP) loop is bit-identical to Spark's F.round(x, 6)
    ON THE RUNNING JVM (Double.toString shortest-repr behavior differs
    pre/post JDK 19 for rare values — JDK-4511638).  Adversarial set:
    exact 6dp-boundary halves, their float neighbors one ulp either
    side, and a deterministic pseudo-random cloud in [0, 1]."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pyspark.sql.functions as F

    vals: list[float] = []
    for k in range(0, 1_000_000, 7919):  # boundary halves (k + 0.5)/1e6
        v = (k + 0.5) / 1e6
        vals.extend([v, math.nextafter(v, 0.0), math.nextafter(v, 1.0)])
    x = 0.5
    for _ in range(2000):  # deterministic LCG cloud, no Math.random
        x = (x * 9301 + 49297) % 233280
        vals.append(x / 233280.0)
    sdf = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.col("x"), F.round("x", 6).alias("r6")
    )
    q6 = Decimal("0.000001")
    for row in sdf.collect():
        py = float(Decimal(repr(row["x"])).quantize(q6, rounding=ROUND_HALF_UP))
        assert py == row["r6"], (row["x"].hex(), py, row["r6"])


def test_lsh_hot_bucket_cap_fires_visibly(
    spark, tmp_path, monkeypatch, caplog
):
    """A degenerate near-identical clique above the occupancy cap must
    (a) lose its pairwise listing — the documented contract; pairwise
    output on a c-clique is O(c²) and belongs to dedup_components —
    and (b) be COUNTED in the run record and logged, never dropped
    silently; normal corpora must report zero drops."""
    from bigdata_twitter_spark import obs
    from bigdata_twitter_spark.llm import dedup as dd

    n_dup, n_ok = 10, 4
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(n_dup)]  # identical clique
    for j in range(n_ok):
        rows.append((1000 + j, f"w{j}a w{j}b w{j}c w{j}d w{j}e w{j}f w{j}g"))
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf_dir}/documents.parquet"
    )

    monkeypatch.setattr(dd, "LSH_HOT_BUCKET_CAP", n_dup - 1)
    hot_df = dd.dedup_minhash_lsh(spark, sf_dir)
    # VERDICT r14 item 1: hot buckets are keep-filtered BEFORE the
    # collect_list groupBy (anti-join in the plan), so a degenerate
    # clique never builds an unbounded aggregation buffer.
    assert "LeftAnti" in hot_df._jdf.queryExecution().executedPlan().toString()
    got = _pairs(hot_df)
    # The clique shares EVERY band bucket at >cap occupancy: no pairs...
    assert not any(a < n_dup and b < n_dup for a, b in got), got
    # ...and the audit says exactly that.
    audit = obs.last("dedup_minhash_lsh")
    assert audit["dropped_groups"] > 0
    assert audit["dropped_rows"] >= n_dup
    assert "dedup_minhash_lsh: hot-group cap" in caplog.text
    # Cap off again: the clique pairs return, audit resets to zero;
    # the clean path stays anti-join-free.
    caplog.clear()
    monkeypatch.setattr(dd, "LSH_HOT_BUCKET_CAP", 10_000)
    clean_df = dd.dedup_minhash_lsh(spark, sf_dir)
    assert (
        "LeftAnti"
        not in clean_df._jdf.queryExecution().executedPlan().toString()
    )
    got = _pairs(clean_df)
    assert {(a, b) for a in range(n_dup) for b in range(a + 1, n_dup)} <= got
    assert obs.last("dedup_minhash_lsh") == {
        "dropped_groups": 0, "dropped_rows": 0
    }
    assert "hot-group cap" not in caplog.text


def test_embedding_oracle_regime_guard_fires_past_exact_max(
    spark, tmp_path, monkeypatch
):
    """ADVICE r5 residual: at n > EXACT_PAIRS_MAX the operator must
    fail FAST with the named regime error when a harness declares
    exact-oracle intent (the silent alternative would hash-compare
    the probabilistic LSH path against the exact all-pairs oracle),
    and the parity harness must downgrade that to a rows-only check
    instead of reporting a bogus mismatch."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_twitter_spark.llm.embdedup import (
        EXACT_PAIRS_MAX,
        EXPECT_EXACT_ORACLE_ENV,
        ExactOracleRegimeExceeded,
        dedup_embedding,
    )
    from .parity import check_query

    n = EXACT_PAIRS_MAX + 100  # 1600 vectors > the exact-path bound
    rng = np.random.default_rng(7)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [rng.standard_normal(8).astype("float32") for _ in range(n)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 4 for i in range(n)], pa.int32()),
        }
    )
    docs = pa.Table.from_pandas(
        pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype="int64"),
                "text": ["t"] * n,
                "lang": ["en"] * n,
                "source": ["s"] * n,
                "n_chars": np.ones(n, dtype="int64"),
            }
        )
    )
    pq.write_table(emb, str(tmp_path / "embeddings.parquet"))
    pq.write_table(docs, str(tmp_path / "documents.parquet"))

    # 1. the operator-side guard fires under declared intent
    monkeypatch.setenv(EXPECT_EXACT_ORACLE_ENV, "1")
    with _pytest.raises(ExactOracleRegimeExceeded):
        dedup_embedding(spark, str(tmp_path))
    monkeypatch.delenv(EXPECT_EXACT_ORACLE_ENV)

    # 2. without intent the LSH path runs normally (no guard)
    assert dedup_embedding(spark, str(tmp_path)).count() == n

    # 3. the parity harness downgrades to rows-only, does not fail,
    #    and does not leak the intent flag
    check_query(spark, str(tmp_path), "dedup_embedding")
    import os

    assert EXPECT_EXACT_ORACLE_ENV not in os.environ
