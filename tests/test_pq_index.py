"""PQ / IVFADC build-serve split contracts (round 14, VERDICT r13
"Next round" #2):

1. the codebook + encoded corpus persist as versioned artifacts under
   the shared fingerprint-keyed ANN index root (families "pq" and
   "ivfpq"), built once and REUSED — a second query call never
   re-trains or re-encodes;
2. the serve plan physically reads the committed index parquet
   (``inputFiles`` contains the artifact paths), i.e. the encode
   pass is not re-derived from the corpus at query time;
3. the artifacts and the flat IVF index coexist under one root
   without clobbering each other's manifests.
"""

from __future__ import annotations

import os
import shutil

import pytest

from bigdata_twitter_spark import obs
from bigdata_twitter_spark.llm import annindex
from bigdata_twitter_spark.registry import load_all_operators

SPECS = load_all_operators()


def _rm_roots_for(sf_dir: str) -> None:
    digest = annindex._path_digest(sf_dir)
    base = annindex.INDEX_BASE
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        if d.startswith(digest + "-"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


@pytest.fixture()
def own_sf_dir(sf_dir, tmp_path):
    d = tmp_path / "sf_copy"
    d.mkdir()
    for t in ("embeddings",):
        shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    yield str(d)
    _rm_roots_for(str(d))


def test_pq_serve_reuses_persisted_artifact(spark, own_sf_dir):
    SPECS["embed_pq_adc_topk"].fn(spark, own_sf_dir).collect()
    first = obs.last("embed_pq_adc_topk")
    assert first["rebuilt"] is True and first["version"] == 0
    SPECS["embed_pq_adc_topk"].fn(spark, own_sf_dir).collect()
    second = obs.last("embed_pq_adc_topk")
    assert second["rebuilt"] is False
    assert second["index_files"] == first["index_files"]


def test_pq_serve_plan_reads_index_files_not_reencode(spark, own_sf_dir):
    df = SPECS["embed_pq_adc_topk"].fn(spark, own_sf_dir)
    info = obs.last("embed_pq_adc_topk")
    read = df.inputFiles()
    for part in ("codebook", "codes"):
        prefix = next(p for p in info["index_files"] if p.endswith(part))
        assert any(prefix in f for f in read), (part, read)


def test_ivfpq_serve_reuses_persisted_artifact(spark, own_sf_dir):
    SPECS["embed_ivfpq_topk"].fn(spark, own_sf_dir).collect()
    first = obs.last("embed_ivfpq_topk")
    assert first["rebuilt"] is True and first["version"] == 0
    SPECS["embed_ivfpq_topk"].fn(spark, own_sf_dir).collect()
    second = obs.last("embed_ivfpq_topk")
    assert second["rebuilt"] is False
    assert second["index_files"] == first["index_files"]
    df = SPECS["embed_ivfpq_topk"].fn(spark, own_sf_dir)
    read = df.inputFiles()
    for part in ("coarse", "codebook", "codes"):
        prefix = next(p for p in second["index_files"] if p.endswith(part))
        assert any(prefix in f for f in read), (part, read)


def test_families_coexist_under_one_root(spark, own_sf_dir):
    """pq, ivfpq and the flat IVF index share the fingerprint root
    but keep independent manifests/data dirs."""
    SPECS["embed_pq_adc_topk"].fn(spark, own_sf_dir).collect()
    pq_info = obs.last("embed_pq_adc_topk")
    SPECS["embed_ivfpq_topk"].fn(spark, own_sf_dir).collect()
    ivfpq_info = obs.last("embed_ivfpq_topk")
    SPECS["ann_index_build"].fn(spark, own_sf_dir).collect()
    ann_info = obs.last("ann_index_build")
    root = pq_info["root"]
    assert ivfpq_info["root"] == root and ann_info["root"] == root
    assert os.path.isdir(os.path.join(root, "manifests"))
    assert os.path.isdir(os.path.join(root, "pq", "manifests"))
    assert os.path.isdir(os.path.join(root, "ivfpq", "manifests"))
    # Re-serving PQ after the others still reuses (no cross-family
    # manifest interference).
    SPECS["embed_pq_adc_topk"].fn(spark, own_sf_dir).collect()
    assert obs.last("embed_pq_adc_topk")["rebuilt"] is False
