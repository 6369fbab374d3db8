#!/usr/bin/env python
"""ANN build/serve split probe (round 14, VERDICT r13 "Next round"
#3 + #2 evidence).

The r13 ×1000 ladder row for ``ann_index_search`` (25.5 s) CONFLATED
the one-time cold index build with the steady-state serve (best-of-1
could not split them).  This probe fixes the protocol, for the flat
IVF index AND the two quantized artifacts added in r14:

1. materialize the ×N embeddings corpus (scale_probe's per-copy
   rotation isomorphism — no cross-copy LSH collisions);
2. remove any persisted index roots for that corpus (cold start);
3. time each family's BUILD once (ensure_index / ensure_pq_index /
   ensure_ivfpq_index — the corpus-sized pass);
4. time the corresponding SERVE best-of-2 (reads the committed
   artifact; never re-trains — the serve key's run record is asserted
   ``rebuilt=False`` on both serve runs).

Usage: ``python tools/ann_split_probe.py [copies]`` (default 10).
Prints ONE JSON line with build/serve seconds per family at base sf
and at ×N.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_probe import build  # noqa: E402  (tools/scale_probe.py)

from bigdata_twitter_spark import obs  # noqa: E402
from bigdata_twitter_spark.llm import annindex, ivfpq, pq  # noqa: E402
from bigdata_twitter_spark.registry import load_all_operators  # noqa: E402
from bigdata_twitter_spark.session import get_session  # noqa: E402


def rm_roots(sf_dir: str) -> None:
    digest = annindex._path_digest(sf_dir)
    base = annindex.INDEX_BASE
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        if d.startswith(digest + "-"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def probe(spark, specs, sf_dir: str) -> dict:
    rm_roots(sf_dir)
    out: dict = {}
    fams = [
        ("ivf", annindex.ensure_index, "ann_index_search"),
        ("pq", pq.ensure_pq_index, "embed_pq_adc_topk"),
        ("ivfpq", ivfpq.ensure_ivfpq_index, "embed_ivfpq_topk"),
    ]
    for fam, ensure, serve_key in fams:
        t0 = time.perf_counter()
        _, _, rebuilt, _ = ensure(spark, sf_dir)
        out[f"{fam}_build"] = round(time.perf_counter() - t0, 2)
        assert rebuilt, f"{fam}: build must be cold after rm_roots"
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            specs[serve_key].fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
            assert obs.last(serve_key)["rebuilt"] is False, (
                f"{fam}: serve must reuse the committed artifact"
            )
        out[f"{fam}_serve"] = round(best, 2)
    return out


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(tempfile.gettempdir(), f"bdt_ann_split_x{copies}")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = get_session(app_name="bdt-ann-split-probe")
    specs = load_all_operators()

    t0 = time.perf_counter()
    build(spark, src, out_dir, copies, replicate={"embeddings"})
    build_sec = round(time.perf_counter() - t0, 1)

    base = probe(spark, specs, src)
    scaled = probe(spark, specs, out_dir)
    print(
        json.dumps(
            {
                "metric": "ann_split_probe",
                "copies": copies,
                "dataset_build_sec": build_sec,
                "base": base,
                "scaled": scaled,
                "ratio": {
                    k: (
                        round(scaled[k] / base[k], 1)
                        if base[k] > 0
                        else None
                    )
                    for k in base
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
