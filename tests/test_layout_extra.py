"""Physical pins for the round-3 operators: compaction actually
reduces file count to the size-derived target, and the histogram's
binning stays exhaustive."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from bigdata_twitter_spark import scratch
from bigdata_twitter_spark.operators.profiling import N_HIST_BINS
from bigdata_twitter_spark.registry import load_all_operators
from bigdata_twitter_spark.sources.layout import (
    COMPACT_TARGET_BYTES,
    N_FRAGMENTS,
)


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "*.parquet"))


def test_compaction_reduces_file_count(spark, sf_dir):
    specs = load_all_operators()
    out = specs["sink_compact_small_files"].fn(spark, sf_dir)
    tag = scratch.tag(sf_dir)
    frag = _parquet_files(scratch.path(f"frag_events_{tag}"))
    compact = _parquet_files(scratch.path(f"compact_events_{tag}"))
    assert len(frag) == N_FRAGMENTS
    # File count must be the size-derived target: ceil(bytes / target).
    n_bytes = sum(os.path.getsize(f) for f in frag)
    expected = max(1, -(-n_bytes // COMPACT_TARGET_BYTES))
    assert len(compact) == expected
    assert len(compact) < N_FRAGMENTS / 4
    # Lossless: compacted row count equals the fragmented input's.
    assert out.count() == spark.read.parquet(*frag).count()


def test_histogram_bins_exhaustive(spark, sf_dir):
    specs = load_all_operators()
    hist = specs["agg_histogram"].fn(spark, sf_dir).collect()
    total = sum(r["n"] for r in hist)
    events = specs["scan_parquet"].fn(spark, sf_dir)
    assert total == events.count()
    bins = sorted(r["bin"] for r in hist)
    assert bins[0] >= 0 and bins[-1] <= N_HIST_BINS - 1
    # max(value) must land in the top bin via the least() clamp.
    assert bins[-1] == N_HIST_BINS - 1


def test_clustered_files_have_disjoint_key_spans(spark, sf_dir):
    """The range-clustered write must produce files whose user_id
    min/max footer stats barely overlap — that disjointness is what
    lets a selective predicate skip files/row groups entirely."""
    import pyarrow.parquet as pq

    from bigdata_twitter_spark.sources.layout import N_CLUSTER_FILES

    specs = load_all_operators()
    specs["sink_sorted_clustered"].fn(spark, sf_dir).collect()
    files = _parquet_files(
        scratch.path(f"clustered_events_{scratch.tag(sf_dir)}")
    )
    assert len(files) == N_CLUSTER_FILES
    spans = []
    for f in files:
        md = pq.read_metadata(f)
        idx = md.schema.names.index("user_id")
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        spans.append((lo, hi))
    spans.sort()
    # Adjacent files may share at most their boundary key.
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file spans: {(lo1, hi1)} vs {(lo2, hi2)}"


def test_zorder_files_are_narrow_in_both_dimensions(spark, sf_dir):
    """The Z-order win, quantified: after Morton clustering, the MEAN
    per-file span must be a small fraction of the global span in BOTH
    user_id and hour simultaneously — a single-dimension sort can make
    only its own column narrow (the hour spans of user-sorted files
    cover essentially the whole calendar)."""
    import pyarrow.parquet as pq

    specs = load_all_operators()
    specs["sink_zorder_clustered"].fn(spark, sf_dir).collect()
    files = _parquet_files(scratch.path(f"zorder_events_{scratch.tag(sf_dir)}"))
    assert len(files) >= 8

    def spans(col: str) -> tuple[list, int]:
        los, his = [], []
        for f in files:
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            st = [
                md.row_group(i).column(idx).statistics
                for i in range(md.num_row_groups)
            ]
            los.append(min(s.min for s in st))
            his.append(max(s.max for s in st))
        global_span = max(his) - min(los)
        return [h - l for l, h in zip(los, his)], global_span

    for col in ("user_id", "hr"):
        file_spans, global_span = spans(col)
        mean_span = sum(file_spans) / len(file_spans)
        # 16 files tile a 2-D square into ~4x4 cells ⇒ each dimension's
        # expected per-file span ≈ global/4; allow 2x slack for Morton
        # boundary files that straddle quadrant seams.
        assert mean_span <= global_span / 2, (col, mean_span, global_span)
