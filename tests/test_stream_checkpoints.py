"""Streaming queries keep their checkpoints in the scratch root.

A ``writeStream`` without ``checkpointLocation`` makes Spark create
``<java.io.tmpdir>/temporary-<uuid>`` and delete it only when the query
ends without failing, so a failed or killed run leaves it where no
scratch reclaim reaches it.
"""

from __future__ import annotations

import os

from bigdata_twitter_spark.registry import load_all_operators

# The benchmark's stream_ingest keys plus the three that cover the
# remaining writeStream sites (rate memory sink, transformWithState,
# quarantine router).
KEYS = [
    "stream_tumbling_agg",
    "stream_dedup",
    "stream_static_join",
    "stream_stateful_running",
    "source_stream_file",
    "sink_stream_foreachbatch",
    "stream_upsert_versioned",
    "source_stream_rate",
    "stream_transform_with_state",
    "stream_quarantine_split",
]


def test_stream_keys_make_no_temporary_checkpoint(spark, sf_dir):
    """Spark removes a temporary checkpoint when its query succeeds, so
    the JVM temp dir is listed while each query runs: a local listener's
    ``onQueryStarted`` is called synchronously on the query's thread."""
    from pyspark.sql.streaming import StreamingQueryListener

    tmp = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")
    before = {f for f in os.listdir(tmp) if f.startswith("temporary-")}
    seen: list[set[str]] = []

    class Lister(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: ANN001, N802
            now = {f for f in os.listdir(tmp) if f.startswith("temporary-")}
            seen.append(now - before)

        def onQueryProgress(self, event):  # noqa: ANN001, N802
            pass

        def onQueryIdle(self, event):  # noqa: ANN001, N802
            pass

        def onQueryTerminated(self, event):  # noqa: ANN001, N802
            pass

    specs = load_all_operators()
    listener = Lister()
    spark.streams.addListener(listener)
    try:
        for key in KEYS:
            specs[key].fn(spark, sf_dir).count()
    finally:
        spark.streams.removeListener(listener)
    assert len(seen) >= len(KEYS)
    assert all(not new for new in seen), seen
