"""Registry-wide contract hygiene: every key ships with the full
house contract (docstring, scale note, table declaration), so a
future operator cannot silently land without the evidence surface the
driver/judge reads."""

from __future__ import annotations

import glob
import json
import re

from bigdata_twitter_spark.registry import load_all_operators
from bigdata_twitter_spark.tables import TABLE_NAMES

SPECS = load_all_operators()

# Keys whose inputs are generated fixtures/streams, not sf tables.
_NO_TABLE_OK = {
    "source_stream_rate",
    "scan_binary_files",
    "dedup_image_phash",
    "multimodal_audio_chunk",
    "multimodal_audio_vad",
    "multimodal_audio_zcr",
    "multimodal_decode_errors",
    "multimodal_image_histogram",
    "multimodal_image_phash",
    "multimodal_image_resize",
    "multimodal_image_tiles",
    "multimodal_jpeg_decode",
}


def test_every_key_has_scale_note():
    missing = [k for k, s in SPECS.items() if len(s.scale_note) < 40]
    assert not missing, missing


def test_every_key_has_docstring():
    missing = [k for k, s in SPECS.items() if len(s.doc) < 15]
    assert not missing, missing


def test_declared_tables_are_real():
    bad = [
        (k, t)
        for k, s in SPECS.items()
        for t in s.tables
        if t not in TABLE_NAMES
    ]
    assert not bad, bad


def test_oracle_sql_mentions_declared_tables():
    """Each oracle references at least one declared table (catches a
    stale `tables=` after a query rewrite)."""
    bad = []
    for k, s in SPECS.items():
        if s.sql is None or not s.tables:
            continue
        if not any(
            re.search(rf"\b{t}\b", s.sql) for t in s.tables
        ):
            bad.append(k)
    assert not bad, bad


def test_fixture_keys_are_the_known_set():
    """Keys with no sf tables must be the declared fixture/stream set
    — additions here need an explicit decision, not an accident."""
    assert {k for k, s in SPECS.items() if not s.tables} == _NO_TABLE_OK
    for k in _NO_TABLE_OK:
        text = (SPECS[k].doc + SPECS[k].scale_note).lower()
        assert (
            "fixture" in SPECS[k].scale_note.lower()
            or k == "source_stream_rate"
            or any(
                w in text
                for w in ("binfixtures", "png", "wav", "jpeg", "jfif", "image")
            )
        ), k


def test_check_order_puts_least_recently_checked_first(tmp_path):
    """Never-checked keys lead, then the oldest latest row; ties keep
    the given order."""
    from __spark_entry__ import check_order

    (tmp_path / "CORRECTNESS_r1.json").write_text('{"b": {}, "d": {}}')
    (tmp_path / "CORRECTNESS_r2.json").write_text('{"a": {}}')
    assert check_order("abcd", repo=str(tmp_path)) == list("cbda")


def test_driver_sample_is_least_recently_checked():
    """The driver checks the first 50 ``queries()`` keys; none may have
    a newer CORRECTNESS row than a key behind them, so the sample
    rotates through every key."""
    import __spark_entry__ as entrymod

    def rnd(path):
        return int(re.search(r"_r(\d+)\.json$", path)[1])

    latest: dict[str, int] = {}
    paths = glob.glob(f"{entrymod.HERE}/CORRECTNESS_r*.json")
    for path in sorted(paths, key=rnd):
        with open(path) as f:
            latest.update(dict.fromkeys(json.load(f), rnd(path)))
    rounds = [latest.get(k, 0) for k in entrymod.queries()]
    assert max(rounds[:50]) <= min(rounds[50:])
