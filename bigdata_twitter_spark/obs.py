"""What each operator run reports about itself, in one place.

An operator with something to report about its run — a cap that
dropped rows, the files a pruned scan read, the index version a serve
used — calls :func:`record` once per run under its registry key, and
tests and tools read it back with :func:`last`.  A run replaces the
previous record of its key.  The one name that is not a registry key
is ``"stream_plan"``: the streaming-side physical plan of the most
recently finished streaming query (state stores, watermarks, stream
joins), which the batch DataFrame a streaming key returns over its
sink cannot show.
"""

from __future__ import annotations

_RECORDS: dict[str, dict] = {}


def record(name: str, **fields) -> None:  # noqa: ANN003
    """Replace the record for ``name`` with ``fields``."""
    _RECORDS[name] = fields


def last(name: str) -> dict:
    """A copy of the latest record for ``name``; ``KeyError`` if
    ``name`` was never recorded."""
    return dict(_RECORDS[name])
