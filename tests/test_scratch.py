"""Per-process scratch space (``bigdata_twitter_spark/scratch.py``).

Every test but the last starts no Spark session; the child processes
are plain Python interpreters.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

from bigdata_twitter_spark import scratch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "bigdata_twitter_spark")

# The only package modules that may name the system temp dir: the
# scratch owner, and two deliberate cross-process caches with atomic
# writes (the binary fixtures, whose path the oracle SQL embeds, and
# the ANN index).
_MAY_NAME_TMP = {"scratch.py", "binfixtures.py", os.path.join("llm", "annindex.py")}

# Creates a root, forks a child that exits normally (so it runs the
# inherited atexit hook under a non-creator pid), then reports whether
# the root survived the child.
_FORK_CHILD = """
import os, sys
from bigdata_twitter_spark import scratch
p = scratch.fresh("x")
pid = os.fork()
if pid == 0:
    sys.exit(0)
os.waitpid(pid, 0)
print(p, os.path.isdir(p))
"""

_HOLD_LOCK = """
import fcntl, sys, time
fh = open(sys.argv[1])
fcntl.flock(fh, fcntl.LOCK_EX)
print("held", flush=True)
time.sleep(600)
"""


def _fake_root(base) -> str:
    root = os.path.join(str(base), "1-0badf00d")
    os.makedirs(root)
    open(os.path.join(root, "data"), "w").close()
    open(root + ".lock", "w").close()
    return root


def test_second_fresh_empties_the_first():
    first = scratch.fresh("t_fresh")
    open(os.path.join(first, "data"), "w").close()
    assert scratch.fresh("t_fresh") == first
    assert os.listdir(first) == []


def test_gc_spares_root_whose_lock_is_held(tmp_path, monkeypatch):
    """A live owner's root survives GC; once the owner is SIGKILLed the
    kernel frees its lock and the next GC removes the root."""
    monkeypatch.setattr(scratch, "_BASE", str(tmp_path))
    root = _fake_root(tmp_path)
    child = subprocess.Popen(
        [sys.executable, "-c", _HOLD_LOCK, root + ".lock"],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "held"
        scratch._reap()
        assert os.path.exists(os.path.join(root, "data"))
        child.kill()
        child.wait(timeout=30)
        scratch._reap()
        assert not os.path.exists(root)
    finally:
        child.kill()
        child.wait(timeout=30)
        child.stdout.close()


def test_gc_removes_root_with_free_lock(tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "_BASE", str(tmp_path))
    root = _fake_root(tmp_path)
    scratch._reap()
    assert not os.path.exists(root)
    assert not os.path.exists(root + ".lock")


def _run_fork_child() -> tuple[str, bool]:
    out = subprocess.run(
        [sys.executable, "-c", _FORK_CHILD],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    ).stdout.split()
    return out[0], out[1] == "True"


def test_atexit_in_a_non_creator_pid_deletes_nothing():
    """The forked child's exit leaves the root alone; the creator's own
    exit removes it."""
    path, survived_fork_child = _run_fork_child()
    assert survived_fork_child
    assert not os.path.exists(os.path.dirname(path))


def test_two_processes_get_distinct_paths_for_one_label():
    other, _ = _run_fork_child()
    mine = scratch.path("x")
    assert other != mine
    assert os.path.dirname(os.path.dirname(other)) == os.path.dirname(
        os.path.dirname(mine)
    )


def test_only_scratch_names_the_temp_dir():
    """A sixth private temp-dir lifecycle must not come back: no other
    package module may call gettempdir/mkdtemp or spell a /tmp path."""
    bad = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            rel = os.path.relpath(os.path.join(dirpath, f), PKG)
            if not f.endswith(".py") or rel in _MAY_NAME_TMP:
                continue
            with open(os.path.join(dirpath, f)) as fh:
                if re.search(r"gettempdir|mkdtemp|[\"']/tmp", fh.read()):
                    bad.append(rel)
    assert not bad, bad


def test_same_basename_fixture_dirs_keep_separate_scratch(spark, sf_dir, tmp_path):
    """Two fixture dirs that share a basename must not share scratch: B
    (A with half its orders and events) must neither overwrite A's
    streaming replay dir nor reuse A's bucketed tables."""
    import pyarrow.parquet as pq

    from bigdata_twitter_spark.registry import load_all_operators
    from bigdata_twitter_spark.streaming.ops import _replay_dir
    from bigdata_twitter_spark.tables import TABLE_NAMES, load

    from .parity import check_query

    name = os.path.basename(sf_dir.rstrip("/"))
    a, b = str(tmp_path / "a" / name), str(tmp_path / "b" / name)
    for d in (a, b):
        os.makedirs(d)
        for t in TABLE_NAMES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            dst = os.path.join(d, f"{t}.parquet")
            if d == b and t in ("orders", "events"):
                table = pq.read_table(src)
                pq.write_table(table.slice(0, table.num_rows // 2), dst)
            else:
                os.symlink(src, dst)

    replay_a = _replay_dir(spark, a)
    _replay_dir(spark, b)
    n_a = load(spark, a, "events").count()
    assert spark.read.parquet(replay_a).count() == n_a

    load_all_operators()["join_bucketed_colocated"].fn(spark, a).collect()
    check_query(spark, b, "join_bucketed_colocated")
