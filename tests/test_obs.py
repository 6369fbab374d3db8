"""The run-record channel (``bigdata_twitter_spark/obs.py``).

Spark-free: the guards read the package source, and loading the
registry starts no session.
"""

from __future__ import annotations

import ast
import os

import pytest

from bigdata_twitter_spark import obs
from bigdata_twitter_spark.registry import load_all_operators

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "bigdata_twitter_spark")


def _modules():
    """(path relative to the package, parsed module) for every module."""
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def test_last_returns_a_copy_and_raises_for_an_unrecorded_name():
    obs.record("test_obs_probe", n=1)
    got = obs.last("test_obs_probe")
    got["n"] = 2
    assert obs.last("test_obs_probe") == {"n": 1}
    obs.record("test_obs_probe", m=3)
    assert obs.last("test_obs_probe") == {"m": 3}
    with pytest.raises(KeyError):
        obs.last("test_obs_never_recorded")


def test_no_module_defines_a_last_global():
    """Run reports go through obs.record, never a module-level LAST_*
    name that each reader must import from its own module."""
    bad = []
    for rel, tree in _modules():
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            bad += [
                f"{rel}:{t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.startswith("LAST_")
            ]
    assert not bad, bad


def test_every_recorded_name_is_a_registry_key():
    """Readers look a record up by registry key (or "stream_plan"), so a
    record under any other name could never be found.  The one call
    with a computed name is drop_hot_groups passing its caller's."""
    keys = set(load_all_operators()) | {"stream_plan"}
    names, computed = set(), []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and node.args):
                continue
            func = node.func
            callee = func.attr if isinstance(func, ast.Attribute) else (
                func.id if isinstance(func, ast.Name) else None
            )
            if callee not in ("record", "drop_hot_groups"):
                continue
            arg = node.args[0]
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                names.add(arg.value)
            elif callee == "record":
                computed.append(rel)
    assert computed == ["tables.py"], computed
    assert names, "no obs.record call found"
    assert names <= keys, sorted(names - keys)
