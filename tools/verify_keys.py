#!/usr/bin/env python
"""Driver-sim oracle check: plain SparkSession, the ``entry(spark)``
smoke call, then a repr-strict multiset compare vs DuckDB at one or
more SF dirs for the given keys (default: every ``queries()`` key).

Usage::

    TZ=UTC python tools/verify_keys.py [key ...]
    TZ=UTC SPARK_GRAFT_VERIFY_SFS=sf0.001,sf0.01 python tools/verify_keys.py ...

Keys without declared oracle SQL are executed (must not raise, must
return rows or an empty frame without error) but not compared.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def norm(df) -> Counter:
    """Row multiset with every cell compared by ``repr``."""
    c = Counter()
    cols = sorted(df.columns)
    for r in df[cols].itertuples(index=False, name=None):
        c[tuple(repr(x) for x in r)] += 1
    return c


def main() -> None:
    sfs = os.environ.get("SPARK_GRAFT_VERIFY_SFS", "sf0.001,sf0.01").split(",")
    from pyspark.sql import SparkSession

    from tests.parity import duckdb_connect

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-keys")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as m

    assert len(m.entry(spark).collect()) > 0, "entry(spark) returned no rows"
    qs, osql = m.queries(), m.oracle_sql()
    keys = sys.argv[1:] or list(qs)
    fail = []
    for sf_tag in sfs:
        sf = f"/root/testdata/{sf_tag}"
        con = duckdb_connect(sf)
        for k in keys:
            sdf = qs[k](spark, sf).toPandas()
            if k not in osql:
                print(f"{sf_tag} {k}: ran, {len(sdf)} rows (no oracle)")
                continue
            odf = con.sql(osql[k]).df()
            ok = sorted(sdf.columns) == sorted(odf.columns) and norm(
                sdf
            ) == norm(odf)
            print(f"{sf_tag} {k}: {'OK' if ok else 'MISMATCH'} ({len(sdf)} rows)")
            if not ok:
                fail.append((sf_tag, k))
    print("FAILURES:", fail or "none")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
