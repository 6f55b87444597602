#!/usr/bin/env python
"""The oracle gate.

Runs every inventory query on Spark and its DuckDB oracle on the same
parquet dir, then compares row count, schema (column names sorted), and
exact values order-insensitively. Strict equality on floats — if this
passes, a value-hash comparison passes too.

Usage: python scripts/check_correctness.py [sf_dir] [query_prefix...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    """Dtype-tagged cell normalization.

    A value hash over rendered cells is rendering-sensitive: a DuckDB
    HUGEINT renders to pandas as float64 ("748750.0") while Spark's long
    renders int64 ("748750"), and Python ``==`` would hide that (the r4
    q71 miss). Tag numeric kinds so int-vs-float divergence FAILS here
    exactly as it fails such a hash.
    """
    import numpy as np

    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ("f", "NaN")
        # sign-of-zero strict: a value hash renders "-0.0" vs "0.0"
        # differently (the r8 q133 miss), but Python == says
        # -0.0 == 0.0 — tag the sign so the gate fails exactly where
        # such a hash fails.
        return ("f", float(v), math.copysign(1.0, v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm_cell(x) for x in v)
    return v


def col_kinds(df_pandas):
    """Per-column pandas dtype kind ('i'/'f'/'O'/'M'…), sorted by column
    name — compared even on EMPTY results so a 0-row fixture can't make
    a type divergence vacuously pass (the r4 q112 gap)."""
    return [df_pandas[c].dtype.kind.replace("u", "i")
            for c in sorted(df_pandas.columns)]


def norm_rows(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(norm_cell(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = args[1:]

    from tantalus_spark import get_spark
    from tantalus_spark.inventory import ORACLES, QUERIES

    spark = get_spark("correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in sorted(QUERIES.items()):
        if only and not any(name.startswith(p) for p in only):
            continue
        t0 = time.time()
        try:
            frame = fn(spark, sf_dir)
            sdf = frame.toPandas()
            # release per-query result caches (persist-lifecycle
            # contract): without this the 128-entry run accumulates
            # pinned results and later identical plans log CacheManager
            # "already cached" noise
            frame.unpersist()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in ORACLES:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            if len(sdf) == 0 and name not in ("45_minhash_lsh",):
                print(f"WARN {name}: zero rows")
            continue
        try:
            odf = con.sql(ORACLES[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        scols, srows = norm_rows(sdf)
        ocols, orows = norm_rows(odf)
        if scols != ocols:
            failures.append(name)
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            continue
        skinds, okinds = col_kinds(sdf), col_kinds(odf)
        if skinds != okinds:
            failures.append(name)
            print(f"FAIL {name}: dtype kinds {list(zip(scols, skinds))} "
                  f"vs {list(zip(ocols, okinds))}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        bad = [
            (a, b) for a, b in zip(srows, orows) if a != b
        ]
        if bad:
            failures.append(name)
            print(f"FAIL {name}: {len(bad)}/{len(srows)} rows differ; first: "
                  f"{bad[0][0]} vs {bad[0][1]}")
            continue
        print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
