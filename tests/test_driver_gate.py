"""Vanilla-session gate.

Every inventory query must run on a SparkSession that carries none of
``tantalus_spark.session``'s configs: whatever a query needs (the parquet
``nanosAsLong`` read flag, the UTC session zone) is set at the loader
seams, ``read_parquet`` and ``db_for``, never only in ``get_spark``.
These tests pin that property:

* a subprocess with a BARE ``SparkSession.builder.getOrCreate()`` (no
  ``get_spark``) must load every table and run representative queries —
  in-process tests can't check this because ``getOrCreate`` would reuse
  the already-configured test session and mask the bug;
* lazy loading: one corrupt parquet file must only fail queries that
  touch that table (an eager loader turns one bad table into a failure
  of every query).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

BARE_SCRIPT = """
import sys
from pyspark.sql import SparkSession

# A vanilla session: none of the tantalus_spark.session configs.
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .appName("vanilla-session").getOrCreate())

from tantalus_spark.inventory import QUERIES

sf_dir = sys.argv[1]
# events has timestamp[ns] (the round-1 killer; 50 reads its timestamps
# through functions/times.epoch_expr); the others cover the main table
# shapes, a fused datapipe scan, the persist/release pair path
# (45), and an Arrow pandas-UDF path (142 group_split_clustered, through
# textstats.normalize_nfc — 46 simhash went pure-JVM in r5, so it no
# longer exercises Python/Arrow plumbing).
for name in ["01_pricing_summary", "50_sessionization", "49_tumbling_window",
             "41_doc_profile", "45_minhash_lsh", "142_group_split_clustered"]:
    df = QUERIES[name](spark, sf_dir)
    n = df.count()
    assert n >= 0, name
    print(f"{name}: {n} rows")
print("BARE_OK")
"""


@pytest.mark.slow
def test_queries_run_on_bare_vanilla_session(tmp_path):
    script = tmp_path / "bare_driver.py"
    script.write_text(BARE_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), SF_DIR],
        capture_output=True, text=True, timeout=600,
        cwd=REPO, env={**os.environ, "PYTHONPATH": REPO},
    )
    assert "BARE_OK" in proc.stdout, (
        f"bare-session run failed\nstdout:\n{proc.stdout[-3000:]}\n"
        f"stderr:\n{proc.stderr[-3000:]}"
    )


def test_corrupt_table_only_fails_queries_touching_it(spark, tmp_path):
    from tantalus_spark.catalog.tpch_model import load_tpch

    data = tmp_path / "sf"
    data.mkdir()
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet"):
            os.symlink(os.path.join(SF_DIR, f), data / f)
    # corrupt events.parquet (replace symlink with garbage bytes)
    os.unlink(data / "events.parquet")
    (data / "events.parquet").write_bytes(b"not a parquet file at all")

    db = load_tpch(spark, str(data))
    # unrelated table loads and aggregates fine
    assert db.table("lineitem").count() > 0
    assert db.query("region").count() == 5
    # the corrupt table fails, but only when actually touched
    with pytest.raises(Exception):
        db.table("events").count()


def test_comparator_is_sign_of_zero_strict():
    """The r8 q133 class: DuckDB round() preserves -0.0, Spark F.round
    emits +0.0, Python == hides it. norm_cell must distinguish the two
    so the oracle gate fails exactly where a rendering-sensitive value
    hash fails."""
    import sys

    sys.path.insert(0, REPO)
    from scripts.check_correctness import norm_cell

    assert norm_cell(-0.0) != norm_cell(0.0)
    assert norm_cell(-0.0) == norm_cell(-0.0)
    assert norm_cell(1.5) == norm_cell(1.5)
    # nested arrays too (embedding-typed cells)
    assert norm_cell([0.0, 1.0]) != norm_cell([-0.0, 1.0])
