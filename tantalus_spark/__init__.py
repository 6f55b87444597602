"""tantalus_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the molonc/tantalus metadata catalog.

The reference (/root/reference) is a Django 2.2 + Postgres CRUD catalog whose
entire query surface is the Django ORM. This engine re-expresses that surface
Spark-first:

- ``catalog``   — entity schemas + FK/M2M relationship graph (the join catalog)
- ``compiler``  — the Django-lookup compiler: ``field__path__lookup=value`` →
                  deterministic equi-join chains + predicates (semi/anti joins
                  for existence/exclusion semantics)
- ``operators`` — pagination, free-text search, history diff, stats, mutations
- ``functions`` — scalar column expressions (path resolution, formatting)
- ``sources``   — Excel/TSV/CSV ingest & export with validation frames
- ``datapipe``  — beyond-parity, LLM-training-data operators: dedup
                  (exact/minhash/simhash/jaccard), similarity search,
                  text analysis
- ``streaming`` — versioned BM25 serving-index maintenance from a
                  document stream (a foreachBatch maintainer, as-of
                  reads, audits and snapshots)

Everything is declarative DataFrame/SQL so Catalyst owns physical planning
(broadcast joins for dimensions, AQE, pushdown, whole-stage codegen).
"""

__version__ = "0.1.0"

from tantalus_spark.session import get_spark  # noqa: F401
from tantalus_spark.catalog.loader import Database, read_parquet  # noqa: F401
from tantalus_spark.catalog.tpch_model import load_tpch  # noqa: F401
from tantalus_spark.compiler import Avg, Count, F_ref, Max, Min, Q, Sum  # noqa: F401
