"""Mutation operators as batch merges (SURVEY.md §2.11).

The reference is a CRUD app; an analytics engine treats writes as merges
against the table store. Without Delta in this image, MERGE is emulated:
an upsert is a key filter plus a union, a delete is a key filter. Each
returns the new DataFrame(s) — callers own persistence.

The key filter is a null-safe NOT IN over the written key values, not an
anti-join against a keys frame: it needs no shuffle, plans no join, and
references the table once, so a table written N times carries N small
plan layers rather than a lineage that doubles with every delete.
``get_or_create`` and the M2M operators take their keys as a frame and
stay anti-joins.

Incoming rows are JVM-local relations (``local_rows``): Arrow-built, they
plan as a ``LocalTableScan``. ``createDataFrame`` over a Python list plans
a ``Scan ExistingRDD`` over a pickled Python RDD instead, and every later
scan of a table unioned with one starts Python workers for each past
write."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def verify_rows(rows: Sequence[tuple], schema: T.StructType) -> None:
    """Check each row with the type verifier ``createDataFrame`` runs; a
    misfit raises its TypeError/ValueError."""
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)


def local_rows(spark: SparkSession, rows: Sequence[tuple],
               schema: T.StructType) -> DataFrame:
    """Python rows → a DataFrame that plans as a ``LocalTableScan``.

    Each row is checked by :func:`verify_rows` and converted with the
    schema's own ``toInternal``, so values mean what they meant through
    ``createDataFrame(list)``; the rows then reach the JVM as one Arrow
    table."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    verify_rows(rows, schema)
    internal = [schema.toInternal(r) for r in rows]
    arrow = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in internal], type=f.type)
               for i, f in enumerate(arrow)]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow), schema)


def parse_key(value: str, dtype: T.DataType) -> int | None:
    """The integral key a URL string names, or None when it names none.

    Only the canonical spelling matches (``str(key) == value``): ``05``,
    `` 5`` and ``abc`` name no key, as when the key column was cast to
    string and compared."""
    if not isinstance(dtype, T.IntegralType):
        raise TypeError(f"no URL form for {dtype.simpleString()} keys")
    try:
        key = int(value)
    except ValueError:
        return None
    return key if str(key) == value else None


def append_rows(table: DataFrame, rows: DataFrame) -> DataFrame:
    """M1 create (views.py:478-485)."""
    return table.unionByName(rows)


def get_or_create(table: DataFrame, rows: DataFrame,
                  key_cols: list[str]) -> DataFrame:
    """M2 get_or_create (views.py:510, forms.py:661,681): insert only rows
    whose key is absent."""
    missing = rows.join(table.select(*key_cols), key_cols, "left_anti")
    return table.unionByName(missing)


def upsert(table: DataFrame, rows: DataFrame, key: str,
           values: Sequence) -> DataFrame:
    """M4 update/merge by key (views.py:396-409): new rows win. *values*
    are the keys of *rows*."""
    return delete_by_key(table, key, values).unionByName(rows)


def delete_by_key(table: DataFrame, key: str, values: Sequence) -> DataFrame:
    """M7 hard delete (views.py:984-988): the rows of *table* whose *key*
    is none of *values*. A NULL key never equals a value, so those rows
    are kept (as a ``left_anti`` join keeps them); NULLs among *values*
    match nothing."""
    values = [v for v in values if v is not None]
    if not values:
        return table
    col = F.col(key)
    return table.filter(col.isNull() | ~col.isin(values))


def m2m_add(junction: DataFrame, pairs: DataFrame) -> DataFrame:
    """M5 tags.add (views.py:289-291, forms.py:679-682) — idempotent, like
    Django's m2m add."""
    cols = junction.columns
    new = pairs.select(*cols).join(junction, cols, "left_anti")
    return junction.unionByName(new)


def m2m_remove(junction: DataFrame, pairs: DataFrame) -> DataFrame:
    """M5 tags.remove (views.py:307,1018)."""
    return junction.join(pairs.select(*junction.columns),
                         junction.columns, "left_anti")


def soft_delete_dataset(
    sequence_dataset: DataFrame,
    ds_file_resources: DataFrame,
    file_instance: DataFrame,
    dataset_ids: list[int],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """M6 soft-delete cascade (views.py:1494-1503, api/views.py:164-174):
    mark the datasets' file instances ``is_deleted=True``, drop the
    datasets and their junction rows.

    Returns (sequence_dataset', ds_file_resources', file_instance')."""
    ids = F.col("sequencedataset_id").isin(dataset_ids)
    affected_fr = (ds_file_resources.filter(ids)
                   .select("file_resource_id").distinct())
    fi2 = (
        file_instance.alias("fi")
        .join(F.broadcast(affected_fr.alias("a")),
              F.col("fi.file_resource_id") == F.col("a.file_resource_id"),
              "left")
        .select(
            "fi.id", "fi.owner_id", "fi.storage_id", "fi.file_resource_id",
            F.when(F.col("a.file_resource_id").isNotNull(), F.lit(True))
            .otherwise(F.col("fi.is_deleted")).alias("is_deleted"),
        )
    )
    ds2 = sequence_dataset.filter(~F.col("id").isin(dataset_ids))
    junc2 = ds_file_resources.filter(~ids)
    return ds2, junc2, fi2
