"""DuckDB answers for the catalog workloads, built without the engine.

The relationship map below is written out by hand from the tantalus data
model (FIXTURES.md), so a filter path such as
``file_resources__fileinstance__storage__name`` is resolved to nested
``IN`` subqueries here independently of the engine's compiler. Django
semantics hold: each filter parameter is its own existence test on the
root rows, so multi-valued paths never fan the root out.
"""

from __future__ import annotations

import datetime as dt

# (table, accessor) -> (fk column on table, target table)
FK = {
    ("sample", "patient"): ("patient_id_fk", "patient"),
    ("dna_library", "library_type"): ("library_type_id", "library_type"),
    ("sequencing_lane", "dna_library"): ("dna_library_id", "dna_library"),
    ("sequence_file_info", "file_resource"): ("file_resource_id", "file_resource"),
    ("file_instance", "storage"): ("storage_id", "storage"),
    ("file_instance", "file_resource"): ("file_resource_id", "file_resource"),
    ("sequence_dataset", "sample"): ("sample_id_fk", "sample"),
    ("sequence_dataset", "library"): ("library_id_fk", "dna_library"),
    ("sequence_dataset", "analysis"): ("analysis_id", "analysis"),
    ("sequence_dataset", "reference_genome"): ("reference_genome_id", "reference_genome"),
    ("sequence_dataset", "aligner"): ("aligner_id", "alignment_tool"),
    ("analysis", "analysis_type"): ("analysis_type_id", "analysis_type"),
    ("results_dataset", "analysis"): ("analysis_id", "analysis"),
    ("submission", "sample"): ("sample_id_fk", "sample"),
    ("submission", "sow"): ("sow_id", "sow"),
    ("submission", "library_type"): ("library_type_id", "library_type"),
}
for _owned in ("dna_library", "sequencing_lane", "file_resource",
               "sequence_dataset", "analysis", "results_dataset", "tag"):
    FK[(_owned, "owner")] = ("owner_id", "user")

# (table, reverse accessor) -> (source table, its fk column)
REVERSE = {
    ("patient", "samples"): ("sample", "patient_id_fk"),
    ("file_resource", "fileinstance"): ("file_instance", "file_resource_id"),
    ("sample", "sequencedataset"): ("sequence_dataset", "sample_id_fk"),
}

# (table, accessor) -> (junction, this side's column, other side's column,
# other table); both directions listed
M2M = {}
for _left, _right, _j, _lc, _rc, _acc, _rev in [
    ("sample", "project", "sample_projects", "sample_id", "project_id",
     "projects", "samples"),
    ("sequence_dataset", "tag", "sequencedataset_tags", "sequencedataset_id",
     "tag_id", "tags", "sequencedataset"),
    ("sequence_dataset", "file_resource", "sequencedataset_file_resources",
     "sequencedataset_id", "file_resource_id", "file_resources",
     "sequencedataset"),
    ("sequence_dataset", "sequencing_lane", "sequencedataset_sequence_lanes",
     "sequencedataset_id", "sequencinglane_id", "sequence_lanes",
     "sequencedataset"),
    ("results_dataset", "tag", "resultsdataset_tags", "resultsdataset_id",
     "tag_id", "tags", "resultsdataset"),
    ("results_dataset", "sample", "resultsdataset_samples",
     "resultsdataset_id", "sample_id", "samples", "resultsdataset"),
    ("results_dataset", "dna_library", "resultsdataset_libraries",
     "resultsdataset_id", "library_id", "libraries", "resultsdataset"),
    ("analysis", "sequence_dataset", "analysis_input_datasets", "analysis_id",
     "sequencedataset_id", "input_datasets", "analyses"),
    ("analysis", "results_dataset", "analysis_input_results", "analysis_id",
     "resultsdataset_id", "input_results", "analyses"),
]:
    M2M[(_left, _acc)] = (_j, _lc, _rc, _right)
    M2M[(_right, _rev)] = (_j, _rc, _lc, _left)

LOOKUPS = {"in", "contains", "icontains", "startswith", "endswith", "gte",
           "lte", "isnull", "exact"}


def lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        return f"TIMESTAMPTZ '{v.strftime('%Y-%m-%d %H:%M:%S')}+00'"
    return "'" + str(v).replace("'", "''") + "'"


def ids_sql(table: str, parts: list[str], pred) -> str:
    """SQL selecting the ids of *table* rows whose path *parts* reaches a
    value satisfying ``pred(column_sql)``."""
    head, rest = parts[0], parts[1:]
    if not rest:
        col = FK[(table, head)][0] if (table, head) in FK else head
        return f'SELECT id FROM "{table}" WHERE {pred(col)}'
    if (table, head) in FK:
        fk, target = FK[(table, head)]
        return (f'SELECT id FROM "{table}" WHERE {fk} IN '
                f"({ids_sql(target, rest, pred)})")
    if (table, head) in REVERSE:
        source, fk = REVERSE[(table, head)]
        return (f'SELECT {fk} FROM "{source}" WHERE id IN '
                f"({ids_sql(source, rest, pred)})")
    junction, mine, other, target = M2M[(table, head)]
    return (f'SELECT {mine} FROM "{junction}" WHERE {other} IN '
            f"({ids_sql(target, rest, pred)})")


def _pred(lookup: str, value):
    if lookup == "exact":
        return lambda c: f"{c} IS NULL" if value is None else f"{c} = {lit(value)}"
    if lookup == "in":
        return lambda c: f"{c} IN ({', '.join(lit(v) for v in value)})"
    if lookup == "contains":
        return lambda c: f"contains({c}, {lit(value)})"
    if lookup == "icontains":
        return lambda c: (f"contains(lower(CAST({c} AS VARCHAR)), "
                          f"{lit(str(value).lower())})")
    if lookup == "startswith":
        return lambda c: f"starts_with({c}, {lit(value)})"
    if lookup == "endswith":
        return lambda c: f"suffix({c}, {lit(value)})"
    if lookup == "gte":
        return lambda c: f"{c} >= {lit(value)}"
    if lookup == "lte":
        return lambda c: f"{c} <= {lit(value)}"
    raise ValueError(f"no oracle for lookup {lookup!r}")


def where_sql(table: str, params: dict) -> str:
    """Conjunction of one existence test per filter parameter."""
    conds = []
    for key, value in params.items():
        parts = key.split("__")
        lookup = parts.pop() if len(parts) > 1 and parts[-1] in LOOKUPS else "exact"
        if lookup == "isnull":
            # null through the path = no related row with a non-null value
            inner = ids_sql(table, parts, lambda c: f"{c} IS NOT NULL")
            hit = f"coalesce(id IN ({inner}), false)"
            conds.append(f"NOT {hit}" if value else hit)
        else:
            conds.append(f"id IN ({ids_sql(table, parts, _pred(lookup, value))})")
    return " AND ".join(conds) if conds else "true"


def list_answer(con, table: str, params: dict, page: int, page_size: int,
                order: str = "id") -> tuple[int, list[int]]:
    """(count, page ids) of a filtered, id-ordered list request."""
    where = where_sql(table, params)
    count = con.sql(f'SELECT count(*) FROM "{table}" WHERE {where}').fetchone()[0]
    ids = [r[0] for r in con.sql(
        f'SELECT id FROM "{table}" WHERE {where} ORDER BY {order} '
        f"LIMIT {page_size} OFFSET {(page - 1) * page_size}").fetchall()]
    return count, ids


def search_counts(con, search_fields: dict[str, list[str]], token: str) -> dict:
    """Per-entity match counts of a one-token free-text search: a row
    matches when any of its search paths holds a value containing the
    token, case-insensitively."""
    out = {}
    for entity, fields in search_fields.items():
        anyof = " OR ".join(
            f"id IN ({ids_sql(entity, f.split('__'), _pred('icontains', token))})"
            for f in fields)
        n = con.sql(f"SELECT count(*) FROM {entity} WHERE {anyof}").fetchone()[0]
        if n:
            out[entity] = n
    return out


def datatables_answer(con, table: str, fields: list[str], token: str,
                      start: int, length: int, order: str) -> dict:
    total = con.sql(f"SELECT count(*) FROM {table}").fetchone()[0]
    params_sql = " OR ".join(
        f"id IN ({ids_sql(table, f.split('__'), _pred('icontains', token))})"
        for f in fields)
    filtered = con.sql(
        f"SELECT count(*) FROM {table} WHERE {params_sql}").fetchone()[0]
    ids = [r[0] for r in con.sql(
        f"SELECT id FROM {table} WHERE {params_sql} ORDER BY {order} "
        f"LIMIT {length} OFFSET {start}").fetchall()]
    return {"total": total, "filtered": filtered, "ids": ids}


DASHBOARD_TABLES = ["patient", "sample", "sequence_dataset", "results_dataset",
                    "analysis", "tag", "curation", "file_resource", "storage"]


def dashboard_answer(con) -> dict:
    return {t: con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in DASHBOARD_TABLES}


LIBRARY_STATS_SQL = """
WITH typed AS (
  SELECT ds.id AS dataset_id, coalesce(lt.name, 'unknown') AS library_type
  FROM sequence_dataset ds
  LEFT JOIN dna_library lib ON ds.library_id_fk = lib.id
  LEFT JOIN library_type lt ON lib.library_type_id = lt.id),
located AS (
  SELECT j.sequencedataset_id AS dataset_id, st.name AS storage_name,
         fr.id AS fr_id, fr.size
  FROM sequencedataset_file_resources j
  JOIN file_instance fi ON fi.file_resource_id = j.file_resource_id
       AND NOT fi.is_deleted
  JOIN file_resource fr ON fr.id = j.file_resource_id
  JOIN storage st ON st.id = fi.storage_id),
cells AS (SELECT * FROM typed JOIN located USING (dataset_id)),
n AS (SELECT library_type, storage_name, count(DISTINCT dataset_id) AS n_datasets
      FROM cells GROUP BY ALL),
b AS (SELECT library_type, storage_name, sum(size) AS total_bytes
      FROM (SELECT DISTINCT library_type, storage_name, fr_id, size FROM cells)
      GROUP BY ALL)
SELECT library_type, storage_name, n_datasets, total_bytes
FROM n JOIN b USING (library_type, storage_name)
ORDER BY library_type, storage_name
"""


def library_stats_answer(con) -> list[tuple]:
    return [tuple(r) for r in con.sql(LIBRARY_STATS_SQL).fetchall()]


CSV_SQL = """
SELECT ds.id, ds.name, s.sample_id, lib.library_id,
       coalesce((SELECT string_agg(t.name, ';' ORDER BY t.name)
                 FROM sequencedataset_tags j JOIN tag t ON t.id = j.tag_id
                 WHERE j.sequencedataset_id = ds.id), '') AS tags
FROM sequence_dataset ds
LEFT JOIN sample s ON s.id = ds.sample_id_fk
LEFT JOIN dna_library lib ON lib.id = ds.library_id_fk
WHERE ds.id IN ({ids})
ORDER BY ds.id
"""


def csv_answer(con, ids: list[int]) -> list[tuple]:
    """(id, name, sample_id, library_id, tags) of the CSV export's rows."""
    return [tuple("" if v is None else str(v) for v in r) for r in con.sql(
        CSV_SQL.format(ids=", ".join(str(i) for i in ids))).fetchall()]


def connect(catalog_dir: str, tables: list[str], writable=()):
    """In-memory DuckDB over the catalog's parquet: a view per table, or a
    table copy for those in *writable*."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in tables:
        kind = "TABLE" if t in writable else "VIEW"
        con.sql(f'CREATE {kind} "{t}" AS SELECT * FROM '
                f"read_parquet('{catalog_dir}/{t}.parquet')")
    return con
