"""The write phase of the ``catalog`` workload: one closed-loop client that
alternates a few writes with a read of one of the rows it wrote.

A write is a POST, PUT or DELETE through the HTTP facade on
``sequence_dataset``, ``file_instance``, ``sample`` or ``tag``, followed by
``history.append_history`` on the table's history table (``file_instance``
has none). A read is a filtered list of the written table, a
``history.table_as_of`` lookup, or ``history.curation_changes``. Writes
and reads rotate through fixed schedules, so every run has the same mix;
the seed picks rows and values.

Every write and read is logged. After the run the log is replayed in
DuckDB over the same parquet: each read's answer is compared with the
replayed state at that point, and the final tables are compared exactly.
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.request

import numpy as np

import oracle

HISTORY = {"sequence_dataset", "sample", "tag"}
WRITTEN = ["sequence_dataset", "file_instance", "sample", "tag"]
OPS = ["POST", "PUT", "DELETE"]
# writes are stamped after every generated history row, one second apart
T0 = dt.datetime(2021, 1, 1, tzinfo=dt.timezone.utc)
# the kind of read k
READS = ["list", "as_of", "curation_changes"]
# the column a PUT changes
EDITED = {"sequence_dataset": "dataset_type", "file_instance": "storage_id",
          "sample": "submitter", "tag": "name"}
HISTORY_TYPE = {"POST": "+", "PUT": "~", "DELETE": "-"}


def schedule(k: int) -> tuple[str, str]:
    """(op, table) of write k: ops and tables rotate together, and as 3
    and 4 are coprime any four writes in a row have every table and every
    op, and any twelve have every pair."""
    return OPS[k % len(OPS)], WRITTEN[k % len(WRITTEN)]


class Model:
    """The client's view of the generated rows it may change or delete
    (ids 1..n of each table). A POST copies a generated row; posted rows
    are never touched again."""

    def __init__(self, data: dict, seed: int) -> None:
        self.data = data
        self.rng = np.random.default_rng([seed, 2])
        self.cols = {t: list(data[t]) for t in WRITTEN}
        self.n = {t: len(data[t]["id"]) for t in WRITTEN}
        self.changed: dict[str, dict[int, dict]] = {t: {} for t in WRITTEN}
        self.deleted: dict[str, set[int]] = {t: set() for t in WRITTEN}
        self.next_history = {t: len(data[f"{t}_history"]["history_id"]) + 1
                             for t in HISTORY}

    def row(self, table: str, pk: int) -> dict:
        if pk in self.changed[table]:
            return dict(self.changed[table][pk])
        i = pk - 1
        return {c: _plain(self.data[table][c][i]) for c in self.cols[table]}

    def pick(self, table: str) -> int:
        """A generated row that is still there."""
        while True:
            pk = int(self.rng.integers(1, self.n[table] + 1))
            if pk not in self.deleted[table]:
                return pk

    def new_row(self, table: str) -> dict:
        """A copy of a generated row without its id; timestamps, which the
        JSON body cannot carry, are left to default to null."""
        return {c: v for c, v in self.row(table, self.pick(table)).items()
                if c != "id" and not isinstance(v, dt.datetime)}

    def change(self, table: str) -> dict:
        """A partial update: the table's edited column, set to the value
        another generated row has."""
        col = EDITED[table]
        return {col: self.row(table, self.pick(table))[col]}


def _plain(v):
    if isinstance(v, np.generic):
        return v.item()
    return v


def _request(base: str, method: str, path: str, body=None,
             headers: dict | None = None) -> dict:
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(base + path, data=data, method=method,
                                 headers={"Content-Type": "application/json",
                                          **(headers or {})})
    with urllib.request.urlopen(req, timeout=120) as resp:
        return json.loads(resp.read())


class Client:
    """Issues the write/read cycles and logs them for the replay."""

    def __init__(self, db, base: str, model: Model, span) -> None:
        self.db, self.base, self.model, self.span = db, base, model, span
        self.headers: dict = {}             # sent with every HTTP request
        self.log: list[dict] = []
        self.k = 0                          # writes made
        self.reads = 0

    def _http(self, method: str, path: str, body=None) -> dict:
        return _request(self.base, method, path, body, self.headers)

    def _ts(self) -> dt.datetime:
        return T0 + dt.timedelta(seconds=len(self.log))

    def write(self) -> dict:
        op, table = schedule(self.k)
        self.k += 1
        m = self.model
        if op == "POST":
            row = m.new_row(table)
            out = self._http("POST", f"/api/{table}/", row)
            pk = out["ids"][0]
            row = {"id": pk, **row}
            change = row
        elif op == "PUT":
            pk, change = m.pick(table), m.change(table)
            self._http("PUT", f"/api/{table}/", {"id": pk, **change})
            row = m.changed[table][pk] = {**m.row(table, pk), **change}
        else:
            pk = m.pick(table)
            row, change = m.row(table, pk), None
            out = self._http("DELETE", f"/api/{table}/?id={pk}")
            if out["deleted"] != 1:
                raise AssertionError(f"DELETE {table} {pk} removed {out['deleted']}")
            m.deleted[table].add(pk)
        ts = self._ts()
        entry = {"kind": "write", "op": op, "table": table, "pk": pk,
                 "change": change, "ts": ts}
        if table in HISTORY:
            self._history(table, row, HISTORY_TYPE[op], ts)
            entry["history_row"] = row
        self.log.append(entry)
        return entry

    def _history(self, table: str, row: dict, kind: str, ts) -> None:
        from tantalus_spark.operators import history

        db = self.db
        name = f"{table}_history"
        schema = db.table(table).schema
        with self.span("history.append"):
            snap = db.spark.createDataFrame(
                [tuple(row.get(f.name) for f in schema.fields)], schema)
            db.add(name, history.append_history(
                db.table(name), snap, kind, 1, self.model.next_history[table],
                ts=ts.replace(tzinfo=None)))
        self.model.next_history[table] += 1

    def read(self, after: dict) -> dict:
        from pyspark.sql import functions as F

        from tantalus_spark.operators import history

        kind = READS[self.reads % len(READS)]
        self.reads += 1
        table, pk = after["table"], after["pk"]
        entry = {"kind": kind, "table": table, "pk": pk}
        if kind == "list":
            body = self._http("GET", f"/api/{table}/?id={pk}")
            entry["answer"] = (body["count"], [r["id"] for r in body["results"]])
        elif kind == "as_of":
            hist_table = table if table in HISTORY else "sequence_dataset"
            back = max(0, len(self.log) - 3)
            ts = T0 + dt.timedelta(seconds=back)
            ids = sorted({e["pk"] for e in self.log[-6:]
                          if e.get("table") == hist_table} | {1, 2, 3})
            with self.span("history.as_of"):
                rows = (history.table_as_of(self.db.table(f"{hist_table}_history"),
                                            ts.replace(tzinfo=None))
                        .filter(F.col("id").isin(ids)).select("id")
                        .collect())
            entry.update(table=hist_table, ts=ts, ids=ids,
                         answer=sorted(r["id"] for r in rows))
        else:
            with self.span("history.curation_changes"):
                rows = history.curation_changes(self.db).select(
                    "curation_id", "version", "action").collect()
            entry["answer"] = sorted(tuple(r) for r in rows)
        self.log.append(entry)
        return entry


# ---------------------------------------------------------------- replay

def replay_check(con, log: list[dict]) -> list[str]:
    """Replay the log against DuckDB tables; returns mismatch messages."""
    bad = []
    for i, e in enumerate(log):
        if e["kind"] == "write":
            _replay_write(con, e)
            continue
        want = _read_answer(con, e)
        if want != e["answer"]:
            bad.append(f"read {i} {e['kind']} {e['table']}: "
                       f"got {str(e['answer'])[:200]} want {str(want)[:200]}")
    return bad


def _replay_write(con, e: dict) -> None:
    t, pk = e["table"], e["pk"]
    if e["op"] == "POST":
        cols = list(e["change"])
        con.execute(f'INSERT INTO "{t}" ({", ".join(cols)}) VALUES '
                    f'({", ".join("?" for _ in cols)})', [e["change"][c] for c in cols])
    elif e["op"] == "PUT":
        sets = ", ".join(f"{c} = ?" for c in e["change"])
        con.execute(f'UPDATE "{t}" SET {sets} WHERE id = ?',
                    [*e["change"].values(), pk])
    else:
        con.execute(f'DELETE FROM "{t}" WHERE id = ?', [pk])
    if "history_row" in e:
        h = f"{t}_history"
        row = e["history_row"]
        hid = con.sql(f'SELECT max(history_id) + 1 FROM "{h}"').fetchone()[0]
        cols = list(row) + ["history_id", "history_date", "history_type",
                            "history_user_id"]
        vals = list(row.values()) + [hid, e["ts"], HISTORY_TYPE[e["op"]], 1]
        con.execute(f'INSERT INTO "{h}" ({", ".join(cols)}) VALUES '
                    f'({", ".join("?" for _ in cols)})', vals)


def _read_answer(con, e: dict):
    if e["kind"] == "list":
        count, ids = oracle.list_answer(con, e["table"], {"id": e["pk"]}, 1, 10)
        return (count, ids)
    if e["kind"] == "as_of":
        h = f"{e['table']}_history"
        rows = con.execute(
            f'SELECT id FROM (SELECT id, history_type, row_number() OVER '
            f'(PARTITION BY id ORDER BY history_date DESC, history_id DESC) rn '
            f'FROM "{h}" WHERE history_date <= ? AND id IN '
            f'({", ".join(str(i) for i in e["ids"])})) '
            f"WHERE rn = 1 AND history_type <> '-' ORDER BY id",
            [e["ts"]]).fetchall()
        return [r[0] for r in rows]
    rows = con.sql(
        "SELECT id, version, CASE WHEN lag(version) OVER (PARTITION BY id "
        "ORDER BY version) IS NULL THEN 'Created' ELSE 'Edited' END "
        "FROM curation_history").fetchall()
    return sorted(tuple(r) for r in rows)


def final_state_check(con, db, log: list[dict]) -> list[str]:
    """Exact comparison of each written table with the replayed state:
    its row count and id sum, and every row a write touched, compared
    whole. One Spark job per table, the tables on parallel threads.
    History tables are checked by the ``as_of`` read-backs."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd
    from pyspark.sql import functions as F

    touched = {t: sorted({e["pk"] for e in log
                          if e["kind"] == "write" and e["table"] == t})
               for t in WRITTEN}
    touched = {t: ids for t, ids in touched.items() if ids}

    def engine_side(t: str):
        sdf = db.table(t)
        agg = sdf.agg(F.count(F.lit(1)), F.sum("id"), F.collect_list(
            F.when(F.col("id").isin(touched[t]), F.struct(*sdf.columns)))).first()
        rows = _rows(pd.DataFrame([r.asDict() for r in agg[2]], columns=sdf.columns))
        return (agg[0], agg[1]), rows

    with ThreadPoolExecutor(len(touched)) as pool:
        engine = dict(zip(touched, pool.map(engine_side, touched)))
    bad = []
    for t, ids in touched.items():
        got_agg, got = engine[t]
        id_list = ", ".join(str(i) for i in ids)
        want_agg = con.sql(f'SELECT count(*), sum(id) FROM "{t}"').fetchone()
        want = _rows(con.sql(f'SELECT * FROM "{t}" WHERE id IN ({id_list})').df())
        if got_agg != tuple(int(x) for x in want_agg) or got != want:
            diff = sorted(set(got) ^ set(want), key=repr)[:4]
            bad.append(f"final {t}: count/id sum {got_agg} vs {want_agg}, "
                       f"rows differ e.g. {diff}")
    return bad


def _rows(pdf) -> list[tuple]:
    """Rows of a pandas frame as comparable tuples: timestamps as epoch
    microseconds, integral floats (nullable integer columns) as ints,
    every kind of missing value as None."""
    import pandas as pd

    def cell(v):
        if v is None or v is pd.NA or (isinstance(v, float) and v != v):
            return None
        v = _plain(v)
        return int(v) if isinstance(v, float) and v.is_integer() else v

    cols = []
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if s.dt.tz is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64").where(s.notna(), None)
        cols.append([cell(v) for v in s.astype(object)])
    return sorted(zip(*cols), key=repr)
