"""Thin HTTP/JSON facade over the service layer (SURVEY.md §2.1 S10).

The reference's front door is a DRF router of filtered REST endpoints
(``tantalus/api/urls.py:9-31``, 18 routes) behind JWT auth
(``tantalus/settings.py:182-189``). This module closes that network gap
with a stdlib-only server — no web framework in the image, none needed:

    GET /api/                     -> endpoint directory
    GET /api/<endpoint>/?p=v&...  -> {"count": N, "results": [...]}

Every query param is validated against the endpoint's FILTERSET (unknown
params are a 400 naming the legal set, mirroring api/views.py:75-80);
``page`` / ``page_size`` paginate DRF-style. Auth supports two modes:
``token=...`` requires ``Authorization: Bearer <token>`` (static), and
``jwt_secret=...`` verifies HS256 JWTs — signature + ``exp`` — with a
stdlib implementation (hmac/base64), matching the reference's
djangorestframework-jwt boundary (tantalus/settings.py:182-189).

Driver-side by design: responses are page-sized (10/50/100, like the
reference's page sizes), so the facade only ever collects a page while the
filtering/joining runs in Spark executors. It is a front door, not a data
plane — bulk egress goes through the parquet/CSV sinks.
"""

from __future__ import annotations

import base64
import contextlib
import hashlib
import hmac
import json
import logging
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlparse

from tantalus_spark.catalog.loader import Database
from tantalus_spark.operators.services import (
    FILTERSETS, UnknownFilterError, api_list)

_RESERVED = {"page", "page_size", "expand"}

log = logging.getLogger(__name__)


def _b64url_decode(seg: str) -> bytes:
    return base64.urlsafe_b64decode(seg + "=" * (-len(seg) % 4))


def _b64url_encode(raw: bytes) -> str:
    return base64.urlsafe_b64encode(raw).rstrip(b"=").decode()


def encode_jwt(payload: dict, secret: str) -> str:
    """Mint an HS256 JWT (test/CLI convenience; auth servers usually mint)."""
    header = _b64url_encode(json.dumps(
        {"alg": "HS256", "typ": "JWT"}, separators=(",", ":")).encode())
    body = _b64url_encode(json.dumps(
        payload, separators=(",", ":")).encode())
    signing = f"{header}.{body}".encode()
    sig = hmac.new(secret.encode(), signing, hashlib.sha256).digest()
    return f"{header}.{body}.{_b64url_encode(sig)}"


def verify_jwt(token: str, secret: str) -> dict | None:
    """Verify an HS256 JWT: constant-time signature check + ``exp``.
    Returns the payload dict, or None if invalid/expired. Only HS256 is
    accepted — an attacker-chosen ``alg`` (the classic 'none' downgrade)
    is rejected outright."""
    try:
        header_b64, body_b64, sig_b64 = token.split(".")
        header = json.loads(_b64url_decode(header_b64))
        if header.get("alg") != "HS256":
            return None
        signing = f"{header_b64}.{body_b64}".encode()
        want = hmac.new(secret.encode(), signing, hashlib.sha256).digest()
        if not hmac.compare_digest(want, _b64url_decode(sig_b64)):
            return None
        payload = json.loads(_b64url_decode(body_b64))
        exp = payload.get("exp")
        if exp is not None and time.time() >= float(exp):
            return None
        return payload
    except Exception:
        return None


def _coerce(key: str, value: str) -> object:
    """Query-string params arrive as strings; give the lookups their
    natural Python types (Spark casts scalars against column types)."""
    if key.endswith("__in"):
        return value.split(",")
    if key.endswith("__isnull"):
        return value.lower() in ("1", "true", "yes")
    if value.lower() in ("true", "false"):
        return value.lower() == "true"
    return value


@contextlib.contextmanager
def _rows_must_fit(endpoint: str):
    """A written value the table's schema does not accept is the client's
    error: re-raise the verifier's complaint as the facade's 400."""
    try:
        yield
    except (TypeError, ValueError) as exc:
        raise ValueError(f"rows do not fit {endpoint!r} schema: "
                         f"{exc}") from exc


class _Handler(BaseHTTPRequestHandler):
    server: "ApiServer"

    def log_message(self, *args) -> None:  # quiet test output
        pass

    def _send(self, status: int, payload: dict) -> None:
        body = json.dumps(payload, default=str).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _authorized(self, srv: "ApiServer") -> bool:
        auth = self.headers.get("Authorization", "")
        if srv.jwt_secret is not None:
            if not auth.startswith("Bearer "):
                return False
            return verify_jwt(auth[len("Bearer "):], srv.jwt_secret) is not None
        if srv.token is not None:
            return auth == f"Bearer {srv.token}"
        return True

    def _endpoint(self) -> tuple[str | None, dict]:
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        if len(parts) == 2 and parts[0] == "api" and parts[1] in FILTERSETS:
            return parts[1], dict(parse_qsl(url.query, keep_blank_values=True))
        return None, {}

    def _safely(self, fn) -> None:
        """Catch-all: the handlers answer client errors with 4xx
        themselves, so anything that escapes is an engine fault. It is
        logged with its traceback and answered with an opaque 500 JSON
        body — never a dropped connection, never a leaked message."""
        try:
            fn()
        except Exception:  # noqa: BLE001
            log.exception("%s %s failed", self.command, self.path)
            self._send(500, {"detail": "internal server error"})

    def do_POST(self) -> None:  # noqa: N802 - create (reference DRF create)
        self._safely(lambda: self._mutate(create_only=True))

    def do_PUT(self) -> None:  # noqa: N802 - upsert by pk
        self._safely(lambda: self._mutate(create_only=False))

    def _mutate(self, create_only: bool) -> None:
        srv: ApiServer = self.server  # type: ignore[assignment]
        if not self._authorized(srv):
            self._send(401, {"detail": "invalid or missing bearer token"})
            return
        endpoint, _ = self._endpoint()
        if endpoint is None:
            self._send(404, {"detail": f"no writable route {self.path!r}"})
            return
        try:
            n = int(self.headers.get("Content-Length", "0"))
            payload = json.loads(self.rfile.read(n) or b"{}")
        except (ValueError, json.JSONDecodeError):
            self._send(400, {"detail": "body must be JSON"})
            return
        rows = payload if isinstance(payload, list) else [payload]
        try:
            result = srv.apply_mutation(endpoint, rows, create_only)
        except ValueError as exc:
            self._send(400, {"detail": str(exc)})
            return
        self._send(201 if create_only else 200, result)

    def do_DELETE(self) -> None:  # noqa: N802 - hard delete by pk (M7)
        self._safely(self._delete)

    def _delete(self) -> None:
        srv: ApiServer = self.server  # type: ignore[assignment]
        if not self._authorized(srv):
            self._send(401, {"detail": "invalid or missing bearer token"})
            return
        endpoint, raw = self._endpoint()
        pk = self.db_pk(srv, endpoint)
        if endpoint is None or pk is None:
            self._send(404, {"detail": f"no writable route {self.path!r}"})
            return
        if set(raw) != {pk}:
            self._send(400, {"detail": f"DELETE takes exactly ?{pk}=..."})
            return
        n = srv.apply_delete(endpoint, raw[pk])
        self._send(200, {"deleted": n, "endpoint": endpoint})

    @staticmethod
    def db_pk(srv: "ApiServer", endpoint: str | None) -> str | None:
        return srv.db.catalog.pk(endpoint) if endpoint else None

    def do_GET(self) -> None:  # noqa: N802 - http.server API
        self._safely(self._get)

    def _get(self) -> None:
        srv: ApiServer = self.server  # type: ignore[assignment]
        if not self._authorized(srv):
            self._send(401, {"detail": "invalid or missing bearer token"})
            return
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        if parts == ["api"]:
            self._send(200, {"endpoints": sorted(FILTERSETS)})
            return
        if parts == ["api", "sequence_dataset", "csv"]:
            # reference views.py:1594-1686 dataset_set_to_CSV: selected
            # datasets with every derived column as a CSV attachment; the
            # derivations come from ONE join-based plan (serializers),
            # not per-row queries
            raw = dict(parse_qsl(url.query, keep_blank_values=True))
            try:
                pks = [int(x) for x in raw.get("id__in", "").split(",") if x]
            except ValueError:
                self._send(400, {"detail": "id__in must be ints"})
                return
            if not pks:
                self._send(400, {"detail": "provide ?id__in=<pk,pk,...>"})
                return
            if len(pks) > 1000:
                # same bounded-collect invariant as the 100-row page cap:
                # the CSV materializes driver-side, so the selection size
                # must be bounded by the request, not by the table
                self._send(400, {"detail": "id__in capped at 1000 ids"})
                return
            from tantalus_spark.operators.serializers import dataset_set_to_csv

            body = dataset_set_to_csv(srv.db, pks).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/csv")
            self.send_header("Content-Disposition",
                             'attachment; filename="datasets.csv"')
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        if parts == ["api", "schema"]:
            # machine-readable API description (the reference exposes a
            # Swagger schema view; this is the engine-shaped equivalent):
            # per endpoint its columns+types, pk, legal filter params, and
            # expandable relationship accessors
            self._send(200, {"endpoints": {
                ep: {
                    "primary_key": srv.db.catalog.pk(ep),
                    "columns": {f.name: f.dataType.simpleString()
                                for f in srv.db.table(ep).schema.fields},
                    "filters": sorted(
                        p if not lk else f"{p}__{lk}"
                        for p, lookups in FILTERSETS[ep].items()
                        for lk in [None, *lookups]),
                    "expand": sorted(srv.db.catalog.accessors(ep)),
                } for ep in sorted(FILTERSETS)
            }})
            return
        if len(parts) != 2 or parts[0] != "api":
            self._send(404, {"detail": f"no route {url.path!r}"})
            return
        endpoint = parts[1]
        if endpoint not in FILTERSETS:
            self._send(404, {"detail": f"unknown endpoint {endpoint!r}"})
            return
        raw = dict(parse_qsl(url.query, keep_blank_values=True))
        try:
            reserved = {k: raw.pop(k, None) for k in _RESERVED}
            page = max(int(reserved["page"] or 1), 1)
            # reference page sizes are 10/50/100; cap keeps every response
            # page-sized so the driver never collects an unbounded result
            page_size = min(max(int(reserved["page_size"] or 10), 1), 100)
        except ValueError:
            self._send(400, {"detail": "page/page_size must be integers"})
            return
        params = {k: _coerce(k, v) for k, v in raw.items()}
        try:
            result = api_list(srv.db, endpoint, params,
                              page=page, page_size=page_size)
        except UnknownFilterError as exc:
            self._send(400, {"detail": str(exc)})
            return
        rows = result.rows.collect()
        if reserved["expand"]:
            # nested read-serialization (reference DRF read serializers):
            # re-derive the page as one join-based plan over just the
            # page's pks — never a per-row N+1
            from pyspark.sql import functions as F

            from tantalus_spark.operators.serializers import expand_related

            accessors = [a for a in reserved["expand"].split(",") if a]
            pk = srv.db.catalog.pk(endpoint)
            ids = [r[pk] for r in rows]
            page_root = srv.db.table(endpoint).filter(F.col(pk).isin(ids))
            try:
                expanded = expand_related(srv.db, endpoint, accessors,
                                          root=page_root)
            except ValueError as exc:  # unknown accessor
                self._send(400, {"detail": str(exc)})
                return
            by_id = {r[pk]: r for r in expanded.collect()}
            # tolerate a concurrent delete between the two collects: a pk
            # from the first page read may be gone on the expanded read —
            # return the surviving rows rather than erroring the request
            rows = [by_id[i] for i in ids if i in by_id]
        self._send(200, {
            "count": result.total,
            "page": page,
            "page_size": page_size,
            "results": [r.asDict(recursive=True) for r in rows],
        })


class ApiServer(ThreadingHTTPServer):
    """``ApiServer(db).serve_background()`` → (host, port); call
    ``shutdown()`` to stop. Binds port 0 by default (ephemeral)."""

    def __init__(self, db: Database, host: str = "127.0.0.1", port: int = 0,
                 token: str | None = None,
                 jwt_secret: str | None = None) -> None:
        super().__init__((host, port), _Handler)
        self.db = db
        self.token = token
        self.jwt_secret = jwt_secret
        self._thread: threading.Thread | None = None
        self._write_lock = threading.Lock()
        self._mutations_since_checkpoint: dict[str, int] = {}

    #: writes between lineage-truncating checkpoints (see _bound_lineage)
    CHECKPOINT_EVERY = 16

    def serve_background(self) -> tuple[str, int]:
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self.server_address[0], self.server_address[1]

    def apply_mutation(self, endpoint: str, rows: list[dict],
                       create_only: bool) -> dict:
        """POST (create; missing ids auto-assigned max+1, duplicate ids are
        a 400) / PUT (upsert by pk) against the in-memory Database —
        reference DRF ModelViewSet create/update (M1/M4). Serialized: one
        writer mutates a table at a time."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from tantalus_spark.operators import mutations

        with self._write_lock:
            table = self.db.table(endpoint)
            pk = self.db.catalog.pk(endpoint)
            known = set(table.columns)
            for r in rows:
                bad = set(r) - known
                if bad:
                    raise ValueError(
                        f"unknown columns {sorted(bad)} for {endpoint!r}; "
                        f"legal: {sorted(known)}")
            # the pks feed Spark probes below, where a value of the wrong
            # type fails a cast: check them before any probe runs
            with _rows_must_fit(endpoint):
                mutations.verify_rows([(r[pk],) for r in rows if pk in r],
                                      T.StructType([table.schema[pk]]))
            if create_only:
                have_ids = [r[pk] for r in rows if pk in r]
                if len(have_ids) != len(set(have_ids)):
                    raise ValueError(f"duplicate {pk} values within the batch")
                # the next free id and any taken id in one job: over one
                # partition the global aggregate needs no shuffle, which
                # adaptive execution would run as a job of its own
                taken_ids = [F.max(pk)]
                if have_ids:
                    taken_ids.append(F.min(F.when(
                        F.col(pk).isin(have_ids), F.col(pk))))
                top, *dup = table.coalesce(1).agg(*taken_ids).first()
                if dup and dup[0] is not None:
                    raise ValueError(
                        f"{endpoint!r} {pk}={dup[0]} already exists")
                next_id = (top or 0) + 1
                taken = set(have_ids)
                for r in rows:
                    if pk not in r:
                        while next_id in taken:
                            next_id += 1
                        r[pk] = next_id
                        taken.add(next_id)
                        next_id += 1
            else:
                if any(pk not in r for r in rows):
                    raise ValueError(f"PUT rows must carry the pk {pk!r}")
                put_ids = [r[pk] for r in rows]
                if len(put_ids) != len(set(put_ids)):
                    # mirror the POST check: upsert filters then unions
                    # ALL incoming rows, so an intra-batch duplicate pk
                    # would leave two rows with that pk in the table
                    raise ValueError(f"duplicate {pk} values within the batch")
                # partial update semantics: a column omitted from a PUT row
                # keeps its existing value (instead of being overwritten
                # with NULL when the row is expanded to the table schema)
                provided = [sorted(set(r) & known) for r in rows]
                if any(p != sorted(known) for p in provided):
                    rows = self._merge_partial(table, pk, rows, provided)
            with _rows_must_fit(endpoint):
                new_rows = mutations.local_rows(
                    self.db.spark,
                    [tuple(r.get(c) for c in table.columns) for r in rows],
                    table.schema)
            if create_only:
                new_table = mutations.append_rows(table, new_rows)
            else:
                new_table = mutations.upsert(table, new_rows, pk, put_ids)
            self.db.add(endpoint, self._bound_lineage(endpoint, new_table))
            return {"written": len(rows), "endpoint": endpoint,
                    "ids": [r[pk] for r in rows]}

    def _merge_partial(self, table, pk: str, rows: list[dict],
                       provided: list[list[str]]) -> list[dict]:
        """Fill each PUT row's omitted columns from the existing row with
        that pk (new pks keep NULL). One filtered collect of just the
        touched pks — batch-sized, never a table scan to the driver."""
        from pyspark.sql import functions as F

        ids = [r[pk] for r in rows]
        existing = {
            row[pk]: row.asDict()
            for row in table.filter(F.col(pk).isin(ids)).collect()
        }
        merged = []
        for r, cols in zip(rows, provided):
            base = dict(existing.get(r[pk], {}))
            base.update({c: r[c] for c in cols})
            merged.append(base)
        return merged

    def _bound_lineage(self, endpoint: str, table):
        """Every N mutations, cut the table's write lineage with an eager
        localCheckpoint. Each write adds a constant-size plan layer (a key
        filter, or a union with a local relation), so the plan grows
        linearly, but a long-lived server would still accumulate layers and
        analysis cost without bound. (A production deployment would
        write-through to the parquet snapshot via sources.sink instead;
        checkpointing keeps the facade self-contained.)"""
        n = self._mutations_since_checkpoint.get(endpoint, 0) + 1
        if n >= self.CHECKPOINT_EVERY:
            table = table.localCheckpoint(eager=True)
            n = 0
        self._mutations_since_checkpoint[endpoint] = n
        return table

    def apply_delete(self, endpoint: str, pk_value: str) -> int:
        """DELETE by pk (M7): *pk_value* is parsed to the pk's type once
        (non-canonical spellings match nothing), then one pushed-down
        filtered job counts the matches; the table keeps every other row."""
        from pyspark.sql import functions as F

        from tantalus_spark.operators import mutations

        with self._write_lock:
            table = self.db.table(endpoint)
            pk = self.db.catalog.pk(endpoint)
            key = mutations.parse_key(pk_value, table.schema[pk].dataType)
            if key is None:
                return 0
            # collecting the matched keys is one job; count() would be two
            # (a shuffle-map stage, then the final aggregate)
            n = len(table.filter(F.col(pk) == key).select(pk).collect())
            if n:
                self.db.add(endpoint, self._bound_lineage(
                    endpoint, mutations.delete_by_key(table, pk, [key])))
            return n
