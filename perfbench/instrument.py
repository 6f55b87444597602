"""Traced-run instrumentation: spans around calls into each layer's public
entry points, opened from the benchmark's side.

:func:`install` swaps a few module attributes for wrappers that open a
span and call through; :func:`uninstall` puts them back. Nothing in the
engine is edited. The HTTP facade is traced by subclassing its server and
handler, which adopt the client's request id from a header so server-side
spans join the client's request.

A request is traced only when it carries a request id; spans opened on a
thread with no request are dropped, so traced and untraced requests can
be interleaved in one run to measure the tracing overhead.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json

from tracer import Tracer

HEADER = "X-Bench-Request"


class Probe:
    """Spans plus per-request Spark job and task counts."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.sc = None                                   # set per session
        self.jobs: dict[str, tuple[int, int]] = {}
        self.page_rows: list[tuple[int, int]] = []      # (total, returned)
        self.plans: dict[str, list] = {}                 # request -> frames

    def reset(self) -> None:
        """Forget everything recorded so far (a warm-up's requests)."""
        self.tracer.spans.clear()
        self.jobs.clear()
        self.page_rows.clear()
        self.plans.clear()

    def span(self, name: str):
        return self.tracer.span(name)

    @contextlib.contextmanager
    def request(self, rid: str | None, name: str = "request"):
        """Root span of one request; *rid* None runs it untraced."""
        if rid is None or not self.tracer.enabled:
            yield
            return
        self.sc.setJobGroup(rid, rid)
        try:
            with self.tracer.span(name, request=rid):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count_jobs(self, rids) -> None:
        """Spark jobs and tasks of each request, read once the run is
        over so the status queries stay out of the timed requests."""
        st = self.sc.statusTracker()
        for rid in rids:
            jobs = list(st.getJobIdsForGroup(rid))
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    stage = st.getStageInfo(s)
                    tasks += stage.numTasks if stage else 0
            self.jobs[rid] = (len(jobs), tasks)

    def joins(self, rid: str) -> int:
        """Joins in the optimized plans the compiler built for *rid*."""
        return sum(df._jdf.queryExecution().optimizedPlan().toString()
                   .count("Join ") for df in self.plans.get(rid, []))


class _Rows:
    """Stands in for a page's DataFrame: ``collect`` is spanned and the
    match/return counts are kept."""

    def __init__(self, df, total: int, probe: Probe) -> None:
        self._df, self._total, self._probe = df, total, probe

    def collect(self):
        with self._probe.span("pagination.page"):
            rows = self._df.collect()
        if self._probe.tracer.current_request() is not None:
            self._probe.page_rows.append((self._total, len(rows)))
        return rows

    def __getattr__(self, name):
        return getattr(self._df, name)


class _Collect:
    """A DataFrame whose ``collect`` is spanned under *name*."""

    def __init__(self, df, name: str, probe: Probe) -> None:
        self._df, self._name, self._probe = df, name, probe

    def collect(self):
        with self._probe.span(self._name):
            return self._df.collect()

    def __getattr__(self, name):
        return getattr(self._df, name)


_SAVED: list[tuple[object, str, object]] = []


def _swap(owner, name: str, new) -> None:
    _SAVED.append((owner, name, getattr(owner, name)))
    setattr(owner, name, new)


def install(probe: Probe) -> None:
    from tantalus_spark.compiler.compiler import QuerySet
    from tantalus_spark.operators import serializers, services

    filtered_queryset = services.filtered_queryset
    paginate = services.paginate
    to_df = QuerySet.to_df
    expand_related = serializers.expand_related
    dataset_set_to_csv = serializers.dataset_set_to_csv

    def traced_filtered_queryset(*a, **k):
        with probe.span("compiler.filter"):
            return filtered_queryset(*a, **k)

    def traced_to_df(self):
        with probe.span("compiler.to_df"):
            df = to_df(self)
        rid = probe.tracer.current_request()
        if rid is not None:
            probe.plans.setdefault(rid, []).append(df)
        return df

    def traced_paginate(*a, **k):
        with probe.span("pagination.count"):
            page = paginate(*a, **k)
        return dataclasses.replace(page, rows=_Rows(page.rows, page.total, probe))

    def traced_expand_related(*a, **k):
        with probe.span("serializers.expand"):
            return _Collect(expand_related(*a, **k), "serializers.expand", probe)

    def traced_csv(*a, **k):
        with probe.span("serializers.csv"):
            return dataset_set_to_csv(*a, **k)

    _swap(services, "filtered_queryset", traced_filtered_queryset)
    _swap(services, "paginate", traced_paginate)
    _swap(QuerySet, "to_df", traced_to_df)
    _swap(serializers, "expand_related", traced_expand_related)
    _swap(serializers, "dataset_set_to_csv", traced_csv)


def uninstall() -> None:
    while _SAVED:
        owner, name, old = _SAVED.pop()
        setattr(owner, name, old)


def traced_server(db, probe: Probe):
    """An ``ApiServer`` whose handler threads join the client's request
    and whose write path is spanned."""
    from tantalus_spark.api import ApiServer, _Handler

    class Handler(_Handler):
        def _traced(self, method) -> None:
            rid = self.headers.get(HEADER)
            if rid is None:
                method(self)
                return
            probe.sc.setJobGroup(rid, rid)
            with probe.tracer.adopt(rid), probe.span("api.handle"):
                method(self)

        def do_GET(self) -> None:  # noqa: N802
            self._traced(_Handler.do_GET)

        def do_POST(self) -> None:  # noqa: N802
            self._traced(_Handler.do_POST)

        def do_PUT(self) -> None:  # noqa: N802
            self._traced(_Handler.do_PUT)

        def do_DELETE(self) -> None:  # noqa: N802
            self._traced(_Handler.do_DELETE)

        def _send(self, status: int, payload: dict) -> None:
            with probe.span("api.serialize"):
                body = json.dumps(payload, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    class Server(ApiServer):
        def __init__(self, db) -> None:
            super().__init__(db)
            self.RequestHandlerClass = Handler

        def apply_mutation(self, endpoint, rows, create_only):
            with probe.span("mutations.post" if create_only else "mutations.put"):
                return super().apply_mutation(endpoint, rows, create_only)

        def apply_delete(self, endpoint, pk_value):
            with probe.span("mutations.delete"):
                return super().apply_delete(endpoint, pk_value)

    return Server(db)
