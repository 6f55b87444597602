"""The read phase of the ``catalog`` workload: two closed-loop clients
reading a seeded tantalus catalog.

Requests follow about forty templates. Template frequencies are Zipf
weights in a fixed rank order, laid out by smooth weighted round robin so
every stretch of the request stream has the same mix; the seed only picks
the parameter values (which tag, which sample, which page). List requests
go through the HTTP facade; the search, datatables and stats calls, which
the facade has no route for, are made directly.
"""

from __future__ import annotations

import csv
import io
import json
import urllib.request
from urllib.parse import urlencode

import numpy as np

import oracle

ZIPF_S = 0.7
PAGE_SIZE = 10

# free-text tokens: digits keep them clear of the enum display labels the
# search also matches free text against
FTS_TOKENS = ["sa01", "sa12", "tag_01", "ds-12", "a9001", "project_3",
              "res2", "sub1"]

SEARCH_FIELDS_SD = ["name", "sample__sample_id"]


def _col(data, table, column) -> list:
    return list(data[table][column])


class Values:
    """Parameter pools drawn from the generated catalog."""

    def __init__(self, data: dict) -> None:
        self.tags = _col(data, "tag", "name")
        tag_ids = np.asarray(data["sequencedataset_tags"]["tag_id"])
        counts = np.bincount(tag_ids, minlength=len(self.tags) + 1)[1:]
        self.hot_tags = [self.tags[i] for i in np.argsort(-counts, kind="stable")[:5]]
        self.storages = _col(data, "storage", "name")
        self.sample_ids = _col(data, "sample", "sample_id")
        self.patient_ids = [p for p in _col(data, "patient", "patient_id") if p]
        self.library_ids = _col(data, "dna_library", "library_id")
        self.flowcells = _col(data, "sequencing_lane", "flowcell_id")
        self.ds_names = _col(data, "sequence_dataset", "name")
        self.n_ds = len(self.ds_names)
        self.n_fr = len(data["file_resource"]["id"])
        self.sfi_files = _col(data, "sequence_file_info", "file_resource_id")
        self.jira = [j for j in _col(data, "analysis", "jira_ticket") if j]
        self.curations = _col(data, "curation", "name")
        self.projects = _col(data, "project", "name")


def _year_window(rng) -> dict:
    import datetime as dt

    y = int(rng.integers(2017, 2021))
    m = int(rng.integers(1, 10))
    lo = dt.datetime(y, m, 1)
    hi = dt.datetime(y, m + 3, 1)
    return {"last_updated__gte": lo, "last_updated__lte": hi}


def _list(endpoint, params, page=1, expand=None) -> dict:
    return {"kind": "list", "endpoint": endpoint, "params": params,
            "page": page, "expand": expand}


def templates(v: Values) -> list[tuple[str, object]]:
    """(name, builder(rng) -> request), most frequent first. The round
    robin reaches each template first at about its rank. The top 18
    (FK, reverse-FK and M2M paths, ``__in``, prefix, substring and date
    filters, a deep page, ``?expand=``) first come by stream position
    20, which every run reaches; the light list requests follow. The
    heavy calls (CSV export, search, datatables, stats), which take
    seconds each, come last, at positions 53-66: a run of the set length
    never reaches them, so whether one lands in the window cannot swing
    a run's figures. The traced run serves them after its window."""
    pick = lambda rng, xs: xs[int(rng.integers(len(xs)))]  # noqa: E731
    return [
        ("sample_by_id", lambda r: _list("sample", {"sample_id": pick(r, v.sample_ids)})),
        ("dataset_by_hot_tag", lambda r: _list("sequence_dataset", {"tags__name": pick(r, v.hot_tags)})),
        ("tag_by_name", lambda r: _list("tag", {"name": pick(r, v.tags)})),
        ("instances_in_gsc", lambda r: _list("file_instance", {"storage__name": "gsc"})),
        ("dataset_by_library", lambda r: _list("sequence_dataset", {"library__library_id": pick(r, v.library_ids)})),
        ("library_prefix", lambda r: _list("dna_library", {"library_id__startswith": f"A90{int(r.integers(10, 30))}"})),
        ("lane_by_flowcell", lambda r: _list("sequencing_lane", {"flowcell_id": pick(r, v.flowcells)})),
        ("dataset_hot_tag_expand", lambda r: _list("sequence_dataset", {"tags__name": pick(r, v.hot_tags)}, expand="sample,library")),
        ("patient_by_id", lambda r: _list("patient", {"patient_id": pick(r, v.patient_ids)})),
        ("dataset_in_ids", lambda r: _list("sequence_dataset", {"id__in": sorted(int(x) for x in r.integers(1, v.n_ds + 1, 8))})),
        ("dataset_date_range", lambda r: _list("sequence_dataset", _year_window(r))),
        ("instances_deep_page", lambda r: _list("file_instance", {"storage__name": pick(r, v.storages)}, page=int(r.integers(200, 2000)))),
        ("storage_all", lambda r: _list("storage", {})),
        ("files_in_storage", lambda r: _list("file_resource", {"fileinstance__storage__name": pick(r, v.storages)})),
        ("lanes_of_library", lambda r: _list("sequencing_lane", {"dna_library__library_id": pick(r, v.library_ids)})),
        ("dataset_sample_contains", lambda r: _list("sequence_dataset", {"sample__sample_id__contains": f"SA0{int(r.integers(10, 99))}"})),
        ("instances_of_file", lambda r: _list("file_instance", {"file_resource": int(r.integers(1, v.n_fr + 1))})),
        ("files_in_ids", lambda r: _list("file_resource", {"id__in": sorted(int(x) for x in r.integers(1, v.n_fr + 1, 8))})),
        ("dataset_type_production", lambda r: _list("sequence_dataset", {"dataset_type": pick(r, ["BAM", "FQ", "BCL"]), "is_production": True})),
        ("sample_by_patient", lambda r: _list("sample", {"patient__patient_id": pick(r, v.patient_ids)})),
        ("instances_of_files_in", lambda r: _list("file_instance", {"file_resource__in": sorted(int(x) for x in r.integers(1, v.n_fr + 1, 6))})),
        ("seqinfo_of_file", lambda r: _list("sequence_file_info", {"file_resource": pick(r, v.sfi_files)})),
        ("dataset_aligner_prefix", lambda r: _list("sequence_dataset", {"aligner__name__startswith": "BWA"})),
        ("analysis_by_status", lambda r: _list("analysis", {"status": pick(r, ["complete", "running", "error", "Unknown"])})),
        ("curation_by_name", lambda r: _list("curation", {"name": pick(r, v.curations)})),
        ("results_by_jira", lambda r: _list("results_dataset", {"analysis__jira_ticket": pick(r, v.jira)})),
        ("sample_by_project", lambda r: _list("sample", {"projects__name": pick(r, v.projects)})),
        ("files_by_dataset_name", lambda r: _list("file_resource", {"sequencedataset__name": pick(r, v.ds_names)})),
        ("files_suffix", lambda r: _list("file_resource", {"filename__endswith": pick(r, [".spec", ".bam.bai"])})),
        ("results_by_tag", lambda r: _list("results_dataset", {"tags__name": pick(r, v.tags)})),
        ("analysis_date_range", lambda r: _list("analysis", _year_window(r))),
        ("files_prefix", lambda r: _list("file_resource", {"filename__startswith": f"data/run{int(r.integers(1, 2000))}/"})),
        ("results_by_sample", lambda r: _list("results_dataset", {"samples__sample_id": pick(r, v.sample_ids)})),
        ("samples_without_datasets", lambda r: _list("sample", {"sequencedataset__id__isnull": True})),
        ("dataset_empty_lane_number", lambda r: _list("sequence_dataset", {"sequence_lanes__lane_number": ""})),
        ("analysis_by_input_library", lambda r: _list("analysis", {"input_datasets__library__library_id": pick(r, v.library_ids)})),
        ("dataset_in_storage", lambda r: _list("sequence_dataset", {"file_resources__fileinstance__storage__name": pick(r, v.storages)})),
        ("datatables_datasets", lambda r: {"kind": "datatables", "token": f"ds-{int(r.integers(10, 99))}",
                                           "start": int(r.integers(0, 3)) * 50}),
        ("dataset_csv", lambda r: {"kind": "csv", "ids": sorted(set(int(x) for x in r.integers(1, v.n_ds + 1, 20)))}),
        ("dashboard_counts", lambda r: {"kind": "dashboard"}),
        ("free_text_search", lambda r: {"kind": "fts", "token": pick(r, FTS_TOKENS)}),
        ("library_stats", lambda r: {"kind": "library_stats"}),
    ]


def request_stream(seed: int, v: Values):
    """Endless request generator: template by smooth weighted round robin
    over Zipf weights, parameters from the seeded generator."""
    rng = np.random.default_rng([seed, 1])
    tpl = templates(v)
    w = 1.0 / np.arange(1, len(tpl) + 1) ** ZIPF_S
    cur = np.zeros(len(tpl))
    while True:
        cur += w
        i = int(np.argmax(cur))
        cur[i] -= w.sum()
        name, build = tpl[i]
        req = build(rng)
        req["template"] = name
        yield req


def key(req: dict) -> str:
    return json.dumps({k: v for k, v in req.items() if k != "template"},
                      sort_keys=True, default=str)


def _query_value(v) -> str:
    if isinstance(v, list):
        return ",".join(str(x) for x in v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def url_of(req: dict) -> str:
    if req["kind"] == "csv":
        return "/api/sequence_dataset/csv?" + urlencode(
            {"id__in": _query_value(req["ids"])})
    q = {k: _query_value(v) for k, v in req["params"].items()}
    if req["page"] != 1:
        q["page"] = str(req["page"])
    if req.get("expand"):
        q["expand"] = req["expand"]
    return f"/api/{req['endpoint']}/" + ("?" + urlencode(q) if q else "")


def http_get(base: str, path: str, headers: dict | None = None) -> bytes:
    r = urllib.request.Request(base + path, headers=headers or {})
    with urllib.request.urlopen(r, timeout=120) as resp:
        return resp.read()


def serve(db, base: str, req: dict, headers: dict | None = None, span=None):
    """Perform one request; returns its answer in the oracle's shape.
    *span* opens a tracing span around direct layer calls."""
    import contextlib

    span = span or (lambda name: contextlib.nullcontext())
    kind = req["kind"]
    if kind == "list":
        body = json.loads(http_get(base, url_of(req), headers))
        return body["count"], [r["id"] for r in body["results"]]
    if kind == "csv":
        text = http_get(base, url_of(req), headers).decode()
        rows = list(csv.DictReader(io.StringIO(text)))
        return [(r["id"], r["name"], r["sample_id"], r["library_id"], r["tags"])
                for r in rows]
    from tantalus_spark.operators import search, services, stats

    if kind == "fts":
        with span("search.free_text"):
            rows = search.search_totals(
                search.free_text_search(db, req["token"])).collect()
        return {r["entity"]: r["n"] for r in rows}
    if kind == "datatables":
        with span("search.datatables"):
            out = services.datatables_list(
                db, "sequence_dataset", SEARCH_FIELDS_SD, req["token"],
                order_by=["-id"], start=req["start"], length=50)
        return {"total": out["recordsTotal"], "filtered": out["recordsFiltered"],
                "ids": [r["id"] for r in out["data"]]}
    if kind == "dashboard":
        with span("stats.dashboard"):
            rows = stats.dashboard_counts(db).collect()
        return {r["entity"]: r["n"] for r in rows}
    if kind == "library_stats":
        with span("stats.library"):
            rows = stats.library_stats(db).collect()
        return sorted((r["library_type"], r["storage_name"], r["n_datasets"],
                       r["total_bytes"]) for r in rows)
    raise ValueError(f"unknown request kind {kind!r}")


def expected(con, req: dict):
    """The oracle's answer for one request."""
    kind = req["kind"]
    if kind == "list":
        return oracle.list_answer(con, req["endpoint"], req["params"],
                                  req["page"], PAGE_SIZE)
    if kind == "csv":
        return oracle.csv_answer(con, req["ids"])
    if kind == "fts":
        from tantalus_spark.operators.search import SEARCH_FIELDS

        return oracle.search_counts(con, SEARCH_FIELDS, req["token"])
    if kind == "datatables":
        return oracle.datatables_answer(con, "sequence_dataset",
                                        SEARCH_FIELDS_SD, req["token"],
                                        req["start"], 50, "id DESC")
    if kind == "dashboard":
        return oracle.dashboard_answer(con)
    if kind == "library_stats":
        return oracle.library_stats_answer(con)
    raise ValueError(kind)


def normalise(answer):
    if isinstance(answer, tuple):
        return (answer[0], list(answer[1]))
    return answer


def check(con, answered: list[tuple[dict, object]]) -> list[str]:
    """Compare each (request, answer) with the oracle, computing each
    distinct request's expected answer once; returns one message per
    wrong answer."""
    want, bad = {}, []
    for req, ans in answered:
        k = key(req)
        if k not in want:
            want[k] = normalise(expected(con, req))
        if normalise(ans) != want[k]:
            bad.append(f"{req['template']} {k[:160]}: got {str(ans)[:160]} "
                       f"want {str(want[k])[:160]}")
    return bad
