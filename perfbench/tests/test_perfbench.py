"""Tests of the benchmark's own code: input generators, answer checks and
the span arithmetic. Run from the repository root with
``python3 -m pytest perfbench/tests -q``; no Spark session is started."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(1, os.path.dirname(BENCH))

import catalog_gen  # noqa: E402
import catalog_read  # noqa: E402
import catalog_write  # noqa: E402
import corpus  # noqa: E402
import oracle  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from tracer import Span, Tracer, covered, self_share, self_times  # noqa: E402


def _same(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for t in a:
        if a[t].keys() != b[t].keys():
            return False
        for c in a[t]:
            if [repr(x) for x in a[t][c]] != [repr(x) for x in b[t][c]]:
                return False
    return True


@pytest.fixture(scope="module")
def small_catalog(tmp_path_factory):
    data = catalog_gen.generate(7, scale=1)
    path = str(tmp_path_factory.mktemp("catalog"))
    catalog_gen.write(data, path)
    return data, path


def test_catalog_generator_is_deterministic_per_seed():
    assert _same(catalog_gen.generate(3, scale=1), catalog_gen.generate(3, scale=1))
    assert not _same(catalog_gen.generate(3, scale=1), catalog_gen.generate(4, scale=1))


def test_corpus_generator_is_deterministic_per_seed():
    assert corpus.generate_documents(3, 200) == corpus.generate_documents(3, 200)
    assert corpus.generate_documents(3, 200) != corpus.generate_documents(4, 200)


def test_request_stream_is_seeded_and_keeps_its_mix():
    data = catalog_gen.generate(1, scale=1)
    v = catalog_read.Values(data)
    take = lambda seed: [r for _, r in zip(range(60), catalog_read.request_stream(seed, v))]  # noqa: E731
    a, b, c = take(1), take(1), take(2)
    assert [catalog_read.key(r) for r in a] == [catalog_read.key(r) for r in b]
    assert [catalog_read.key(r) for r in a] != [catalog_read.key(r) for r in c]
    # the seed picks parameters, never the template order
    assert [r["template"] for r in a] == [r["template"] for r in c]


def test_catalog_keeps_fixture_invariants():
    t = catalog_gen.generate(5, scale=1)
    # every enum value present
    assert set(t["dna_library"]["index_format"]) == set(catalog_gen.INDEX_FORMATS)
    assert set(t["sequencing_lane"]["sequencing_centre"]) == set(catalog_gen.CENTRES)
    assert set(t["sequence_dataset"]["dataset_type"]) == set(catalog_gen.DATASET_TYPES)
    # files in 2+ storages and in none
    per_file = np.bincount(t["file_instance"]["file_resource_id"],
                           minlength=len(t["file_resource"]["id"]) + 1)[1:]
    assert (per_file == 0).any() and (per_file >= 2).any()
    # datasets with 2+ tags
    assert (np.bincount(t["sequencedataset_tags"]["sequencedataset_id"]) >= 2).any()
    # complete and incomplete lane sets
    lanes_of_lib = np.bincount(t["sequencing_lane"]["dna_library_id"])
    ds_lanes = np.bincount(t["sequencedataset_sequence_lanes"]["sequencedataset_id"])
    ds_lib = t["sequence_dataset"]["library_id_fk"]
    full = [ds_lanes[d] == lanes_of_lib[lib]
            for d, lib in zip(t["sequence_dataset"]["id"], ds_lib)]
    assert any(full) and not all(full)
    # case probes: sample ids equal up to case
    ids = t["sample"]["sample_id"]
    assert len({s.lower() for s in ids}) < len(set(ids))
    # timestamps on both sides of each range boundary
    stamps = t["sequence_dataset"]["last_updated"]
    for b in catalog_gen.BOUNDARIES:
        assert any(s < b for s in stamps) and any(s == b for s in stamps) \
            and any(s > b for s in stamps)
    # history chains: a '+' row followed by '~' rows for the same entity
    h = t["tag_history"]
    edited = {i for i, k in zip(h["id"], h["history_type"]) if k == "~"}
    created = {i for i, k in zip(h["id"], h["history_type"]) if k == "+"}
    assert edited and edited <= created


def test_write_schedule_covers_every_op_and_table():
    sched = [catalog_write.schedule(k) for k in range(30)]
    # any four writes in a row have every table and every op; any twelve
    # have every pair
    for k in range(len(sched) - 12):
        four = sched[k:k + 4]
        assert sorted(t for _, t in four) == sorted(catalog_write.WRITTEN)
        assert {op for op, _ in four} == set(catalog_write.OPS)
        assert len(set(sched[k:k + 12])) == 12


def test_checker_accepts_right_and_catches_wrong_count(small_catalog):
    data, path = small_catalog
    con = oracle.connect(path, list(data))
    req = {"kind": "list", "endpoint": "sequence_dataset",
           "params": {"tags__name": data["tag"]["name"][0]}, "page": 1,
           "expand": None, "template": "dataset_by_hot_tag"}
    count, ids = catalog_read.expected(con, req)
    assert count > 0
    assert catalog_read.check(con, [(req, (count, ids))]) == []
    bad = catalog_read.check(con, [(req, (count + 1, ids)), (req, (count, ids))])
    assert len(bad) == 1 and "dataset_by_hot_tag" in bad[0]


def test_oracle_resolves_many_to_many_paths(small_catalog):
    data, path = small_catalog
    con = oracle.connect(path, list(data))
    tag = data["tag"]["name"][0]
    tag_id = data["tag"]["id"][0]
    j = data["sequencedataset_tags"]
    want = sorted({int(d) for d, t in zip(j["sequencedataset_id"], j["tag_id"])
                   if t == tag_id})
    count, ids = oracle.list_answer(con, "sequence_dataset", {"tags__name": tag},
                                    1, 10_000)
    assert count == len(want) and ids == want


def test_self_time_subtracts_children_once():
    # root [0, 10] has children [1, 4] and [3, 6] (overlapping) and [8, 9];
    # the first child has a grandchild [2, 3]
    spans = [Span(1, "request", 0.0, 10.0, None, "r"),
             Span(2, "api.handle", 1.0, 4.0, 1, "r"),
             Span(3, "compiler.to_df", 3.0, 6.0, 1, "r"),
             Span(4, "pagination.page", 8.0, 9.0, 1, "r"),
             Span(5, "pagination.count", 2.0, 3.0, 2, "r")]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)     # union [1,6] + [8,9]
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)
    assert covered([(0, 2), (1, 3), (5, 20)], 0, 10) == pytest.approx(8.0)
    # shares of the root's 10 s: pagination self time 1 + 1, root self 4
    assert self_share(spans, [spans[0]], ("pagination.",)) == pytest.approx(0.2)
    assert self_share(spans, [spans[0]], ("request",)) == pytest.approx(0.4)


def test_tracer_records_only_inside_requests():
    tr = Tracer()
    with tr.span("compiler.to_df"):
        pass
    with tr.span("request", request="r1"):
        with tr.span("compiler.to_df"):
            assert tr.current_request() == "r1"
    assert [(s.name, s.parent is None, s.request) for s in tr.spans] == [
        ("compiler.to_df", False, "r1"), ("request", True, "r1")]
    off = Tracer(enabled=False)
    with off.span("request", request="r1"):
        pass
    assert off.spans == []


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    import run

    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
