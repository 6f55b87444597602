"""One-action pagination: the total observed during the page's own scan
must equal ``df.count()``, and the page must hold the same ids as a plain
sort-and-slice, for every shape of list request."""

from __future__ import annotations

import random
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from tantalus_spark.operators.pagination import paginate
from tantalus_spark.operators.services import filtered_queryset

# (endpoint, params): root-only, empty match, M2M, reverse FK (semi and
# anti), a forward-FK hop
REQUESTS = [
    ("sequence_dataset", {}),
    ("sequence_dataset", {"name": "no such dataset"}),
    ("sequence_dataset", {"tags__name": "prod"}),
    ("results_dataset", {"samples__sample_id": "SA100A"}),
    ("file_resource", {"sequencedataset__name": "DS1"}),
    ("sample", {"sequencedataset__id__isnull": True}),
    ("sample", {"patient__patient_id": "SA100"}),
]


def _expected(df, page: int, page_size: int) -> tuple[int, list[int]]:
    ids = sorted(r["id"] for r in df.select("id").collect())
    return len(ids), ids[(page - 1) * page_size:page * page_size]


def _check(df, page: int, page_size: int) -> None:
    got = paginate(df, ["id"], page=page, page_size=page_size)
    total, ids = _expected(df, page, page_size)
    assert got.total == df.count() == total
    assert [r["id"] for r in got.rows] == ids


@pytest.mark.parametrize("endpoint,params", REQUESTS)
@pytest.mark.parametrize("page,page_size", [(1, 2), (2, 2), (9, 2)])
def test_observed_total_matches_count(tdb, endpoint, params, page, page_size):
    # (9, 2) is a page past the end of every fixture endpoint
    _check(filtered_queryset(tdb, endpoint, params).to_df(), page, page_size)


def test_deep_offset(spark):
    ids = list(range(2000))
    random.Random(3).shuffle(ids)
    df = spark.createDataFrame([(i, i % 7) for i in ids], "id long, g long")
    _check(df, 200, 10)
    _check(df.filter("g = 3"), 20, 7)


def test_presorted_input_still_counts_every_row(spark):
    """An input already sorted by the sort key must not let the top-K
    stop reading each partition early: that would undercount."""
    rows = spark.range(1000)
    _check(rows, 1, 10)
    shuffled = list(range(500))
    random.Random(5).shuffle(shuffled)
    df = spark.createDataFrame([(i,) for i in shuffled], "id long")
    keys = spark.createDataFrame([(i,) for i in range(0, 500, 3)], "id long")
    merged = df.join(keys.hint("merge"), "id", "left_semi")
    assert "SortMergeJoin" in merged._jdf.queryExecution() \
        .executedPlan().toString()
    _check(merged, 1, 10)
    _check(merged, 3, 25)


def test_pruned_page_falls_back_to_count(spark):
    # an offset past a bounded input lets Catalyst drop the observed plan
    df = spark.range(5)
    got = paginate(df, ["id"], page=4, page_size=2)
    assert got.total == 5 and list(got.rows) == []
    assert paginate(df, ["id"], page_size=0).total == 5


def test_adaptive_replan_does_not_double_count(spark):
    """Shaped like an M2M filter over a table a facade write rewrote: the
    match-set's unknown size plans a sort-merge join, and once it runs
    small, adaptive execution re-plans the page as a global sort whose
    sampling pass scans the observed rows twice."""
    root = spark.createDataFrame([(1, "R1"), (2, "R2")], "id long, name string")
    child = spark.createDataFrame([(i, f"S{i}") for i in range(1, 6)],
                                  "id long, sid string")
    new = spark.createDataFrame([(2, "S2")], "id long, sid string")
    child = child.join(new.select("id"), "id", "left_anti").unionByName(new)
    junction = spark.createDataFrame([(1, 1), (1, 2), (2, 4)],
                                     "rid long, cid long")
    match = (child.filter("sid = 'S1'")
             .join(junction, child.id == junction.cid)
             .select(F.col("rid").alias("id")).dropDuplicates(["id"]))
    _check(root.join(match, "id", "left_semi"), 1, 2)


def test_concurrent_pages(tdb):
    """Two threads paginating different filters at once each read their
    own observed total."""
    jobs = [("sequence_dataset", {"tags__name": "prod"}, 1, 1),
            ("sample", {"patient__patient_id": "SA100"}, 1, 10),
            ("sequence_dataset", {}, 2, 2),
            ("sample", {"sequencedataset__id__isnull": True}, 1, 3)] * 3
    frames = [filtered_queryset(tdb, ep, params).to_df()
              for ep, params, _, _ in jobs]
    expected = [_expected(df, page, size)
                for df, (_, _, page, size) in zip(frames, jobs)]

    def run(i):
        got = paginate(frames[i], ["id"], page=jobs[i][2],
                       page_size=jobs[i][3])
        return got.total, [r["id"] for r in got.rows]

    with ThreadPoolExecutor(2) as pool:
        assert list(pool.map(run, range(len(jobs)))) == expected


def test_rows_collect_returns_the_page(tdb):
    page = paginate(tdb.table("tag").filter(F.col("id") > 1), ["-id"])
    assert page.rows.collect() is page.rows
    assert [r["id"] for r in page.rows] == [3, 2]
