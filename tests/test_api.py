"""HTTP facade tests: real sockets against the stdlib server, exercising
the validated-filter path, pagination envelope, bearer auth, and error
shapes the reference's DRF front door defines."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from tantalus_spark.api import ApiServer
from tantalus_spark.catalog.loader import Database
from tantalus_spark.catalog.tantalus_model import SCHEMAS, tantalus_catalog


@pytest.fixture(scope="module")
def server(tdb):
    srv = ApiServer(tdb)
    host, port = srv.serve_background()
    yield f"http://{host}:{port}"
    srv.shutdown()


def get(base, path, headers=None):
    req = urllib.request.Request(base + path, headers=headers or {})
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, json.loads(resp.read())


def test_endpoint_directory(server):
    status, body = get(server, "/api/")
    assert status == 200
    assert "sequence_dataset" in body["endpoints"]


def test_filtered_list_with_pagination(server):
    status, body = get(
        server, "/api/sequence_dataset/?tags__name=prod&page_size=1&page=2")
    assert status == 200
    assert body["count"] == 2          # DS1 and DS2 carry tag 'prod'
    assert len(body["results"]) == 1   # page-sized
    assert body["page"] == 2


def test_related_path_filter(server):
    status, body = get(server, "/api/sample/?patient__patient_id=SA100")
    assert status == 200
    assert {r["id"] for r in body["results"]} == {1, 2}


def test_unknown_param_is_400_naming_legal_set(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        get(server, "/api/sample/?bogus=1")
    assert e.value.code == 400
    assert "no filter" in json.loads(e.value.read())["detail"]


def test_filter_value_the_column_cannot_take_is_400(server):
    """A filter value its column's type cannot take is a client error
    naming the param, not an engine fault inside the list job."""
    for path, param in (
            ("/api/tag/?id=abc", "id"),
            ("/api/tag/?id=1.5", "id"),
            ("/api/file_instance/?is_deleted=maybe", "is_deleted"),
            ("/api/file_instance/?file_resource__in=a,b",
             "file_resource__in"),
            ("/api/sequence_dataset/?last_updated__gte=abc",
             "last_updated__gte"),
            ("/api/sequence_dataset/?last_updated__gte=2019-01-01%2025:00",
             "last_updated__gte"),
            ("/api/sequence_dataset/?last_updated__gte=2019-01-01%20abc",
             "last_updated__gte"),
            ("/api/sequence_dataset/?last_updated__gte=2019-01-01T",
             "last_updated__gte")):
        with pytest.raises(urllib.error.HTTPError) as e:
            get(server, path)
        assert e.value.code == 400, path
        assert repr(param) in json.loads(e.value.read())["detail"], path
    # values the types take still filter
    assert get(server, "/api/tag/?id=2")[1]["count"] == 1
    assert get(server, "/api/file_instance/?is_deleted=True")[0] == 200
    assert get(server, "/api/file_instance/?file_resource__in=1,2")[0] == 200
    assert get(server, "/api/sequence_dataset/"
                       "?last_updated__gte=2019-01-01T00:00:00.000Z")[0] == 200


# Spark's string casts, by kind: integers and booleans, date forms
# (what follows the day is ignored), timestamp time parts and bare
# times, zone suffixes (offsets, prefixed offsets, short and region ids,
# misspelt ones), and the 64-bit microsecond bounds.
_CAST_PROBES = [
    "", " ", "abc", "0", "-1", "+7", "1.5", "1e3", " 42 ", "2147483648",
    "9223372036854775807", "9223372036854775808", "true", "T", "yes", "no",
    "maybe", "2019", "2019-1", "2019-01", "2019-1-1", "2019-01-01",
    "02019-01-01", "201-01-01", "+2019-01-01", "-2019-01-01", "2019-13-01",
    "2019-02-29", "2020-02-29", "2019-04-31", "2019-01-001", "2019-01 01",
    "2019-", "2019-01-01x", "2019/01/01", "20190101", "1234567-01-01",
    "5881580-07-12", "2019-01-01 0", "2019-01-01 000", "2019-01-01 1:2",
    "2019-01-01 12:", "2019-01-01 12:60", "2019-01-01 23:59:59",
    "2019-01-01 23:59:60", "2019-01-01 24:00", "2019-01-01 25:00",
    "2019-01-01 abc", "2019-01-01T", "2019-01-01T12", "2019-01-01T12:00:00.",
    "2019-01-01T12:00:00.1234567", "2019-01-01T12:00:00..1",
    "2019-01-01 12:00:001", "2019-01-01  12:00", "2019-01-01 12:00:00:00",
    "T12", " T12", "12:00", " 12:00", "T25", "12:60", "123:00", "+12:00",
    "2019-01-01T12:00:00.000Z", "2019-01-01 12:00Z", "2019-01-01 12Z",
    "2019-01-01 12:00:00z", "2019-01-01 12:00:00+08:00",
    "2019-01-01 12:00:00+8:00", "2019-01-01 12:00:00+8",
    "2019-01-01 12:00:00+0800", "2019-01-01 12:00:00+08:0",
    "2019-01-01 12:00:00+08:00:00", "2019-01-01 12:00:00+18:01",
    "2019-01-01 12:00:00+19", "2019-01-01 12:00:00-08:00",
    "2019-01-01 12:00:00+0860", "2019-01-01 12:00:00.5 UTC",
    "2019-01-01 12:00:00UTC+8", "2019-01-01 12:00:00GMT-5",
    "2019-01-01 12:00:00UTC+", "2019-01-01 12:00:00UTCX",
    "2019-01-01 12:00:00 PST", "2019-01-01 12:00:00 America/Los_Angeles",
    "2019-01-01 12:00:00america/los_angeles", "2019-01-01 12:00:00Foo/Bar",
    "294247-01-10 04:00:54.775807", "294247-01-10 04:00:54.775808",
    "294247-01-10 04:00:54-01:00", "-290308-12-21 19:59:05.224191",
]


def test_castable_agrees_with_spark_try_cast(spark):
    """services._castable, the 400 gate in front of Spark's ANSI cast,
    accepts exactly the strings Spark's try_cast accepts."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tantalus_spark.operators.services import _castable

    types = {"bigint": T.LongType(), "int": T.IntegerType(),
             "boolean": T.BooleanType(), "date": T.DateType(),
             "timestamp": T.TimestampType(),
             "timestamp_ntz": T.TimestampNTZType()}
    probes = spark.range(1).select(
        F.explode(F.array(*map(F.lit, _CAST_PROBES))).alias("v"))
    rows = probes.select("v", *[
        F.expr(f"try_cast(v AS {name}) IS NOT NULL").alias(name)
        for name in types]).collect()
    assert len(rows) == len(_CAST_PROBES)
    wrong = [(r["v"], name) for r in rows for name, dtype in types.items()
             if _castable(r["v"], dtype) != r[name]]
    assert not wrong, wrong


def test_string_filter_takes_boolean_words_literally(spark):
    """?name=true on a string column matches the tag named "true", not
    a boolean."""
    db = Database(spark, tantalus_catalog())
    db.add("tag", spark.createDataFrame(
        [(1, "prod", None), (2, "true", None), (3, "True", None),
         (4, "false", None)], SCHEMAS["tag"]))
    srv = ApiServer(db)
    host, port = srv.serve_background()
    try:
        for word, pk in (("true", 2), ("True", 3), ("false", 4)):
            status, body = get(f"http://{host}:{port}", f"/api/tag/?name={word}")
            assert status == 200
            assert [r["id"] for r in body["results"]] == [pk], word
    finally:
        srv.shutdown()


def test_list_request_runs_one_spark_job(tdb):
    """A list request is one Spark action: the page and its total come
    from the same scan, so a second count() cannot creep back in."""
    group = "one-job-list"

    class Grouped(ApiServer):
        def process_request_thread(self, request, client_address):
            tdb.spark.sparkContext.setJobGroup(group, "list request")
            super().process_request_thread(request, client_address)

    srv = Grouped(tdb)
    host, port = srv.serve_background()
    try:
        _, body = get(f"http://{host}:{port}", "/api/sample/?tissue=breast")
    finally:
        srv.shutdown()
    assert body["count"] == 1 and body["results"][0]["id"] == 1
    jobs = tdb.spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs


def test_engine_fault_is_logged_500(server, monkeypatch, caplog):
    """An engine fault inside the list path is a logged 500 whose body
    leaks nothing; a ValueError from the engine is not a client 400."""
    from tantalus_spark.operators import services

    def broken(*a, **k):
        raise ValueError("secret engine state")

    monkeypatch.setattr(services, "paginate", broken)
    with caplog.at_level("ERROR", logger="tantalus_spark.api"):
        with pytest.raises(urllib.error.HTTPError) as e:
            get(server, "/api/sample/")
    assert e.value.code == 500
    assert "secret" not in e.value.read().decode()
    (record,) = [r for r in caplog.records if r.name == "tantalus_spark.api"]
    assert record.levelname == "ERROR" and "/api/sample/" in record.getMessage()
    assert record.exc_info[0] is ValueError


def test_unknown_endpoint_is_404(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        get(server, "/api/nope/")
    assert e.value.code == 404


def test_bearer_token_auth(tdb):
    srv = ApiServer(tdb, token="s3cret")
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            get(base, "/api/")
        assert e.value.code == 401
        status, body = get(base, "/api/tag/?name=qc",
                           headers={"Authorization": "Bearer s3cret"})
        assert status == 200 and body["count"] == 1
    finally:
        srv.shutdown()


def test_jwt_auth(tdb):
    import time as _time

    from tantalus_spark.api import encode_jwt, verify_jwt

    srv = ApiServer(tdb, jwt_secret="jwt-s3cret")
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    try:
        # no token -> 401
        with pytest.raises(urllib.error.HTTPError) as e:
            get(base, "/api/")
        assert e.value.code == 401
        # valid token
        tok = encode_jwt({"sub": "alice", "exp": _time.time() + 60},
                         "jwt-s3cret")
        status, body = get(base, "/api/tag/?name=qc",
                           headers={"Authorization": f"Bearer {tok}"})
        assert status == 200 and body["count"] == 1
        # expired token -> 401
        old = encode_jwt({"sub": "alice", "exp": _time.time() - 1},
                         "jwt-s3cret")
        with pytest.raises(urllib.error.HTTPError) as e:
            get(base, "/api/", headers={"Authorization": f"Bearer {old}"})
        assert e.value.code == 401
        # wrong secret -> 401
        forged = encode_jwt({"sub": "eve"}, "other-secret")
        with pytest.raises(urllib.error.HTTPError) as e:
            get(base, "/api/", headers={"Authorization": f"Bearer {forged}"})
        assert e.value.code == 401
    finally:
        srv.shutdown()

    # unit-level: alg downgrade rejected
    import base64 as _b64
    import json as _json
    header = _b64.urlsafe_b64encode(
        _json.dumps({"alg": "none"}).encode()).rstrip(b"=").decode()
    body = _b64.urlsafe_b64encode(b"{}").rstrip(b"=").decode()
    assert verify_jwt(f"{header}.{body}.", "jwt-s3cret") is None


def post(base, path, payload, method="POST", headers=None):
    req = urllib.request.Request(
        base + path, data=json.dumps(payload).encode(), method=method,
        headers={"Content-Type": "application/json", **(headers or {})})
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, json.loads(resp.read())


def test_post_create_and_put_upsert(tdb):
    srv = ApiServer(tdb)
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    try:
        # create with auto-assigned id
        status, body = post(base, "/api/tag/", {"name": "новый"})
        assert status == 201 and body["ids"] == [4]
        status, got = get(base, "/api/tag/?id=4")
        assert got["results"][0]["name"] == "новый"
        # duplicate id on POST -> 400
        with pytest.raises(urllib.error.HTTPError) as e:
            post(base, "/api/tag/", {"id": 4, "name": "again"})
        assert e.value.code == 400
        # PUT upserts by pk
        status, body = post(base, "/api/tag/", {"id": 4, "name": "renamed"},
                            method="PUT")
        assert status == 200
        _, got = get(base, "/api/tag/?id=4")
        assert got["results"][0]["name"] == "renamed"
        # unknown column -> 400 naming legal set
        with pytest.raises(urllib.error.HTTPError) as e:
            post(base, "/api/tag/", {"nonsense": 1})
        assert e.value.code == 400
        assert "unknown columns" in json.loads(e.value.read())["detail"]
    finally:
        # restore the fixture table for other tests (module-scoped tdb)
        from pyspark.sql import functions as F
        srv.db.add("tag", srv.db.table("tag").filter(F.col("id") <= 3))
        srv.shutdown()


def test_delete_by_pk(tdb):
    srv = ApiServer(tdb)
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    try:
        status, body = post(base, "/api/tag/", {"name": "ephemeral"})
        new_id = body["ids"][0]
        req = urllib.request.Request(
            f"{base}/api/tag/?id={new_id}", method="DELETE")
        with urllib.request.urlopen(req, timeout=60) as resp:
            out = json.loads(resp.read())
        assert out["deleted"] == 1
        _, got = get(base, f"/api/tag/?id={new_id}")
        assert got["count"] == 0
        # deleting a missing id reports 0
        req = urllib.request.Request(
            f"{base}/api/tag/?id=99999", method="DELETE")
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert json.loads(resp.read())["deleted"] == 0
    finally:
        srv.shutdown()


def test_post_batch_id_assignment_no_collision(tdb):
    srv = ApiServer(tdb)
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    try:
        # explicit id beyond max + an auto row in one batch: auto id must
        # skip the explicit one, and intra-batch duplicates are rejected
        status, body = post(base, "/api/tag/", [
            {"id": 4, "name": "explicit"}, {"name": "auto"}])
        assert status == 201
        assert sorted(body["ids"]) == [4, 5]
        with pytest.raises(urllib.error.HTTPError) as e:
            post(base, "/api/tag/", [{"id": 9, "name": "a"},
                                     {"id": 9, "name": "b"}])
        assert e.value.code == 400
        # errors produce structured responses, not dropped connections
        with pytest.raises(urllib.error.HTTPError) as e:
            get(base, "/api/tag/?page=0&page_size=abc")
        assert e.value.code == 400
        # page_size clamps to 100 (reference max page size)
        _, got = get(base, "/api/tag/?page_size=999999999")
        assert got["page_size"] == 100
    finally:
        from pyspark.sql import functions as F
        srv.db.add("tag", srv.db.table("tag").filter(F.col("id") <= 3))
        srv.shutdown()


def test_put_partial_body_and_intra_batch_dups(tdb):
    srv = ApiServer(tdb)
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    try:
        # a PUT body omitting columns keeps their existing values (the
        # reference's DRF PUT would 400; merging is the lossless superset
        # — omitted != "set to NULL")
        status, _ = post(base, "/api/sample/",
                         {"id": 2, "note": "updated"}, method="PUT")
        assert status == 200
        _, got = get(base, "/api/sample/?id=2")
        row = got["results"][0]
        assert row["note"] == "updated"
        assert row["sample_id"] == "SA100B"      # untouched columns survive
        assert row["tissue"] == "ovary"
        # a pk not in the table inserts with omitted columns NULL
        status, _ = post(base, "/api/sample/",
                         {"id": 77, "sample_id": "SA777"}, method="PUT")
        assert status == 200
        _, got = get(base, "/api/sample/?id=77")
        assert got["results"][0]["tissue"] is None
        # intra-batch duplicate pks would leave two rows post-upsert: 400
        with pytest.raises(urllib.error.HTTPError) as e:
            post(base, "/api/sample/",
                 [{"id": 3, "note": "x"}, {"id": 3, "note": "y"}],
                 method="PUT")
        assert e.value.code == 400
    finally:
        from pyspark.sql import functions as F
        t = srv.db.table("sample")
        srv.db.add("sample", t.filter(F.col("id") <= 5).withColumn(
            "note", F.when(F.col("id") == 2, "note b").otherwise(
                F.col("note"))))
        srv.shutdown()


def test_facade_write_lineage_bounded(tdb):
    # 20 upsert cycles over 5 checkpoint periods: without the periodic
    # localCheckpoint each write stacks an anti-join+union layer and the
    # logical plan grows without bound in a long-lived server (r14:
    # shrunk from 40 cycles/8-deep periods to 20/4-deep — same 5-period
    # coverage, half the suite wall)
    srv = ApiServer(tdb)
    srv.CHECKPOINT_EVERY = 4
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    try:
        for i in range(20):
            status, _ = post(base, "/api/tag/",
                             {"id": 2, "name": f"cycle{i}"}, method="PUT")
            assert status == 200
        depth = len(srv.db.table("tag")._jdf.queryExecution()
                    .logical().treeString().splitlines())
        # 4 un-checkpointed layers x ~4 nodes each, plus slack; an
        # unbounded chain after 20 writes is >150 lines
        assert depth < 80, f"plan depth {depth} not bounded"
        _, got = get(base, "/api/tag/?id=2")
        assert got["results"][0]["name"] == "cycle19"
        assert srv.db.table("tag").count() == 3
    finally:
        from pyspark.sql import functions as F
        srv.db.add("tag", srv.db.table("tag").filter(F.col("id") <= 3)
                   .withColumn("name", F.when(F.col("id") == 2, "qc")
                               .otherwise(F.col("name"))))
        srv.shutdown()


def _parquet_copy(tdb, name: str, path, extra=()):
    """Swap table *name* for a parquet copy of itself plus *extra* rows, a
    table whose plan starts as a file scan like a loaded catalog's, not
    as a Python-RDD scan; returns the original for the caller to
    restore."""
    from tantalus_spark.operators.mutations import local_rows

    orig = tdb.table(name)
    local_rows(tdb.spark, [tuple(r) for r in orig.collect()] + list(extra),
               orig.schema).write.parquet(str(path))
    tdb.add(name, tdb.spark.read.parquet(str(path)))
    return orig


def delete(base, path):
    req = urllib.request.Request(base + path, method="DELETE")
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read())


def test_facade_writes_run_one_job_and_plan_locally(tdb, tmp_path):
    """Each facade write is at most one Spark job: POST one aggregate (next
    id and taken ids), a partial PUT one collect of the rows it merges
    into, a full-row PUT none, a DELETE one filtered collect. The written
    table's plan has no shuffle, no join and no Python-RDD scan."""

    class Grouped(ApiServer):
        group = ""

        def process_request_thread(self, request, client_address):
            tdb.spark.sparkContext.setJobGroup(self.group, "facade write")
            super().process_request_thread(request, client_address)

    orig = _parquet_copy(tdb, "tag", tmp_path / "tag")
    srv = Grouped(tdb)
    srv.CHECKPOINT_EVERY = 100
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    tracker = tdb.spark.sparkContext.statusTracker()

    def jobs(name, write):
        srv.group = f"facade-write-{name}"
        write()
        return len(tracker.getJobIdsForGroup(srv.group))

    try:
        assert jobs("post", lambda: post(base, "/api/tag/",
                                         {"name": "new"})) == 1
        assert jobs("partial-put", lambda: post(
            base, "/api/tag/", {"id": 2, "name": "qc2"}, method="PUT")) == 1
        assert jobs("full-put", lambda: post(
            base, "/api/tag/", {"id": 3, "name": "used", "owner_id": 7},
            method="PUT")) == 0
        assert jobs("delete", lambda: delete(base, "/api/tag/?id=4")) == 1
        table = tdb.table("tag")
        plan = table._jdf.queryExecution().executedPlan().toString()
        for node in ("Exchange", "SortMergeJoin", "ExistingRDD"):
            assert node not in plan, plan
        assert sorted(tuple(r) for r in table.collect()) == [
            (1, "prod", None), (2, "qc2", None), (3, "used", 7)]
    finally:
        tdb.add("tag", orig)
        srv.shutdown()


def test_facade_delete_plan_grows_linearly(tdb, tmp_path):
    """Each DELETE adds a constant-size layer to the table's plan; a key
    side that embeds the table itself would double it per DELETE."""
    orig = _parquet_copy(tdb, "tag", tmp_path / "tag",
                         [(i, f"gone{i}", None) for i in range(10, 18)])
    srv = ApiServer(tdb)
    srv.CHECKPOINT_EVERY = 100
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    try:
        sizes = []
        for i in range(10, 18):
            assert delete(base, f"/api/tag/?id={i}")["deleted"] == 1
            sizes.append(len(tdb.table("tag")._jdf.queryExecution()
                             .logical().treeString().splitlines()))
        steps = {b - a for a, b in zip(sizes, sizes[1:])}
        assert len(steps) == 1 and 0 < steps.pop() <= 2, sizes
        assert sorted(r["id"] for r in tdb.table("tag").collect()) == [1, 2, 3]
    finally:
        tdb.add("tag", orig)
        srv.shutdown()


def test_delete_matches_canonical_pk_only(tdb):
    """DELETE compares the pk's canonical spelling: ``05``, `` 5`` and
    ``abc`` name no row, and the table is left as it was."""
    srv = ApiServer(tdb)
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    before = tdb.table("sample")
    try:
        for raw in ("abc", "05", "%205", "%2B5", "5.0", "5_0", ""):
            out = delete(base, f"/api/sample/?id={raw}")
            assert out["deleted"] == 0, raw
        assert tdb.table("sample") is before
        assert sorted(r["id"] for r in before.collect()) == [1, 2, 3, 4, 5]
    finally:
        srv.shutdown()


def test_write_that_does_not_fit_schema_is_400(tdb):
    """A POST or PUT value of the wrong type is a client error naming the
    schema, and the table is left as it was; a pk of the wrong type too,
    although POST and partial PUT probe the table by pk."""
    srv = ApiServer(tdb)
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    before = tdb.table("tag")
    try:
        for method, body in (("POST", {"name": "x", "owner_id": "abc"}),
                             ("PUT", {"id": 2, "owner_id": "abc"}),
                             ("PUT", {"id": 2, "name": "x",
                                      "owner_id": "abc"}),
                             ("POST", {"id": "abc", "name": "x"}),
                             ("PUT", {"id": "abc", "name": "x"})):
            with pytest.raises(urllib.error.HTTPError) as e:
                post(base, "/api/tag/", body, method=method)
            assert e.value.code == 400
            assert "rows do not fit" in json.loads(e.value.read())["detail"]
        assert tdb.table("tag") is before
    finally:
        srv.shutdown()


def test_expand_nested_serialization(server):
    """?expand= returns the reference read-serializer shape (nested
    sample/library objects, sequence_lanes list, is_complete) from one
    join-based plan — no per-row N+1."""
    status, body = get(
        server,
        "/api/sequence_dataset/?id=1"
        "&expand=sample,library,sequence_lanes,tags,is_complete")
    assert status == 200
    row = body["results"][0]
    assert row["sample"]["sample_id"] == "SA100A"      # nested FK object
    assert row["library"]["library_id"] == "A001"
    lanes = {(l["flowcell_id"], l["lane_number"])
             for l in row["sequence_lanes"]}
    assert lanes == {("FC1", "1"), ("FC1", "2")}       # nested M2M list
    assert sorted(t["name"] for t in row["tags"]) == ["prod", "qc"]
    assert row["is_complete"] is True                  # both lib-1 lanes
    # DS2 holds 1 of library 1's 2 lanes -> incomplete; empty tags -> []
    _, body = get(server,
                  "/api/sequence_dataset/?id=2&expand=is_complete,tags")
    row = body["results"][0]
    assert row["is_complete"] is False
    assert row["tags"] == [{"id": 1, "name": "prod", "owner_id": None}]
    # unknown accessor -> 400 naming the legal set
    with pytest.raises(urllib.error.HTTPError) as e:
        get(server, "/api/sequence_dataset/?expand=bogus")
    assert e.value.code == 400
    assert "no relationship" in json.loads(e.value.read())["detail"]


def test_schema_endpoint(server):
    status, body = get(server, "/api/schema/")
    assert status == 200
    s = body["endpoints"]["sample"]
    assert s["primary_key"] == "id"
    assert s["columns"]["sample_id"] == "string"
    assert "patient__patient_id" in s["filters"]
    assert "sequencedataset__id__isnull" in s["filters"]
    assert "projects" in s["expand"]            # M2M accessor
    assert "patient" in s["expand"]             # forward FK accessor


def test_csv_export_endpoint(server):
    """Reference dataset_set_to_CSV over the facade: selected datasets
    as a text/csv attachment with the derived columns."""
    req = urllib.request.Request(
        server + "/api/sequence_dataset/csv/?id__in=1,2")
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"] == "text/csv"
        assert "attachment" in resp.headers["Content-Disposition"]
        body = resp.read().decode()
    lines = body.strip().splitlines()
    assert lines[0].startswith("id,")            # header row
    assert len(lines) == 3                       # header + 2 datasets
    assert "DS1" in lines[1] and "DS2" in lines[2]
    with pytest.raises(urllib.error.HTTPError) as e:
        get(server, "/api/sequence_dataset/csv/?id__in=x")
    assert e.value.code == 400


def test_facade_soak_mixed_traffic(tdb):
    """ADVICE soak closure: ~100 mixed HTTP operations (PUT upserts
    interleaved with POST+DELETE pairs, filtered lists, ?expand= reads
    and CSV export) against one long-lived server — asserting (a)
    latency stays stable (the final phase is not slower than the
    warmed-up early phase beyond noise) and (b) the table's logical-plan
    depth stays bounded by the lineage checkpoint, i.e. the facade can
    run for days, not demos. Sized to cover 8 full checkpoint periods
    (32 writes / CHECKPOINT_EVERY=4) — each op is a full Spark job
    round-trip, so op count, not wall time, is the lever; an
    unbounded-lineage regression shows up well within one period as
    monotone per-phase drift. (r14: shrunk from 60 writes/8-deep
    periods to 32/4-deep — MORE periods, half the suite wall; the
    drift and plan-depth assertions are unchanged.)"""
    import time

    srv = ApiServer(tdb)
    srv.CHECKPOINT_EVERY = 4
    host, port = srv.serve_background()
    base = f"http://{host}:{port}"
    phase_times: list[list[float]] = []
    try:
        for phase in range(4):
            times = []
            for i in range(8):
                n = phase * 8 + i
                t0 = time.time()
                status, _ = post(base, "/api/tag/",
                                 {"id": 2, "name": f"soak{n}"}, method="PUT")
                assert status == 200
                if n % 5 == 1:
                    status, body = post(base, "/api/tag/",
                                        {"name": f"eph{n}"})
                    assert status in (200, 201)
                    eph = body["ids"][0]
                    req = urllib.request.Request(
                        f"{base}/api/tag/?id={eph}", method="DELETE")
                    with urllib.request.urlopen(req, timeout=60) as resp:
                        assert json.loads(resp.read())["deleted"] == 1
                if n % 5 == 3:
                    _, got = get(base, "/api/tag/?id=2")
                    assert got["results"][0]["name"] == f"soak{n}"
                if n % 10 == 7:
                    _, body = get(
                        base, "/api/sequence_dataset/?id=1&expand=sample,tags")
                    assert body["results"][0]["sample"]["sample_id"] == "SA100A"
                if n % 16 == 9:
                    req = urllib.request.Request(
                        base + "/api/sequence_dataset/csv/?id__in=1,2")
                    with urllib.request.urlopen(req, timeout=60) as resp:
                        assert resp.status == 200 and resp.read()
                times.append(time.time() - t0)
            phase_times.append(times)
        med = [sorted(ts)[len(ts) // 2] for ts in phase_times]
        # latency stability: final-phase median within 3x of the
        # post-warmup phase (generous: CI boxes jitter, drift is what a
        # lineage leak produces — r2's unbounded chain grew >10x here)
        assert med[3] < 3 * med[1] + 0.05, f"latency drifted: {med}"
        depth = len(srv.db.table("tag")._jdf.queryExecution()
                    .logical().treeString().splitlines())
        assert depth < 80, f"plan depth {depth} not bounded after the soak"
        _, got = get(base, "/api/tag/?id=2")
        assert got["results"][0]["name"] == "soak31"
    finally:
        from pyspark.sql import functions as F
        srv.db.add("tag", srv.db.table("tag").filter(F.col("id") <= 3)
                   .withColumn("name", F.when(F.col("id") == 2, "qc")
                               .otherwise(F.col("name"))))
        srv.shutdown()
