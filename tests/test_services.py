"""API-parity service layer tests (SURVEY.md §3.1): param validation,
filter compilation, distinct policy, pagination, JSON boundary."""

from __future__ import annotations

import pytest

from tantalus_spark.operators.services import (
    FILTERSETS,
    UnknownFilterError,
    allowed_params,
    api_list,
    filtered_queryset,
    to_json_rows,
)


def test_unknown_endpoint_rejected(tdb):
    with pytest.raises(UnknownFilterError):
        filtered_queryset(tdb, "nope", {})


def test_unknown_param_rejected_names_legal(tdb):
    with pytest.raises(UnknownFilterError) as ei:
        filtered_queryset(tdb, "sample", {"bogus_field": 1})
    assert "bogus_field" in str(ei.value)
    assert "sample_id" in str(ei.value)  # legal keys listed, api/views.py:75-80


def test_lookup_suffix_params_allowed(tdb):
    # 'last_updated__gte' is legal on sequence_dataset; bare exact too
    legal = allowed_params("sequence_dataset")
    assert "last_updated__gte" in legal and "last_updated" in legal
    assert "sample__sample_id__contains" in legal


def test_multi_hop_filter_compiles(tdb):
    qs = filtered_queryset(
        tdb, "sequence_dataset",
        {"sample__sample_id": "SA928", "tags__name": "qc"})
    ids = [r["id"] for r in qs.to_df().select("id").collect()]
    assert ids == [3]  # DS3: sample SA928 (id 4) and tag qc


def test_four_hop_storage_filter(tdb):
    qs = filtered_queryset(
        tdb, "sequence_dataset",
        {"file_resources__fileinstance__storage__name": "shahlab"})
    ids = sorted(r["id"] for r in qs.to_df().select("id").collect())
    assert ids == [1]  # f1,f2 in shahlab; both belong to DS1


def test_isnull_reverse_fk(tdb):
    # samples with no sequence dataset
    qs = filtered_queryset(tdb, "sample", {"sequencedataset__id__isnull": True})
    ids = sorted(r["id"] for r in qs.to_df().select("id").collect())
    assert ids == [5]


def test_api_list_paginates_ordered_by_id(tdb):
    page = api_list(tdb, "sequence_dataset", {}, page=1, page_size=2)
    assert page.total == 5 and page.num_pages == 3
    assert [r["id"] for r in page.rows] == [1, 2]
    page2 = api_list(tdb, "sequence_dataset", {}, page=2, page_size=2)
    assert [r["id"] for r in page2.rows] == [3, 4]


def test_to_json_rows(tdb):
    page = api_list(tdb, "tag", {"name": "prod"})
    rows = to_json_rows(page)
    assert len(rows) == 1 and '"name":"prod"' in rows[0]


def test_filterset_coverage_matches_reference(tdb):
    # 13 filtersets, mirroring tantalus/api/filters.py
    assert len(FILTERSETS) == 13
    # no endpoint plans a dedup shuffle: its rows cannot repeat
    for endpoint in FILTERSETS:
        plan = (filtered_queryset(tdb, endpoint, {}).to_df()
                ._jdf.queryExecution().optimizedPlan().toString())
        assert "Aggregate" not in plan and "Deduplicate" not in plan, plan


def test_datatables_token_search(tdb):
    from tantalus_spark.operators.services import datatables_list

    out = datatables_list(
        tdb, "sequence_dataset",
        search_fields=["name", "dataset_type", "sample__sample_id"],
        search_value="BAM sa9",   # AND across tokens, OR across fields
        order_by=["-id"])
    assert out["recordsTotal"] == 5
    # BAM datasets of sample SA928/sa928: DS3 (BAM, SA928), DS5 (BAM, SA101A?
    # no — only datasets matching BOTH tokens somewhere)
    ids = [row["id"] for row in out["data"]]
    assert ids == sorted(ids, reverse=True)
    assert out["recordsFiltered"] == len(ids)
    for row in out["data"]:
        assert row["dataset_type"] == "BAM"


def test_datatables_page_cap_and_slice(tdb):
    from tantalus_spark.operators.services import datatables_list

    out = datatables_list(tdb, "sequence_dataset", ["name"],
                          length=2, start=2)
    assert [r["id"] for r in out["data"]] == [3, 4]
    big = datatables_list(tdb, "sequence_dataset", ["name"], length=999)
    assert len(big["data"]) == 5  # cap applies but data fits anyway


def test_tokenized_search_mode(tdb):
    from tantalus_spark.operators.search import free_text_search

    # phrase mode: 'SA928 DS3' as one substring matches nothing
    phrase = free_text_search(tdb, "SA928 DS3").collect()
    assert not any(r["entity"] == "sequence_dataset" for r in phrase)
    # tokenized mode: both tokens appear across DS3's search fields
    tok = {(r["entity"], r["id"])
           for r in free_text_search(tdb, "SA928 DS3", tokenized=True).collect()}
    assert ("sequence_dataset", 3) in tok


def test_values_m2m_fanout_matches_django(tdb):
    # Django values() through an M2M path fans out one row per related row;
    # distinct() collapses it. Mirror both.
    qs = tdb.query("sequence_dataset").filter(id=1).values("id", "tags__name")
    rows = sorted(map(tuple, qs.to_df().collect()))
    assert rows == [(1, "prod"), (1, "qc")]
    assert qs.distinct().to_df().count() == 2


def test_migrations_pipeline(tdb, spark):
    from tantalus_spark.catalog.migrations import (
        Migration, add_column, check_schema, drop_column, migrate,
        rename_column, retype_column)

    v1 = spark.createDataFrame([(1, "a", "10")], "id long, nm string, sz string")
    migs = [
        Migration(2, "rename nm->name", rename_column("nm", "name")),
        Migration(3, "size to long", retype_column("sz", "long")),
        Migration(4, "add is_deleted", add_column("is_deleted", "boolean", False)),
        Migration(5, "drop legacy sz", drop_column("legacy")),
    ]
    out = migrate(v1, migs)
    assert out.columns == ["id", "name", "sz", "is_deleted"]
    row = out.collect()[0]
    assert row["sz"] == 10 and row["is_deleted"] is False
    assert check_schema(out, ["id", "name", "sz", "is_deleted"]) == []
    assert check_schema(out, ["id", "name"]) == [
        "unexpected column 'is_deleted'", "unexpected column 'sz'"]
    # partial upgrade: data already at v3 only gets v4+v5
    v3 = spark.createDataFrame([(1, "a", 10)], "id long, name string, sz long")
    out3 = migrate(v3, migs, from_version=3)
    assert out3.columns == ["id", "name", "sz", "is_deleted"]


def test_search_session_store(tdb):
    from tantalus_spark.operators.sessions import SearchSessionStore

    store = SearchSessionStore(ttl_seconds=100)
    qs = tdb.query("sequence_dataset").filter(tags__name="prod")
    h = store.save(qs, now=1000.0)
    ids = sorted(r[0] for r in store.ids(h, now=1001.0).collect())
    assert ids == [1, 2]
    # rehydrate later requests via semi-join (pk__in analog)
    hydrated = store.rehydrate(h, tdb.table("sequence_dataset"), now=1050.0)
    assert sorted(r["id"] for r in hydrated.select("id").collect()) == [1, 2]
    # TTL expiry
    import pytest as _pytest
    with _pytest.raises(KeyError):
        store.ids(h, now=2000.0)
    assert len(store) == 0


def test_search_session_release(tdb):
    from tantalus_spark.operators.sessions import SearchSessionStore

    store = SearchSessionStore()
    h = store.save(tdb.query("tag"))
    assert store.ids(h).count() == 3
    store.release(h)
    import pytest as _pytest
    with _pytest.raises(KeyError):
        store.ids(h)


def test_search_session_eager_eviction_unpins_cache(tdb):
    """r11: an expired entry must not survive ONE store interaction of
    any kind — a successful lookup of a DIFFERENT handle sweeps it and
    unpersists its frame (previously only save/miss swept, so a
    long-idle session pinned executor storage memory until the next
    miss)."""
    from tantalus_spark.operators.sessions import SearchSessionStore

    store = SearchSessionStore(ttl_seconds=100)
    h_old = store.save(tdb.query("tag"), now=1000.0)
    old_frame = store.ids(h_old, now=1001.0)
    assert old_frame.storageLevel.useMemory
    h_live = store.save(tdb.query("sequence_dataset"), now=1050.0)
    # old expires at 1100; a HIT on the live handle after that must
    # evict and unpersist the expired frame in the same call
    assert store.ids(h_live, now=1120.0) is not None
    assert len(store) == 1
    assert not old_frame.storageLevel.useMemory
    # release() sweeps too
    h2 = store.save(tdb.query("tag"), now=1130.0)
    f2 = store.ids(h2, now=1131.0)
    store.release(h_live, now=5000.0)
    assert len(store) == 0
    assert not f2.storageLevel.useMemory
