"""Lookup-compiler semantics on the tantalus-shaped fixture database.

Each test mirrors a reference query site (file:line cited) and asserts the
Django-QuerySet semantics documented in SURVEY.md §2.2-§2.3 / §7."""

from __future__ import annotations

from tantalus_spark.compiler import Count, F_ref, Max, Q, Sum


def ids(qs):
    return sorted(r[0] for r in qs.to_df().select("id").collect())


def test_exact_and_fk_shortcircuit(tdb):
    # filters.py:203-223 — FK equality compares the fk column, no join
    assert ids(tdb.query("sequence_dataset").filter(sample=4)) == [3, 4]
    assert ids(tdb.query("sequence_dataset").filter(dataset_type="BAM")) == [1, 3, 5]


def test_one_hop_and_multi_hop_paths(tdb):
    # filters.py:208-219 sample__sample_id; filters.py:209 library__library_type__name
    assert ids(tdb.query("sequence_dataset").filter(sample__sample_id="SA928")) == [3, 4]
    assert ids(
        tdb.query("sequence_dataset").filter(library__library_type__name="WGS")
    ) == [1, 2, 4]  # libraries A001 and A003 are both WGS


def test_four_hop_storage_path(tdb):
    # forms.py:596 file_resources__fileinstance__storage__name
    got = ids(tdb.query("sequence_dataset").filter(
        file_resources__fileinstance__storage__name="shahlab"))
    assert got == [1]  # f1,f2 live on shahlab; only DS1 references them


def test_case_insensitive_lookups(tdb):
    # views.py:1202-1207 istartswith/icontains; fixture has SA928 vs sa928
    s = tdb.query("sample")
    sens = sorted(r[0] for r in s.filter(sample_id__startswith="SA9")
                  .to_df().select("id").collect())
    insens = sorted(r[0] for r in s.filter(sample_id__istartswith="sa9")
                    .to_df().select("id").collect())
    assert sens == [4]
    assert insens == [4, 5]


def test_in_and_range(tdb):
    import datetime as dt

    assert ids(tdb.query("sequence_dataset").filter(pk__in=[1, 3, 99])) == [1, 3]
    got = ids(tdb.query("sequence_dataset").filter(
        last_updated__range=(dt.datetime(2019, 2, 1), dt.datetime(2019, 12, 31))))
    assert got == [2, 3]


def test_isnull_semi_anti(tdb):
    # filters.py:179-188 sequencedataset__id__isnull on Sample
    with_ds = ids(tdb.query("sample").filter(sequencedataset__isnull=False))
    without_ds = ids(tdb.query("sample").filter(sequencedataset__isnull=True))
    assert with_ds == [1, 2, 3, 4]
    assert without_ds == [5]


def test_m2m_same_call_vs_chained_calls(tdb):
    # SURVEY §7 hard part 1: forms.py:583-587 AND-of-tags
    both_same_tag_row = ids(
        tdb.query("sequence_dataset").filter(tags__name="prod", tags__id=2))
    chained = ids(
        tdb.query("sequence_dataset").filter(tags__name="prod").filter(tags__name="qc"))
    assert both_same_tag_row == []       # one tag row can't be both prod and id=2
    assert chained == [1]                # DS1 has prod AND qc via different rows


def test_exclude_is_not_exists(tdb):
    # forms.py:585-587 exclude(tags__name__in=...) — NOT EXISTS semantics:
    # datasets with NO tag in the list; untagged datasets are KEPT
    got = ids(tdb.query("sequence_dataset").exclude(tags__name__in=["qc"]))
    assert got == [2, 4, 5]  # DS4, DS5 untagged -> kept; DS1, DS3 have qc


def test_no_fanout_duplicates(tdb):
    # views.py:1750-1753 "filter picks up a ton of duplicates. Very strange."
    # our match-set compilation never fans out:
    df = tdb.query("sequence_dataset").filter(file_resources__size__gte=0).to_df()
    assert df.count() == df.select("id").distinct().count()


def test_or_tree_across_single_and_multi_paths(tdb):
    # views.py:1197-1213 token OR across joined fields
    got = ids(tdb.query("sequence_dataset").filter(
        Q(tags__name="qc") | Q(dataset_type="BCL")))
    assert got == [1, 3, 4]


def test_annotate_count_distinct_and_having(tdb):
    # views.py:1343-1348 num_read_groups; forms.py:616-617 HAVING gte
    qs = (tdb.query("sequence_dataset")
          .annotate(num_read_groups=Count("sequence_lanes", distinct=True))
          .filter(num_read_groups__gte=2))
    assert ids(qs) == [1]
    rows = {r["id"]: r["num_read_groups"] for r in
            tdb.query("sequence_dataset")
            .annotate(num_read_groups=Count("sequence_lanes", distinct=True))
            .to_df().collect()}
    assert rows == {1: 2, 2: 1, 3: 1, 4: 0, 5: 0}


def test_is_complete_cross_aggregate(tdb):
    # models.py:561-565 / forms.py:639-643: dataset lanes == library total lanes
    qs = (tdb.query("sequence_dataset")
          .annotate(n_lanes=Count("sequence_lanes", distinct=True),
                    total=Count("library__sequencinglane", distinct=True))
          .filter(Q(n_lanes__exact=F_ref("total"))))
    # DS1: both FC1 lanes; DS3: the single lib-2 lane; DS5: 0 == 0 (library
    # B001 has no lanes — Django Count gives 0 both sides, reference
    # get_is_complete returns True for the empty case too)
    assert ids(qs) == [1, 3, 5]


def test_sum_and_max_annotations(tdb):
    # models.py:586-590 get_disk_size / get_created_time
    rows = {r["id"]: (r["disk"], r["latest"]) for r in
            tdb.query("sequence_dataset")
            .annotate(disk=Sum("file_resources__size"),
                      latest=Max("file_resources__created"))
            .to_df().collect()}
    assert rows[1][0] == 3000
    assert rows[2][0] == 0
    assert rows[4][0] is None  # no file resources


def test_values_projection_and_pagination(tdb):
    # api/views.py:62 order_by('id') + offset/limit paging
    page = (tdb.query("sequence_dataset")
            .order_by("id").offset(1).limit(2)
            .values("id", "name", "sample__sample_id")
            .to_df().collect())
    assert [(r["id"], r["sample_sample_id"]) for r in page] == [
        (2, "SA100B"), (3, "SA928")]


def test_reverse_fk_and_distinct(tdb):
    # views.py:237 DNALibrary.objects.filter(sequencedataset__sample=...)
    got = ids(tdb.query("dna_library").filter(sequencedataset__sample=4).distinct())
    assert got == [2, 3]


def test_nullboolean_three_valued(tdb):
    # models.py:166-170 is_reference NullBoolean
    assert ids(tdb.query("sample").filter(is_reference=True)) == [1]
    assert ids(tdb.query("sample").filter(is_reference=False)) == [2, 4]
    assert ids(tdb.query("sample").filter(is_reference__isnull=True)) == [3, 5]


def test_count_and_exists_actions(tdb):
    assert tdb.query("tag").count() == 3
    assert tdb.query("tag").filter(name="prod").exists()
    assert not tdb.query("tag").filter(name="nope").exists()


def test_datetime_transform_lookups(tdb):
    # created__year / created__month__gte (lookups.TRANSFORMS chaining)
    qs = tdb.query("file_resource").filter(created__year=2018)
    assert qs.count() == 3
    qs = tdb.query("file_resource").filter(
        created__year=2018, created__month__gte=2)
    ids = sorted(r["id"] for r in qs.to_df().select("id").collect())
    assert ids == [2, 3]


def test_transform_on_joined_path(tdb):
    # transform applied after a join hop
    qs = tdb.query("sequence_dataset").filter(
        analysis__last_updated__year=2019)
    ids = sorted(r["id"] for r in qs.to_df().select("id").collect())
    assert ids == [1, 3]


def test_regex_lookup(tdb):
    qs = tdb.query("analysis").filter(version__regex=r"^v\d+\.\d+\.\d+$")
    assert qs.count() == 2  # 'bogus' rejected


def test_order_by_joined_path(tdb):
    # Django order_by('related__col'): join, sort, project root columns
    qs = tdb.query("sequence_dataset").order_by("-sample__sample_id", "id")
    rows = [r["id"] for r in qs.to_df().select("id").collect()]
    # sample ids per ds: 1->SA100A, 2->SA100B, 3->SA928, 4->SA928, 5->SA101A
    assert rows == [3, 4, 5, 2, 1]


def test_order_by_joined_path_with_limit(tdb):
    qs = tdb.query("sequence_dataset") \
        .order_by("sample__sample_id", "id").limit(2)
    rows = [r["id"] for r in qs.to_df().select("id").collect()]
    assert rows == [1, 2]


def test_get_exactly_one(tdb):
    from tantalus_spark.compiler.compiler import (
        DoesNotExist, MultipleObjectsReturned)
    import pytest as _pytest

    row = tdb.query("sample").get(sample_id="SA928")
    assert row["id"] == 4
    with _pytest.raises(DoesNotExist):
        tdb.query("sample").get(sample_id="NOPE")
    with _pytest.raises(MultipleObjectsReturned):
        tdb.query("sample").get(patient__patient_id="SA100")
    assert tdb.query("sample").order_by("id").first()["id"] == 1
    assert tdb.query("sample").filter(sample_id="NOPE").first() is None


def test_ascii_ignore(spark):
    from pyspark.sql import functions as F

    from tantalus_spark.datapipe.textstats import ascii_ignore

    df = spark.createDataFrame([("héllo wörld ✓ ok",)], "s string")
    out = df.select(ascii_ignore(F.col("s")).alias("a")).collect()[0]["a"]
    assert out == "hllo wrld  ok"


def test_distinct_strategy_hint_same_result(tdb):
    """Both Count(distinct=True) compile strategies (Expand default,
    collect_set opt-in for bounded groups) must agree on values."""
    def counts(qs):
        return {r["id"]: r["num"] for r in qs.to_df().collect()}

    base = tdb.query("sequence_dataset").annotate(
        num=Count("sequence_lanes", distinct=True))
    assert counts(base) == counts(base.hint(distinct_strategy="collect_set"))


def test_unknown_hint_rejected(tdb):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown hints"):
        tdb.query("sample").hint(nonsense=True)


def test_order_by_related_path_with_values(tdb):
    """order_by('related__col') combined with values(): the sort resolves
    through the join frame BEFORE the projection renames columns (used to
    raise AnalysisException on the raw path name)."""
    qs = (tdb.query("sequence_dataset")
          .order_by("-sample__sample_id", "id")
          .values("id", "name"))
    rows = [r["id"] for r in qs.to_df().collect()]
    assert rows == [3, 4, 5, 2, 1]
    assert qs.to_df().columns == ["id", "name"]


def test_order_by_related_values_distinct_raises(tdb):
    import pytest as _pytest
    qs = (tdb.query("sequence_dataset")
          .values("dataset_type").distinct().order_by("sample__sample_id"))
    with _pytest.raises(NotImplementedError):
        qs.to_df()


def test_nonunique_pk_guard():
    """Tables flagged pk_unique=False must reject pk-grain compiler ops
    instead of silently matching/aggregating at parent grain."""
    import pytest as _pytest

    from tantalus_spark.catalog.tpch_model import tpch_catalog

    cat = tpch_catalog()
    assert not cat.pk_unique("lineitem")
    assert cat.pk_unique("orders")


def test_nonunique_pk_guard_raises_on_annotate(spark):
    import pytest as _pytest

    from tantalus_spark.catalog.tpch_model import load_tpch

    db = load_tpch(spark, "/root/testdata/sf0.001")
    with _pytest.raises(ValueError, match="not unique"):
        db.query("lineitem").annotate(n=Count("part", distinct=True)).to_df()


def test_child_matchset_equals_fallback_frame(tdb, monkeypatch):
    """The child-side match-set rewrite must be result-identical to the
    general root-joined frame path for every predicate shape — including
    the shapes where the rewrite declines (isnull, negation, mixed paths)
    and both go through the fallback."""
    from tantalus_spark.compiler import compiler as comp

    cases = [
        ("sequence_dataset", lambda qs: qs.filter(tags__name="qc")),
        ("sequence_dataset", lambda qs: qs.filter(
            Q(tags__name="qc") | Q(tags__name="prod"))),
        ("sequence_dataset", lambda qs: qs.exclude(tags__name="prod")),
        ("sample", lambda qs: qs.filter(projects__name="ProjA")),
        ("patient", lambda qs: qs.filter(samples__tissue__isnull=True)),
        ("sequence_dataset", lambda qs: qs.filter(
            file_resources__filename__endswith=".bam",
            file_resources__size__gte=1000)),
        ("sequence_dataset",
         lambda qs: qs.filter(~Q(tags__name="qc"))),
    ]

    def run(root, build):
        return sorted(
            r[0] for r in build(tdb.query(root)).to_df()
            .select(tdb.catalog.pk(root)).collect())

    for root, build in cases:
        with_rewrite = run(root, build)
        monkeypatch.setattr(
            comp.QuerySet, "_child_matchset",
            lambda self, q, annot_cols: None)
        without = run(root, build)
        monkeypatch.undo()
        assert with_rewrite == without, (root, with_rewrite, without)


def test_avg_min_annotations_preagg(tdb):
    from tantalus_spark.compiler import Avg, Min

    rows = {r["id"]: (r["avg_size"], r["min_created"]) for r in
            tdb.query("sequence_dataset")
            .annotate(avg_size=Avg("file_resources__size"),
                      min_created=Min("file_resources__created"))
            .to_df().collect()}
    assert rows[1][0] == 1500.0          # (1000 + 2000) / 2
    assert rows[4][0] is None            # no file resources -> NULL
    assert rows[1][1] is not None


def _dedup_ops(qs) -> int:
    plan = qs.to_df()._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("Aggregate") + plan.count("Deduplicate")


def test_distinct_elided_when_rows_cannot_repeat(tdb):
    """A unique-pk root without values() cannot repeat rows, so
    distinct() adds no dedup operator; the answer is unchanged."""
    for qs in (tdb.query("sample"),
               tdb.query("sequence_dataset").filter(tags__name="prod"),
               tdb.query("dna_library").filter(sequencedataset__sample=4),
               tdb.query("sequence_dataset").annotate(
                   n=Count("sequence_lanes")).filter(n__gte=1)):
        assert _dedup_ops(qs.distinct()) == _dedup_ops(qs)
        assert ids(qs.distinct()) == ids(qs)


def test_distinct_kept_on_nonunique_pk_root(spark):
    """lineitem's declared pk (l_orderkey) is not unique, so distinct()
    must still collapse repeated rows there."""
    from tantalus_spark.catalog.loader import Database
    from tantalus_spark.catalog.tpch_model import tpch_catalog

    db = Database(spark, tpch_catalog())
    db.add("lineitem", spark.createDataFrame(
        [(1, 1, 5.0), (1, 1, 5.0), (1, 2, 7.0), (2, 1, 5.0)],
        "l_orderkey long, l_linenumber int, l_quantity double"))
    qs = db.query("lineitem").filter(l_quantity__gte=5.0)
    assert qs.to_df().count() == 4
    assert _dedup_ops(qs.distinct()) > _dedup_ops(qs)
    assert sorted(map(tuple, qs.distinct().to_df().collect())) == [
        (1, 1, 5.0), (1, 2, 7.0), (2, 1, 5.0)]
