"""Parity-operator tests on the tantalus fixture database."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tantalus_spark.functions.paths import file_locations
from tantalus_spark.operators import ids as idops
from tantalus_spark.operators import mutations as mut
from tantalus_spark.operators.history import curation_changes
from tantalus_spark.operators.pagination import paginate
from tantalus_spark.operators.search import free_text_search, search_totals
from tantalus_spark.operators.serializers import dataset_enriched, storage_flat
from tantalus_spark.operators.stats import (
    dashboard_counts,
    library_stats,
    storage_stats,
    tag_dataset_counts,
)
from tantalus_spark.sources import ingest


def test_pagination_stable_and_complete(tdb):
    df = tdb.table("sequence_dataset")
    p1 = paginate(df, ["id"], page=1, page_size=2)
    p2 = paginate(df, ["id"], page=2, page_size=2)
    p3 = paginate(df, ["id"], page=3, page_size=2)
    assert p1.total == 5 and p1.num_pages == 3
    got = [r["id"] for p in (p1, p2, p3) for r in p.rows.collect()]
    assert got == [1, 2, 3, 4, 5]  # disjoint, complete, ordered


def test_pagination_no_pagination_escape(tdb):
    p = paginate(tdb.table("tag"), ["id"], no_pagination=True)
    assert p.total == p.page_size == 3
    assert [r["id"] for r in p.rows] == [1, 2, 3]


def test_filepath_polymorphic_dispatch(tdb):
    # models.py:822-825 / 853-858 / 878-883 via one when/otherwise expr
    locs = {(r["file_resource_id"], r["storage_name"]): r["filepath"]
            for r in file_locations(tdb).collect()}
    assert locs[(1, "shahlab")] == "/shahlab/archive/data/f1.bam"
    assert locs[(1, "azblob")] == "acct/cont/data/f1.bam"
    assert locs[(3, "aws")] == "bkt/data/f3.fastq.gz"


def test_free_text_search_union(tdb):
    res = free_text_search(tdb, "SA928")
    rows = {(r["entity"], r["id"]) for r in res.collect()}
    # sample SA928 itself + its datasets (sample__sample_id in dataset
    # fields) + patient SA101 (samples__sample_id path)
    assert ("sample", 4) in rows
    assert ("sequence_dataset", 3) in rows and ("sequence_dataset", 4) in rows
    assert ("patient", 2) in rows
    totals = {(r["entity"]): r["n"] for r in search_totals(res).collect()}
    assert totals["sequence_dataset"] == 2


def test_search_enum_label_decode(tdb):
    # 'FastQ' substring-matches the FQ display label -> datasets of type FQ
    res = free_text_search(tdb, "FastQ")
    rows = {(r["entity"], r["id"]) for r in res.collect()}
    assert ("sequence_dataset", 2) in rows


def test_curation_diff_messages(tdb):
    changes = {(r["curation_id"], r["version"]): (r["action"], r["message"])
               for r in curation_changes(tdb).collect()}
    act, msg = changes[(1, "v1.0.0")]
    assert act == "Created" and "created with 1, 2" in msg
    act, msg = changes[(1, "v2.0.0")]
    assert act == "Edited"
    assert "SequenceDataset(s) 3 added 2 deleted" in msg
    assert "Field 'description' changed from 'init' to 'first draft'" in msg
    act, msg = changes[(1, "v3.0.0")]
    assert "changed from 'first draft' to 'first'" in msg
    assert "SequenceDataset(s)" not in msg
    act, msg = changes[(2, "v1.0.0")]
    assert act == "Created" and "created with 2" in msg


def test_dashboard_counts(tdb):
    counts = {r["entity"]: r["n"] for r in dashboard_counts(tdb).collect()}
    assert counts["patient"] == 5 and counts["sequence_dataset"] == 5
    assert counts["storage"] == 4


def test_storage_stats_excludes_soft_deleted(tdb):
    stats = {r["storage_name"]: (r["n_files"], r["total_bytes"])
             for r in storage_stats(tdb).collect()}
    assert stats["shahlab"] == (2, 3000)   # f1 + f2
    assert stats["azblob"] == (1, 1000)    # f1 replica
    assert "aws" not in stats              # only instance is soft-deleted


def test_library_stats_no_double_count(tdb):
    rows = {(r["library_type"], r["storage_name"]):
            (r["n_datasets"], r["total_bytes"])
            for r in library_stats(tdb).collect()}
    # DS1 (WGS) has f1 (shahlab+azblob) and f2 (shahlab): shahlab bytes
    # count f1 once + f2 once = 3000
    assert rows[("WGS", "shahlab")] == (1, 3000)
    assert rows[("WGS", "azblob")] == (1, 1000)


def test_tag_dataset_counts(tdb):
    rows = {r["name"]: (r["n_sequencedatasets"], r["n_resultsdatasets"])
            for r in tag_dataset_counts(tdb).collect()}
    assert rows["prod"] == (2, 1) and rows["qc"] == (2, 0)
    assert rows["unused"] == (0, 0)


def test_dataset_enriched_view(tdb):
    rows = {r["id"]: r for r in dataset_enriched(tdb).collect()}
    assert rows[1]["is_complete"] and rows[1]["num_read_groups"] == 2
    assert not rows[2]["is_complete"]
    assert rows[1]["disk_size"] == 3000
    assert rows[1]["storage_names"] == ["azblob", "shahlab"]
    assert rows[3]["library_type"] == "SC_WGS"


def test_storage_flat_prefixes(tdb):
    rows = {r["name"]: r["prefix"] for r in storage_flat(tdb).collect()}
    assert rows["shahlab"] == "/shahlab/archive"
    assert rows["azblob"] == "acct/cont"
    assert rows["aws"] == "bkt"


def test_mutations_roundtrip(tdb, spark):
    tag = tdb.table("tag")
    new = spark.createDataFrame([(4, "new", None)], schema=tag.schema)
    t2 = mut.get_or_create(tag, new, ["name"])
    assert t2.count() == 4
    t3 = mut.get_or_create(t2, new, ["name"])       # idempotent
    assert t3.count() == 4
    t4 = mut.delete_by_key(t3, "id", [4])
    assert sorted(r["name"] for r in t4.collect()) == ["prod", "qc", "unused"]


def test_key_merges_keep_null_key_rows(spark):
    """upsert/delete_by_key keep a NULL-key row, as a left_anti join
    does, and a NULL among the key values matches nothing."""
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("name", T.StringType())])
    table = mut.local_rows(spark, [(1, "a"), (None, "orphan"), (2, "b")],
                           schema)

    def rows(df):
        return sorted(((r["id"], r["name"]) for r in df.collect()), key=str)

    new = mut.local_rows(spark, [(2, "B"), (3, "c")], schema)
    assert rows(mut.upsert(table, new, "id", [2, 3])) == rows(
        mut.local_rows(spark, [(1, "a"), (None, "orphan"), (2, "B"),
                               (3, "c")], schema))
    assert rows(mut.delete_by_key(table, "id", [1, None])) == [
        (2, "b"), (None, "orphan")]
    assert rows(mut.delete_by_key(table, "id", [None])) == rows(table)


def test_local_rows_plan_locally_and_verify(spark):
    """local_rows plans a LocalTableScan, not a Python-RDD scan, and
    rejects a misfit row with the createDataFrame verifier's error."""
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("at", T.TimestampType())])
    at = dt.datetime(2019, 1, 1, 3, 4, 5, 6)
    df = mut.local_rows(spark, [(1, at), (2, None)], schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert [tuple(r) for r in df.orderBy("id").collect()] == [
        (1, at), (2, None)]
    with pytest.raises(TypeError):
        mut.local_rows(spark, [("abc", None)], schema)
    with pytest.raises(ValueError):
        mut.local_rows(spark, [(None, None)], schema)


def test_m2m_add_remove_idempotent(tdb, spark):
    junc = tdb.table("sequencedataset_tags")
    pairs = spark.createDataFrame([(5, 1), (1, 1)], schema=junc.schema)
    j2 = mut.m2m_add(junc, pairs)       # (1,1) already present
    assert j2.count() == junc.count() + 1
    j3 = mut.m2m_remove(j2, pairs)
    assert j3.count() == junc.count() - 1


def test_soft_delete_cascade(tdb):
    ds2, junc2, fi2 = mut.soft_delete_dataset(
        tdb.table("sequence_dataset"),
        tdb.table("sequencedataset_file_resources"),
        tdb.table("file_instance"),
        [2],
    )
    assert ds2.count() == 4
    assert junc2.filter(F.col("sequencedataset_id") == 2).count() == 0
    # DS2 references f3; f3's instance (id 4) must now be deleted — it
    # already was; but shared files in other datasets also get flagged,
    # mirroring the reference's cascade (views.py:1494-1503)
    flags = {r["id"]: r["is_deleted"] for r in fi2.collect()}
    assert flags[4] is True
    assert flags[1] is False and flags[3] is False


def test_sa_id_assignment(tdb, spark):
    assert idops.max_sa_number(tdb.table("patient")) == 999
    new = spark.createDataFrame(
        [(1, None), (2, "SA123"), (3, None)], "row_idx int, patient_id string")
    out = {r["row_idx"]: r["patient_id"]
           for r in idops.assign_sa_ids(tdb.table("patient"), new,
                                        "row_idx").collect()}
    assert out == {1: "SA1000", 2: "SA123", 3: "SA1001"}


def test_version_bump_and_validation(tdb, spark):
    df = spark.createDataFrame([("v3.0.0",), ("v1.2.9",), ("bogus",)],
                               "version string")
    out = df.select(
        idops.bump_major_version(F.col("version")).alias("b"),
        idops.valid_version(F.col("version")).alias("ok"),
    ).collect()
    assert [r["b"] for r in out][:2] == ["v4.0.0", "v2.0.0"]
    assert [r["ok"] for r in out] == [True, True, False]


def test_patient_ingest_validation(tdb, spark):
    rows = spark.createDataFrame(
        [
            (1, "E1", "R1", "SA500", "C1"),     # valid
            (2, "E2", None, "SA501", "C2"),     # missing reference id
            (3, "E3", "R3", "XX01", "C3"),      # bad SA prefix
            (4, "E4", "R4", None, None),        # missing case id + null SA
        ],
        "row_idx int, external_patient_id string, reference_id string, "
        "sa_id string, case_id string",
    )
    valid, errors = ingest.validate_patients(rows)
    errs = sorted((r["row_idx"], r["error"]) for r in errors.collect())
    assert (2, "Reference ID is required") in errs
    assert (3, "SA ID must start with 'SA'") in errs
    assert (4, "Case ID is required") in errs
    assert [r["row_idx"] for r in valid.collect()] == [1]


def test_sample_match_classification(tdb, spark):
    rows = spark.createDataFrame(
        [(1, "R1", "A"), (2, "R2", "B"), (3, "R404", "C")],
        "row_idx int, reference_id string, suffix string",
    )
    out = {r["row_idx"]: (r["match_class"], r["matched_patient_id"])
           for r in ingest.classify_sample_rows(rows,
                                                tdb.table("patient")).collect()}
    assert out[1] == ("one", 1)
    assert out[2][0] == "multiple" and out[2][1] is None
    assert out[3] == ("none", None)


def test_sample_project_validation(tdb, spark):
    rows = spark.createDataFrame(
        [(1, "ProjA,ProjB"), (2, "ProjA, Nope")],
        "row_idx int, projects string",
    )
    errs = sorted((r["row_idx"], r["error"])
                  for r in ingest.validate_sample_projects(
                      rows, tdb.table("project")).collect())
    assert errs == [(2, "Unknown project 'Nope'")]


def test_parse_summary_file(tdb, spark, tmp_path):
    lines = []
    for i in range(1, 30):
        fields = [f"x{i}_{j}" for j in range(1, 15)]
        lines.append("\t".join(fields))
    p = tmp_path / "gsc_summary.tsv"
    p.write_text("\n".join(lines))
    row = ingest.parse_summary_file(spark, str(p)).first()
    assert row["library_id"] == "x27_2" and row["sample_id"] == "x27_13"


def test_history_append(tdb, spark):
    from tantalus_spark.operators.history import append_history

    hist = tdb.table("tag_history")
    snap = tdb.table("tag").filter(F.col("id") == 3)
    out = append_history(hist, snap, "~", user_id=1, next_history_id=10,
                         ts=dt.datetime(2020, 1, 1))
    assert out.count() == hist.count() + 1
    row = out.filter(F.col("history_id") == 10).first()
    assert row["history_type"] == "~" and row["name"] == "unused"


def test_table_as_of(tdb):
    from tantalus_spark.operators.history import table_as_of

    hist = tdb.table("curation_history")
    at_feb = {r["id"]: r["version"] for r in
              table_as_of(hist, dt.datetime(2019, 2, 15)).collect()}
    assert at_feb == {1: "v2.0.0", 2: "v1.0.0"}
    at_jan = {r["id"]: r["version"] for r in
              table_as_of(hist, dt.datetime(2019, 1, 15)).collect()}
    assert at_jan == {1: "v1.0.0"}


def test_table_as_of_excludes_deleted(tdb):
    from tantalus_spark.operators.history import table_as_of

    cdh = tdb.table("curation_dataset_history")
    alive = {r["id"] for r in
             table_as_of(cdh, dt.datetime(2019, 2, 15)).collect()}
    # cd row 4 was deleted ('-') on 2019-02-01; 1,2,3 live
    assert 4 not in alive and {1, 2, 3} <= alive


def test_database_sql_front_door(tdb):
    out = tdb.sql("""
        SELECT s.sample_id, count(*) AS n
        FROM sequence_dataset d JOIN sample s ON d.sample_id_fk = s.id
        GROUP BY s.sample_id ORDER BY n DESC, s.sample_id LIMIT 1
    """).collect()
    assert out[0]["sample_id"] == "SA928" and out[0]["n"] == 2


def test_approx_aggregates_bounded_error(spark):
    # Catalyst freebies beyond the reference's aggregate set (SURVEY §2.4):
    # approximate distinct/percentile must land within their error bounds
    from tantalus_spark.catalog.loader import read_parquet

    li = read_parquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
    exact = li.select(F.countDistinct("l_partkey")).collect()[0][0]
    approx = li.select(
        F.approx_count_distinct("l_partkey", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.1
    p50_exact = li.select(
        F.expr("percentile(l_extendedprice, 0.5)")).collect()[0][0]
    p50_approx = li.select(
        F.percentile_approx("l_extendedprice", 0.5, 10000)).collect()[0][0]
    assert abs(p50_approx - p50_exact) / p50_exact < 0.05


def test_dataset_set_to_csv(tdb):
    from tantalus_spark.operators.serializers import dataset_set_to_csv

    csv = dataset_set_to_csv(tdb, [1, 3])
    lines = csv.strip().splitlines()
    assert lines[0].startswith("id,name,dataset_type")
    assert len(lines) == 3
    row1 = lines[1].split(",")
    assert row1[0] == "1" and row1[1] == "DS1"
    assert "prod;qc" in lines[1]           # tags flattened, sorted
    assert "azblob;shahlab" in lines[1]    # storages flattened
    assert lines[2].split(",")[0] == "3"


def test_history_capture_asof_roundtrip(tdb, spark):
    # property: replaying mutations with history capture, table_as_of at
    # each mutation time reproduces the table state of that moment
    from tantalus_spark.operators.history import append_history, table_as_of

    tag = tdb.table("tag")
    # Build the history schema non-destructively: StructType.add mutates in
    # place and df.schema returns the DataFrame's cached StructType, so
    # chaining .add() on tag.schema would corrupt the shared tdb fixture
    # (7 declared columns vs 3 in the JVM plan) for every later test.
    hist_fields = list(tag.schema.fields) + [
        T.StructField("history_id", T.LongType()),
        T.StructField("history_date", T.TimestampType()),
        T.StructField("history_type", T.StringType()),
        T.StructField("history_user_id", T.LongType()),
    ]
    hist_schema = spark.createDataFrame([], T.StructType(hist_fields))
    t1, t2, t3 = dt.datetime(2020, 1, 1), dt.datetime(2020, 2, 1), \
        dt.datetime(2020, 3, 1)
    # t1: initial snapshot (+) of all 3 tags
    h = append_history(hist_schema, tag, "+", 1, 1, ts=t1)
    # t2: rename tag 2 (~)
    renamed = tag.filter(F.col("id") == 2).withColumn("name", F.lit("qc2"))
    h = append_history(h, renamed, "~", 1, 10, ts=t2)
    # t3: delete tag 3 (-)
    h = append_history(h, tag.filter(F.col("id") == 3), "-", 1, 20, ts=t3)

    at1 = {r["id"]: r["name"] for r in table_as_of(h, t1).collect()}
    assert at1 == {1: "prod", 2: "qc", 3: "unused"}
    at2 = {r["id"]: r["name"] for r in table_as_of(h, t2).collect()}
    assert at2 == {1: "prod", 2: "qc2", 3: "unused"}
    at3 = {r["id"]: r["name"] for r in table_as_of(h, t3).collect()}
    assert at3 == {1: "prod", 2: "qc2"}


def test_xlsx_roundtrip_and_excel_ingest(spark, tmp_path):
    """S3 end-to-end on a REAL .xlsx file: write a golden workbook with the
    vendored stdlib writer, read it back, and run the patient-sheet ingest
    (reference tantalus/utils.py:6-24 reads the same shape via openpyxl)."""
    from tantalus_spark.sources.ingest import (
        PATIENT_SHEET_COLS, read_excel_sheets)
    from tantalus_spark.sources.xlsx import read_workbook, write_workbook

    path = str(tmp_path / "patients.xlsx")
    patient_grid = [
        ["External Patient ID", "Reference ID", "SA ID", "Case ID"],
        ["EXT1", "R1", "SA100", "C1"],
        ["EXT2", "R2", None, "C2"],
        [None, "R3", "SA300", 7.0],
    ]
    write_workbook(path, [
        ("Patients", patient_grid),
        ("Notes", [["freeform"], ["not an ingest sheet"]]),
    ])

    sheets = read_workbook(path)
    assert [s[0] for s in sheets] == ["Patients", "Notes"]
    assert sheets[0][1] == patient_grid  # lossless roundtrip

    got = list(read_excel_sheets(spark, path, PATIENT_SHEET_COLS))
    assert len(got) == 1  # Notes sheet lacks required columns
    name, df = got[0]
    assert name == "Patients"
    assert df.columns == ["external patient id", "reference id",
                          "sa id", "case id"]
    rows = df.orderBy("reference id").collect()
    assert [r["case id"] for r in rows] == ["C1", "C2", "7"]
    assert rows[1]["sa id"] is None


def test_xlsx_cells_without_reference_attr(spark, tmp_path):
    """SpreadsheetML's r= cell reference is optional; in-order cells must
    parse by implicit position."""
    import zipfile

    from tantalus_spark.sources.xlsx import read_workbook, write_workbook

    path = str(tmp_path / "noref.xlsx")
    write_workbook(path, [("S", [["a", "b"], ["x", 1.0]])])
    # strip the r= attributes to simulate a minimal producer
    import re
    with zipfile.ZipFile(path) as z:
        names = {n: z.read(n) for n in z.namelist()}
    sheet = names["xl/worksheets/sheet1.xml"].decode()
    names["xl/worksheets/sheet1.xml"] = re.sub(
        r' r="[A-Z]+\d+"', "", sheet).encode()
    with zipfile.ZipFile(path, "w") as z:
        for n, data in names.items():
            z.writestr(n, data)
    sheets = read_workbook(path)
    assert sheets == [("S", [["a", "b"], ["x", 1.0]])]
