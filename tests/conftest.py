"""Shared test fixtures: one SparkSession per session, plus a small
tantalus-shaped Database (FIXTURES.md schemas) exercising every relationship
kind: FK, reverse FK, M2M (incl. 2+ tags per dataset), O2O, polymorphic
storage, history chains, and 3-valued booleans."""

from __future__ import annotations

import datetime as dt

import pytest

from tantalus_spark import get_spark
from tantalus_spark.catalog.loader import Database
from tantalus_spark.catalog.tantalus_model import SCHEMAS, tantalus_catalog


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def replay_stream(spark, tmp_path):
    """Replay static frames as a parquet file stream, one file per
    micro-batch, through a ``foreachBatch`` callback; returns once the
    backlog is processed (availableNow). Calling it again with the same
    ``name`` appends the new frames and restarts from the same
    checkpoint, so only the new files are processed."""
    def run(frames, on_batch, name="replay"):
        src, ckpt = tmp_path / name / "src", tmp_path / name / "ckpt"
        for f in frames:
            f.coalesce(1).write.mode("append").parquet(str(src))
        q = (spark.readStream.format("parquet").schema(frames[0].schema)
             .option("maxFilesPerTrigger", 1).load(str(src))
             .writeStream.foreachBatch(on_batch)
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(f"stream {name!r} did not finish in 120 s")

    return run


def _ts(y, m, d, h=0):
    return dt.datetime(y, m, d, h)


@pytest.fixture(scope="session")
def tdb(spark) -> Database:
    cat = tantalus_catalog()
    db = Database(spark, cat)

    def add(name, rows):
        df = spark.createDataFrame(rows, schema=SCHEMAS[name])
        db.add(name, df)

    add("patient", [
        (1, "SA100", "R1", "EXT1", "C1"),
        (2, "SA101", "R2", None, "C2"),
        (3, "SA999", "R2", None, None),     # duplicate reference_id R2
        (4, "XX001", None, None, None),     # non-SA patient id
        (5, None, "R5", None, None),
    ])
    add("sample", [
        # id, sample_id, ext, submitter, researcher, tissue, note, patient_fk, is_reference
        (1, "SA100A", "E1", "sub1", "res1", "breast", None, 1, True),
        (2, "SA100B", "E2", "sub1", None, "ovary", "note b", 1, False),
        (3, "SA101A", "E2", None, None, None, None, 2, None),   # 3-valued null
        (4, "SA928", "E3", "sub2", "res2", "brain", None, 2, False),
        (5, "sa928", None, None, None, None, None, None, None),  # case probe
    ])
    add("project", [(1, "ProjA"), (2, "ProjB"), (3, "Empty")])
    add("sample_projects", [(1, 1), (1, 2), (2, 1), (4, 2)])
    add("library_type", [
        (1, "WGS", "whole genome"), (2, "SC_WGS", "single cell"),
        (3, "RNASEQ", None), (4, "DLP", None),
    ])
    add("dna_library", [
        (1, None, "A001", 1, "S"), (2, None, "A002", 2, "D"),
        (3, None, "A003", 1, "TENX"), (4, None, "B001", None, "N"),
    ])
    add("sequencing_lane", [
        # id, owner, flowcell, lane_number, dna_library_id, centre, instr, seqlib, read_type
        (1, None, "FC1", "1", 1, "GSC", None, None, "P"),
        (2, None, "FC1", "2", 1, "GSC", None, None, "P"),
        (3, None, "FC2", "", 2, "BRC", "HiSeq", None, "S"),
        (4, None, "FC3", "1", 3, "IGO", None, None, "TENX"),
    ])
    add("storage", [
        # id,name,type, ip,dir,user, account,container, bucket, prefix
        (1, "shahlab", "server", "10.0.0.1", "/shahlab/archive", "u", None, None, None, None),
        (2, "gsc", "server", "10.0.0.2", "/gsc/data/", "u", None, None, None, None),
        (3, "azblob", "blob", None, None, None, "acct", "cont", None, None),
        (4, "aws", "s3", None, None, None, None, None, "bkt", None),
    ])
    add("file_resource", [
        # id, last_updated, owner, md5, size, created, filename, is_folder
        (1, _ts(2019, 1, 1), None, "a" * 32, 1000, _ts(2018, 1, 1), "/data/f1.bam", False),
        (2, _ts(2019, 2, 1), None, "b" * 32, 2000, _ts(2018, 2, 1), "data/f2.bam.bai", False),
        (3, _ts(2019, 3, 1), None, None, 0, _ts(2018, 3, 1), "/data/f3.fastq.gz", False),
        (4, _ts(2020, 1, 1), None, "d" * 32, 99999, _ts(2019, 6, 1), "f4.spec", True),
    ])
    add("file_instance", [
        # id, owner, storage_id, file_resource_id, is_deleted
        (1, None, 1, 1, False), (2, None, 3, 1, False),   # f1 in 2 storages
        (3, None, 1, 2, False),
        (4, None, 4, 3, True),                            # deleted instance
        # f4 has no instance
    ])
    add("sequence_file_info", [
        (1, 1, None, 1, None, "ACGT"), (2, 3, None, 2, "chr1", "ACGT"),
    ])
    add("tag", [(1, "prod", None), (2, "qc", None), (3, "unused", None)])
    add("analysis_type", [(1, "align"), (2, "variant")])
    add("analysis", [
        # id, owner, name, type_id, version, jira, last_updated, status, args
        (1, None, "an1", 1, "v1.0.0", "SC-1", _ts(2019, 5, 1), "complete", '{"ref": "hg19"}'),
        (2, None, "an2", 2, "v2.1.3", "SC-2", _ts(2019, 6, 1), "running", None),
        (3, None, "an3", None, "bogus", None, None, "error", '{"n": 3}'),
    ])
    add("reference_genome", [(1, "HG19"), (2, "HG38"), (3, "MM10")])
    add("alignment_tool", [(1, "BWA_MEM", None), (2, "STAR", None)])
    add("sequence_dataset", [
        # id, last_updated, owner, name, type, sample_fk, library_fk, version,
        # analysis, refgenome, aligner, split_len, is_production, note
        (1, _ts(2019, 1, 15), None, "DS1", "BAM", 1, 1, 1, 1, 1, 1, None, True, None),
        (2, _ts(2019, 2, 15), None, "DS2", "FQ", 2, 1, 1, None, None, None, None, False, None),
        (3, _ts(2019, 3, 15), None, "DS3", "BAM", 4, 2, 2, 2, 2, 1, 10, True, "x"),
        (4, _ts(2020, 3, 15), None, "DS4", "BCL", 4, 3, 1, None, None, None, None, False, None),
        (5, _ts(2020, 6, 15), None, "DS5", "BAM", 3, 4, 1, None, None, None, None, True, None),
    ])
    add("sequencedataset_tags", [
        (1, 1), (1, 2),      # DS1: prod+qc (AND-of-tags target)
        (2, 1),              # DS2: prod
        (3, 2),              # DS3: qc
    ])
    add("sequencedataset_file_resources", [
        (1, 1), (1, 2), (2, 3), (3, 3),   # fan-out: f3 in two datasets
    ])
    add("sequencedataset_sequence_lanes", [
        (1, 1), (1, 2),      # DS1 has both FC1 lanes (complete for lib 1)
        (2, 1),              # DS2 has 1 of 2 lanes (incomplete)
        (3, 3),              # DS3 complete for lib 2 (1 lane)
    ])
    add("results_dataset", [
        (1, None, "RES1", "qc_report", "v1.0.0", 1, True),
        (2, None, "RES2", "counts", None, None, False),
    ])
    add("resultsdataset_samples", [(1, 1), (1, 2), (2, 4)])
    add("resultsdataset_tags", [(1, 1)])
    add("resultsdataset_libraries", [(1, 1)])
    add("resultsdataset_file_resources", [(1, 4)])
    add("analysis_tags", [(1, 1)])
    add("analysis_input_datasets", [(1, 1), (2, 1), (2, 3)])
    add("analysis_input_results", [(2, 1)])
    add("analysis_logs", [(1, 4)])
    add("sow", [(1, "SOW1")])
    add("submission", [
        (1, 1, 1, "March 05, 2019", "alice", 4, 30, None, "paid", None, 1),
        (2, 4, None, "July 20, 2019", "bob", None, 0, 60, None, "/p", 2),
    ])
    add("user", [(1, "alice", True), (2, "bob", True)])
    add("curation", [
        (1, "cur1", None, "first", "v3.0.0", _ts(2019, 1, 1), _ts(2019, 3, 1), 1),
        (2, "cur2", None, None, "v1.0.0", _ts(2019, 2, 1), _ts(2019, 2, 1), 2),
    ])
    add("curation_dataset", [
        (1, 1, 1, "v3.0.0"), (2, 1, 3, "v3.0.0"), (3, 2, 2, "v1.0.0"),
    ])
    # history: curation 1 evolved v1 -> v2 -> v3 (name/desc edits + dataset adds/drops)
    add("curation_history", [
        # base cols + history_id, history_date, history_type, history_user_id
        (1, "cur1", None, "init", "v1.0.0", _ts(2019, 1, 1), _ts(2019, 1, 1), 1,
         1, _ts(2019, 1, 1), "+", 1),
        (1, "cur1", None, "first draft", "v2.0.0", _ts(2019, 1, 1), _ts(2019, 2, 1), 1,
         2, _ts(2019, 2, 1), "~", 1),
        (1, "cur1", None, "first", "v3.0.0", _ts(2019, 1, 1), _ts(2019, 3, 1), 1,
         3, _ts(2019, 3, 1), "~", 2),
        (2, "cur2", None, None, "v1.0.0", _ts(2019, 2, 1), _ts(2019, 2, 1), 2,
         4, _ts(2019, 2, 1), "+", 2),
    ])
    add("curation_dataset_history", [
        # cd cols + history
        (1, 1, 1, "v1.0.0", 1, _ts(2019, 1, 1), "+", 1),
        (4, 1, 2, "v1.0.0", 2, _ts(2019, 1, 1), "+", 1),
        # DS2 dropped during the v2 edit: the '-' snapshot holds the row's
        # LAST values, i.e. the previous version v1.0.0 (services.py:30-35
        # queries deletes by previous_curation.version)
        (4, 1, 2, "v1.0.0", 3, _ts(2019, 2, 1), "-", 1),
        (2, 1, 3, "v2.0.0", 4, _ts(2019, 2, 1), "+", 1),   # DS3 added in v2
        (3, 2, 2, "v1.0.0", 5, _ts(2019, 2, 1), "+", 2),
    ])
    add("tag_history", [
        (1, "prod", None, 1, _ts(2018, 5, 5), "+", 1),
        (2, "qc", None, 2, _ts(2018, 6, 6), "+", 1),
    ])
    # Guard against in-place StructType mutation by any test: df.schema
    # returns the DataFrame's cached StructType object, so a test chaining
    # .add() on it corrupts the shared fixture for every later test in the
    # same session (declared columns diverge from the JVM plan). Snapshot
    # the declared schemas now and assert them unchanged at teardown.
    def _shape(df):
        # names + types only: tests may legitimately REPLACE a table
        # with a same-shaped frame (test_api's finally-restores), and
        # expression rewrites can flip nullability metadata without
        # changing the contract this guard protects
        return [(f.name, f.dataType.simpleString())
                for f in df.schema.fields]

    schema_snapshot = {n: _shape(df) for n, df in db._tables.items()}
    yield db
    mutated = [n for n, df in db._tables.items()
               if n in schema_snapshot
               and _shape(df) != schema_snapshot[n]]
    assert not mutated, (
        f"session fixture schemas mutated in place by a test: {mutated} — "
        "build derived schemas with StructType(fields + [...]), never "
        "df.schema.add(...)")
