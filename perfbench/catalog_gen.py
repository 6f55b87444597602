"""Seeded tantalus catalog generator.

Writes one parquet file per table in ``tantalus_model.SCHEMAS`` at the
FIXTURES.md row counts times ``scale`` (default 10), keeping the fixture
invariants the query surface depends on:

- every enum value appears at least once;
- some files live in 2+ storages and some in none;
- datasets carry 2+ tags, tags have 0 datasets, and a few tags are hot;
- datasets with their library's complete lane set and with lanes missing;
- case probes (sample ids differing only by case);
- ``last_updated`` clusters straddling the range-filter boundaries;
- history chains (``+`` then ``~`` rows, curation versions with dataset
  adds and deletes).

Only numpy and pyarrow are used, so the inputs never depend on the engine
under test. The same ``(seed, scale)`` always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tantalus_spark.catalog.tantalus_model import SCHEMAS

# range-filter boundaries the read templates use; generated timestamps
# cluster on both sides of each (FIXTURES cross-cutting requirement 4)
BOUNDARIES = [dt.datetime(2018, 1, 1, tzinfo=dt.timezone.utc),
              dt.datetime(2019, 7, 1, tzinfo=dt.timezone.utc)]
EPOCH_2017 = dt.datetime(2017, 1, 1, tzinfo=dt.timezone.utc)
SPAN_US = 4 * 365 * 86400 * 10**6          # 2017-2020

LIBRARY_TYPES = ["WGS", "SC_WGS", "RNASEQ", "DLP", "EXOME", "AMPLICON"]
GENOMES = ["HG19", "HG38", "MM10"]
ALIGNERS = ["BWA_MEM", "BWA_ALN", "STAR"]
STORAGES = [  # (name, type)
    ("gsc", "server"), ("shahlab", "server"), ("rocks", "server"),
    ("singlecellblob", "blob"), ("singlecellresults", "blob"),
    ("production", "blob"), ("s3-archive", "s3"), ("s3-scratch", "s3"),
]
INDEX_FORMATS = ["S", "D", "TENX", "N"]
CENTRES = ["GSC", "BRC", "IGO"]
READ_TYPES = ["P", "S", "TENX"]
DATASET_TYPES = ["BAM", "FQ", "BCL"]
STATUSES = ["complete", "running", "error", "Unknown"]
SUFFIXES = [".bam", ".bam.bai", ".fastq.gz", ".spec"]
TISSUES = ["blood", "tumour", "normal", "xenograft", None]

# FIXTURES.md row counts at scale 1; fixed-vocabulary tables do not grow
BASE_ROWS = {
    "patient": 200, "sample": 500, "project": 10, "sow": 10,
    "analysis_type": 5, "dna_library": 300, "sequencing_lane": 1500,
    "file_resource": 20000, "file_instance": 30000,
    "sequence_dataset": 2000, "analysis": 300, "results_dataset": 400,
    "tag": 50, "curation": 30, "submission": 200, "user": 20,
}

_ARROW = {"bigint": pa.int64(), "int": pa.int32(), "string": pa.string(),
          "boolean": pa.bool_(), "timestamp": pa.timestamp("us", tz="UTC")}


def arrow_schema(name: str) -> pa.Schema:
    return pa.schema([
        pa.field(f.name, _ARROW[f.dataType.simpleString()], f.nullable)
        for f in SCHEMAS[name].fields])


def _ts(us: np.ndarray) -> list:
    return [EPOCH_2017 + dt.timedelta(microseconds=int(u)) for u in us]


def _pick(rng, values, n, p=None) -> list:
    """n draws from values that always include every value once (the
    every-enum-value invariant), shuffled."""
    idx = rng.choice(len(values), size=n, p=p)
    idx[: len(values)] = np.arange(len(values))
    rng.shuffle(idx)
    return [values[i] for i in idx]


def _zipf_ids(rng, n_items: int, size: int, a: float = 1.3) -> np.ndarray:
    """1-based ids with a Zipf-like head: a few hot ids, a long tail."""
    w = 1.0 / np.arange(1, n_items + 1) ** a
    perm = rng.permutation(n_items) + 1
    return perm[rng.choice(n_items, size=size, p=w / w.sum())]


def _with_nulls(rng, values: list, frac: float) -> list:
    mask = rng.random(len(values)) < frac
    return [None if m else v for v, m in zip(values, mask)]


def _distinct_pairs(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    keys = np.unique(np.stack([a, b], axis=1), axis=0)
    return keys[:, 0], keys[:, 1]


def generate(seed: int, scale: int = 10) -> dict[str, dict[str, list]]:
    """All tables as column dicts (python lists / numpy arrays)."""
    rng = np.random.default_rng(seed)
    n = {k: v * scale for k, v in BASE_ROWS.items()}
    t: dict[str, dict] = {}

    def ids(k: int) -> np.ndarray:
        return np.arange(1, k + 1, dtype=np.int64)

    t["user"] = {"id": ids(n["user"]),
                 "username": [f"user{i:04d}" for i in range(n["user"])],
                 "is_active": list(rng.random(n["user"]) < 0.9)}
    owner = lambda k: _with_nulls(  # noqa: E731
        rng, list(rng.integers(1, n["user"] + 1, k)), 0.05)

    t["project"] = {"id": ids(n["project"]),
                    "name": [f"project_{i}" for i in range(n["project"])]}
    t["sow"] = {"id": ids(n["sow"]),
                "name": [f"SOW-{i:03d}" for i in range(n["sow"])]}
    t["library_type"] = {"id": ids(len(LIBRARY_TYPES)), "name": LIBRARY_TYPES,
                         "description": [f"{x} library" for x in LIBRARY_TYPES]}
    t["reference_genome"] = {"id": ids(3), "name": GENOMES}
    t["alignment_tool"] = {"id": ids(3), "name": ALIGNERS,
                           "description": [None, "aln", "rna"]}
    t["analysis_type"] = {"id": ids(n["analysis_type"]),
                          "name": [f"atype_{i}" for i in range(n["analysis_type"])]}
    st = STORAGES
    t["storage"] = {
        "id": ids(len(st)), "name": [s for s, _ in st],
        "storage_type": [k for _, k in st],
        "server_ip": [f"10.0.0.{i}" if k == "server" else None
                      for i, (_, k) in enumerate(st)],
        "storage_directory": [f"/shares/{s}" if k == "server" else None
                              for s, k in st],
        "username": ["svc" if k == "server" else None for _, k in st],
        "storage_account": ["acct" if k == "blob" else None for _, k in st],
        "storage_container": [s if k == "blob" else None for s, k in st],
        "bucket": [s if k == "s3" else None for s, k in st],
        "prefix": [None] * len(st),
    }

    # patients: SA#### for most, a few non-SA / null; duplicate reference ids
    np_ = n["patient"]
    pids = [f"SA{i:04d}" for i in range(np_)]
    for i in range(0, np_, 97):
        pids[i] = None if i % 2 else f"X{i:04d}"
    refs = [f"REF{int(x):04d}" for x in rng.integers(0, np_ // 2, np_)]
    t["patient"] = {"id": ids(np_), "patient_id": pids,
                    "reference_id": _with_nulls(rng, refs, 0.05),
                    "external_patient_id": _with_nulls(
                        rng, [f"EXT{i}" for i in range(np_)], 0.3),
                    "case_id": _with_nulls(
                        rng, [f"CASE{i % 300}" for i in range(np_)], 0.2)}

    # samples: sample_id mostly patient+suffix; case probes SAnnnn vs sannnn
    ns = n["sample"]
    pat_fk = rng.integers(1, np_ + 1, ns)
    sids = [f"SA{int(p) - 1:04d}{'ABCDEFGHJK'[i % 10]}{i}" for i, p in
            enumerate(pat_fk)]
    for i in range(5, ns, 250):
        sids[i] = sids[i - 1].lower()          # case probe pair
    ext = [f"EXS{int(x)}" for x in rng.integers(0, ns // 2, ns)]
    is_ref = rng.integers(0, 3, ns)
    t["sample"] = {
        "id": ids(ns), "sample_id": sids,
        "external_sample_id": _with_nulls(rng, ext, 0.1),
        "submitter": _with_nulls(rng, [f"sub{int(x)}" for x in
                                       rng.integers(0, 20, ns)], 0.1),
        "researcher": _with_nulls(rng, [f"res{int(x)}" for x in
                                        rng.integers(0, 30, ns)], 0.1),
        "tissue": _pick(rng, TISSUES, ns),
        "note": _with_nulls(rng, [f"note {i}" for i in range(ns)], 0.7),
        "patient_id_fk": _with_nulls(rng, list(pat_fk), 0.02),
        "is_reference": [None if x == 2 else bool(x) for x in is_ref],
    }

    nl = n["dna_library"]
    t["dna_library"] = {
        "id": ids(nl), "owner_id": owner(nl),
        "library_id": [f"A{90000 + i}" if i % 3 else f"PX{1000 + i}"
                       for i in range(nl)],
        "library_type_id": _with_nulls(rng, list(
            rng.integers(1, len(LIBRARY_TYPES) + 1, nl)), 0.02),
        "index_format": _pick(rng, INDEX_FORMATS, nl),
    }

    # lanes: 5 per library on average; (flowcell, lane, library) unique
    nln = n["sequencing_lane"]
    lane_lib = np.sort(rng.integers(1, nl + 1, nln))
    lane_lib[:nl] = ids(nl)                      # every library has a lane
    lane_lib = np.sort(lane_lib)
    lane_no = _pick(rng, [""] + [str(i) for i in range(1, 10)], nln)
    t["sequencing_lane"] = {
        "id": ids(nln), "owner_id": owner(nln),
        "flowcell_id": [f"H{i:05d}CCXY" for i in range(nln)],
        "lane_number": lane_no, "dna_library_id": lane_lib,
        "sequencing_centre": _pick(rng, CENTRES, nln, p=[0.7, 0.2, 0.1]),
        "sequencing_instrument": _with_nulls(
            rng, _pick(rng, ["HiSeqX", "NovaSeq", "NextSeq"], nln), 0.1),
        "sequencing_library_id": _with_nulls(
            rng, [f"SLX{i}" for i in range(nln)], 0.5),
        "read_type": _pick(rng, READ_TYPES, nln),
    }

    # datasets
    nd = n["sequence_dataset"]
    ds_lib = rng.integers(1, nl + 1, nd)
    lu = rng.integers(0, SPAN_US, nd)
    one_s = 10**6
    for k, b in enumerate(BOUNDARIES):            # boundary clusters
        base = int((b - EPOCH_2017).total_seconds()) * one_s
        sl = slice(40 * k, 40 * k + 40)
        lu[sl] = base + rng.choice([-one_s, -1, 0, 1, one_s], 40)
    t["sequence_dataset"] = {
        "id": ids(nd), "last_updated": _ts(lu), "owner_id": owner(nd),
        "name": [f"DS-{i % (nd // 2)}" for i in range(nd)],
        "dataset_type": _pick(rng, DATASET_TYPES, nd, p=[0.6, 0.35, 0.05]),
        "sample_id_fk": rng.integers(1, ns + 1, nd),
        "library_id_fk": ds_lib,
        "version_number": np.array([1 + i // (nd // 2) for i in range(nd)],
                                   dtype=np.int32),
        "analysis_id": _with_nulls(rng, list(
            rng.integers(1, n["analysis"] + 1, nd)), 0.3),
        "reference_genome_id": _with_nulls(rng, list(rng.integers(1, 4, nd)), 0.1),
        "aligner_id": _with_nulls(rng, list(rng.integers(1, 4, nd)), 0.1),
        "region_split_length": _with_nulls(
            rng, [1000000] * nd, 0.5),
        "is_production": list(rng.random(nd) < 0.7),
        "note": _with_nulls(rng, [f"ds note {i}" for i in range(nd)], 0.8),
    }

    # dataset lanes: even ids get the library's full lane set (complete),
    # odd ids drop one lane when the library has 2+ (incomplete)
    lanes_by_lib: dict[int, list[int]] = {}
    for lane_id, lib in zip(t["sequencing_lane"]["id"], lane_lib):
        lanes_by_lib.setdefault(int(lib), []).append(int(lane_id))
    dsl_a, dsl_b = [], []
    for d, lib in zip(t["sequence_dataset"]["id"], ds_lib):
        lanes = lanes_by_lib[int(lib)]
        if d % 2 and len(lanes) > 1:
            lanes = lanes[:-1]
        dsl_a += [int(d)] * len(lanes)
        dsl_b += lanes
    t["sequencedataset_sequence_lanes"] = {
        "sequencedataset_id": np.array(dsl_a, dtype=np.int64),
        "sequencinglane_id": np.array(dsl_b, dtype=np.int64)}

    # files: each file belongs to one dataset, a few to two
    nf = n["file_resource"]
    fr_us = rng.integers(0, SPAN_US, nf)
    sizes = (rng.pareto(1.2, nf) * 1e6).astype(np.int64)
    sizes[::1000] = 0
    sizes[5::1000] = 5 * 10**9
    names = [f"{'/' if i % 7 == 0 else ''}data/run{i // 10}/f{i}"
             f"{SUFFIXES[i % 4]}" for i in range(nf)]
    t["file_resource"] = {
        "id": ids(nf), "last_updated": _ts(fr_us), "owner_id": owner(nf),
        "md5": _with_nulls(rng, [f"{int(x):032x}" for x in
                                 rng.integers(0, 2**62, nf)], 0.05),
        "size": sizes, "created": _ts(fr_us),
        "filename": names, "is_folder": list(rng.random(nf) < 0.01),
    }
    nsfi = int(nf * 0.6)
    t["sequence_file_info"] = {
        "id": ids(nsfi),
        "file_resource_id": np.sort(rng.choice(nf, nsfi, replace=False)) + 1,
        "owner_id": owner(nsfi),
        "read_end": _with_nulls(rng, list(rng.integers(1, 3, nsfi).astype(np.int32)), 0.1),
        "genome_region": _with_nulls(rng, [f"chr{int(x)}" for x in
                                           rng.integers(1, 23, nsfi)], 0.5),
        "index_sequence": _with_nulls(rng, [f"ACGT{int(x):04d}" for x in
                                            rng.integers(0, 500, nsfi)], 0.2),
    }
    dsfr_d = rng.integers(1, nd + 1, nf)
    extra = rng.choice(nf, nf // 20, replace=False)
    a, b = _distinct_pairs(np.concatenate([dsfr_d, rng.integers(1, nd + 1, len(extra))]),
                           np.concatenate([ids(nf), extra + 1]))
    t["sequencedataset_file_resources"] = {"sequencedataset_id": a,
                                           "file_resource_id": b}

    # instances: 0/1/2/3 storages per file, (file, storage) unique
    k_per = rng.choice(4, nf, p=[0.1, 0.45, 0.35, 0.1])
    order = np.argsort(rng.random((nf, len(st))), axis=1) + 1
    fi_f = np.repeat(ids(nf), k_per)
    fi_s = np.concatenate([order[i, :k] for i, k in enumerate(k_per) if k])
    nfi = len(fi_f)
    t["file_instance"] = {
        "id": ids(nfi), "owner_id": owner(nfi), "storage_id": fi_s,
        "file_resource_id": fi_f, "is_deleted": list(rng.random(nfi) < 0.05)}

    na = n["analysis"]
    versions = [f"v{int(x)}.{int(y)}.{int(z)}" for x, y, z in
                rng.integers(0, 4, (na, 3))]
    for i in range(3, na, 50):
        versions[i] = "v1.2"                       # malformed
    a_us = rng.integers(0, SPAN_US, na)
    t["analysis"] = {
        "id": ids(na), "owner_id": owner(na),
        "name": [f"analysis_{i}" for i in range(na)],
        "analysis_type_id": _with_nulls(rng, list(
            rng.integers(1, n["analysis_type"] + 1, na)), 0.05),
        "version": versions,
        "jira_ticket": _with_nulls(rng, [f"SC-{1000 + i}" for i in range(na)], 0.05),
        "last_updated": _with_nulls(rng, _ts(a_us), 0.05),
        "status": _pick(rng, STATUSES, na),
        "args": _with_nulls(rng, ['{"k": %d}' % i if i % 2 else '{"x": [1, 2]}'
                                  for i in range(na)], 0.2),
    }
    nr = n["results_dataset"]
    t["results_dataset"] = {
        "id": ids(nr), "owner_id": owner(nr),
        "name": [f"results_{i}" for i in range(nr)],
        "results_type": _pick(rng, ["hmmcopy", "align", "annotation"], nr),
        "results_version": _with_nulls(rng, [f"v0.{i % 9}.0" for i in range(nr)], 0.2),
        "analysis_id": _with_nulls(rng, list(rng.integers(1, na + 1, nr)), 0.1),
        "is_production": list(rng.random(nr) < 0.5),
    }

    ntag = n["tag"]
    t["tag"] = {"id": ids(ntag),
                "name": [f"tag_{i:03d}" for i in range(ntag)],
                "owner_id": owner(ntag)}
    # dataset tags: Zipf over the first 80% of tags (hot tags, and the
    # last 20% of tags have no dataset); every 5th dataset gets 3 tags
    n_sdt = nd + nd // 2
    sdt_d = np.concatenate([ids(nd), rng.integers(1, nd + 1, nd // 2),
                            ids(nd)[::5], ids(nd)[::5]])
    sdt_t = _zipf_ids(rng, int(ntag * 0.8), len(sdt_d))
    del n_sdt
    a, b = _distinct_pairs(sdt_d, sdt_t)
    t["sequencedataset_tags"] = {"sequencedataset_id": a, "tag_id": b}

    def junction(k_rows, left_n, right_n, lcol, rcol):
        a, b = _distinct_pairs(rng.integers(1, left_n + 1, k_rows),
                               rng.integers(1, right_n + 1, k_rows))
        return {lcol: a, rcol: b}

    # sample projects: some samples in 0 projects, some in 3+
    sp_s = np.concatenate([ids(ns)[ns // 10:], np.repeat(ids(ns)[::20], 3)])
    a, b = _distinct_pairs(sp_s, rng.integers(1, n["project"] + 1, len(sp_s)))
    t["sample_projects"] = {"sample_id": a, "project_id": b}
    t["resultsdataset_tags"] = junction(nr, nr, ntag, "resultsdataset_id", "tag_id")
    t["resultsdataset_samples"] = junction(2 * nr, nr, ns, "resultsdataset_id", "sample_id")
    t["resultsdataset_libraries"] = junction(nr, nr, nl, "resultsdataset_id", "library_id")
    t["resultsdataset_file_resources"] = junction(3 * nr, nr, nf, "resultsdataset_id",
                                                  "file_resource_id")
    t["analysis_tags"] = junction(na, na, ntag, "analysis_id", "tag_id")
    t["analysis_input_datasets"] = junction(2 * na, na, nd, "analysis_id",
                                            "sequencedataset_id")
    t["analysis_input_results"] = junction(na, na, nr, "analysis_id", "resultsdataset_id")
    t["analysis_logs"] = junction(na, na, nf, "analysis_id", "file_resource_id")

    nsub = n["submission"]
    t["submission"] = {
        "id": ids(nsub),
        "sample_id_fk": _with_nulls(rng, list(rng.integers(1, ns + 1, nsub)), 0.05),
        "sow_id": _with_nulls(rng, list(rng.integers(1, n["sow"] + 1, nsub)), 0.05),
        "submission_date": [f"March {1 + i % 28:02d}, {2017 + i % 4}"
                            for i in range(nsub)],
        "submitted_by": [f"user{int(x):04d}" for x in rng.integers(0, n["user"], nsub)],
        "lanes_sequenced": _with_nulls(rng, list(rng.integers(1, 9, nsub).astype(np.int32)), 0.2),
        "coverage": rng.integers(0, 60, nsub).astype(np.int32),
        "updated_goal": _with_nulls(rng, list(rng.integers(1, 60, nsub).astype(np.int32)), 0.5),
        "payment": _pick(rng, ["paid", "pending"], nsub),
        "data_path": _with_nulls(rng, [f"/archive/sub{i}" for i in range(nsub)], 0.3),
        "library_type_id": _with_nulls(rng, list(
            rng.integers(1, len(LIBRARY_TYPES) + 1, nsub)), 0.1),
    }

    _curation_and_history(rng, t, n)
    return t


def _curation_and_history(rng, t: dict, n: dict) -> None:
    """Curations with 3-5 version chains; history tables for curation,
    curation_dataset, tag, sequence_dataset and sample."""
    nc, nd = n["curation"], n["sequence_dataset"]
    c_us = rng.integers(0, SPAN_US // 2, nc)
    cur = {"id": [], "name": [], "owner_id": [], "description": [],
           "version": [], "created": [], "updated": [], "user_id": []}
    ch = {k: [] for k in list(cur) + ["history_id", "history_date",
                                      "history_type", "history_user_id"]}
    cd = {"id": [], "curation_id": [], "sequencedataset_id": [], "version": []}
    cdh = {k: [] for k in list(cd) + ["history_id", "history_date",
                                      "history_type", "history_user_id"]}
    cd_id = 0
    for c in range(1, nc + 1):
        members = set(int(x) for x in rng.integers(1, nd + 1, 4))
        desc = f"curation {c}"
        n_versions = int(rng.integers(3, 6))
        hour = 3600 * 10**6
        for v in range(1, n_versions + 1):
            ver = f"v1.{v - 1}.0"
            when = int(c_us[c - 1]) + v * hour
            if v > 1:                                # version bump edits
                if v % 2 == 0:
                    desc = f"curation {c} edit {v}"
                drop = sorted(members)[0] if len(members) > 2 else None
                add = int(rng.integers(1, nd + 1))
                for sid, typ, vv in ([(drop, "-", f"v1.{v - 2}.0")] if drop else []) + \
                        ([(add, "+", ver)] if add not in members else []):
                    cd_id += 1
                    for k, val in zip(cd, [cd_id, c, sid, vv]):
                        cdh[k].append(val)
                    cdh["history_id"].append(len(cdh["history_id"]) + 1)
                    cdh["history_date"].append(when)
                    cdh["history_type"].append(typ)
                    cdh["history_user_id"].append(None)
                if drop:
                    members.discard(drop)
                members.add(add)
            else:
                for sid in sorted(members):
                    cd_id += 1
                    for k, val in zip(cd, [cd_id, c, sid, ver]):
                        cdh[k].append(val)
                    cdh["history_id"].append(len(cdh["history_id"]) + 1)
                    cdh["history_date"].append(when)
                    cdh["history_type"].append("+")
                    cdh["history_user_id"].append(None)
            row = [c, f"curation_{c:03d}", 1 + c % n["user"], desc, ver,
                   c_us[c - 1], when, None]
            for k, val in zip(cur, row):
                ch[k].append(val)
            ch["history_id"].append(len(ch["history_id"]) + 1)
            ch["history_date"].append(when)
            ch["history_type"].append("+" if v == 1 else "~")
            ch["history_user_id"].append(1 + c % n["user"])
        for k, val in zip(cur, row):
            cur[k].append(val)
        for sid in sorted(members):
            cd_id += 1
            for k, val in zip(cd, [cd_id, c, sid, ver]):
                cd[k].append(val)
    for table in (cur, ch):
        for k in ("created", "updated"):
            table[k] = _ts(table[k])
    ch["history_date"] = _ts(ch["history_date"])
    cdh["history_date"] = _ts(cdh["history_date"])
    t["curation"], t["curation_history"] = cur, ch
    t["curation_dataset"], t["curation_dataset_history"] = cd, cdh

    # '+' row for every entity, '~' rows for a tenth of them, an hour apart
    for base in ("tag", "sequence_dataset", "sample"):
        src = t[base]
        k = len(src["id"])
        edited = np.arange(0, k, 10)
        rows = np.concatenate([np.arange(k), edited])
        hist = {c: [src[c][i] for i in rows] for c in src}
        hist["history_id"] = np.arange(1, len(rows) + 1, dtype=np.int64)
        base_us = rng.integers(0, SPAN_US // 2, k)
        when = np.concatenate([base_us, base_us[edited] + 3600 * 10**6])
        hist["history_date"] = _ts(when)
        hist["history_type"] = ["+"] * k + ["~"] * len(edited)
        hist["history_user_id"] = [None] * len(rows)
        t[f"{base}_history"] = hist


def write(tables: dict[str, dict], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        schema = arrow_schema(name)
        arrays = [pa.array(list(cols[f.name]) if not isinstance(cols[f.name], np.ndarray)
                           else cols[f.name], type=f.type) for f in schema]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1024, len(arrays[0]) // 8 or 1))


def ensure(seed: int, root: str, scale: int = 10) -> str:
    """Generate the catalog for *seed* under *root* unless already there;
    returns its directory. A marker file written last makes an
    interrupted generation count as absent."""
    out = os.path.join(root, f"catalog-s{scale}-{seed}")
    done = os.path.join(out, "_COMPLETE")
    if not os.path.exists(done):
        write(generate(seed, scale), out)
        with open(done, "w") as fh:
            fh.write("ok\n")
    return out
