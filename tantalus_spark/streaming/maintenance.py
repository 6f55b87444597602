"""Versioned serving-index maintenance from a document stream.

The deployment shape SCALING.md's "serving indexes" section describes,
made concrete as an LSM-style SEGMENTED store: the BM25 postings index
lives as immutable DELTA SEGMENTS plus TOMBSTONE sets under one
directory, a per-version MANIFEST names the live segment/tombstone set
and carries the exact corpus stats, and a pointer file names the
current manifest. A refresh folds each arriving micro-batch in by
writing ONLY that batch's delta segment and/or tombstone set plus a new
manifest — O(batch) bytes per commit, never a copy of the index
(byte-budget test in tests/test_textstats.py) — then atomically swaps
the pointer. Compaction is SIZE-TIERED (:func:`_select_fold`): when
the segment count crosses ``max_segments`` the commit folds only the
smallest segments (tombstones applied physically to the folded part),
so a byte is rewritten O(log(index/batch)) times over the stream's
life — not the O(index/max_segments) amortized per batch a full fold
costs; a tombstone-list overflow still forces a FULL fold. Every
commit then PRUNES non-load-bearing tombstones — an entry survives
only while some kept segment is older than it — so the serve-time
broadcast mask list stays minimal without waiting for a full fold.
GC drops manifests older than ``keep_versions`` and any
segment/tombstone no kept manifest references, bounding storage at
O(index + keep·batch).

Versions double as TIME TRAVEL: the loader, the audit and the
snapshot export take ``as_of=<batch id>`` (floor-resolved over the
retained manifests — :func:`_resolve_version`), and
:func:`index_versions` lists the window. The window is
``keep_versions`` wide and costs O(keep·batch) extra bytes (manifests
share segments; history is deltas, never index copies).

Serving sessions (:func:`~tantalus_spark.datapipe.textstats.
bm25_rank_indexed`, ``hybrid_serve_indexed``) read one manifest and keep it for the whole query/run — a swap mid-run
is invisible to them, which is the point of version-swap over in-place
mutation. The served view is the lazy union of the manifest's segments
with superseded postings masked by a broadcast tombstone anti-join;
term IN-filters push into every segment scan unchanged.

Local filesystem semantics here (tests run on one box); on an object
store the pointer update maps to the same conditional-put/rename
primitive every table format uses for its commit file, and GC maps to
expiring unreferenced objects. Reference capability upgraded: the
reference app re-queries Postgres per search
(search_util/search_helper.py:27-49) — here the search index is a
maintained, versioned, write-scalable artifact.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_POINTER = "CURRENT"


def _observed_write(df: DataFrame, path: str, metrics: dict[str, "F.Column"],
                    coalesce: int | None = None,
                    project: list[str] | None = None) -> dict:
    """Write ``df`` as parquet and return aggregate ``metrics`` computed
    BY THE SAME JOB via ``Observation`` (guide §1: one pass, not an
    aggregate job followed by a write job that recomputes the input —
    the pre-r13 gate pattern paid the batch transform twice and a whole
    extra scheduling round trip per gate). The caller decides what an
    empty result means; an empty write leaves only removable debris
    (``_SUCCESS`` + possibly one empty part file), so gating AFTER the
    write and ``shutil.rmtree``-ing on emptiness is equivalent to the
    old pre-check — nothing is committed until the manifest lands."""
    obs = Observation()
    shaped = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    if project is not None:
        # metrics see the pre-projection rows; only `project` columns
        # land on disk (e.g. a tombstone file is ids only, but the
        # stats guard needs the masked dl sum)
        shaped = shaped.select(*project)
    if coalesce is not None:
        shaped = shaped.coalesce(coalesce)
    shaped.write.mode("overwrite").parquet(path)
    return obs.get


def _run_parallel(spark: SparkSession, *thunks):
    """Run independent driver-blocking Spark actions concurrently from
    a small thread pool (guide §2.6): Spark's scheduler happily runs
    several jobs at once inside one application, and these lifecycle
    writes (postings ∥ doclens ∥ tombstones) are sequential only
    because the driver calls them sequentially. Under FIFO the second
    job back-fills executors the first job's tail frees.

    Local properties are per-thread (pinned-thread mode), so a plain
    worker thread would submit its jobs outside the caller's job group,
    description and pool — a caller that counts or cancels its group
    would miss every commit write. ``inheritable_thread_target`` copies
    the caller's local properties and job tags into each worker.
    Results are returned in thunk order; the first exception (if any)
    propagates after all threads finish."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(thunks)) as tp:
        futs = [tp.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futs]


# committed version directories are exactly v{batch:08d}; everything
# that parses or SWEEPS v-prefixed names must match this, not a bare
# startswith("v") — a foreign directory an operator drops next to the
# store (version_backup/, v2-notes/) must be skipped, never int()-
# crashed on and NEVER rmtree'd
_VNAME_RE = re.compile(r"^v\d+$")


def _is_vname(d: str) -> bool:
    return bool(_VNAME_RE.match(d))


def _current_version(index_dir: str) -> str | None:
    ptr = os.path.join(index_dir, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return f.read().strip()


def _read_manifest(index_dir: str, version: str) -> dict:
    with open(os.path.join(index_dir, version, "manifest.json")) as f:
        return json.load(f)


def index_versions(index_dir: str) -> list[dict]:
    """The store's retained version history, oldest → newest:
    ``[{"version": "v00000002", "batch_id": 2, "current": bool}, ...]``
    — every manifest GC has kept, i.e. the batch ids :func:`as-of
    reads <load_term_index>` can still resolve. The window is the
    maintainer's ``keep_versions``: the default 2 covers the serving
    swap; a reproducibility deployment that wants N batches of
    time travel sets ``keep_versions=N+1`` and pays O(N·batch)
    extra storage (segments are shared across manifests, so history
    costs deltas, never index copies)."""
    if not os.path.isdir(index_dir):
        return []
    cur = _current_version(index_dir)
    if cur is None:
        return []
    # trust the POINTER, not the directory listing: a crash between
    # the manifest write and the pointer rename leaves an orphaned
    # (possibly truncated) v-dir AHEAD of CURRENT — it was never
    # committed, so it is not history; listing it would let an as-of
    # read serve a corpus state the commit protocol says never
    # happened (or die on the torn JSON). Replay re-commits that
    # batch; GC treats the orphan as garbage.
    cur_id = int(cur[1:])
    out = []
    for d in sorted(
            (d for d in os.listdir(index_dir)
             if _is_vname(d)
             and os.path.isdir(os.path.join(index_dir, d))
             and os.path.exists(
                 os.path.join(index_dir, d, "manifest.json"))),
            key=lambda d: int(d[1:])):
        if int(d[1:]) > cur_id:
            continue  # orphan of a torn commit — not history
        out.append({"version": d, "batch_id": int(d[1:]),
                    "current": d == cur})
    return out


def _resolve_version(index_dir: str, as_of: int | None) -> str | None:
    """Map an ``as_of`` batch id to the manifest that was CURRENT
    after that batch committed: the newest retained version with
    ``batch_id <= as_of`` (floor semantics — a batch that committed
    nothing writes no version, so the view as of batch 5 can live in
    v00000003). ``None`` means the CURRENT pointer. Raises when the
    requested point predates the retention window (GC'd) or the store
    is empty — a silent fallback to CURRENT would hand a
    reproducibility reader the wrong corpus."""
    if as_of is None:
        return _current_version(index_dir)
    versions = index_versions(index_dir)
    floor = [v for v in versions if v["batch_id"] <= int(as_of)]
    if not floor:
        raise ValueError(
            f"as_of={as_of} predates the retained history of "
            f"{index_dir} (oldest kept: "
            f"{versions[0]['batch_id'] if versions else 'none'}); "
            f"raise keep_versions on the maintainer to widen the "
            f"time-travel window")
    return floor[-1]["version"]


def _masked_union(spark: SparkSession, index_dir: str, manifest: dict,
                  leaf: str) -> DataFrame | None:
    """Lazy live view over the manifest: union of each segment's
    ``leaf`` parquet ("postings" or "doclens"), with rows of documents
    superseded by a LATER tombstone masked out. A tombstone at seq T
    kills a segment-seq-S row iff T > S — so a delete+add CDC batch
    (tombstone and re-add share one seq) keeps the re-added document's
    NEW rows, matching the deletes-before-adds batch contract. With no
    tombstones the view is the bare union (no join in the plan at all);
    tombstone sets are batch-bounded and BROADCAST, so the masked read
    is map-side — the corpus-scale segments never shuffle."""
    segs = manifest["segments"]
    if not segs:
        return None
    tombs = manifest["tombstones"]
    parts = []
    for s in segs:
        part = spark.read.parquet(os.path.join(index_dir, s["name"], leaf))
        if tombs:
            part = part.withColumn("_seg_seq", F.lit(int(s["seq"])))
        parts.append(part)
    view = reduce(DataFrame.unionByName, parts)
    if not tombs:
        return view
    tparts = [
        spark.read.parquet(os.path.join(index_dir, t["name"]))
             .withColumn("_ts_seq", F.lit(int(t["seq"])))
        for t in tombs
    ]
    tomb = reduce(DataFrame.unionByName, tparts)
    id_col = manifest["id_col"]
    cond = ((view[id_col] == tomb[id_col])
            & (tomb["_ts_seq"] > view["_seg_seq"]))
    return (view.join(F.broadcast(tomb), cond, "left_anti")
                .drop("_seg_seq"))


def load_term_index(spark: SparkSession, index_dir: str,
                    as_of: int | None = None):
    """Read one index version: (postings DataFrame, (n_docs, avgdl)).
    Returns (None, (0, 0.0)) when no version has been committed yet
    (empty deployment). The stats come straight off the manifest's
    exact integer (n_docs, dl_sum) — avgdl is the same one division a
    full rebuild performs, so it is bit-identical to
    :func:`~tantalus_spark.datapipe.textstats.build_term_index`'s.

    ``as_of`` pins a TIME-TRAVEL read: the view as of that batch id
    (floor resolution over the retained manifests — see
    :func:`_resolve_version`), with that manifest's stats, not
    CURRENT's. Reproducible training-data builds pin every reader of
    a run to one ``as_of``; the maintainer's ``keep_versions`` sets
    how far back the window reaches."""
    version = _resolve_version(index_dir, as_of)
    if version is None:
        return None, (0, 0.0)
    m = _read_manifest(index_dir, version)
    n, dl_sum = int(m["n_docs"]), int(m["dl_sum"])
    avgdl = float(dl_sum) / float(n) if n > 0 else 0.0
    postings = _masked_union(spark, index_dir, m, "postings")
    return postings, (n, avgdl)


def audit_term_index(spark: SparkSession, index_dir: str,
                     as_of: int | None = None) -> DataFrame:
    """Consistency audit for one BM25 store version — the check an
    operator runs before promoting a snapshot to serving or pinning
    it for a training run: recompute the corpus stats from the LIVE
    doclens view (masked union — per-doc rows, never the postings)
    and compare them to the manifest's exact integers, which the
    maintainer keeps by increment/decrement arithmetic across
    adds/deletes/folds. One row: (n_docs, dl_sum, live_n_docs,
    live_dl_sum, stats_consistent). A False here means the
    increment/decrement bookkeeping diverged from the data — the
    snapshot should not serve. O(live docs) rows scanned, one
    aggregate; the postings (the store's bulk) are never read.
    ``as_of`` audits a pinned history version, like the loaders."""
    version = _resolve_version(index_dir, as_of)
    if version is None:
        raise ValueError(f"audit_term_index: {index_dir} has no "
                         f"committed version")
    m = _read_manifest(index_dir, version)
    n, dl_sum = int(m["n_docs"]), int(m["dl_sum"])
    lens = _masked_union(spark, index_dir, m, "doclens")
    if lens is None:
        live = spark.range(1).select(
            F.lit(0).cast("long").alias("live_n_docs"),
            F.lit(0).cast("long").alias("live_dl_sum"))
    else:
        live = lens.agg(
            F.count(F.lit(1)).cast("long").alias("live_n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long")
             .alias("live_dl_sum"))
    return live.select(
        F.lit(n).cast("long").alias("n_docs"),
        F.lit(dl_sum).cast("long").alias("dl_sum"),
        F.col("live_n_docs"), F.col("live_dl_sum"),
        ((F.col("live_n_docs") == F.lit(n))
         & (F.col("live_dl_sum") == F.lit(dl_sum)))
        .alias("stats_consistent"))


_SNAPSHOT_STATS = "snapshot.json"


def export_term_snapshot(spark: SparkSession, index_dir: str,
                         dest: str, as_of: int | None = None,
                         verify: bool = True,
                         partitions: int | None = None) -> dict:
    """Promote one BM25 store version to an immutable WAREHOUSE
    SNAPSHOT: materialize the masked live view (tombstones applied
    physically, the multi-segment union folded to one artifact) into
    ``dest`` in the serving-optimized layout — postings repartitioned
    by ``term`` and SORTED within partitions so a serve's term
    IN-filter prunes parquet row groups by min/max stats, plus the
    doclens sidecar and a ``snapshot.json`` carrying the manifest's
    exact integer corpus stats. A snapshot serve
    (:func:`load_term_snapshot` → :func:`~tantalus_spark.datapipe.
    textstats.bm25_rank_indexed`) reads ONE plain artifact: no
    per-segment unions, no broadcast tombstone mask in the plan at
    all — the shape a 100 TB deployment ships to its serving fleet /
    training runs while the LSM store keeps absorbing writes
    (LSM-for-writes, snapshot-for-reads; the same promotion step a
    table format's "compact + clone" performs). ``as_of`` promotes a
    pinned history version — the reproducibility artifact for a
    training run. ``partitions`` sizes the output files (default:
    ``spark.sql.shuffle.partitions``).

    ``verify=True`` runs the :func:`audit_term_index` check on the
    SAME resolved manifest first — the manifest's
    increment/decrement-carried integers against a live doclens
    recount — and raises ``RuntimeError`` instead of promoting a
    store whose bookkeeping diverged from its data (q158's audit,
    operationalized as the promotion gate).

    The export commits like the store does: data first,
    ``snapshot.json`` LAST via tmp+rename — a torn export has no
    stats file and :func:`load_term_snapshot` refuses it; on a write
    failure the partial data is removed so ``dest`` stays reusable. A
    non-empty ``dest`` (or a non-directory in its place) is refused
    (snapshots are immutable; promote to a fresh path and swap your
    own pointer). Returns the stats dict.

    RETENTION HAZARD: the verify recount and the postings/doclens
    writes are separate Spark jobs over the same pinned manifest. A
    CONCURRENT maintainer commit plus GC can delete that version's
    segment files mid-export when the pinned version sits at the edge
    of the retention window — the export then fails loudly (and
    cleans ``dest``), never silently serves a torn artifact. Promote
    recent versions, raise ``keep_versions`` to cover the export
    duration, or quiesce the maintainer during promotion.

    Reference capability upgraded: the reference serves every search
    from live Postgres (search_util/search_helper.py:27-49) — there
    is no maintained index to promote, version, or pin."""
    version = _resolve_version(index_dir, as_of)
    if version is None:
        raise ValueError(f"export_term_snapshot: {index_dir} has no "
                         f"committed version to promote")
    # refuse a FILE at dest too, not just a non-empty dir — otherwise
    # the guard falls through and os.makedirs dies with a raw
    # FileExistsError instead of this message
    if os.path.exists(dest) and (not os.path.isdir(dest)
                                 or os.listdir(dest)):
        raise ValueError(
            f"export_term_snapshot: dest {dest} is not an empty "
            f"directory — snapshots are immutable; promote to a "
            f"fresh path")
    m = _read_manifest(index_dir, version)
    n, dl_sum = int(m["n_docs"]), int(m["dl_sum"])
    lens = _masked_union(spark, index_dir, m, "doclens")

    def _verify_failed(live_n: int, live_s: int) -> RuntimeError:
        return RuntimeError(
            f"export_term_snapshot: refusing to promote "
            f"{index_dir}@{version}: manifest stats "
            f"(n_docs={n}, dl_sum={dl_sum}) != live doclens "
            f"recount (n_docs={live_n}, dl_sum={live_s}) — the "
            f"increment/decrement bookkeeping diverged from the "
            f"data (see audit_term_index)")

    if verify and lens is None and (n, dl_sum) != (0, 0):
        raise _verify_failed(0, 0)
    postings = _masked_union(spark, index_dir, m, "postings")
    # metadata-only divergence guard that holds even under
    # verify=False: a store with zero segments but non-zero manifest
    # stats must not export an empty=true snapshot whose recorded
    # n_docs contradicts the (0, 0.0) a load would serve
    if postings is None and (n, dl_sum) != (0, 0):
        raise RuntimeError(
            f"export_term_snapshot: refusing to promote "
            f"{index_dir}@{version}: the manifest records "
            f"n_docs={n}, dl_sum={dl_sum} but lists no segments — "
            f"the store diverged (see audit_term_index)")
    os.makedirs(dest, exist_ok=True)
    try:
        if postings is not None:
            shaped = (postings.repartition(int(partitions),
                                           F.col("term"))
                      if partitions is not None
                      else postings.repartition(F.col("term")))
            shaped = shaped.sortWithinPartitions("term")
            pwrite = (lambda: shaped.write.mode("overwrite")
                      .parquet(os.path.join(dest, "postings")))
            if lens is not None:
                # doclens is one row PER SURVIVING DOCUMENT — corpus-
                # sized, so it gets the same distributed shaping as
                # postings, never a single-task coalesce(1) funnel
                # (the per-batch store sidecars stay coalesce(1):
                # those are O(batch) rows). The serve path never
                # reads this (load_term_snapshot reads snapshot.json
                # + postings only); it exists so audits can recount
                # the promoted artifact without the source store.
                # The verify recount RIDES this write as observed
                # metrics (one doclens pass instead of a separate
                # audit aggregate before the writes — guide §1.2),
                # and the two artifact writes run concurrently
                # (guide §2.6). A failed verify raises before
                # snapshot.json commits and the except-cleanup keeps
                # dest reusable — same refusal contract as before,
                # the store's divergence is just detected one step
                # later on the (rare) failure path.
                id_col = m["id_col"]
                lshaped = (lens.repartition(int(partitions),
                                            F.col(id_col))
                           if partitions is not None
                           else lens.repartition(F.col(id_col)))
                live, _ = _run_parallel(
                    spark,
                    lambda: _observed_write(
                        lshaped, os.path.join(dest, "doclens"),
                        {"n": F.count(F.lit(1)),
                         "s": F.coalesce(F.sum("dl"), F.lit(0))}),
                    pwrite
                )
                if verify:
                    live_n = int(live["n"])
                    live_s = int(live["s"] or 0)
                    if (live_n, live_s) != (n, dl_sum):
                        raise _verify_failed(live_n, live_s)
            else:
                pwrite()
        stats = {"n_docs": n, "dl_sum": dl_sum, "id_col": m["id_col"],
                 "source_version": version,
                 "source_batch_id": int(version[1:]),
                 "empty": postings is None}
        tmp = os.path.join(dest, _SNAPSHOT_STATS + ".tmp")
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, os.path.join(dest, _SNAPSHOT_STATS))
    except BaseException:
        # keep dest reusable: a failure anywhere before snapshot.json
        # is committed — parquet writes, the stats tmp-write, or the
        # rename itself (e.g. ENOSPC) — would otherwise leave a torn
        # NON-EMPTY dest that the immutability guard refuses forever
        # (manual cleanup). Nothing durable exists until os.replace
        # returns, so removing the partial data loses nothing.
        shutil.rmtree(dest, ignore_errors=True)
        raise
    return stats


def load_term_snapshot(spark: SparkSession, dest: str):
    """Read a promoted snapshot: (postings DataFrame, (n_docs,
    avgdl)) — the same contract as :func:`load_term_index`, off the
    single folded artifact :func:`export_term_snapshot` wrote. The
    stats come from ``snapshot.json``'s exact integers (avgdl is the
    one division a rebuild performs — bit-identical). A directory
    without a committed ``snapshot.json`` (torn export, or not a
    snapshot at all) is refused rather than served stale."""
    p = os.path.join(dest, _SNAPSHOT_STATS)
    if not os.path.exists(p):
        raise ValueError(
            f"load_term_snapshot: {dest} has no {_SNAPSHOT_STATS} — "
            f"torn or foreign export; re-run export_term_snapshot "
            f"into a fresh dest")
    with open(p) as f:
        s = json.load(f)
    n, dl_sum = int(s["n_docs"]), int(s["dl_sum"])
    avgdl = float(dl_sum) / float(n) if n > 0 else 0.0
    if s.get("empty"):
        # the recorded integers, not hard-coded zeros: the export
        # refuses an empty store with non-zero manifest stats, so for
        # any artifact it commits these agree — serving them keeps
        # the loader honest about what the snapshot actually recorded
        return None, (n, avgdl)
    return spark.read.parquet(os.path.join(dest, "postings")), (n, avgdl)


def _commit_version(index_dir: str, version: str, manifest: dict) -> None:
    """Write an immutable manifest directory, then atomically swap the
    pointer (tmp + rename — the object-store commit-file primitive).
    The manifest is the WHOLE commit: segments/tombstones it references
    were already written; a crash before the rename leaves the old
    version intact and the orphaned segment for GC.

    SINGLE WRITER per index_dir: the store assumes exactly one
    maintainer stream commits here (Structured Streaming gives one
    foreachBatch caller per query; two concurrent maintainers would
    race the pointer). On an object store the rename below maps to a
    conditional put (if-match on the pointer's etag), which turns this
    assertion into an atomic compare-and-swap; locally we assert the
    batch-id monotonicity the contract implies so a second writer
    fails loudly instead of silently regressing the pointer."""
    cur = _current_version(index_dir)
    if cur is not None and int(version[1:]) <= int(cur[1:]):
        # a real exception, not assert: asserts vanish under python -O,
        # and this is the guard that keeps a second concurrent
        # maintainer from silently regressing the pointer
        raise RuntimeError(
            f"non-monotone commit {version} over CURRENT={cur}: a "
            f"second concurrent maintainer is racing this index_dir")
    vdir = os.path.join(index_dir, version)
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(vdir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    tmp = os.path.join(index_dir, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(index_dir, _POINTER))


def vacuum_index(index_dir: str,
                 keep_versions: int | None = None) -> list[str]:
    """Operator-facing orphan sweep: reclaim every directory under
    ``index_dir`` the commit protocol no longer references — manifests
    older than ``keep_versions``, segments/tombstones no kept manifest
    names, and the debris of TORN COMMITS (a crash between a segment/
    tombstone write and the manifest commit, or between the manifest
    write and the pointer rename, leaves directories nothing
    references). Returns the removed directory names. The maintainers
    run this sweep on every callback, so a healthy stream needs no
    manual vacuum — this entry point exists for a store whose
    maintainer is stopped (decommission, forensics, a crash with no
    restart scheduled) where orphaned bytes would otherwise sit until
    the stream resumes. A store with no committed version is left
    untouched: batch-0's pre-commit segment writes look exactly like
    orphans, and replay will either commit or rewrite them.

    ``keep_versions`` is REQUIRED — it must state the store's real
    retention (the maintainer's own ``keep_versions``). A blanket
    default here would permanently GC time-travel manifests/segments
    that pinned as-of readers of a longer-retention store still
    resolve; an operator who doesn't know the store's retention
    shouldn't be vacuuming it. ``None`` (or omitting it) raises a
    ``ValueError`` naming the requirement rather than a bare
    ``TypeError``, so a pre-r12 cron/runbook call fails with the
    retention explanation instead of a signature error."""
    if keep_versions is None:
        raise ValueError(
            "vacuum_index: keep_versions is required and must state "
            "the store's real retention (the maintainer's own "
            "keep_versions) — a blanket default would GC time-travel "
            "manifests that pinned as-of readers of a "
            "longer-retention store still resolve")
    return _gc_versions(index_dir, keep_versions)


def _gc_versions(index_dir: str, keep_versions: int) -> list[str]:
    """Drop manifests older than the last ``keep_versions`` and every
    segment/tombstone no kept manifest references (returning the
    removed names). keep_versions >= 2 leaves one full swap window
    for serving sessions that pinned the previous version (an
    object-store deployment would add a TTL grace period on top)."""
    # enforce the docstring's floor: keep_versions=1 would rmtree the
    # just-superseded version's segments right after the pointer swap,
    # yanking files out from under a serving session that pinned the
    # previous manifest; keep_versions<=0 would silently keep
    # everything (versions[-0:] is the whole list). Clamp, don't raise:
    # maintainers run inside foreachBatch where an exception kills the
    # stream over a config nit.
    keep_versions = max(2, int(keep_versions))
    cur = _current_version(index_dir)
    if cur is None:
        return []  # nothing committed yet — nothing is garbage yet
    cur_id = int(cur[1:])
    # numeric sort, NOT lexicographic: past batch_id 10^8 the 08d pad
    # overflows and "v100000000" sorts before "v99999999" — a
    # lexicographic keep-list would GC the newest manifest out from
    # under the CURRENT pointer. And only versions AT OR BELOW the
    # pointer count as history: a crash between the manifest write
    # and the pointer rename leaves an orphaned — possibly
    # TRUNCATED — v-dir ahead of CURRENT, and putting it in the keep
    # set would make this GC (which now runs on every callback, before
    # the replay guard) die on the torn JSON forever, wedging the
    # maintainer on exactly the crash it exists to repair. The orphan
    # is garbage (replay re-commits that batch from scratch).
    versions = sorted(
        (d for d in os.listdir(index_dir)
         if _is_vname(d)
         and os.path.isdir(os.path.join(index_dir, d))
         and int(d[1:]) <= cur_id),
        key=lambda d: int(d[1:]))
    keep = set(versions[-keep_versions:])
    referenced: set[str] = set()
    for v in keep:
        m = _read_manifest(index_dir, v)
        referenced |= {s["name"] for s in m["segments"]}
        referenced |= {t["name"] for t in m["tombstones"]}
    removed: list[str] = []
    for d in os.listdir(index_dir):
        full = os.path.join(index_dir, d)
        if not os.path.isdir(full):
            continue
        if _is_vname(d) and d not in keep:
            shutil.rmtree(full)
            removed.append(d)
        elif ((d.startswith("seg-") or d.startswith("ts-"))
              and d not in referenced):
            shutil.rmtree(full)
            removed.append(d)
    return removed


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _select_fold(segments: list[dict], max_segments: int):
    """Size-tiered compaction selection (the Lucene/LSM merge policy,
    applied to the manifest's recorded segment sizes): pick the
    MINIMUM set of smallest segments that gets the count back under
    ``max_segments``, then greedily extend it while the next-smallest
    segment is no larger than the bytes already being rewritten —
    folding a segment is free-ish exactly when the merge it joins is
    at least its own size, which makes every byte's segment at least
    DOUBLE per rewrite, so a byte is rewritten O(log(index/batch))
    times over the stream's life instead of every-K-batches
    (full-fold's amortized O(index/K) per commit). Ties break on
    (bytes, seq, name) for determinism. Returns (fold, keep) in
    manifest order; ``keep == []`` means the policy chose a full fold
    (the caller then also clears tombstones, which a partial fold must
    retain for the kept older segments)."""
    if len(segments) <= int(max_segments):
        return [], list(segments)
    by_size = sorted(segments,
                     key=lambda s: (int(s.get("bytes", 0)),
                                    int(s["seq"]), s["name"]))
    n = len(segments) - int(max_segments) + 1
    while (n < len(by_size)
           and int(by_size[n].get("bytes", 0))
           <= sum(int(x.get("bytes", 0)) for x in by_size[:n])):
        n += 1
    fold = {x["name"] for x in by_size[:n]}
    return ([x for x in segments if x["name"] in fold],
            [x for x in segments if x["name"] not in fold])


def index_refresh_batches(
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dedup_against_current: bool = False,
    op_col: str | None = None,
    max_segments: int = 8,
    keep_versions: int = 2,
):
    """The foreachBatch index maintainer: returns the (batch_df,
    batch_id) callback that folds every arriving document micro-batch
    into the segmented BM25 index under ``index_dir``.

    O(batch) I/O per refresh, by construction: a commit writes the
    batch's delta postings segment (built by
    :func:`~tantalus_spark.datapipe.textstats.build_term_index` over
    the batch alone), its (doc_id, dl) doclens sidecar, a tombstone id
    set for deletes, and a manifest — never the prior index, whose
    segments are immutable and shared across versions (byte-budget test
    in tests/test_textstats.py asserts a small batch's commit writes a
    small fraction of the index). Corpus stats stay exact integers in
    the manifest: ``n_docs' = n_docs − n_deleted + n_added``;
    ``dl_sum' = dl_sum − Σ dl_deleted + Σ dl_added``, where the deleted
    lengths come from the DOCLENS sidecars (one broadcast-pruned scan
    of per-doc lengths, never the postings). After any number of
    batches the CURRENT view is bit-identical to a full rebuild over
    the surviving documents (rebuild-equal tests).

    Compaction: when the manifest exceeds ``max_segments`` segments the
    commit folds the SIZE-TIERED minimum (:func:`_select_fold`) into
    one new segment — tombstones apply physically to the folded part
    and are retained for the kept older segments — so a serve never
    unions more than ``max_segments`` post-commit scans and a byte is
    rewritten O(log(index/batch)) times over the stream's life, not
    O(index/max_segments) amortized per batch as the r9 full-fold
    cost (SCALING.md "segmented index maintenance" does the math).
    Tombstone-list overflow still forces a FULL fold, which is the
    only fold that lets the broadcast mask list clear. GC then drops
    manifests beyond ``keep_versions`` and unreferenced segments,
    bounding storage at O(index + keep·batch).

    ``merge``'s disjoint-ids contract applies: a doc id appearing in
    two ADD batches would double its postings. Leave
    ``dedup_against_current=False`` when upstream already dedups (the
    q86 novel-docs pass — the production layout); set it True to drop
    already-indexed ids here with a broadcast semi-join against the
    live DOCLENS view (O(n_docs) per-doc rows, not the postings — the
    convenience mode; at 100 TB keep a doc-id sidecar or the canonical
    map upstream instead).

    Exactly-once under replay: foreachBatch is at-least-once — after a
    crash the same ``batch_id`` can fire again, and a naive re-merge
    would DOUBLE that batch's postings. Versions are named by batch id
    (monotone), so the callback skips any batch id at or below the
    committed pointer — the replayed commit becomes a no-op, exactly
    the batch-id-based idempotence Structured Streaming's foreachBatch
    contract prescribes (replay test in tests/test_textstats.py).

    CDC mode (``op_col``): batches carry an operation column with
    ``'add'`` / ``'delete'`` rows and ONE stream maintains the index
    through both sides — deletes apply first (a re-indexed document
    arrives as delete+add in one batch and lands with its NEW postings
    only, via the tombstone-seq > segment-seq mask). Delete ids are
    intersected with the LIVE doc ids first (broadcast semi-join on the
    doclens view, output bounded by the batch) so a tombstone for a
    never-indexed id cannot corrupt the stats.

    Wire it: ``doc_stream.writeStream.foreachBatch(
    index_refresh_batches("/path/ix")).start()``.
    """
    from tantalus_spark.datapipe.textstats import term_tf, tokens

    os.makedirs(index_dir, exist_ok=True)

    def _doclens(docs: DataFrame) -> DataFrame:
        return (docs.filter(F.col(text_col).isNotNull())
                    .select(F.col(id_col),
                            F.size(tokens(F.lower(F.col(text_col))))
                             .cast("long").alias("dl")))

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = _current_version(index_dir)
        # GC before the replay check, not only after a commit: a crash
        # between _commit_version and _gc_versions would otherwise defer
        # that commit's GC forever on a quiet stream — the replay guard
        # below returns early and superseded manifests/segments linger.
        # GC is idempotent and metadata-only, so repairing here is free.
        if cur is not None:
            _gc_versions(index_dir, keep_versions)
        if cur is not None and int(cur[1:].rstrip("c")) >= int(batch_id):
            return  # replayed batch: already committed, idempotent skip
        spark = batch_df.sparkSession
        manifest = (_read_manifest(index_dir, cur) if cur is not None
                    else {"segments": [], "tombstones": [],
                          "n_docs": 0, "dl_sum": 0, "id_col": id_col})
        live_lens = _masked_union(spark, index_dir, manifest, "doclens")

        if op_col is not None:
            adds = batch_df.filter(F.col(op_col) == "add").drop(op_col)
            dels = (batch_df.filter(F.col(op_col) == "delete")
                    .select(id_col).distinct())
        else:
            adds, dels = batch_df, None

        seq = int(batch_id)
        segments = list(manifest["segments"])
        tombstones = list(manifest["tombstones"])
        n_docs, dl_sum = int(manifest["n_docs"]), int(manifest["dl_sum"])
        changed = False

        ts_thunk = None
        ts_name = f"ts-{seq:08d}"
        ts_path = os.path.join(index_dir, ts_name)
        if dels is not None and live_lens is not None:
            # only tombstone ids that ARE live (stats guard): one
            # broadcast-pruned pass over the per-doc doclens sidecars —
            # never the postings. Output is bounded by the batch. The
            # (count, sum dl) stats guard rides the tombstone write as
            # observed metrics — ONE job, vs the pre-r13
            # persist+agg+write pair; an empty result removes the
            # never-registered file (guide §1.2: fewer passes). The
            # write itself is DEFERRED into the adds-side _run_parallel
            # below (guide §2.6): the tombstone, doclens and postings
            # jobs touch disjoint dirs and nothing is visible until the
            # manifest commits, so they overlap.
            present = (live_lens
                       .join(F.broadcast(dels), id_col, "left_semi")
                       .groupBy(id_col).agg(F.max("dl").alias("dl")))
            ts_thunk = lambda: _observed_write(  # noqa: E731
                present, ts_path,
                {"n": F.count(F.lit(1)), "s": F.sum("dl")},
                coalesce=1, project=[id_col])

        if live_lens is not None and dedup_against_current:
            # broadcast-pruned semi over the DOCLENS view (per-doc
            # rows); `already` is bounded by the batch size.
            # Deletes apply FIRST within a batch: an id the batch
            # itself tombstoned is no longer "already indexed", so
            # its re-add must survive this guard (drop the batch's
            # deleted ids from `already` — without this a CDC
            # delete+re-add under dedup mode silently loses the
            # document: the delete downdates the stats but the
            # re-add gets anti-joined away).
            already = (live_lens.select(id_col)
                       .join(F.broadcast(adds.select(id_col)
                                         .distinct()),
                             id_col, "left_semi")
                       .distinct())
            if dels is not None:
                already = already.join(F.broadcast(dels), id_col,
                                       "left_anti")
            adds = adds.join(F.broadcast(already), id_col,
                             "left_anti")
        # the adds-side (count, sum dl) stats gate rides the doclens
        # sidecar write as observed metrics (one tokenization pass, no
        # separate agg job — the pre-r13 persist+agg+write pattern),
        # and the postings write runs CONCURRENTLY with it (guide
        # §2.6: independent jobs back-fill each other's tails). The
        # sidecar write stays coalesce(1): a per-doc (id, dl) sidecar
        # written as ~shuffle.partitions tiny files taxes every later
        # live_lens read — one file per segment is the right layout
        # for O(batch) rows of two columns. An empty batch removes the
        # never-registered segment dir (nothing is visible until the
        # manifest commits).
        lens = _doclens(adds)
        seg_name = f"seg-{seq:08d}"
        seg_dir = os.path.join(index_dir, seg_name)
        # delta postings via the SHUFFLE-FREE per-doc run-length build
        # (term_tf): every delta row is written, nothing downstream
        # filters it in this job, so the explode → groupBy exchange the
        # scan-shaped build keeps for filter pushdown buys nothing here
        # and the commit's only corpus-wide shuffle disappears (guide
        # §2.4; bit-identical by term_tf's A/B, and rebuild-equal /
        # replay tests cover the maintained store end to end)
        delta = term_tf(adds, text_col=text_col,
                        id_col=id_col).select("term", id_col, "tf", "dl")
        got = _run_parallel(
            spark,
            lambda: _observed_write(
                lens, os.path.join(seg_dir, "doclens"),
                {"n": F.count(F.lit(1)), "s": F.sum("dl")},
                coalesce=1),
            lambda: delta.write.mode("overwrite").parquet(
                os.path.join(seg_dir, "postings")),
            *([ts_thunk] if ts_thunk is not None else [])
        )
        added = got[0]
        if ts_thunk is not None:
            removed = got[2]
            n_rm = int(removed["n"])
            if n_rm > 0:
                tombstones.append({"name": ts_name, "seq": seq})
                n_docs -= n_rm
                dl_sum -= int(removed["s"] or 0)
                changed = True
            else:
                shutil.rmtree(ts_path, ignore_errors=True)
        n_new = int(added["n"])
        if n_new > 0:
            segments.append({"name": seg_name, "seq": seq,
                             "bytes": _dir_bytes(seg_dir)})
            n_docs += n_new
            dl_sum += int(added["s"] or 0)
            changed = True
        else:
            shutil.rmtree(seg_dir, ignore_errors=True)

        if not changed:
            return

        # compaction: tombstone overflow forces a FULL fold (only
        # folding everything lets the broadcast mask list clear — a
        # delete-heavy stream grows tombstones without adding
        # segments, and each tombstone set is one more mask read per
        # serve); segment overflow folds the SIZE-TIERED minimum
        # (_select_fold), so a byte is rewritten O(log(index/batch))
        # times over the stream's life instead of every max_segments
        # batches. The "c" suffix keeps the folded segment's name
        # distinct from this batch's delta segment. Stats are global
        # manifest integers — a fold moves rows, never changes them.
        if len(tombstones) > int(max_segments):
            fold, keep = list(segments), []
        else:
            fold, keep = _select_fold(segments, max_segments)
        if fold:
            sub = {"segments": fold, "tombstones": tombstones,
                   "id_col": id_col}
            lens_view = _masked_union(spark, index_dir, sub, "doclens")
            if lens_view is not None:
                comp = f"seg-{seq:08d}c"
                cdir = os.path.join(index_dir, comp)
                # fold in SNAPSHOT layout: repartition+sort by term
                # (the exact shaping export_term_snapshot uses) so a
                # maintained-store serve's term IN-filter prunes
                # parquet ROW GROUPS by min/max stats on the folded
                # bulk, not just rows post-decode — delta segments
                # stay O(batch) and unsorted (a sort there buys
                # little and costs a shuffle per commit). The fold
                # already rewrites these bytes; the sort rides the
                # same shuffle, trading fold CPU for per-serve IO
                # (measured in SCALING.md "sorted folds").
                shaped = (_masked_union(spark, index_dir, sub,
                                        "postings")
                          .repartition(F.col("term"))
                          .sortWithinPartitions("term"))
                # both fold writes run concurrently (guide §2.6); the
                # everything-masked gate is the doclens write's
                # observed row count (no separate take(1) job) — an
                # all-masked fold removes the never-registered dir
                folded, _ = _run_parallel(
                    spark,
                    lambda: _observed_write(
                        lens_view, os.path.join(cdir, "doclens"),
                        {"n": F.count(F.lit(1))}),
                    lambda: (shaped.write.mode("overwrite")
                             .parquet(os.path.join(cdir, "postings")))
                )
                if int(folded["n"]) > 0:
                    keep = keep + [{"name": comp, "seq": seq,
                                    "bytes": _dir_bytes(cdir)}]
                else:
                    # every folded doc was tombstone-masked — drop the
                    # folded segments outright
                    shutil.rmtree(cdir, ignore_errors=True)
            segments = keep
        # prune non-load-bearing tombstones: a tombstone at seq T masks
        # only rows in segments with seq < T (folded rows carry this
        # commit's seq, so a fold un-masks them physically). Once no
        # kept segment is older than T the tombstone masks nothing —
        # a full fold clears the whole list, a partial fold exactly
        # the entries only the folded-away segments needed; the serve
        # mask stays minimal and GC reclaims the files.
        min_seq = min((int(s["seq"]) for s in segments), default=None)
        tombstones = ([] if min_seq is None else
                      [t for t in tombstones
                       if int(t["seq"]) > min_seq])
        new_manifest = {"segments": segments, "tombstones": tombstones,
                        "n_docs": n_docs, "dl_sum": dl_sum,
                        "id_col": id_col}
        _commit_version(index_dir, f"v{seq:08d}", new_manifest)
        _gc_versions(index_dir, keep_versions)

    return _on_batch
