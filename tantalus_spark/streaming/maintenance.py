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

Versions double as TIME TRAVEL: every loader takes ``as_of=<batch
id>`` (floor-resolved over the retained manifests —
:func:`_resolve_version`), :func:`index_versions` lists the window,
and :func:`common_batch_id` gives the newest batch EVERY store of a
multi-family deployment has committed — the pin that serves one
consistent snapshot across families when maintainers diverge. The
window is ``keep_versions`` wide and costs O(keep·batch) extra bytes
(manifests share segments; history is deltas, never index copies).

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
                    partition_cols: list[str] | None = None,
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
    w = shaped.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)
    return obs.get


def _run_parallel(*thunks, pool: str | None = None):
    """Run independent driver-blocking Spark actions concurrently from a
    small thread pool (guide §2.6): Spark's scheduler happily runs
    several jobs at once inside one application, and these lifecycle
    writes (postings ∥ doclens, store ∥ store) are sequential only
    because the driver calls them sequentially. Under FIFO the second
    job back-fills executors the first job's tail frees; ``pool`` tags
    each worker thread's jobs with ``spark.scheduler.pool`` so that —
    under ``spark.scheduler.mode=FAIR`` (env-parameterized in the
    session factory; the multi-tenant production posture) — a burst of
    maintainer commit jobs shares the cluster fairly with serve
    traffic in other pools instead of queueing ahead of or behind it.
    Under the local FIFO default the tag is inert metadata.
    Local properties are per-thread (pinned-thread mode), and the
    worker threads are fresh per call, so the tag never leaks to the
    caller's thread. Results are returned in thunk order; the first
    exception (if any) propagates after all threads finish."""
    def _tagged(t):
        if pool is None:
            return t

        def run():
            # the SparkContext singleton, not getActiveSession():
            # active sessions are thread-local and a fresh worker
            # thread has none yet
            from pyspark import SparkContext
            sc = SparkContext._active_spark_context
            if sc is not None:
                sc.setLocalProperty("spark.scheduler.pool", pool)
            return t()

        return run

    if len(thunks) == 1:
        # single action: run on the caller's thread (no pool tag — a
        # local-property change here would leak past this call)
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as tp:
        futs = [tp.submit(_tagged(t)) for t in thunks]
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


def common_batch_id(*index_dirs: str) -> int:
    """The newest batch id EVERY store has committed — the consistent
    cross-store serve point. Stores maintained by the same CDC stream
    through separate foreachBatch sinks commit independently, so one
    can run a batch ahead (maintainer lag, or a crash between the two
    commits); serving CURRENT from both would mix corpus states.
    Serving every store ``as_of=common_batch_id(...)`` instead pins
    one snapshot across families — each store resolves its floor
    manifest, so they agree on exactly which batches are visible.
    Raises on an empty store (there is no consistent point yet)."""
    ids = []
    for d in index_dirs:
        cur = _current_version(d)
        if cur is None:
            raise ValueError(f"common_batch_id: {d} has no committed "
                             f"version yet")
        ids.append(int(cur[1:]))
    return min(ids)


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


def _segments_missing_leaf(index_dir: str, manifest: dict,
                           leaf: str) -> list[dict]:
    """Manifest segments that do not carry ``leaf`` on disk — segments
    a pre-derived-leaf maintainer wrote (e.g. pre-postings
    band_refresh_batches). Pure metadata: one isdir per segment."""
    return [s for s in manifest["segments"]
            if not os.path.isdir(os.path.join(index_dir, s["name"],
                                              leaf))]


def _masked_union_or_derive(spark: SparkSession, index_dir: str,
                            manifest: dict, leaf: str, main_leaf: str,
                            derive) -> DataFrame | None:
    """Masked view of a DERIVED leaf across the manifest's segments,
    RE-DERIVING it from ``main_leaf`` for any segment written before
    the derived leaf existed (a store upgraded mid-life: pre-r12 band
    segments carry only "bands", no "postings"). Segments that have
    the stored leaf are read directly (never re-derived — bit-identity
    with the commit-time derivation is the stored leaf's contract);
    the missing ones get ``derive(masked main rows)``, which is exact
    because extra leaves are PER-ROW derived — one main row → its
    derived rows, no cross-corpus state — so deriving from the masked
    main view equals masking the would-have-been-stored leaf. Without
    this fallback, folding or exporting an upgraded store dies on the
    missing path AFTER earlier writes, wedging the maintainer on every
    replay of that batch (the r12 advice's failure mode)."""
    missing = _segments_missing_leaf(index_dir, manifest, leaf)
    if not missing:
        return _masked_union(spark, index_dir, manifest, leaf)
    miss_names = {s["name"] for s in missing}
    have = [s for s in manifest["segments"]
            if s["name"] not in miss_names]
    parts = []
    if have:
        v = _masked_union(spark, index_dir,
                          dict(manifest, segments=have), leaf)
        if v is not None:
            parts.append(v)
    main = _masked_union(spark, index_dir,
                         dict(manifest, segments=missing), main_leaf)
    if main is not None:
        derived = derive(main)
        # align to the stored leaf's column order so the union (and a
        # lone-derived write) matches the stored layout exactly
        parts.append(derived.select(parts[0].columns) if parts
                     else derived)
    if not parts:
        return None
    return reduce(DataFrame.unionByName, parts)


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
    a run to one ``as_of`` (and cross-store consumers to
    :func:`common_batch_id`); the maintainer's ``keep_versions`` sets
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
                    lambda: _observed_write(
                        lshaped, os.path.join(dest, "doclens"),
                        {"n": F.count(F.lit(1)),
                         "s": F.coalesce(F.sum("dl"), F.lit(0))}),
                    pwrite,
                    pool="maintenance",
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


def _export_rowwise_snapshot(spark: SparkSession, index_dir: str,
                             dest: str, leaf: str, fn_name: str,
                             partition_col: str | None,
                             unique_cols: list[str],
                             as_of: int | None, verify: bool,
                             extra_writes=None) -> dict:
    """Shared promotion path for the PER-ROW-INDEPENDENT stores (IVFPQ
    codes, enriched dense feats): fold the masked live view of one
    pinned version into an immutable hive-partitioned artifact at
    ``dest`` + a last-committed ``snapshot.json``. Same commit
    protocol, immutability guard, failure cleanup, and GC-race caveat
    as :func:`export_term_snapshot`. The audit gate here is the
    store's own invariant — these manifests carry no corpus stats, but
    the disjoint-ids merge contract says ``unique_cols`` is a key of
    the live view, so ``verify=True`` recounts rows vs distinct keys
    and refuses a store where an upstream double-add slipped through
    (a duplicated code/feature row silently double-scores a document
    at serve time — worth one O(rows) aggregate before shipping the
    artifact to a serving fleet)."""
    version = _resolve_version(index_dir, as_of)
    if version is None:
        raise ValueError(f"{fn_name}: {index_dir} has no committed "
                         f"version to promote")
    if os.path.exists(dest) and (not os.path.isdir(dest)
                                 or os.listdir(dest)):
        raise ValueError(
            f"{fn_name}: dest {dest} is not an empty directory — "
            f"snapshots are immutable; promote to a fresh path")
    m = _read_manifest(index_dir, version)
    view = _masked_union(spark, index_dir, m, leaf)
    n_rows = 0
    os.makedirs(dest, exist_ok=True)
    try:
        if view is not None:
            # The audit gate is split so nothing serializes behind the
            # artifact write (guide §1.2/§2.6): the row count and the
            # NULL-key count ride the artifact write as OBSERVED
            # metrics; the distinct-key recount runs CONCURRENTLY with
            # the write, over the same masked view pruned to the key
            # columns — the export's critical path is max(write,
            # recount) instead of write + a serialized read-back job
            # (r13's shape; ~0.45 s of per-export wall at sf0.1, paid
            # twice per release in the deploy loop). The recount
            # audits the identical rows the write is landing (the
            # write's input IS this view), so the refusal condition
            # is unchanged. count_distinct silently drops rows where
            # any key column is NULL, so duplicate rows with a NULL
            # id/bucket would otherwise evade the disjoint-ids check
            # — a NULL key is itself a contract violation, refused
            # explicitly. A failed audit raises before snapshot.json
            # commits; the except-cleanup keeps dest reusable (same
            # refusal contract as the pre-write audit, detected after
            # the data write on the rare failure path).
            metrics = {"n": F.count(F.lit(1))}
            if verify:
                null_key = reduce(lambda a, b: a | b,
                                  [F.col(c).isNull() for c in unique_cols])
                metrics["nulls"] = F.coalesce(
                    F.sum(F.when(null_key, 1)), F.lit(0))
            if partition_col is not None:
                # one shuffle shapes the artifact: repartition on the
                # serve-pruning column, then hive-partition the write
                # so a probe's IN-filter reads only the matching FILES
                # — the same layout the streamed segments carry, folded
                # to one artifact with the tombstone mask applied
                # physically
                shaped = view.repartition(F.col(partition_col))
                pcols = [partition_col]
            else:
                # no point-probe column to prune on (band tables are
                # probed by a semi-join over an exploded array) —
                # distribute by id so the artifact has no single-task
                # funnel and file sizes stay uniform
                shaped = view.repartition(F.col(unique_cols[0]))
                pcols = None
            thunks = [lambda: _observed_write(
                shaped, os.path.join(dest, leaf), metrics,
                partition_cols=pcols)]
            if extra_writes is not None:
                # family-specific derived artifacts (e.g. the band
                # store's pre-exploded postings) — written before the
                # snapshot.json commit so a torn export stays torn;
                # independent of the main-leaf write, so the two run
                # concurrently (guide §2.6)
                thunks.append(lambda: extra_writes(view, dest))
            if verify:
                thunks.append(
                    lambda: view.select(*unique_cols).agg(
                        F.count_distinct(
                            *[F.col(c) for c in unique_cols])
                        .cast("long").alias("d")).first()["d"])
            got_all = _run_parallel(*thunks, pool="maintenance")
            got = got_all[0]
            n_rows = int(got["n"])
            if verify:
                if int(got["nulls"]) != 0:
                    raise RuntimeError(
                        f"{fn_name}: refusing to promote {index_dir}@"
                        f"{version}: {int(got['nulls'])} live rows "
                        f"have a NULL ({', '.join(unique_cols)}) key "
                        f"— NULL keys evade the distinct-key audit "
                        f"and cannot be deduplicated or tombstoned at "
                        f"serve time")
                d = got_all[-1]
                if n_rows != int(d):
                    raise RuntimeError(
                        f"{fn_name}: refusing to promote {index_dir}@"
                        f"{version}: {n_rows} live rows but only "
                        f"{int(d)} distinct "
                        f"({', '.join(unique_cols)}) keys — an "
                        f"upstream double-add broke the disjoint-ids "
                        f"contract; a promoted duplicate would "
                        f"double-score its document at serve time")
        stats = {"id_col": m["id_col"], "leaf": leaf,
                 "source_version": version,
                 "source_batch_id": int(version[1:]),
                 "empty": view is None,
                 "n_rows": n_rows if verify else None}
        tmp = os.path.join(dest, _SNAPSHOT_STATS + ".tmp")
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, os.path.join(dest, _SNAPSHOT_STATS))
    except BaseException:
        # cleanup covers the stats write and rename too — a failure
        # anywhere before os.replace returns (e.g. ENOSPC) must leave
        # dest reusable, not torn-and-refused-forever
        shutil.rmtree(dest, ignore_errors=True)
        raise
    return stats


def export_ann_snapshot(spark: SparkSession, index_dir: str, dest: str,
                        as_of: int | None = None,
                        verify: bool = True) -> dict:
    """Promote one IVFPQ code-table version (a store maintained by
    :func:`ann_refresh_batches`) to an immutable snapshot: the masked
    live view folded into ONE ``ivf_list``-hive-partitioned codes
    artifact — a snapshot serve (:func:`load_ann_snapshot` →
    :func:`~tantalus_spark.datapipe.similarity.ivf_pq_topk_batch`)
    partition-prunes to the probed lists' files and carries zero
    segment unions and zero tombstone joins in the plan.
    ``verify=True`` gates on the per-row store's invariant (vec_id is
    a key of the live view); commit protocol and guards match
    :func:`export_term_snapshot`."""
    return _export_rowwise_snapshot(
        spark, index_dir, dest, "codes", "export_ann_snapshot",
        "ivf_list", [_read_or_id(index_dir, as_of)], as_of, verify)


def export_feats_snapshot(spark: SparkSession, index_dir: str,
                          dest: str, as_of: int | None = None,
                          verify: bool = True) -> dict:
    """Promote one ENRICHED dense-feature version (a store maintained
    by :func:`feats_refresh_batches`) to an immutable snapshot: the
    masked live view folded into ONE ``bucket``-hive-partitioned
    feats artifact — a snapshot serve (:func:`load_feats_snapshot` →
    ``hybrid_serve_topk_batch``'s dense leg) file-prunes to the query
    buckets with zero segment unions and zero tombstone joins.
    ``verify=True`` gates on (id, bucket) being a key of the live
    view; commit protocol and guards match
    :func:`export_term_snapshot`."""
    return _export_rowwise_snapshot(
        spark, index_dir, dest, "feats", "export_feats_snapshot",
        "bucket", [_read_or_id(index_dir, as_of), "bucket"], as_of,
        verify)


def _read_or_id(index_dir: str, as_of: int | None) -> str:
    """The store's id column name off the resolved manifest (empty
    stores have no manifest to read — the caller's resolve raises
    first, so a bare default never serves)."""
    version = _resolve_version(index_dir, as_of)
    if version is None:
        return "id"
    return _read_manifest(index_dir, version)["id_col"]


def _load_rowwise_snapshot(spark: SparkSession, dest: str,
                           fn_name: str) -> DataFrame | None:
    p = os.path.join(dest, _SNAPSHOT_STATS)
    if not os.path.exists(p):
        raise ValueError(
            f"{fn_name}: {dest} has no {_SNAPSHOT_STATS} — torn or "
            f"foreign export; re-run the export into a fresh dest")
    with open(p) as f:
        s = json.load(f)
    if s.get("empty"):
        return None
    return spark.read.parquet(os.path.join(dest, s["leaf"]))


def load_ann_snapshot(spark: SparkSession, dest: str) -> DataFrame | None:
    """Read a promoted IVFPQ snapshot: the (id, pq_code, ivf_list)
    codes DataFrame off the single folded artifact — the same
    contract as :func:`load_ann_index`, with no segment union and no
    tombstone mask in the plan. Refuses a dest without a committed
    ``snapshot.json`` (torn export)."""
    return _load_rowwise_snapshot(spark, dest, "load_ann_snapshot")


def load_feats_snapshot(spark: SparkSession,
                        dest: str) -> DataFrame | None:
    """Read a promoted dense-feature snapshot: the ENRICHED
    (id, bucket, feat, norm) DataFrame off the single folded artifact
    — the same contract as :func:`load_feats_index`, with no segment
    union and no tombstone mask in the plan. Refuses a dest without a
    committed ``snapshot.json`` (torn export)."""
    return _load_rowwise_snapshot(spark, dest, "load_feats_snapshot")


_RELEASE_META = "release.json"

_SNAPSHOT_EXPORTERS = {
    "term": export_term_snapshot,
    "ann": export_ann_snapshot,
    "feats": export_feats_snapshot,
}


def export_release(spark: SparkSession, stores: dict[str, tuple[str, str]],
                   dest_root: str, verify: bool = True) -> dict:
    """Promote a CONSISTENT cross-family serving release: pin
    ``batch = common_batch_id(all stores)``, export every store
    ``as_of=batch`` into ``dest_root/v{batch}/{name}`` with its
    family's audit-gated exporter, commit ``release.json`` last, then
    atomically swap ``dest_root/CURRENT`` — one call turns N
    independently-maintained LSM stores into one immutable, audited,
    mutually-consistent artifact set (the q157 consistency pin
    composed with the q159–q162 promotions; the "cut a release of the
    serving stack" operation a training run or serving fleet deploys
    from while the maintainers keep absorbing CDC).

    ``stores`` maps a name to ``(family, index_dir)`` with family in
    ``{"term", "ann", "feats", "bands"}``. Commit-protocol properties
    carried over from the per-store exporters: per-store data commits
    before release.json, release.json before the pointer swap; a torn
    release (crash mid-export) leaves no release.json and is swept
    and re-exported by the next call; re-promoting an
    already-released batch is idempotent (returns the committed
    release, repairing a missing pointer swap); the pointer never
    regresses. Retire old releases with :func:`gc_releases` (the
    keep_versions analog at the release tier) after their readers
    drain."""
    if not stores:
        raise ValueError("export_release: no stores given")
    # export_band_snapshot is defined later in the module; resolved at
    # call time like the other globals
    exporters = dict(_SNAPSHOT_EXPORTERS, bands=export_band_snapshot)
    for name, (family, _ix) in stores.items():
        if family not in exporters:
            raise ValueError(
                f"export_release: store {name!r} has unknown family "
                f"{family!r} (expected one of {sorted(exporters)})")
    batch = common_batch_id(*[ix for _f, ix in stores.values()])
    vname = f"v{batch:08d}"
    vdir = os.path.join(dest_root, vname)
    meta_path = os.path.join(vdir, _RELEASE_META)
    cur = _current_version(dest_root)
    if os.path.exists(meta_path):
        # already committed (maybe before a crash that lost the swap):
        # repair the pointer if needed and return the release —
        # idempotent under the maintainers' at-least-once posture.
        # But only if it covers THIS request: re-releasing the same
        # batch after adding a store (or remapping a family) must not
        # silently return a release missing that store — load_release
        # would then serve a partial artifact set. Releases are
        # immutable, so a mismatch is an operator error to surface.
        with open(meta_path) as f:
            release = json.load(f)
        requested = {name: family for name, (family, _ix)
                     in stores.items()}
        if release.get("stores") != requested:
            raise RuntimeError(
                f"export_release: batch {batch} is already released "
                f"with stores {release.get('stores')} but this call "
                f"requested {requested} — releases are immutable; "
                f"advance the stores' common batch and cut a new "
                f"release to change the store set")
        if cur is None or int(cur[1:]) < batch:
            _swap_pointer(dest_root, vname)
        return release
    if cur is not None and int(cur[1:]) >= batch:
        raise RuntimeError(
            f"export_release: CURRENT={cur} already at or past "
            f"batch {batch} — the stores' common batch has not "
            f"advanced since the last release")
    if os.path.isdir(vdir):
        # torn release: exports ran, release.json never committed —
        # the per-store immutability guards would refuse the re-export,
        # so sweep the never-committed debris first
        shutil.rmtree(vdir)
    # per-store exports are independent (separate source stores,
    # separate dest subdirs) — run them concurrently (guide §2.6); a
    # failure leaves a torn vdir with no release.json, swept and
    # re-exported by the next call exactly as before
    _run_parallel(*[
        (lambda family=family, ix=ix, name=name:
         exporters[family](spark, ix, os.path.join(vdir, name),
                           as_of=batch, verify=verify))
        for name, (family, ix) in sorted(stores.items())],
        pool="maintenance")
    release = {"batch_id": batch, "version": vname,
               "stores": {name: stores[name][0] for name in stores}}
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(release, f)
    os.replace(tmp, meta_path)
    _swap_pointer(dest_root, vname)
    return release


def gc_releases(dest_root: str, keep_releases: int = 2) -> list[str]:
    """Retire releases older than the newest ``keep_releases``
    committed ones (floor 2 — the swap window for readers that pinned
    the previous release, like the store GC), plus any torn release
    directory at or below CURRENT (never-committed debris a crash
    left behind; a torn directory AHEAD of CURRENT is the next
    export's to sweep-and-retry, so it is left alone). Returns the
    removed directory names. Releases are immutable and independent
    — an rmtree of a retired one cannot affect a kept one (snapshots
    never share files the way store manifests share segments)."""
    keep_releases = max(2, int(keep_releases))
    cur = _current_version(dest_root)
    if cur is None:
        return []
    cur_id = int(cur[1:])
    committed = sorted(
        (d for d in os.listdir(dest_root)
         if _is_vname(d)
         and os.path.isdir(os.path.join(dest_root, d))
         and os.path.exists(os.path.join(dest_root, d, _RELEASE_META))
         and int(d[1:]) <= cur_id),
        key=lambda d: int(d[1:]))
    keep = set(committed[-keep_releases:])
    removed: list[str] = []
    for d in os.listdir(dest_root):
        full = os.path.join(dest_root, d)
        if (_is_vname(d) and os.path.isdir(full) and d not in keep
                and int(d[1:]) <= cur_id):
            shutil.rmtree(full)
            removed.append(d)
    return removed


def _swap_pointer(root: str, version: str) -> None:
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(root, _POINTER))


def load_release(spark: SparkSession, dest_root: str,
                 as_of: int | None = None) -> dict:
    """Read one serving release: ``{"batch_id": N, "stores": {name:
    loaded artifact}}`` where a ``term`` store loads as the
    ``(postings, (n_docs, avgdl))`` tuple and the rowwise families
    load as their DataFrames — each off its single folded snapshot
    (zero segment unions, zero tombstone joins). ``None`` resolves
    the CURRENT pointer; ``as_of`` floor-resolves over the retained
    release directories like the store loaders do. Refuses an empty
    root or a pre-retention pin."""
    loaders = {"term": load_term_snapshot, "ann": load_ann_snapshot,
               "feats": load_feats_snapshot,
               "bands": load_band_snapshot}
    if as_of is None:
        version = _current_version(dest_root)
        if version is None:
            raise ValueError(f"load_release: {dest_root} has no "
                             f"committed release")
    else:
        committed = sorted(
            (d for d in os.listdir(dest_root)
             if _is_vname(d)
             and os.path.exists(os.path.join(dest_root, d,
                                             _RELEASE_META))
             and int(d[1:]) <= int(as_of)),
            key=lambda d: int(d[1:])) if os.path.isdir(dest_root) else []
        if not committed:
            raise ValueError(
                f"load_release: no committed release at or before "
                f"batch {as_of} under {dest_root}")
        version = committed[-1]
    vdir = os.path.join(dest_root, version)
    with open(os.path.join(vdir, _RELEASE_META)) as f:
        release = json.load(f)
    return {"batch_id": release["batch_id"],
            "stores": {name: loaders[family](
                spark, os.path.join(vdir, name))
                for name, family in release["stores"].items()}}


def follow_releases(dest_root: str, on_batch):
    """The serving fleet's read side of :func:`export_release`: a
    ``foreachBatch`` callback that re-resolves ``dest_root/CURRENT``
    between micro-batches and RELOADS the release artifacts only when
    the pointer actually moved — wire a query stream as
    ``query_stream.writeStream.foreachBatch(
    follow_releases(root, serve_fn)).start()`` and every micro-batch
    is served off whichever release was CURRENT when it began, with
    zero per-batch load cost while the pointer is stable (one driver-
    side file read). ``on_batch(release, batch_df, batch_id)`` gets
    the same ``{"batch_id": N, "stores": {...}}`` dict
    :func:`load_release` returns, the micro-batch of queries, and the
    stream's batch id; it serves and writes results however the
    deployment sinks them.

    Swap-race safety: the reload pins ``as_of`` to the batch id READ
    from the pointer, so a release landing between the pointer read
    and the artifact load cannot tear the view — the batch serves the
    observed release and the NEXT batch picks up the new pointer.
    Loaded artifacts are immutable snapshot reads (single folded
    parquet per store), so holding one across batches never sees
    in-place change; retire old releases with :func:`gc_releases`
    only after followers drain past them (the keep_releases window is
    exactly this grace period). A stream started before the first
    release refuses loudly rather than serving nothing.

    The callback exposes ``state`` (current version, reload count)
    for monitoring/tests. Reference anchor: the reference's serve
    side is always-current by construction (live Postgres per request,
    search_util/search_helper.py:27-49); the engine's answer is
    pointer-swap reload with per-batch freshness.

    Reload granularity is the micro-batch interval by design — a
    tighter bound would re-read artifacts mid-batch and lose the
    batch's internal consistency."""
    state = {"version": None, "batch_id": None, "reloads": 0,
             "release": None}

    def _cb(batch_df: DataFrame, batch_id: int) -> None:
        cur = _current_version(dest_root)
        if cur is None:
            raise ValueError(
                f"follow_releases: {dest_root} has no committed "
                f"release — cut one with export_release before "
                f"starting the serving stream")
        if cur != state["version"]:
            spark = batch_df.sparkSession
            # pin to the OBSERVED pointer (floor-resolve on its batch
            # id), not CURRENT-at-load-time: a concurrent
            # export_release between the two reads must not hand this
            # batch a release newer than the pointer it decided on
            state["release"] = load_release(spark, dest_root,
                                            as_of=int(cur[1:]))
            state["version"] = cur
            state["batch_id"] = state["release"]["batch_id"]
            state["reloads"] += 1
        on_batch(state["release"], batch_df, batch_id)

    _cb.state = state
    return _cb


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


def load_ann_index(spark: SparkSession, index_dir: str,
                   as_of: int | None = None):
    """Read one ANN code-table version: the (id, ivf_list, pq_code)
    DataFrame, or None when no version has been committed. Same
    manifest/segment layout as the BM25 store (single "codes" leaf
    per segment; per-row independence means no stats sidecar).
    ``as_of`` time-travels to the view as of that batch id, like
    :func:`load_term_index`."""
    version = _resolve_version(index_dir, as_of)
    if version is None:
        return None
    m = _read_manifest(index_dir, version)
    return _masked_union(spark, index_dir, m, "codes")


def _rowwise_refresh_batches(
    index_dir: str,
    leaf: str,
    delta_fn,
    id_col: str,
    op_col: str | None,
    max_segments: int,
    keep_versions: int,
    partition_cols: list[str] | None = None,
    extra_leaves: dict | None = None,
):
    """Generic foreachBatch maintainer for PER-ROW-INDEPENDENT index
    tables (IVFPQ codes, enriched dense features — anything where a
    row's value depends only on its own source row plus frozen
    artifacts) on the segmented store: a commit writes ONLY the batch's
    ``delta_fn(adds)`` as a new ``leaf`` segment and/or a tombstone id
    set, plus a manifest — O(batch) bytes per refresh. Serving unions
    the manifest's segments and masks deletes with the broadcast
    ``ts_seq > seg_seq`` rule (a delete+re-add CDC batch keeps the NEW
    rows). Compaction folds the live view into one segment past
    ``max_segments``; GC bounds storage. Per-row independence means no
    stats sidecar and no tombstone-intersection guard: a tombstone for
    a never-indexed id masks nothing and corrupts nothing.
    Replay-idempotent by batch-id-versioned commits, like the BM25
    maintainer (whose corpus stats need the richer
    :func:`index_refresh_batches` machinery).

    ``partition_cols`` hive-partitions every segment write (delta AND
    compacted) so a serve's static IN / dynamic pruning filter on that
    column reads only the matching lists' FILES — the same
    index-once/query-many posture the batch warehouse layout gets from
    ``partitionBy`` (plan-contract test through :func:`load_ann_index`
    → ``ivf_pq_topk_batch``). The small-files trade on tiny deltas is
    bounded: compaction folds them into one partitioned segment every
    ``max_segments`` batches.

    ``extra_leaves`` maps a leaf name to a derive-from-the-delta
    function: each segment then carries that DERIVED table alongside
    the main leaf, maintained at the same O(batch) cost per commit —
    the derived rows must carry ``id_col`` so the same broadcast
    tombstone mask governs them, and must be PER-ROW derived from the
    delta (one source row → its derived rows, no cross-corpus state),
    so a serve can read the derived layout directly instead of
    re-deriving it from the corpus-scale main leaf on every query
    (the band store's pre-exploded (id, band, h) postings — the live
    twin of the shuffle the snapshot exporter pays once). Compaction
    folds each extra leaf by masked-union of the STORED leaf (never
    re-deriving), so fold cost stays one read+write per leaf."""
    os.makedirs(index_dir, exist_ok=True)

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
            return  # replayed batch: already committed
        spark = batch_df.sparkSession
        manifest = (_read_manifest(index_dir, cur) if cur is not None
                    else {"segments": [], "tombstones": [],
                          "id_col": id_col})

        if op_col is not None:
            adds = batch_df.filter(F.col(op_col) == "add").drop(op_col)
            dels = (batch_df.filter(F.col(op_col) == "delete")
                    .select(id_col).distinct())
        else:
            adds, dels = batch_df, None

        seq = int(batch_id)
        segments = list(manifest["segments"])
        tombstones = list(manifest["tombstones"])
        changed = False

        # Emptiness gates ride the writes as OBSERVED row counts (one
        # job each, the transform computed ONCE — the pre-r13
        # take(1)-then-write pattern ran delta_fn twice per commit:
        # once for the gate, once for the write; caching instead would
        # pin the write's input partitioning and spray |cached
        # partitions| × |partition values| small files into a
        # hive-partitioned segment, measured +60% on the
        # maintained-hybrid lifecycle). The tombstone write and the
        # delta-segment write are independent and run concurrently
        # (guide §2.6); an empty result removes its never-registered
        # dir — nothing is visible until the manifest commits.
        seg_name = f"seg-{seq:08d}"
        seg_dir = os.path.join(index_dir, seg_name)
        ts_name = f"ts-{seq:08d}"
        ts_path = os.path.join(index_dir, ts_name)
        delta = delta_fn(adds)
        if extra_leaves:
            # Derived-leaf writes join the SAME _run_parallel as the
            # main-leaf write (guide §2.6) instead of a serialized
            # read-back job per leaf after it (~0.4 s of extra commit
            # wall at sf0.1). The delta is persisted so the batch
            # transform runs ONCE and every leaf write reads the same
            # cached rows — the bit-identity the read-back provided,
            # without the extra scheduling round trip (delta_fn is
            # per-row deterministic by the extra-leaves contract, so
            # even a cache-evicted recompute yields identical rows).
            # No hive partitioning on extra-leaf stores (band store:
            # partition_cols=None), so the r13 cached-write
            # small-file-spray measurement does not apply here. An
            # empty delta writes empty leaf dirs into the
            # never-registered seg dir the rmtree below removes.
            delta = delta.persist()
        write_ts = dels is not None and bool(segments)
        got = _run_parallel(
            (lambda: _observed_write(dels, ts_path,
                                     {"n": F.count(F.lit(1))},
                                     coalesce=1))
            if write_ts else (lambda: None),
            lambda: _observed_write(delta, os.path.join(seg_dir, leaf),
                                    {"n": F.count(F.lit(1))},
                                    partition_cols=partition_cols),
            *[
                (lambda lname=lname, derive=derive:
                 (derive(delta).write.mode("overwrite")
                  .parquet(os.path.join(seg_dir, lname))))
                for lname, derive in (extra_leaves or {}).items()
            ],
            pool="maintenance",
        )
        got_ts, got_delta = got[0], got[1]
        if extra_leaves:
            delta.unpersist()
        if write_ts:
            if int(got_ts["n"]) > 0:
                tombstones.append({"name": ts_name, "seq": seq})
                changed = True
            else:
                shutil.rmtree(ts_path, ignore_errors=True)
        if int(got_delta["n"]) > 0:
            segments.append({
                "name": seg_name, "seq": seq,
                "bytes": _dir_bytes(
                    os.path.join(index_dir, seg_name))})
            changed = True
        else:
            shutil.rmtree(seg_dir, ignore_errors=True)

        if not changed:
            return
        # compaction: tombstone overflow forces a FULL fold (an
        # unbounded tombstone list is an ever-wider broadcast mask per
        # serve, and only folding everything lets it clear — a partial
        # fold must retain tombstones for the kept older segments);
        # segment overflow folds the size-tiered minimum (_select_fold)
        # so a byte is rewritten O(log(index/batch)) times, not every
        # max_segments batches
        if len(tombstones) > int(max_segments):
            fold, keep = list(segments), []
        else:
            fold, keep = _select_fold(segments, max_segments)
        if fold:
            sub = {"segments": fold, "tombstones": tombstones,
                   "id_col": id_col}
            view = _masked_union(spark, index_dir, sub, leaf)
            folded_n = 0
            if view is not None:
                comp = f"seg-{seq:08d}c"
                # the everything-masked gate is the fold write's own
                # observed row count (no separate take(1) job — that
                # gate re-ran the masked union once before the write
                # re-read it); an all-masked fold removes the
                # never-registered dir below.
                #
                # Extra-leaf folds run CONCURRENTLY with the main fold
                # write (guide §2.6): the STORED derived leaf is
                # masked-unioned from the SOURCE segments — never the
                # new comp dir — so the two jobs share no data
                # dependency. The derived rows carry id_col, so the
                # tombstone rule that masked the main leaf masks them
                # identically; no re-derivation job for segments that
                # carry the leaf. Segments written BEFORE the leaf
                # existed (an upgraded store) fall back to deriving
                # from their masked main rows — per-row derivation
                # makes that exact, and the fold is precisely how such
                # a store migrates (each fold backfills the leaf for
                # the segments it touches) instead of wedging on a
                # missing path. An all-masked fold writes (at most) an
                # empty extra leaf into the never-registered dir the
                # rmtree below removes — same debris class as before.
                xthunks = []
                for lname, derive in (extra_leaves or {}).items():
                    xview = _masked_union_or_derive(
                        spark, index_dir, sub, lname, leaf, derive)
                    if xview is not None:
                        xthunks.append(
                            lambda xview=xview, lname=lname:
                            (xview.write.mode("overwrite")
                             .parquet(os.path.join(index_dir, comp,
                                                   lname))))
                got = _run_parallel(
                    lambda: _observed_write(
                        view, os.path.join(index_dir, comp, leaf),
                        {"n": F.count(F.lit(1))},
                        partition_cols=partition_cols),
                    *xthunks, pool="maintenance")
                folded_n = int(got[0]["n"])
            if folded_n > 0:
                keep = keep + [{
                    "name": comp, "seq": seq,
                    "bytes": _dir_bytes(os.path.join(index_dir, comp))}]
            elif view is not None:
                # every folded row was tombstone-masked — drop the
                # folded segments and the empty (unreadable when
                # partitioned) never-registered parquet dir
                shutil.rmtree(os.path.join(index_dir, comp),
                              ignore_errors=True)
            segments = keep
        # prune non-load-bearing tombstones: a tombstone at seq T masks
        # only rows in segments with seq < T (folded rows carry this
        # commit's seq, so a fold un-masks them physically). Once no
        # kept segment is older than T the tombstone masks nothing —
        # dropping it keeps the serve-time broadcast mask list minimal
        # and lets GC reclaim the file. A full fold clears the whole
        # list; a partial fold clears exactly the entries only the
        # folded-away segments needed.
        min_seq = min((int(s["seq"]) for s in segments), default=None)
        tombstones = ([] if min_seq is None else
                      [t for t in tombstones
                       if int(t["seq"]) > min_seq])
        new_manifest = {"segments": segments, "tombstones": tombstones,
                        "id_col": id_col}
        _commit_version(index_dir, f"v{seq:08d}", new_manifest)
        _gc_versions(index_dir, keep_versions)

    return _on_batch


def ann_refresh_batches(
    index_dir: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str | None = None,
    max_segments: int = 8,
    keep_versions: int = 2,
):
    """The foreachBatch maintainer for the IVFPQ ANN code table — the
    third index family's :func:`index_refresh_batches` twin, on the
    same segmented store via :func:`_rowwise_refresh_batches`: the
    delta is :func:`~tantalus_spark.datapipe.similarity.merge_ann_index`'s
    assign+encode over the batch alone (frozen quantizer + codebooks).
    After any number of batches the CURRENT view is bit-identical to a
    rebuild over the surviving vectors with the same frozen artifacts
    (rebuild-equal CDC test in tests/test_similarity.py). Quantizer
    drift under maintenance is
    :func:`~tantalus_spark.datapipe.similarity.ivf_index_health`'s
    department — retraining is a rebuild decision, not a merge.

    Wire it: ``vec_stream.writeStream.foreachBatch(
    ann_refresh_batches("/path/ann", cents, books)).start()``.
    """
    from tantalus_spark.datapipe.similarity import ivf_assign, pq_encode

    def _delta(adds: DataFrame) -> DataFrame:
        return (ivf_assign(adds.filter(F.col(vec_col).isNotNull()),
                           centroids, id_col=id_col, vec_col=vec_col)
                .select(F.col(id_col), F.col("ivf_list"))
                .join(pq_encode(adds, codebooks, id_col=id_col,
                                vec_col=vec_col), id_col))

    # hive-partition every codes segment by ivf_list: a serve's probe
    # filter then PARTITION-prunes each segment scan to the probed
    # lists' files — the streamed store matches the batch warehouse
    # layout (q138's plan contract) instead of reading whole segments
    return _rowwise_refresh_batches(index_dir, "codes", _delta, id_col,
                                    op_col, max_segments, keep_versions,
                                    partition_cols=["ivf_list"])


def load_feats_index(spark: SparkSession, index_dir: str,
                     as_of: int | None = None):
    """Read one dense-feature version: the ENRICHED
    (id, bucket, feat, norm) DataFrame (zero-norm-join serving
    posture), or None when no version has been committed. ``as_of``
    time-travels to the view as of that batch id, like
    :func:`load_term_index`."""
    version = _resolve_version(index_dir, as_of)
    if version is None:
        return None
    m = _read_manifest(index_dir, version)
    return _masked_union(spark, index_dir, m, "feats")


def feats_refresh_batches(
    index_dir: str,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    op_col: str | None = None,
    max_segments: int = 8,
    keep_versions: int = 2,
):
    """The foreachBatch maintainer for the DENSE hashed-feature table —
    the fourth serving family's streaming maintainer, closing the set
    (BM25 postings, IVFPQ codes, LSH-band state, and now the dense
    leg): the delta is the
    batch's :func:`~tantalus_spark.datapipe.textstats.hashed_features`
    ENRICHED with its own O(batch)
    :func:`~tantalus_spark.datapipe.textstats.hashed_norms` (norms are
    per-document, so enrichment needs no cross-corpus arithmetic) —
    written as one segment on the segmented store via
    :func:`_rowwise_refresh_batches`. Serving
    (:func:`load_feats_index` →
    :func:`~tantalus_spark.datapipe.textstats.hybrid_serve_topk_batch`
    or ``_dense_leg_scored``) gets the zero-norm-join ENRICHED layout
    directly. Rebuild-equal CDC test in tests/test_textstats.py.

    Wire it: ``doc_stream.writeStream.foreachBatch(
    feats_refresh_batches("/path/feats", dim=64)).start()``.
    """
    from tantalus_spark.datapipe.textstats import (hashed_features,
                                                   hashed_norms)

    def _delta(adds: DataFrame) -> DataFrame:
        feats = hashed_features(adds, dim=dim, text_col=text_col,
                                id_col=id_col)
        return feats.join(hashed_norms(feats, id_col=id_col), id_col)

    # partition by bucket for the same reason the ANN store partitions
    # by ivf_list: the dense serving leg's `bucket IN (query buckets)`
    # filter file-prunes each segment (dim buckets bounds the
    # directory fan-out)
    return _rowwise_refresh_batches(index_dir, "feats", _delta, id_col,
                                    op_col, max_segments, keep_versions,
                                    partition_cols=["bucket"])


def load_band_index(spark: SparkSession, index_dir: str,
                    as_of: int | None = None,
                    layout: str = "bands"):
    """Read one LSH band-table version, or None when no version has
    been committed. ``layout="bands"`` returns the (id, bands
    array<long>) DataFrame — the audit/re-band shape.
    ``layout="postings"`` returns the maintained pre-exploded
    (band, h) postings view — the serve shape
    :func:`~tantalus_spark.datapipe.dedup.novel_documents` consumes
    with ``index_layout="postings"``: the same tombstone mask as the
    band view, but ZERO per-serve Generate/DISTINCT on the index side
    (the explode was paid O(batch) at each commit, not per query).
    Postings layout requires every manifest segment to carry the
    postings leaf; a store with pre-postings segments (written by a
    pre-r12 :func:`band_refresh_batches`) fails the read with the
    missing segments named. Migration: compaction BACKFILLS the leaf
    for the segments it folds (re-deriving from their masked band
    rows — :func:`_masked_union_or_derive`), so the store migrates as
    folds touch old segments; partial size-tiered folds do NOT rewrite
    every segment, so a store that must serve postings immediately
    should re-ingest (or keep serving ``layout="bands"`` until folds
    drain the old segments). ``as_of`` time-travels like
    :func:`load_term_index` — a reproducibility pin for "was this
    document novel as of batch N"."""
    if layout not in ("bands", "postings"):
        raise ValueError(f"load_band_index: unknown layout "
                         f"{layout!r} (expected 'bands' or 'postings')")
    version = _resolve_version(index_dir, as_of)
    if version is None:
        return None
    m = _read_manifest(index_dir, version)
    if layout == "bands":
        return _masked_union(spark, index_dir, m, "bands")
    missing = _segments_missing_leaf(index_dir, m, "postings")
    if missing:
        raise ValueError(
            f"load_band_index: segments "
            f"{sorted(s['name'] for s in missing)} of {index_dir}@"
            f"{version} carry no postings leaf (written by a "
            f"pre-postings maintainer) — serve layout='bands' until "
            f"compaction folds them (folds backfill the leaf), or "
            f"re-ingest the store")
    view = _masked_union(spark, index_dir, m, "postings")
    # mask first (needs id_col), then prune to the exact (band, h)
    # shape novel_documents' postings path expects
    return view.select("band", "h") if view is not None else None


def band_refresh_batches(
    index_dir: str,
    n_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    op_col: str | None = None,
    max_segments: int = 8,
    keep_versions: int = 2,
):
    """The foreachBatch maintainer for the LSH BAND index — the
    fourth serving family joins the segmented store (BM25 postings,
    IVFPQ codes, and dense feats have theirs), upgrading
    :func:`~tantalus_spark.datapipe.dedup.merge_band_index` /
    ``prune_band_index``'s caller-managed frames into a versioned,
    GC'd, time-travelable store: the delta is
    :func:`~tantalus_spark.datapipe.dedup.minhash_bands` over the
    batch alone (band rows are per-document expressions — no corpus
    state), deletes tombstone a document's band row so its near-twins
    become novel again immediately (right-to-be-forgotten for dedup
    state), and a delete+re-add batch keeps the NEW banding.
    Band parameters must match across the store's life (the band hash
    folds them in, so a mismatch makes probes miss rather than
    silently corrupt). Rebuild-equal + replay-idempotent via
    :func:`_rowwise_refresh_batches`. No hive partition column: the
    serve probes by semi-join over the exploded band array, not by a
    prunable point filter.

    Wire it: ``doc_stream.writeStream.foreachBatch(
    band_refresh_batches("/path/bands")).start()``.
    """
    from tantalus_spark.datapipe.dedup import minhash_bands

    def _delta(adds: DataFrame) -> DataFrame:
        return minhash_bands(adds, n_perm=n_perm, bands=bands,
                             shingle_n=shingle_n, text_col=text_col,
                             id_col=id_col, hash_family=hash_family)

    def _postings(stored: DataFrame) -> DataFrame:
        # pre-exploded (id, band, h) postings, derived per-row from
        # the batch's band rows — O(batch) per commit. Keeping id_col
        # lets the broadcast tombstone mask govern this leaf too; a
        # live novelty serve then reads the postings view directly
        # (load_band_index(layout="postings")) with ZERO index-side
        # Generate/DISTINCT shuffles — the live twin of the corpus-
        # scale explode export_band_snapshot pays once per promotion.
        return stored.select(
            F.col(id_col), F.posexplode("bands").alias("band", "h"))

    return _rowwise_refresh_batches(index_dir, "bands", _delta, id_col,
                                    op_col, max_segments, keep_versions,
                                    extra_leaves={"postings": _postings})


def export_band_snapshot(spark: SparkSession, index_dir: str,
                         dest: str, as_of: int | None = None,
                         verify: bool = True) -> dict:
    """Promote one LSH band-table version (a store maintained by
    :func:`band_refresh_batches`) to an immutable snapshot with TWO
    layouts of the same state: the id-distributed ``bands`` table
    (the audit/re-band artifact, same shape as the live view) and a
    pre-exploded DISTINCT ``postings`` (band, h) table — the serve
    artifact a snapshot novelty serve probes with zero index-side
    shuffles (probe-explode + one semi-join; plan test in
    tests/test_plans.py).

    The postings artifact is FOLDED from the store's maintained
    per-segment postings leaf (masked union, exactly as compaction
    folds it — the explode was already paid O(batch) at each commit),
    never re-derived from the corpus-scale bands table; only the
    cross-segment DISTINCT + layout shuffle happens at export, so the
    export plan carries no Generate on the index side (plan test).
    Segments written by a pre-postings maintainer fall back to
    deriving from their masked band rows (:func:
    `_masked_union_or_derive` — exact, since postings are per-row).
    ``verify=True`` gates on id being a key of the live view (a
    double-banded document would shadow extra band buckets forever);
    commit protocol and guards match :func:`export_term_snapshot`."""
    version = _resolve_version(index_dir, as_of)
    if version is not None and as_of is None:
        # pin the whole export to ONE version: the bands artifact and
        # the postings fold resolve the manifest independently, and a
        # concurrent maintainer commit between the two reads must not
        # hand them different corpus states
        as_of = int(version[1:])
    m = (_read_manifest(index_dir, version)
         if version is not None else None)

    def _postings(view: DataFrame, d: str) -> None:
        (_snapshot_postings_view(spark, index_dir, m)
         .repartition(F.col("h"))
         .write.mode("overwrite")
         .parquet(os.path.join(d, "postings")))

    return _export_rowwise_snapshot(
        spark, index_dir, dest, "bands", "export_band_snapshot",
        None, [_read_or_id(index_dir, as_of)], as_of, verify,
        extra_writes=_postings)


def _snapshot_postings_view(spark: SparkSession, index_dir: str,
                            m: dict) -> DataFrame:
    """The DISTINCT (band, h) frame a band-snapshot export writes:
    the STORED per-segment postings leaf masked-unioned exactly as
    compaction folds it, deduplicated across segments — no Generate
    over the corpus-scale bands table in the plan (plan-contract test
    in tests/test_plans.py); pre-postings segments fall back to the
    per-row derive."""
    id_col = m["id_col"]
    stored = _masked_union_or_derive(
        spark, index_dir, m, "postings", "bands",
        lambda bands: bands.select(
            F.col(id_col),
            F.posexplode("bands").alias("band", "h")))
    return stored.select("band", "h").dropDuplicates()


def load_band_snapshot(spark: SparkSession, dest: str,
                       layout: str = "bands") -> DataFrame | None:
    """Read a promoted band snapshot. ``layout="bands"`` returns the
    (id, bands array<long>) table — the same contract as
    :func:`load_band_index`; ``layout="postings"`` returns the
    pre-exploded DISTINCT (band, h) table that ``novel_documents``
    consumes without any index-side explode/dedup shuffle. Both come
    off single folded artifacts with no segment union and no
    tombstone mask. Refuses a dest without a committed
    ``snapshot.json`` (torn export)."""
    if layout not in ("bands", "postings"):
        raise ValueError(f"load_band_snapshot: unknown layout "
                         f"{layout!r} (expected 'bands' or 'postings')")
    out = _load_rowwise_snapshot(spark, dest, "load_band_snapshot")
    if out is None or layout == "bands":
        return out
    return spark.read.parquet(os.path.join(dest, "postings"))


def index_refresh_batches(
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dedup_against_current: bool = False,
    op_col: str | None = None,
    max_segments: int = 8,
    keep_versions: int = 2,
    sort_folds: bool = True,
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
        # repair deferred GC from a crash between commit and GC (see
        # _rowwise_refresh_batches for the rationale) before the replay
        # guard can short-circuit it away
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
            # manifest commits, so the rowwise maintainer's ts ∥ delta
            # overlap applies here too.
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
            lambda: _observed_write(
                lens, os.path.join(seg_dir, "doclens"),
                {"n": F.count(F.lit(1)), "s": F.sum("dl")},
                coalesce=1),
            lambda: delta.write.mode("overwrite").parquet(
                os.path.join(seg_dir, "postings")),
            *([ts_thunk] if ts_thunk is not None else []),
            pool="maintenance",
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
                # (measured in SCALING.md "sorted folds"); set
                # sort_folds=False for write-heavy/serve-light stores
                # where the fold CPU never pays back.
                shaped = (_masked_union(spark, index_dir, sub,
                                        "postings")
                          .repartition(F.col("term")))
                if sort_folds:
                    shaped = shaped.sortWithinPartitions("term")
                # both fold writes run concurrently (guide §2.6); the
                # everything-masked gate is the doclens write's
                # observed row count (no separate take(1) job) — an
                # all-masked fold removes the never-registered dir
                folded, _ = _run_parallel(
                    lambda: _observed_write(
                        lens_view, os.path.join(cdir, "doclens"),
                        {"n": F.count(F.lit(1))}),
                    lambda: (shaped.write.mode("overwrite")
                             .parquet(os.path.join(cdir, "postings"))),
                    pool="maintenance",
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
